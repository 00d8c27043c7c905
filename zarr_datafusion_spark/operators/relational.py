"""Tier B relational surface — the SQL the reference exercises via DataFusion.

Every query here mirrors a row of SURVEY.md §2 Tier B (citations inline)
and is paired with a DuckDB oracle in ``ORACLE`` for the driver's
differential check.  Implementation is idiomatic Spark: DataFrame API
where it reads naturally, ``spark.sql`` for CTE/subquery shapes —
Catalyst plans both identically.

Cross-engine determinism policy (SURVEY §7 "hard/risky bits"):

* Every computed column is aliased identically on both sides.
* Any ``LIMIT``/``OFFSET`` query orders by a key set that is a total
  order, so the selected row set is unique.
* Sums/averages over fractional doubles are computed exactly:
  ``CAST(SUM(CAST(x AS DECIMAL(p,s))) AS DOUBLE)`` — decimal
  accumulation is associative/exact, so Spark's and DuckDB's different
  accumulation orders produce bit-identical doubles.  Averages are
  ``exact_sum / count`` (one deterministic IEEE division), never the
  engine's own AVG over floats.  Sums of integer-valued doubles
  (``l_quantity``) are exact in binary and need no cast.
* ``events.ts`` is normalized to a microsecond session-TZ TIMESTAMP
  whatever physical encoding the parquet uses (the driver's testdata
  has shipped both ns and us — see ``session.normalize_event_ts``);
  queries returning event timestamps bucket them (``date_trunc``) on
  both sides so a precision mismatch can never skew oracles.

Scale notes (100 TB posture): all queries are pure declarative plans —
filters/projections push into the parquet scan, aggregations get
map-side partial aggregation, small dimension tables broadcast
(Catalyst auto-broadcasts under the threshold; AQE re-plans at runtime).
No driver-side materialization anywhere.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLE: dict[str, str] = {}


def _q(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLE[name] = oracle
        return fn

    return deco


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    from zarr_datafusion_spark.session import load_table

    return load_table(spark, sf_dir, name)


def _views(spark: SparkSession, sf_dir: str) -> None:
    from zarr_datafusion_spark.session import register_tables

    register_tables(spark, sf_dir)


# Exact fractional-double aggregation helpers (see module docstring).
def _dsum(col: str, alias: str, scale: int = 2) -> F.Column:
    return (
        F.sum(F.col(col).cast(f"decimal(18,{scale})")).cast("double").alias(alias)
    )


# ---------------------------------------------------------------------------
# Projection / scalar expressions  (reference: integration_query.rs:13-36,
# CLI_REFERENCE.md:80-106)
# ---------------------------------------------------------------------------


@_q(
    "proj_expressions",
    """SELECT l_orderkey, l_linenumber, l_quantity,
              l_extendedprice * (1 - l_discount) AS revenue,
              l_quantity + l_linenumber AS qty_plus_line,
              l_extendedprice / l_quantity AS unit_price,
              CASE WHEN l_quantity > 30 THEN 'big'
                   WHEN l_quantity > 10 THEN 'mid'
                   ELSE 'small' END AS size_class,
              CAST(FLOOR(l_quantity) AS INTEGER) AS qty_int
       FROM lineitem""",
)
def proj_expressions(spark, sf_dir):
    """Projection breadth in one entry: column list, aliases,
    arithmetic +-*/ incl. mixed int/float, CASE, explicit CAST
    (integration_query.rs:26-36, CLI_REFERENCE.md:89-106,
    filter.rs:120-128).  Merges round-1's proj_select / proj_arith /
    proj_case_cast so the whole registry fits the driver's correctness
    window (VERDICT r1 item 1); each constituent op keeps its unit
    coverage via this oracle row.

    Per-row IEEE arithmetic on identical inputs is bit-deterministic
    across engines — no decimal cast needed (unlike aggregates).
    FLOOR before the int cast: Spark truncates double->int while DuckDB
    rounds, so the cast is only cross-engine-deterministic on integral
    doubles.
    """
    li = _t(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        "l_quantity",
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
        (F.col("l_quantity") + F.col("l_linenumber")).alias("qty_plus_line"),
        (F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_price"),
        F.when(F.col("l_quantity") > 30, "big")
        .when(F.col("l_quantity") > 10, "mid")
        .otherwise("small")
        .alias("size_class"),
        F.floor("l_quantity").cast("int").alias("qty_int"),
    )


# ---------------------------------------------------------------------------
# Filters  (reference: CLI_REFERENCE.md:110-163, integration_query.rs:39-64)
# ---------------------------------------------------------------------------


@_q(
    "filter_predicates",
    """SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity,
              NULLIF(l_discount, 0.0) AS disc_nullable
       FROM lineitem
       WHERE (l_quantity > 30 AND l_discount < 0.05)
          OR ((l_returnflag = 'A' OR l_returnflag = 'R')
              AND l_quantity BETWEEN 10 AND 20
              AND l_linestatus IN ('F', 'O')
              AND l_shipdate IS NOT NULL)
          OR (l_linestatus NOT IN ('O')
              AND NULLIF(l_discount, 0.0) IS NULL
              AND l_quantity IS NOT NULL)""",
)
def filter_predicates(spark, sf_dir):
    """Predicate breadth in one entry: comparison, AND/OR, BETWEEN, IN,
    NOT IN, IS [NOT] NULL, NULLIF-synthesized nulls
    (CLI_REFERENCE.md:110-163).  Merges round-1's four filter entries
    (VERDICT r1 item 1); each OR branch is independently non-empty on
    the driver data, so every predicate form contributes rows to the
    hash."""
    li = _t(spark, sf_dir, "lineitem")
    disc_nullable = F.nullif(F.col("l_discount"), F.lit(0.0))
    branch1 = (F.col("l_quantity") > 30) & (F.col("l_discount") < 0.05)
    branch2 = (
        ((F.col("l_returnflag") == "A") | (F.col("l_returnflag") == "R"))
        & F.col("l_quantity").between(10, 20)
        & F.col("l_linestatus").isin("F", "O")
        & F.col("l_shipdate").isNotNull()
    )
    branch3 = (
        ~F.col("l_linestatus").isin("O")
        & disc_nullable.isNull()
        & F.col("l_quantity").isNotNull()
    )
    return li.filter(branch1 | branch2 | branch3).select(
        "l_orderkey",
        "l_linenumber",
        "l_returnflag",
        "l_quantity",
        disc_nullable.alias("disc_nullable"),
    )


_SCALAR_FN_SQL = """
    SELECT o_orderkey,
           upper(o_orderpriority) AS prio_u,
           lower(o_orderstatus) AS status_l,
           substr(o_orderpriority, 1, 1) AS prio_code,
           concat(o_orderstatus, '-', o_orderpriority) AS status_prio,
           length(o_orderpriority) AS prio_len,
           replace(o_orderpriority, '-', '_') AS prio_repl,
           abs(o_totalprice - 100000.0) AS dist_100k,
           round(o_totalprice, 1) AS price_r1,
           CAST(floor(o_totalprice) AS BIGINT) AS price_fl,
           CAST(ceil(o_totalprice) AS BIGINT) AS price_ce,
           sqrt(o_totalprice) AS price_sqrt,
           lpad(o_orderstatus, 3, '*') AS status_pad,
           reverse(o_orderpriority) AS prio_rev,
           power(o_custkey % 10, 2) AS ck_sq,
           greatest(o_orderkey % 7, o_custkey % 7) AS g7,
           least(o_orderkey % 7, o_custkey % 7) AS l7,
           coalesce(NULLIF(o_orderstatus, 'O'), 'OPEN') AS status_coal,
           year(o_orderdate) AS o_year,
           month(o_orderdate) AS o_month,
           day(o_orderdate) AS o_day,
           quarter(o_orderdate) AS o_quarter
    FROM orders
"""


@_q("scalar_functions", _SCALAR_FN_SQL)
def scalar_functions(spark, sf_dir):
    """Scalar function library breadth (SURVEY §2: the reference
    exercises arithmetic/comparison only; our engine inherits
    ``pyspark.sql.functions`` wholesale — this query pins 20 common
    string/math/date functions to identical cross-engine semantics).
    Function choice is deliberate: sqrt/abs/floor/ceil/round are
    IEEE-correctly-rounded (bit-identical everywhere); ``ln``/``exp``
    are NOT (JVM StrictMath vs libm differ by 1 ulp on some inputs —
    measured) and ``dayofweek`` numbering differs across engines, so
    both are excluded.  ``floor``/``ceil`` are CAST to BIGINT because
    the value is exact but the *return type* diverges (Spark: BIGINT,
    DuckDB: DOUBLE) and the driver hashes typed values.  One SQL
    string for both engines."""
    _views(spark, sf_dir)
    return spark.sql(_SCALAR_FN_SQL)


@_q(
    "json_functions",
    """SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS k_mod,
              COUNT(*) AS n,
              MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS k_min,
              MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS k_max
       FROM events
       GROUP BY 1""",
)
def json_functions(spark, sf_dir):
    """JSON scalar functions over the ``events.props`` column (§2
    scalar-library json row).  Spark spells it ``get_json_object``,
    DuckDB ``json_extract_string`` — semantics identical for scalar
    paths, verified by the shared aggregate."""
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    return ev.groupBy((k % 10).alias("k_mod")).agg(
        F.count("*").alias("n"),
        F.min(k).alias("k_min"),
        F.max(k).alias("k_max"),
    )


@_q(
    "array_functions",
    """SELECT vec_id,
              len(embedding) AS dim,
              round(embedding[1]::DOUBLE, 6) AS first_val,
              round(embedding[len(embedding)]::DOUBLE, 6) AS last_val,
              round(list_sort(list_transform(embedding, x -> round(x::DOUBLE, 6)))[len(embedding)], 6) AS max_val,
              len(list_filter(embedding, x -> x > 0)) AS n_positive
       FROM embeddings""",
)
def array_functions(spark, sf_dir):
    """Array higher-order functions over the embedding column (§2
    scalar-library array row): size / element_at / sort / filter.
    Values round(6) — the float32→double widening is engine-identical
    but sorting NaN-free rounded doubles keeps ties deterministic."""
    e = _t(spark, sf_dir, "embeddings")
    emb = F.col("embedding")
    rounded = F.expr("transform(embedding, x -> round(CAST(x AS DOUBLE), 6))")
    return e.select(
        "vec_id",
        F.size(emb).alias("dim"),
        F.round(F.element_at(emb, 1).cast("double"), 6).alias("first_val"),
        F.round(F.element_at(emb, F.size(emb)).cast("double"), 6).alias("last_val"),
        F.round(F.element_at(F.array_sort(rounded), F.size(emb)), 6).alias("max_val"),
        F.size(F.filter(emb, lambda x: x > 0)).alias("n_positive"),
    )


@_q(
    "distinct_vals",
    "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",
)
def distinct_vals(spark, sf_dir):
    """DISTINCT (CLI_REFERENCE.md:100-106)."""
    return _t(spark, sf_dir, "lineitem").select("l_returnflag", "l_linestatus").distinct()


# ---------------------------------------------------------------------------
# Aggregations  (reference: CLI_REFERENCE.md:169-252, integration_query.rs:97-220)
# ---------------------------------------------------------------------------


@_q(
    "agg_global",
    """SELECT COUNT(*) AS n_rows,
              COUNT(l_quantity) AS n_qty,
              SUM(l_quantity) AS sum_qty,
              CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
              CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(l_extendedprice) AS avg_price,
              MIN(l_extendedprice) AS min_price,
              MAX(l_extendedprice) AS max_price,
              MIN(l_shipdate) AS min_ship,
              MAX(l_shipdate) AS max_ship,
              COUNT(DISTINCT l_partkey) AS n_parts,
              COUNT(DISTINCT l_suppkey) AS n_supps
       FROM lineitem""",
)
def agg_global(spark, sf_dir):
    """COUNT(*)/COUNT(col)/SUM/AVG/MIN/MAX + exact COUNT(DISTINCT),
    no GROUP BY (CLI_REFERENCE.md:169-208; integration_query.rs:192-220;
    absorbs round-1's agg_count_distinct — VERDICT r1 item 1)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.agg(
        F.count("*").alias("n_rows"),
        F.count("l_quantity").alias("n_qty"),
        F.sum("l_quantity").alias("sum_qty"),  # integer-valued: binary-exact
        _dsum("l_extendedprice", "sum_price"),
        (
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast("double")
            / F.count("l_extendedprice")
        ).alias("avg_price"),
        F.min("l_extendedprice").alias("min_price"),
        F.max("l_extendedprice").alias("max_price"),
        F.min("l_shipdate").alias("min_ship"),
        F.max("l_shipdate").alias("max_ship"),
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_supps"),
    )


@_q(
    "agg_groupby",
    """SELECT l_returnflag, l_linestatus,
              SUM(l_quantity) AS sum_qty,
              CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
              CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - l_discount AS DECIMAL(4,2))) AS DOUBLE) AS sum_disc_price,
              CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - l_discount AS DECIMAL(4,2)) * CAST(1 + l_tax AS DECIMAL(4,2))) AS DOUBLE) AS sum_charge,
              SUM(l_quantity) / COUNT(l_quantity) AS avg_qty,
              CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / COUNT(l_discount) AS avg_disc,
              COUNT(*) AS count_order
       FROM lineitem
       GROUP BY l_returnflag, l_linestatus""",
)
def agg_groupby(spark, sf_dir):
    """TPC-H-Q1-style pricing summary: GROUP BY + multi-agg
    (README.md:235-241, integration_query.rs:97-110).  The flagship."""
    from zarr_datafusion_spark.operators.common import cpu_rebalance

    # The sf0.1 lineitem file is ONE parquet row group, so the scan +
    # the 8-aggregate partial agg (the query's entire cost) run in one
    # task no matter how maxPartitionBytes is set; a round-robin
    # repartition spreads the decimal aggregation across every core
    # (measured ~1.3s -> ~0.9s at sf0.1/local[32]).  At cluster scale
    # many row groups make the planned scan wide and cpu_rebalance is a
    # no-op — no extra shuffle.  NOT applied to the broadcast-join
    # queries (Q3/Q5): their post-pushdown probe work is too small to
    # amortize the shuffle (measured 0.55s -> 0.85s REGRESSION).
    li = cpu_rebalance(spark, _t(spark, sf_dir, "lineitem"))
    # Narrow casts keep the decimal products <= 18 digits so Spark's
    # long-backed Decimal fast path applies (price 12+disc 4+1 = 17);
    # exactness is unchanged, so the oracle still bit-matches.  Bounds:
    # l_extendedprice < 1e10, discount/tax factors < 100.  (A pure
    # int64 x100-scaled formulation is ~3x faster still, but its triple
    # product overflows int64 at ~1e8 rows per group — unsafe at 100 TB;
    # decimal accumulation is the scale-safe exact path.)
    price = F.col("l_extendedprice").cast("decimal(12,2)")
    disc = (F.lit(1) - F.col("l_discount")).cast("decimal(4,2)")
    tax = (F.lit(1) + F.col("l_tax")).cast("decimal(4,2)")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum("l_quantity").alias("sum_qty"),
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast("double").alias("sum_base_price"),
        F.sum(price * disc).cast("double").alias("sum_disc_price"),
        F.sum(price * disc * tax).cast("double").alias("sum_charge"),
        (F.sum("l_quantity") / F.count("l_quantity")).alias("avg_qty"),
        (F.sum(F.col("l_discount").cast("decimal(18,2)")).cast("double") / F.count("l_discount")).alias(
            "avg_disc"
        ),
        F.count("*").alias("count_order"),
    )


@_q(
    "agg_having",
    """SELECT o_custkey, COUNT(*) AS n_orders,
              CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spent
       FROM orders
       GROUP BY o_custkey
       HAVING COUNT(*) >= 12""",
)
def agg_having(spark, sf_dir):
    """GROUP BY + HAVING (CLI_REFERENCE.md:240-252)."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(
            F.count("*").alias("n_orders"),
            _dsum("o_totalprice", "total_spent"),
        )
        .filter(F.col("n_orders") >= 12)
    )


_GROUPING_EXT_SQL = """
    SELECT 'rollup' AS gs, l_returnflag, l_linestatus, COUNT(*) AS n, SUM(l_quantity) AS sum_qty
    FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
    UNION ALL
    SELECT 'cube' AS gs, l_returnflag, l_linestatus, COUNT(*) AS n, SUM(l_quantity) AS sum_qty
    FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
    UNION ALL
    SELECT 'gsets' AS gs, l_returnflag, l_linestatus, COUNT(*) AS n, SUM(l_quantity) AS sum_qty
    FROM lineitem GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
"""


@_q("agg_grouping_ext", _GROUPING_EXT_SQL)
def agg_grouping_ext(spark, sf_dir):
    """ROLLUP + CUBE + explicit GROUPING SETS, tagged and unioned into
    one oracle row (SURVEY §2 optional parity rows; merged per VERDICT
    r1 item 1 — the three were near-duplicate entries).  One SQL string,
    planned by Catalyst and DuckDB identically."""
    _views(spark, sf_dir)
    return spark.sql(_GROUPING_EXT_SQL)


@_q(
    "agg_approx_distinct",
    """SELECT COUNT(DISTINCT l_partkey) AS exact_parts,
              TRUE AS approx_within_band
       FROM lineitem""",
)
def agg_approx_distinct(spark, sf_dir):
    """approx_count_distinct (HyperLogLog++) next to the exact count —
    the 100 TB path for distinct-cardinality profiling (single pass, no
    per-key state explosion).  The HLL estimate itself is
    engine-specific so it cannot be hashed directly; instead the entry
    emits the exact count plus a boolean asserting the estimate landed
    within 5x the configured rsd (2%), and the oracle pins the exact
    count and expects the boolean TRUE — a broken sketch flips the
    boolean and fails the hash (round-1 verdict item 8)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.agg(
        F.countDistinct("l_partkey").alias("exact_parts"),
        (
            F.abs(
                F.approx_count_distinct("l_partkey", rsd=0.02)
                - F.countDistinct("l_partkey")
            )
            <= 0.10 * F.countDistinct("l_partkey")
        ).alias("approx_within_band"),
    )


@_q(
    "agg_approx_percentile",
    """SELECT quantile_cont(l_extendedprice, 0.5) AS exact_p50,
              quantile_cont(l_extendedprice, 0.95) AS exact_p95,
              TRUE AS approx_within_band
       FROM lineitem""",
)
def agg_approx_percentile(spark, sf_dir):
    """approx_percentile (t-digest-style sketch) next to the exact
    interpolated percentile — same contract as ``agg_approx_distinct``:
    the sketch estimate is engine-specific so the entry hashes the
    EXACT percentiles (bit-identical across engines: both define
    percentile as linear interpolation over the sorted values) plus a
    boolean asserting the approximate answer landed within 2% relative
    error.  At 100 TB the exact form needs a full sort per group;
    approx_percentile is single-pass with mergeable fixed-size state —
    this entry proves the swap is safe."""
    li = _t(spark, sf_dir, "lineitem")
    exact = F.expr("percentile(l_extendedprice, array(0.5D, 0.95D))")
    approx = F.expr(
        "approx_percentile(l_extendedprice, array(0.5D, 0.95D), 10000)"
    )
    return li.agg(
        exact.getItem(0).alias("exact_p50"),
        exact.getItem(1).alias("exact_p95"),
        (
            (F.abs(approx.getItem(0) - exact.getItem(0)) <= 0.02 * exact.getItem(0))
            & (F.abs(approx.getItem(1) - exact.getItem(1)) <= 0.02 * exact.getItem(1))
        ).alias("approx_within_band"),
    )


@_q(
    "agg_time_bucket",
    """SELECT date_trunc('hour', ts) AS hour_bucket, event_type,
              COUNT(*) AS n_events,
              CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
       FROM events
       GROUP BY date_trunc('hour', ts), event_type""",
)
def agg_time_bucket(spark, sf_dir):
    """Time-bucketed aggregation over the events table (batch analog of
    the §7 streaming demo; timestamps bucketed to the hour so ns-vs-us
    parquet precision cannot skew the oracle compare)."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hour_bucket"),
        "event_type",
    ).agg(
        F.count("*").alias("n_events"),
        _dsum("value", "sum_value", scale=6),
    )


# ---------------------------------------------------------------------------
# Sorts / limits / top-k  (reference: integration_query.rs:67-94,
# CLI_REFERENCE.md:254-271, integration_pushdown.rs:150-173)
# ---------------------------------------------------------------------------


@_q(
    "sort_topk",
    """SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
       ORDER BY o_orderstatus ASC, o_totalprice DESC, o_orderkey ASC
       LIMIT 25 OFFSET 5""",
)
def sort_topk(spark, sf_dir):
    """Multi-key ORDER BY asc/desc + LIMIT + OFFSET in one entry
    (integration_query.rs:67-94, CLI_REFERENCE.md:254-271,
    integration_pushdown.rs:150-162; merges round-1's sort_multi_key /
    sort_limit_offset / topk per VERDICT r1 item 1).  Spark plans the
    whole thing as TakeOrderedAndProject(offset) — no global sort, the
    top-(K+offset) heap runs map-side (asserted in tests/test_plans.py).
    The key set is a total order, so the selected window is unique."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.select("o_orderkey", "o_orderstatus", "o_totalprice")
        .orderBy(
            F.col("o_orderstatus").asc(),
            F.col("o_totalprice").desc(),
            F.col("o_orderkey").asc(),
        )
        .offset(5)
        .limit(25)
    )


# ---------------------------------------------------------------------------
# Joins  (reference: CLI_REFERENCE.md:379-427)
# ---------------------------------------------------------------------------


@_q(
    "join_inner",
    """SELECT o.o_orderkey, o.o_orderdate, l.l_linenumber, l.l_quantity
       FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
       WHERE o.o_orderstatus = 'F'""",
)
def join_inner(spark, sf_dir):
    """Inner equi-join (CLI_REFERENCE.md:379-396)."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    return (
        o.filter(F.col("o_orderstatus") == "F")
        .join(li, o.o_orderkey == li.l_orderkey)
        .select("o_orderkey", "o_orderdate", "l_linenumber", "l_quantity")
    )


@_q(
    "join_inner_multikey",
    """SELECT a.l_orderkey, a.l_linenumber, COUNT(*) AS n_same_supp
       FROM lineitem a JOIN lineitem b
         ON a.l_orderkey = b.l_orderkey AND a.l_suppkey = b.l_suppkey
       GROUP BY a.l_orderkey, a.l_linenumber""",
)
def join_inner_multikey(spark, sf_dir):
    """Multi-key equi self-join (reference self-join on lat,lon —
    CLI_REFERENCE.md:379-414)."""
    li = _t(spark, sf_dir, "lineitem")
    a = li.alias("a")
    b = li.alias("b")
    return (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_suppkey") == F.col("b.l_suppkey")),
        )
        .groupBy(F.col("a.l_orderkey").alias("l_orderkey"), F.col("a.l_linenumber").alias("l_linenumber"))
        .agg(F.count("*").alias("n_same_supp"))
    )


@_q(
    "join_chain_agg",
    """SELECT r.r_name, n.n_name,
              CAST(SUM(CAST(c.c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_acctbal,
              COUNT(*) AS n_cust
       FROM customer c
       JOIN nation n ON c.c_nationkey = n.n_nationkey
       JOIN region r ON n.n_regionkey = r.r_regionkey
       GROUP BY r.r_name, n.n_name""",
)
def join_chain_agg(spark, sf_dir):
    """3-table dimension chain + aggregation (CLI_REFERENCE.md:398-414).

    nation/region are tiny dims — broadcast explicitly so the plan has
    no shuffle on the build sides at any scale."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            _dsum("c_acctbal", "sum_acctbal"),
            F.count("*").alias("n_cust"),
        )
    )


@_q(
    "join_outer",
    """SELECT 'left' AS side, c.c_custkey AS key,
              COUNT(o.o_orderkey) AS matched_a, 0 AS matched_b
       FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
       GROUP BY c.c_custkey
       UNION ALL
       SELECT 'right' AS side, n.n_nationkey AS key,
              COUNT(s.s_suppkey) AS matched_a, 0 AS matched_b
       FROM supplier s RIGHT JOIN nation n ON s.s_nationkey = n.n_nationkey
       GROUP BY n.n_nationkey
       UNION ALL
       SELECT 'full' AS side, COALESCE(c.c_nationkey, s.s_nationkey) AS key,
              COUNT(c.c_custkey) AS matched_a, COUNT(s.s_suppkey) AS matched_b
       FROM customer c FULL JOIN supplier s ON c.c_nationkey = s.s_nationkey
       GROUP BY COALESCE(c.c_nationkey, s.s_nationkey)""",
)
def join_outer(spark, sf_dir):
    """Left, right and full outer joins, tagged and unioned into one
    oracle row (CLI_REFERENCE.md:417-427; merges round-1's join_left /
    join_right / join_full per VERDICT r1 item 1).  COUNT(col) counts
    only matched rows, so null-extended sides contribute 0 — each join
    type's outer semantics are value-checked, not just row-counted."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    zero = F.lit(0).cast("long")
    left = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy(F.col("c_custkey").alias("key"))
        .agg(F.count("o_orderkey").alias("matched_a"))
        .select(F.lit("left").alias("side"), "key", "matched_a", zero.alias("matched_b"))
    )
    right = (
        s.join(n, s.s_nationkey == n.n_nationkey, "right")
        .groupBy(F.col("n_nationkey").alias("key"))
        .agg(F.count("s_suppkey").alias("matched_a"))
        .select(F.lit("right").alias("side"), "key", "matched_a", zero.alias("matched_b"))
    )
    full = (
        c.join(s, c.c_nationkey == s.s_nationkey, "full")
        .select(
            F.coalesce(c.c_nationkey, s.s_nationkey).alias("key"),
            "c_custkey",
            "s_suppkey",
        )
        .groupBy("key")
        .agg(
            F.count("c_custkey").alias("matched_a"),
            F.count("s_suppkey").alias("matched_b"),
        )
        .select(F.lit("full").alias("side"), "key", "matched_a", "matched_b")
    )
    return left.unionAll(right).unionAll(full)


@_q(
    "join_semi_anti",
    """SELECT 'semi' AS side, c_custkey AS key FROM customer c
       WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
       UNION ALL
       SELECT 'anti' AS side, p_partkey AS key FROM part p
       WHERE NOT EXISTS (SELECT 1 FROM lineitem l WHERE l.l_partkey = p.p_partkey
                         AND l.l_quantity > 40)""",
)
def join_semi_anti(spark, sf_dir):
    """Left-semi (EXISTS) + left-anti (NOT EXISTS) joins in one entry
    (DataFusion-complete superset; merged per VERDICT r1 item 1).  The
    anti predicate is chosen so the result is non-empty — a vacuous
    differential proves nothing."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    p = _t(spark, sf_dir, "part")
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 40)
    semi = (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .select(F.lit("semi").alias("side"), F.col("c_custkey").alias("key"))
    )
    anti = (
        p.join(li, p.p_partkey == li.l_partkey, "left_anti")
        .select(F.lit("anti").alias("side"), F.col("p_partkey").alias("key"))
    )
    return semi.unionAll(anti)


@_q(
    "join_theta_cross",
    """SELECT 'theta' AS side, a.n_name AS name_a, b.n_name AS name_b
       FROM nation a JOIN nation b ON b.n_nationkey = a.n_nationkey + 1
       UNION ALL
       SELECT 'cross' AS side, r.r_name AS name_a, s.s_name AS name_b
       FROM region r CROSS JOIN supplier s""",
)
def join_theta_cross(spark, sf_dir):
    """Expression-key (theta) join + cross join in one entry
    (reference: a.lat = b.lat + 1, CLI_REFERENCE.md:420-424; merged per
    VERDICT r1 item 1)."""
    n = _t(spark, sf_dir, "nation")
    a = n.alias("a")
    b = n.alias("b")
    theta = a.join(
        b, F.col("b.n_nationkey") == F.col("a.n_nationkey") + 1
    ).select(
        F.lit("theta").alias("side"),
        F.col("a.n_name").alias("name_a"),
        F.col("b.n_name").alias("name_b"),
    )
    r = _t(spark, sf_dir, "region")
    s = _t(spark, sf_dir, "supplier")
    cross = r.crossJoin(s).select(
        F.lit("cross").alias("side"),
        F.col("r_name").alias("name_a"),
        F.col("s_name").alias("name_b"),
    )
    return theta.unionAll(cross)


# ---------------------------------------------------------------------------
# Window functions  (reference: CLI_REFERENCE.md:278-327)
# ---------------------------------------------------------------------------


_WIN_RANKING_SQL = """
    SELECT o_orderkey,
           o_orderpriority,
           ROW_NUMBER() OVER w AS rn,
           RANK() OVER wt AS rnk,
           DENSE_RANK() OVER wt AS drnk,
           NTILE(4) OVER w AS quartile,
           PERCENT_RANK() OVER w AS pct_rank,
           CUME_DIST() OVER w AS cume,
           FIRST_VALUE(o_orderkey) OVER w AS cheapest_key,
           LAST_VALUE(o_orderkey) OVER (PARTITION BY o_orderpriority
                ORDER BY o_totalprice, o_orderkey
                ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
             AS priciest_key,
           NTH_VALUE(o_orderkey, 3) OVER (PARTITION BY o_orderpriority
                ORDER BY o_totalprice, o_orderkey
                ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
             AS third_key
    FROM orders
    WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey),
           wt AS (PARTITION BY o_orderpriority ORDER BY o_totalprice)
"""


@_q("win_ranking", _WIN_RANKING_SQL)
def win_ranking(spark, sf_dir):
    """Ranking + distribution/navigation window functions in one entry:
    row_number, rank, dense_rank, ntile, percent_rank, cume_dist,
    first/last/nth_value (CLI_REFERENCE.md:278-313; merges round-1's
    win_rownum_rank / win_distribution per VERDICT r1 item 1).

    ``w``'s (o_totalprice, o_orderkey) is a total order so row_number
    and navigation values are deterministic; ``wt`` orders by price
    alone so rank/dense_rank actually exercise ties.  One SQL string
    for both engines.

    100 TB skew bound (VERDICT r3): PARTITION BY o_orderpriority has
    only 5 distinct values, so exact global ranking per priority lands
    on 5 reducers regardless of cluster size — inherent to the query's
    semantics (a global per-key rank cannot be salted).  For a real
    deployment the mitigation is a range-partitioned two-pass ranking:
    (1) repartitionByRange(priority, price) and rank within each range
    partition, (2) a tiny per-partition row-count table (one row per
    range partition, broadcast) provides each partition's global rank
    offset to add map-side.  NTILE/percent_rank/cume_dist get the same
    treatment with global counts instead of offsets.  Not implemented
    here: the single-pass form is the correct plan at the driver's
    scale and keeps the entry one SQL string for both engines."""
    _views(spark, sf_dir)
    return spark.sql(_WIN_RANKING_SQL)


@_q(
    "win_offset_frames",
    """SELECT event_id, user_id,
              LAG(value, 1) OVER wo AS prev_value,
              LEAD(value, 1) OVER wo AS next_value,
              CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER wf AS DOUBLE)
                / COUNT(value) OVER wf AS moving_avg
       FROM events
       WINDOW wo AS (PARTITION BY user_id ORDER BY ts, event_id),
              wf AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)""",
)
def win_offset_frames(spark, sf_dir):
    """LAG / LEAD offset functions + a moving aggregate over ROWS
    BETWEEN 2 PRECEDING AND CURRENT ROW (CLI_REFERENCE.md:291-327;
    merges round-1's win_lag_lead / win_moving_avg per VERDICT r1
    item 1).  The moving average is exact-decimal-sum / count for
    cross-engine bit determinism.  ts orders deterministically because
    event_id breaks ties on both engines."""
    ev = _t(spark, sf_dir, "events")
    wo = W.partitionBy("user_id").orderBy("ts", "event_id")
    wf = wo.rowsBetween(-2, 0)
    return ev.select(
        "event_id",
        "user_id",
        F.lag("value", 1).over(wo).alias("prev_value"),
        F.lead("value", 1).over(wo).alias("next_value"),
        (
            F.sum(F.col("value").cast("decimal(18,6)")).over(wf).cast("double")
            / F.count("value").over(wf)
        ).alias("moving_avg"),
    )


# ---------------------------------------------------------------------------
# Set ops / CTEs / subqueries  (reference: CLI_REFERENCE.md:336-374,
# integration_pushdown.rs:134-140)
# ---------------------------------------------------------------------------


@_q(
    "setops",
    """SELECT 'ua' AS op, key FROM (
         SELECT l_orderkey AS key FROM lineitem
         UNION ALL SELECT o_orderkey AS key FROM orders) u
       UNION ALL
       SELECT 'ix' AS op, key FROM (
         SELECT o_custkey AS key FROM orders
         INTERSECT SELECT c_custkey AS key FROM customer) i
       UNION ALL
       SELECT 'ex' AS op, key FROM (
         SELECT p_partkey AS key FROM part
         EXCEPT SELECT l_partkey AS key FROM lineitem WHERE l_quantity > 45) e""",
)
def setops(spark, sf_dir):
    """UNION ALL + INTERSECT + EXCEPT (distinct semantics), tagged and
    unioned into one oracle row (CLI_REFERENCE.md:345-362; merges
    round-1's three setop entries per VERDICT r1 item 1).  The EXCEPT
    predicate is chosen for a non-empty difference."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    ua = (
        li.select(F.col("l_orderkey").alias("key"))
        .unionAll(o.select(F.col("o_orderkey").alias("key")))
        .select(F.lit("ua").alias("op"), "key")
    )
    ix = (
        o.select(F.col("o_custkey").alias("key"))
        .intersect(_t(spark, sf_dir, "customer").select(F.col("c_custkey").alias("key")))
        .select(F.lit("ix").alias("op"), "key")
    )
    ex = (
        _t(spark, sf_dir, "part")
        .select(F.col("p_partkey").alias("key"))
        .exceptAll(
            li.filter(F.col("l_quantity") > 45).select(
                F.col("l_partkey").alias("key")
            )
        )
        .distinct()
        .select(F.lit("ex").alias("op"), "key")
    )
    return ua.unionAll(ix).unionAll(ex)


_Q3_SQL = """
    SELECT l_orderkey,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                    * CAST(1 - l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue,
           CAST(o_orderdate AS DATE) AS o_date,
           o_orderpriority
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-03-15'
      AND l_shipdate > TIMESTAMP '1998-03-15'
    GROUP BY l_orderkey, CAST(o_orderdate AS DATE), o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
"""


@_q("tpch_q3_shipping_priority", _Q3_SQL)
def tpch_q3_shipping_priority(spark, sf_dir):
    """TPC-H Q3 shape: 3-table join + filter + agg + top-k — the
    classic multi-join analytical query (deep-plan breadth beyond the
    reference's 2-table examples).  Catalyst broadcasts the filtered
    customer side under the threshold and plans the top-10 as
    TakeOrderedAndProject; one SQL string for both engines."""
    _views(spark, sf_dir)
    return spark.sql(_Q3_SQL)


_Q5_SQL = """
    SELECT n_name,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                    * CAST(1 - l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1998-01-01'
    GROUP BY n_name
    ORDER BY revenue DESC, n_name
"""


@_q("tpch_q5_local_supplier", _Q5_SQL)
def tpch_q5_local_supplier(spark, sf_dir):
    """TPC-H Q5 shape: 6-table join through the full dimension chain
    with a same-nation equi-constraint — exercises Catalyst's join
    reordering and multi-broadcast planning.  One SQL string for both
    engines."""
    _views(spark, sf_dir)
    return spark.sql(_Q5_SQL)


_Q6_SQL = """
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                    * CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue,
           COUNT(*) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '2000-01-01'
      AND l_shipdate <  TIMESTAMP '2001-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
"""


@_q("tpch_q6_forecast_revenue", _Q6_SQL)
def tpch_q6_forecast_revenue(spark, sf_dir):
    """TPC-H Q6 shape: single-table scan with a multi-predicate filter
    and one exact-decimal aggregate — the canonical "how fast can you
    scan" query.  At scale this is the plan to read: every predicate
    reaches the parquet scan as a PushedFilter (date + two numeric
    ranges prune row groups via footer min/max), the projection reads
    four columns, and the aggregate is a map-side partial -> one
    exchange of a single row per partition.  One SQL string for both
    engines."""
    _views(spark, sf_dir)
    return spark.sql(_Q6_SQL)


_Q4_SQL = """
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders o
    WHERE o_orderdate >= TIMESTAMP '1997-07-01'
      AND o_orderdate < TIMESTAMP '1997-10-01'
      AND EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate)
    GROUP BY o_orderpriority
"""


@_q("tpch_q4_order_priority", _Q4_SQL)
def tpch_q4_order_priority(spark, sf_dir):
    """TPC-H Q4 shape: EXISTS correlated subquery counted per priority.
    Catalyst rewrites EXISTS into a left-semi join on the correlation
    key (check the plan: one LeftSemi hash join, no per-row re-scan) —
    the SQL-surface twin of the DataFrame-API ``join_semi_anti`` entry.
    One SQL string for both engines."""
    _views(spark, sf_dir)
    return spark.sql(_Q4_SQL)


_Q12_SQL = """
    SELECT l_returnflag,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate < TIMESTAMP '1998-01-01'
    GROUP BY l_returnflag
"""


@_q("tpch_q12_shipmode_priority", _Q12_SQL)
def tpch_q12_shipmode_priority(spark, sf_dir):
    """TPC-H Q12 shape (shipmode-style conditional counting over a
    fact-to-fact join; the driver schema has no l_shipmode column, so
    l_returnflag stands in as the grouping key).  All-integer
    conditional sums — exact both engines.  The lineitem date filter
    pushes to the scan; the join shuffles both sides on the order key
    once."""
    _views(spark, sf_dir)
    return spark.sql(_Q12_SQL)


_Q17_SQL = """
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) / 7.0
             AS avg_yearly,
           COUNT(*) AS n_lines
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE p_brand = 'Brand#4'
      AND l_quantity < (
        SELECT 0.2 * (CAST(SUM(CAST(l2.l_quantity AS DECIMAL(18,6))) AS DOUBLE)
                      / COUNT(*))
        FROM lineitem l2 WHERE l2.l_partkey = p_partkey)
"""


@_q("tpch_q17_small_quantity", _Q17_SQL)
def tpch_q17_small_quantity(spark, sf_dir):
    """TPC-H Q17 shape: small-quantity-order revenue — a correlated
    scalar AGGREGATE subquery against the outer row's part (the driver
    schema has no p_container, so the brand predicate alone selects the
    part subset).  Catalyst decorrelates the per-part average into one
    grouped aggregate over lineitem joined back on l_partkey — the plan
    a DataFusion-class engine must find, pinned by
    test_q17_decorrelates (no nested loop, one extra aggregate+join).
    The inner mean uses exact-decimal accumulation so the threshold is
    bit-identical cross-engine.  One SQL string for both engines
    (reference SQL surface: docs/CLI_REFERENCE.md:336-374)."""
    _views(spark, sf_dir)
    return spark.sql(_Q17_SQL)


_Q20_SQL = """
    SELECT s_name, s_nationkey
    FROM supplier
    WHERE s_suppkey IN (
      SELECT l1.l_suppkey FROM lineitem l1
      WHERE l1.l_partkey IN (
              SELECT p_partkey FROM part WHERE p_name LIKE '%bolt%')
        AND l1.l_quantity > (
              SELECT 1.9 * (CAST(SUM(CAST(l2.l_quantity AS DECIMAL(18,6)))
                                 AS DOUBLE) / COUNT(*))
              FROM lineitem l2 WHERE l2.l_partkey = l1.l_partkey))
      AND s_nationkey IN (
        SELECT n_nationkey FROM nation WHERE n_name LIKE 'NATION_1%')
"""


@_q("tpch_q20_part_promotion", _Q20_SQL)
def tpch_q20_part_promotion(spark, sf_dir):
    """TPC-H Q20 shape: NESTED IN subqueries + a correlated aggregate —
    suppliers who shipped a name-matched part in a quantity far above
    that part's own average (the driver schema has no partsupp table,
    so lineitem plays the inner relation; availqty-vs-half-shipped
    becomes quantity-vs-1.9x-average, preserving the plan shape: IN ->
    left-semi join, nested IN -> a second semi join inside it,
    correlated agg -> decorrelated grouped aggregate).  Pinned by
    test_q20_nested_in_becomes_semi_joins.  One SQL string for both
    engines."""
    _views(spark, sf_dir)
    return spark.sql(_Q20_SQL)


_Q21_SQL = """
    SELECT s_name, COUNT(*) AS numwait
    FROM supplier
    JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
    JOIN orders ON o_orderkey = l1.l_orderkey
    JOIN nation ON s_nationkey = n_nationkey
    WHERE o_orderstatus = 'F'
      AND l1.l_returnflag = 'R'
      AND EXISTS (
        SELECT 1 FROM lineitem l2
        WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (
        SELECT 1 FROM lineitem l3
        WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
          AND l3.l_returnflag = 'R')
      AND n_name IN ('NATION_1', 'NATION_2', 'NATION_3')
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 100
"""


@_q("tpch_q21_waiting_supplier", _Q21_SQL)
def tpch_q21_waiting_supplier(spark, sf_dir):
    """TPC-H Q21 shape: the hardest decorrelation in the suite — a
    4-table join plus BOTH an EXISTS and a NOT EXISTS against the same
    fact table (lineitem self-joins), i.e. "the only supplier at fault
    on a multi-supplier order" (the driver schema has no
    receipt/commit dates, so l_returnflag = 'R' marks the fault line).
    Catalyst must plan the EXISTS as a left-semi and the NOT EXISTS as
    a left-anti self-join on l_orderkey — never per-row re-scans —
    pinned by test_q21_exists_pair_becomes_semi_and_anti.  All-integer
    counting; total order via (numwait DESC, s_name).  One SQL string
    for both engines."""
    _views(spark, sf_dir)
    return spark.sql(_Q21_SQL)


_Q2_SQL = """
    SELECT DISTINCT s_acctbal, s_name, n_name, p_partkey, p_name,
           l.l_extendedprice / l.l_quantity AS unit_cost
    FROM part
    JOIN lineitem l ON p_partkey = l.l_partkey
    JOIN supplier ON s_suppkey = l.l_suppkey
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA' AND p_size < 15
      AND l.l_extendedprice / l.l_quantity = (
        SELECT MIN(l2.l_extendedprice / l2.l_quantity)
        FROM lineitem l2
        JOIN supplier s2 ON s2.s_suppkey = l2.l_suppkey
        JOIN nation n2 ON s2.s_nationkey = n2.n_nationkey
        JOIN region r2 ON n2.n_regionkey = r2.r_regionkey
        WHERE l2.l_partkey = p_partkey AND r2.r_name = 'ASIA')
    ORDER BY s_acctbal DESC, s_name, p_partkey LIMIT 100
"""


@_q("tpch_q2_min_cost_supplier", _Q2_SQL)
def tpch_q2_min_cost_supplier(spark, sf_dir):
    """TPC-H Q2 shape: minimum-cost supplier per part — a correlated
    scalar MIN whose inner query spans the same 4-table dimension chain
    as the outer (the driver schema has no partsupp, so lineitem's
    extendedprice/quantity unit cost stands in for ps_supplycost).
    Catalyst must decorrelate the per-part regional minimum into ONE
    grouped aggregate over the lineitem->supplier->nation->region chain
    joined back on p_partkey — never a per-row re-execution — pinned by
    test_q2_correlated_min_decorrelates.  The unit-cost division is
    IEEE-identical in both engines and MIN is order-independent, so the
    equality filter is bit-deterministic.  The tiny dimension chain
    (nation x region) broadcasts on both sides of the decorrelation.
    DISTINCT + total-order LIMIT keep the result set deterministic.
    One SQL string for both engines (reference SQL surface:
    docs/CLI_REFERENCE.md:336-374)."""
    _views(spark, sf_dir)
    return spark.sql(_Q2_SQL)


_Q22_CODES = "'10','11','12','13','14','15','16','17','18','19'"

_Q22_SQL = f"""
    SELECT cntrycode, COUNT(*) AS numcust,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
    FROM (
      SELECT right(c_name, 2) AS cntrycode, c_acctbal
      FROM customer c
      WHERE right(c_name, 2) IN ({_Q22_CODES})
        AND c_acctbal > (
          SELECT CAST(SUM(CAST(c2.c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
                 / COUNT(*)
          FROM customer c2
          WHERE c2.c_acctbal > 0.0
            AND right(c2.c_name, 2) IN ({_Q22_CODES}))
        AND NOT EXISTS (
          SELECT 1 FROM orders o
          WHERE o.o_custkey = c.c_custkey
            AND o.o_orderpriority = '1-URGENT')
    ) t GROUP BY cntrycode
"""


@_q("tpch_q22_global_sales_opportunity", _Q22_SQL)
def tpch_q22_global_sales_opportunity(spark, sf_dir):
    """TPC-H Q22 shape: positive-balance customers in a set of country
    buckets with no (urgent) orders — the suite's remaining
    decorrelation class, combining an UNCORRELATED scalar aggregate
    subquery (the average balance threshold, evaluated once and
    broadcast as a literal-like filter) with a NOT EXISTS anti-join
    against orders.  The driver schema has no c_phone, so the country
    code is the last two digits of c_name (`right()`, identical
    semantics both engines), and 'customers without orders' becomes
    'without URGENT orders' so the answer is non-empty at every test
    scale.  Exact-decimal mean -> bit-identical threshold; all-integer
    counting + exact-decimal totals.  Plan pinned by
    test_q22_not_exists_becomes_anti_join (left-anti, no nested loop,
    one subquery aggregate).  One SQL string for both engines."""
    _views(spark, sf_dir)
    return spark.sql(_Q22_SQL)




_Q7_SQL = """
    SELECT supp_nation, cust_nation, l_year,
           CAST(SUM(CAST(volume AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
           COUNT(*) AS n_lines
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             CAST(year(l_shipdate) AS INTEGER) AS l_year,
             CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - l_discount AS DECIMAL(4,2)) AS volume
      FROM supplier
      JOIN lineitem ON s_suppkey = l_suppkey
      JOIN orders ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN nation n1 ON s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c_nationkey = n2.n_nationkey
      WHERE n1.n_name <> n2.n_name
        AND l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate < TIMESTAMP '1998-01-01'
    ) shipping
    GROUP BY supp_nation, cust_nation, l_year
"""


@_q("tpch_q7_volume_shipping", _Q7_SQL)
def tpch_q7_volume_shipping(spark, sf_dir):
    """TPC-H Q7 shape: cross-nation shipping volume by (supplier
    nation, customer nation, year) over the full 6-table chain — the
    double-nation-dimension join (nation joined TWICE under different
    keys).  The classic query pins one nation pair; the driver's
    testdata regenerates nation assignments each round, so the robust
    variant keeps every cross-nation pair (same join shape, regen-proof
    non-emptiness).  Exact-decimal volume; year() truncated to INT so
    both engines group on int32.  One SQL string for both engines."""
    _views(spark, sf_dir)
    return spark.sql(_Q7_SQL)


_Q8_SQL = """
    SELECT o_year,
           CAST(SUM(CASE WHEN supp_nation = 'NATION_1' THEN volume
                         ELSE CAST(0 AS DECIMAL(17,4)) END) AS DOUBLE)
             / CAST(SUM(volume) AS DOUBLE) AS mkt_share,
           COUNT(*) AS n_lines
    FROM (
      SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
             CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - l_discount AS DECIMAL(4,2)) AS volume, n1.n_name AS supp_nation
      FROM part
      JOIN lineitem ON p_partkey = l_partkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation n1 ON s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c_nationkey = n2.n_nationkey
      JOIN region ON n2.n_regionkey = r_regionkey
      WHERE r_name = 'ASIA' AND p_type = 'ECONOMY'
    ) all_nations
    GROUP BY o_year
"""


@_q("tpch_q8_market_share", _Q8_SQL)
def tpch_q8_market_share(spark, sf_dir):
    """TPC-H Q8 shape: one nation's market share per year inside a
    region's market for one part type — an 8-table chain with nation
    joined twice (supplier side labels the share, customer side scopes
    the market via region) and a conditional-over-total ratio.  Both
    sums are exact decimals; the final division is one double op on
    identical operands, so no rounding is needed.  One SQL string for
    both engines (reference SQL surface docs/CLI_REFERENCE.md:336-374)."""
    _views(spark, sf_dir)
    return spark.sql(_Q8_SQL)


_Q9_SQL = """
    SELECT nation, o_year,
           CAST(SUM(CAST(amount AS DECIMAL(18,5))) AS DOUBLE) AS sum_profit,
           COUNT(*) AS n_lines
    FROM (
      SELECT n_name AS nation, CAST(year(o_orderdate) AS INTEGER) AS o_year,
             CAST(l_extendedprice AS DECIMAL(12,2))
               * CAST(1 - l_discount AS DECIMAL(4,2))
             - CAST(p_retailprice AS DECIMAL(12,2)) * CAST(0.1 AS DECIMAL(2,1))
               * CAST(l_quantity AS DECIMAL(8,2)) AS amount
      FROM part
      JOIN lineitem ON p_partkey = l_partkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN orders ON l_orderkey = o_orderkey
      JOIN nation ON s_nationkey = n_nationkey
      WHERE p_name LIKE '%widget%'
    ) profit
    GROUP BY nation, o_year
"""


@_q("tpch_q9_product_profit", _Q9_SQL)
def tpch_q9_product_profit(spark, sf_dir):
    """TPC-H Q9 shape: profit by supplier nation and order year over
    name-matched parts (the driver schema has no partsupp, so supply
    cost is proxied as 10% of p_retailprice — deterministic, preserving
    the 5-table join + substring-filter + two-level grouping shape).
    The amount expression stays exact at 5 decimals end to end (no
    rounding anywhere before the final double cast).  One SQL string
    for both engines."""
    _views(spark, sf_dir)
    return spark.sql(_Q9_SQL)


_Q10_SQL = """
    SELECT c_custkey, c_name, n_name,
           CAST(SUM(CAST(volume AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
           COUNT(*) AS n_lines
    FROM (
      SELECT c_custkey, c_name, n_name, CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - l_discount AS DECIMAL(4,2)) AS volume
      FROM customer
      JOIN orders ON c_custkey = o_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      JOIN nation ON c_nationkey = n_nationkey
      WHERE l_returnflag = 'R'
        AND o_orderdate >= TIMESTAMP '1997-01-01'
        AND o_orderdate < TIMESTAMP '1997-07-01'
    ) t
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue DESC, c_custkey LIMIT 20
"""


@_q("tpch_q10_returned_items", _Q10_SQL)
def tpch_q10_returned_items(spark, sf_dir):
    """TPC-H Q10 shape: top-20 customers by revenue lost to returned
    items in a half-year window — fact-to-fact join narrowed by a
    pushed date filter, grouped per customer, TakeOrderedAndProject
    top-k under a (revenue DESC, c_custkey) total order.  One SQL
    string for both engines."""
    _views(spark, sf_dir)
    return spark.sql(_Q10_SQL)


_Q14_SQL = """
    SELECT 100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO' THEN CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - l_discount AS DECIMAL(4,2))
                                 ELSE CAST(0 AS DECIMAL(17,4)) END) AS DOUBLE)
             / CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - l_discount AS DECIMAL(4,2))) AS DOUBLE) AS promo_revenue,
           COUNT(*) AS n_lines
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1997-09-01'
      AND l_shipdate < TIMESTAMP '1997-10-01'
"""


@_q("tpch_q14_promo_effect", _Q14_SQL)
def tpch_q14_promo_effect(spark, sf_dir):
    """TPC-H Q14 shape: promotion revenue percentage for one month —
    conditional-over-total ratio over a date-pruned fact/dimension
    join.  Exact-decimal sums, one double division on identical
    operands.  One SQL string for both engines."""
    _views(spark, sf_dir)
    return spark.sql(_Q14_SQL)


_Q18_SQL = """
    SELECT c_custkey, c_name, o_orderkey,
           CAST(o_totalprice AS DOUBLE) AS total_price,
           CAST(SUM(CAST(l_quantity AS DECIMAL(8,2))) AS DOUBLE) AS sum_qty
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderkey IN (
      SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
      HAVING SUM(CAST(l_quantity AS DECIMAL(8,2))) > 300)
    GROUP BY c_custkey, c_name, o_orderkey, o_totalprice
    ORDER BY total_price DESC, o_orderkey LIMIT 100
"""


@_q("tpch_q18_large_orders", _Q18_SQL)
def tpch_q18_large_orders(spark, sf_dir):
    """TPC-H Q18 shape: customers holding very large orders — an IN
    over a grouped-HAVING subquery on the same fact table, which
    Catalyst plans as an aggregate feeding a left-semi join (pinned by
    test_q18_having_in_becomes_semi_join), never a per-row re-scan.
    One SQL string for both engines."""
    _views(spark, sf_dir)
    return spark.sql(_Q18_SQL)


_Q19_SQL = """
    SELECT CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - l_discount AS DECIMAL(4,2)) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
           COUNT(*) AS n_lines
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 10
           AND l_quantity >= 1 AND l_quantity <= 20)
       OR (p_brand = 'Brand#2' AND p_size BETWEEN 5 AND 20
           AND l_quantity >= 10 AND l_quantity <= 30)
       OR (p_brand = 'Brand#3' AND p_size BETWEEN 10 AND 40
           AND l_quantity >= 20 AND l_quantity <= 40)
"""


@_q("tpch_q19_discounted_revenue", _Q19_SQL)
def tpch_q19_discounted_revenue(spark, sf_dir):
    """TPC-H Q19 shape: revenue under a DISJUNCTION of conjunct groups
    spanning both join sides (brand x size x quantity bands) — the
    OR-of-ANDs predicate class that must stay ONE join with a residual
    disjunctive filter (never a 3-way union re-scanning lineitem, and
    no cross product; pinned by test_q19_disjunction_single_join).
    One SQL string for both engines."""
    _views(spark, sf_dir)
    return spark.sql(_Q19_SQL)




_Q13_SQL = """
    SELECT c_count, COUNT(*) AS custdist
    FROM (
      SELECT c_custkey, COUNT(o_orderkey) AS c_count
      FROM customer LEFT JOIN orders
        ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
      GROUP BY c_custkey
    ) c_orders
    GROUP BY c_count
"""


@_q("tpch_q13_customer_distribution", _Q13_SQL)
def tpch_q13_customer_distribution(spark, sf_dir):
    """TPC-H Q13 shape: the customer-order-count distribution — a LEFT
    OUTER join with an EXTRA predicate inside the join condition (the
    classic not-like comment exclusion; the driver schema has no
    o_comment, so non-urgent priority stands in), aggregated twice
    (per-customer count, then the histogram).  The outer join keeps
    zero-order customers in the c_count = 0 bucket — the row an inner
    join would silently lose.  One SQL string for both engines."""
    _views(spark, sf_dir)
    return spark.sql(_Q13_SQL)


_Q15_SQL = """
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                      * CAST(1 - l_discount AS DECIMAL(4,2)))
                  AS DECIMAL(18,4)) AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        AND l_shipdate < TIMESTAMP '1997-04-01'
      GROUP BY l_suppkey)
    SELECT s_suppkey, s_name, CAST(total_revenue AS DOUBLE) AS total_revenue
    FROM supplier JOIN revenue ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
"""


@_q("tpch_q15_top_supplier", _Q15_SQL)
def tpch_q15_top_supplier(spark, sf_dir):
    """TPC-H Q15 shape: the quarter's top-revenue supplier — a CTE
    standing in for the reference's revenue VIEW, consumed TWICE (the
    join probe and the scalar MAX threshold); the revenue stays an
    exact decimal so the equality against its own MAX is
    bit-deterministic in both engines.  One SQL string for both
    engines."""
    _views(spark, sf_dir)
    return spark.sql(_Q15_SQL)


_CORRELATED_SQL = """
    SELECT o_orderkey,
           CAST(o_totalprice AS DOUBLE) AS total_price
    FROM orders o
    WHERE o_totalprice > 2 * (
      SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
             / COUNT(*)
      FROM lineitem l WHERE l.l_orderkey = o.o_orderkey)
"""


@_q("subquery_correlated", _CORRELATED_SQL)
def subquery_correlated(spark, sf_dir):
    """Correlated scalar subquery in WHERE: orders whose total price
    exceeds twice the mean line price of *that order's* lines.
    Exercises Catalyst's subquery decorrelation — the correlated
    aggregate is rewritten into a grouped aggregate joined back on the
    correlation key, so execution is one shuffle-join, not a per-row
    re-scan (check the plan: no nested-loop, one Aggregate + Join).
    The inner mean uses exact-decimal accumulation so both engines
    compare against a bit-identical threshold."""
    _views(spark, sf_dir)
    return spark.sql(_CORRELATED_SQL)


_CTE_SUBQUERY_SQL = """
    WITH per_order AS (
      SELECT l_orderkey,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                      * CAST(1 - l_discount AS DECIMAL(4,2))) AS DOUBLE) AS order_rev
      FROM lineitem GROUP BY l_orderkey),
    hi AS (SELECT o_orderkey FROM orders WHERE o_totalprice > 200000),
    lo AS (SELECT o_orderkey FROM orders WHERE o_totalprice <= 200000)
    SELECT 'hi' AS bucket, COUNT(*) AS n, CAST(NULL AS DOUBLE) AS stat FROM hi
    UNION ALL
    SELECT 'lo' AS bucket, COUNT(*) AS n, CAST(NULL AS DOUBLE) AS stat FROM lo
    UNION ALL
    SELECT 'rev' AS bucket, COUNT(*) AS n,
           CAST(SUM(CAST(order_rev AS DECIMAL(18,4))) AS DOUBLE) / COUNT(order_rev) AS stat
    FROM (SELECT order_rev FROM per_order WHERE order_rev > 0) g
    UNION ALL
    SELECT 'above_avg' AS bucket, COUNT(*) AS n, CAST(NULL AS DOUBLE) AS stat
    FROM orders
    WHERE o_totalprice > 1.5 * (
      SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
      FROM orders)
"""


@_q("cte_subquery", _CTE_SUBQUERY_SQL)
def cte_subquery(spark, sf_dir):
    """Multiple CTEs + UNION ALL + aggregate over a derived table +
    scalar subquery in WHERE, one oracle row
    (CLI_REFERENCE.md:336-363, integration_pushdown.rs:134-140; merges
    round-1's cte_multi_union / subquery_from / subquery_scalar per
    VERDICT r1 item 1).  Exact-decimal averages keep the scalar
    threshold and the derived-table mean bit-identical cross-engine —
    same SQL text through Catalyst and DuckDB."""
    _views(spark, sf_dir)
    return spark.sql(_CTE_SUBQUERY_SQL)


_RECURSIVE_CTE_SQL = """
    WITH RECURSIVE seq(n) AS (
      SELECT 1
      UNION ALL
      SELECT n + 1 FROM seq WHERE n < 25
    )
    SELECT s.n, nat.n_name
    FROM seq s JOIN nation nat ON nat.n_nationkey = s.n - 1
"""


@_q("cte_recursive", _RECURSIVE_CTE_SQL)
def cte_recursive(spark, sf_dir):
    """Recursive CTE (CLI_REFERENCE.md:365-374 documents it "if
    supported"; Spark 4.0+ supports WITH RECURSIVE natively — SURVEY §7
    risk item resolved, no iterative-DataFrame fallback needed)."""
    _views(spark, sf_dir)
    return spark.sql(_RECURSIVE_CTE_SQL)


_VARIANCE_SQL = """
    SELECT l_returnflag,
           COUNT(*) AS n,
           CAST(SUM(l_quantity) AS DOUBLE) / COUNT(*) AS mean_qty,
           (CAST(SUM(l_quantity * l_quantity) AS DOUBLE)
              - CAST(SUM(l_quantity) AS DOUBLE) * SUM(l_quantity) / COUNT(*))
             / (COUNT(*) - 1) AS var_qty,
           sqrt((CAST(SUM(l_quantity * l_quantity) AS DOUBLE)
              - CAST(SUM(l_quantity) AS DOUBLE) * SUM(l_quantity) / COUNT(*))
             / (COUNT(*) - 1)) AS stddev_qty
    FROM lineitem
    GROUP BY l_returnflag
"""


@_q("agg_variance", _VARIANCE_SQL)
def agg_variance(spark, sf_dir):
    """Sample variance / stddev computed from EXACT integer sums
    (l_quantity is integer-valued: SUM and SUM-of-squares are exact in
    the engines' integer/decimal accumulators, and the closing IEEE
    expression over exact inputs is bit-deterministic — unlike the
    built-in var_samp, whose float accumulation order differs per
    engine).  One SQL string for both."""
    _views(spark, sf_dir)
    return spark.sql(_VARIANCE_SQL)


@_q(
    "scale_salted_agg",
    """SELECT l_returnflag,
              COUNT(*) AS n,
              SUM(l_quantity) AS sum_qty,
              MIN(l_quantity) AS min_qty,
              MAX(l_quantity) AS max_qty
       FROM lineitem GROUP BY l_returnflag""",
)
def scale_salted_agg(spark, sf_dir):
    """Skew-resistant two-stage (salted) aggregation over the classic
    skewed low-cardinality key — value-checked against the plain GROUP
    BY oracle, proving the salt/combine stages are exactly algebraic
    (count/sum/min/max partials).  At 100 TB a key owning a double-digit
    row share would stall one reducer; salting spreads it over n_salt
    reducers at the cost of one extra (tiny) combine shuffle."""
    from zarr_datafusion_spark.scale import salted_agg

    li = _t(spark, sf_dir, "lineitem")
    return salted_agg(
        li,
        "l_returnflag",
        {
            "n": "count(*)",
            "sum_qty": "sum(l_quantity)",
            "min_qty": "min(l_quantity)",
            "max_qty": "max(l_quantity)",
        },
    )



# --- TPC-H Q11 / Q16: the two classes blocked on partsupp ---------------
#
# The driver schema has no partsupp table (TESTDATA.md), so both
# queries derive one INSIDE the query with pure key arithmetic over
# part x {0..3} (the TPC-H 4-suppliers-per-part rule): ps_suppkey =
# (p_partkey*7 + i*13) mod |supplier| (supplier keys are dense
# 0..n-1 at every driver SF), availqty/supplycost from coprime-
# multiplier modular mixes.  Deterministic, no RNG, and expressible in
# ONE SQL string both engines run — which upgrades Q11/Q16 from the
# "local-only parity" VERDICT r6 expected into full oracle-backed
# registry entries.  Integer cents keep every sum exact (module
# docstring); the only float is each query's threshold scalar, the
# same double in both engines because the integer sums stay < 2^53.

_PARTSUPP_CTE = """
    partsupp AS (
      SELECT p_partkey AS ps_partkey,
             (p_partkey * 7 + t.i * 13)
               % (SELECT COUNT(*) FROM supplier) AS ps_suppkey,
             1 + (p_partkey * 31 + t.i * 17) % 9999 AS ps_availqty,
             100 + (p_partkey * 13 + t.i * 7) % 99900 AS ps_supplycost_cents
      FROM part, (VALUES (0), (1), (2), (3)) AS t(i)
    )
"""

_Q11_SQL = f"""
    WITH {_PARTSUPP_CTE},
    national AS (
      SELECT ps_partkey, ps_supplycost_cents * ps_availqty AS v
      FROM partsupp
      JOIN supplier ON ps_suppkey = s_suppkey
      JOIN nation ON s_nationkey = n_nationkey
      WHERE n_name IN ('NATION_3', 'NATION_12', 'NATION_21')
    )
    SELECT ps_partkey, CAST(SUM(v) AS BIGINT) AS value_cents
    FROM national
    GROUP BY ps_partkey
    HAVING SUM(v) > (SELECT 1.6 * SUM(v) / COUNT(DISTINCT ps_partkey)
                     FROM national)
    ORDER BY value_cents DESC, ps_partkey
"""


@_q("tpch_q11_important_stock", _Q11_SQL)
def tpch_q11_important_stock(spark, sf_dir):
    """TPC-H Q11 shape: per-part stock value within a nation group,
    kept only when above a value threshold computed by a SECOND scan
    of the same derived relation (the HAVING-over-global-scalar
    pattern).  The TPC-H fixed fraction (0.0001/SF) goes empty or
    all-pass as SF shifts, so the threshold is scale-free — 1.6x the
    mean per-part value — selective at every driver SF.  Catalyst must
    plan the scalar as one extra aggregate, never a per-group rescan
    (pinned by test_q11_scalar_threshold_single_aggregate).  One SQL
    string for both engines."""
    _views(spark, sf_dir)
    return spark.sql(_Q11_SQL)


_Q16_SQL = f"""
    WITH {_PARTSUPP_CTE}
    SELECT p_brand, p_type, p_size,
           CAST(COUNT(DISTINCT ps_suppkey) AS BIGINT) AS supplier_cnt
    FROM partsupp JOIN part ON p_partkey = ps_partkey
    WHERE p_brand <> 'Brand#5'
      AND p_type NOT LIKE 'MEDIUM%'
      AND p_size IN (1, 4, 9, 14, 23, 36, 45, 49)
      AND ps_suppkey NOT IN (SELECT s_suppkey FROM supplier
                             WHERE s_acctbal < 0)
    GROUP BY p_brand, p_type, p_size
    ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
"""


@_q("tpch_q16_supplier_part_count", _Q16_SQL)
def tpch_q16_supplier_part_count(spark, sf_dir):
    """TPC-H Q16 shape: distinct-supplier counts per (brand, type,
    size) bucket with a NOT IN exclusion subquery (the
    customer-complaints supplier blacklist; the driver schema has no
    s_comment, so negative account balance marks the blacklist).
    Catalyst must plan the NOT IN as an anti join on s_suppkey, never
    a per-row rescan (pinned by test_q16_not_in_becomes_anti_join).
    One SQL string for both engines."""
    _views(spark, sf_dir)
    return spark.sql(_Q16_SQL)
