"""Plan-shape assertions — the reference's optimizer-evidence pattern
(``tests/integration_pushdown.rs`` asserts projected schema width and
pushdown effects on the physical plan; ``integration_optimizer.rs``
asserts scan absence).  Here: Catalyst must push filters and prune
columns into the parquet scan, broadcast small dimensions, aggregate
map-side before the exchange, and plan top-k without a global sort."""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from tests.conftest import SF_DIR, plan_text
from zarr_datafusion_spark.session import load_table


def test_filter_pushdown_reaches_scan(spark):
    df = (
        load_table(spark, SF_DIR, "lineitem")
        .filter(F.col("l_quantity") > 40)
        .select("l_orderkey", "l_quantity")
    )
    m = re.search(r"PushedFilters: \[([^\]]*)\]", plan_text(df))
    assert m, "no PushedFilters in scan"
    assert "GreaterThan(l_quantity,40.0)" in m.group(1)


def test_column_pruning_reaches_scan(spark):
    df = load_table(spark, SF_DIR, "lineitem").select("l_orderkey", "l_quantity")
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan_text(df))
    assert m, "no ReadSchema in scan"
    cols = {c.split(":")[0] for c in m.group(1).split(",")}
    assert cols == {"l_orderkey", "l_quantity"}, f"scan reads {cols}"


def test_small_dimension_broadcasts(spark):
    n = load_table(spark, SF_DIR, "nation")
    c = load_table(spark, SF_DIR, "customer")
    plan = plan_text(c.join(n, c.c_nationkey == n.n_nationkey).select("c_name", "n_name"))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_partial_aggregation_before_exchange(spark):
    df = load_table(spark, SF_DIR, "lineitem").groupBy("l_returnflag").agg(
        F.sum("l_quantity").alias("s")
    )
    plan = plan_text(df)
    assert "partial_sum" in plan, "no map-side partial aggregation"
    # partial agg must appear below (after, in toString order) the exchange
    assert plan.index("partial_sum") > plan.index("Exchange")


def test_topk_avoids_global_sort(spark):
    df = (
        load_table(spark, SF_DIR, "orders")
        .orderBy(F.col("o_totalprice").desc())
        .limit(5)
    )
    assert "TakeOrderedAndProject" in plan_text(df)


def test_sort_topk_entry_avoids_global_sort(spark):
    """The registry's merged sort/limit/offset entry must keep the
    TakeOrderedAndProject shape (map-side top-(K+offset) heap, no
    global sort) even with OFFSET present."""
    from zarr_datafusion_spark.operators import relational

    plan = plan_text(relational.QUERIES["sort_topk"](spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan
    assert "Sort " not in plan, "global sort crept into the top-k plan"


def test_engine_explain_surface(engine):
    """EXPLAIN surface (reference ``docs/CLI_REFERENCE.md:455-472``)."""
    text = engine.explain("SELECT l_returnflag, COUNT(*) AS n FROM lineitem GROUP BY l_returnflag")
    assert "HashAggregate" in text and "Scan" in text


def test_engine_explain_shortcut_notes_no_scan(engine):
    text = engine.explain("SELECT COUNT(*) AS n FROM lineitem")
    assert "statistics" in text.lower()
    assert "Scan parquet" not in text


def test_q6_filters_reach_scan(spark):
    """Every Q6 predicate must be a PushedFilter on the parquet scan and
    the scan must read only the four referenced columns — the query IS
    its plan (SURVEY §4 pushdown parity)."""
    from zarr_datafusion_spark.operators.relational import QUERIES

    plan = plan_text(QUERIES["tpch_q6_forecast_revenue"](spark, SF_DIR))
    # toString truncates the filter list (no closing bracket) — match
    # from the marker to end-of-line instead
    m = re.search(r"PushedFilters: \[([^\n]*)", plan)
    assert m, "no PushedFilters in scan"
    pushed = m.group(1)
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed, f"{col} not pushed: {pushed}"
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    cols = {c.split(":")[0] for c in m.group(1).split(",")}
    assert cols == {"l_shipdate", "l_discount", "l_quantity", "l_extendedprice"}


def test_correlated_subquery_decorrelates(spark):
    """Catalyst must rewrite the correlated scalar subquery into a
    grouped aggregate + equi-join on the correlation key — never a
    per-row nested-loop re-scan (the difference between O(n) and
    O(n^2) at scale)."""
    from zarr_datafusion_spark.operators.relational import QUERIES

    plan = plan_text(QUERIES["subquery_correlated"](spark, SF_DIR))
    assert "NestedLoop" not in plan, "correlated subquery executed as nested loop"
    assert "HashAggregate" in plan
    assert "Join" in plan


def test_q4_exists_becomes_semi_join(spark):
    """Catalyst must rewrite the EXISTS subquery into a left-semi join,
    never a per-row re-scan."""
    from zarr_datafusion_spark.operators.relational import QUERIES

    plan = plan_text(QUERIES["tpch_q4_order_priority"](spark, SF_DIR))
    assert "LeftSemi" in plan
    assert "NestedLoop" not in plan


def test_q17_decorrelates(spark):
    """Q17's correlated per-part average must decorrelate into a
    grouped aggregate over lineitem joined back on l_partkey — two
    HashAggregates (per-part mean + the outer sum) and equi-joins only."""
    from zarr_datafusion_spark.operators.relational import QUERIES

    plan = plan_text(QUERIES["tpch_q17_small_quantity"](spark, SF_DIR))
    assert "NestedLoop" not in plan, "correlated aggregate ran as nested loop"
    assert plan.count("HashAggregate") >= 2
    assert "Join" in plan


def test_q20_nested_in_becomes_semi_joins(spark):
    """Q20's nested IN subqueries must both plan as left-semi joins
    (supplier IN shipped-set, partkey IN name-matched parts) with the
    correlated aggregate decorrelated — no nested loop anywhere."""
    from zarr_datafusion_spark.operators.relational import QUERIES

    plan = plan_text(QUERIES["tpch_q20_part_promotion"](spark, SF_DIR))
    assert plan.count("LeftSemi") >= 2, "nested INs did not become semi joins"
    assert "NestedLoop" not in plan


def test_q21_exists_pair_becomes_semi_and_anti(spark):
    """Q21's EXISTS / NOT EXISTS self-join pair must plan as one
    left-semi and one left-anti join on l_orderkey — the shape that
    keeps the double lineitem self-reference linear at scale."""
    from zarr_datafusion_spark.operators.relational import QUERIES

    plan = plan_text(QUERIES["tpch_q21_waiting_supplier"](spark, SF_DIR))
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan
    assert "NestedLoop" not in plan


def test_q2_correlated_min_decorrelates(spark):
    """Q2's correlated scalar MIN over the 4-table dimension chain must
    decorrelate into a grouped per-part aggregate joined back on
    p_partkey — equi-joins and HashAggregates only, never a per-outer-
    row re-execution of the inner chain."""
    from zarr_datafusion_spark.operators.relational import QUERIES

    plan = plan_text(QUERIES["tpch_q2_min_cost_supplier"](spark, SF_DIR))
    assert "NestedLoop" not in plan, "correlated MIN ran as nested loop"
    assert plan.count("HashAggregate") >= 2  # per-part MIN + DISTINCT
    assert "Join" in plan


def test_q22_not_exists_becomes_anti_join(spark):
    """Q22's NOT EXISTS against orders must plan as a left-anti join on
    o_custkey, and the uncorrelated average-balance threshold must run
    as a one-row subquery aggregate — no nested loop."""
    from zarr_datafusion_spark.operators.relational import QUERIES

    plan = plan_text(QUERIES["tpch_q22_global_sales_opportunity"](spark, SF_DIR))
    assert "LeftAnti" in plan, "NOT EXISTS did not become an anti join"
    assert "NestedLoop" not in plan
    assert "Subquery" in plan or "HashAggregate" in plan


def test_static_broadcast_plans_from_file_stats(spark):
    """A6 stats -> Catalyst: Q5's dimension ladder (and Q21's nation
    filter) must plan BroadcastHashJoins BEFORE any AQE runtime
    re-plan, purely from Spark's native parquet file-size statistics —
    and NO table may carry a forced broadcast hint.  The r6 blanket
    ``df.hint("broadcast")`` flipped exactly at threshold-boundary
    file sizes (events.parquet at sf0.1) and landed on
    build-ineligible outer-join sides (Q13 -> HintErrorLogger); the r7
    A/B showed the hints were redundant for these plans (BASELINE.md),
    so hint-free is now the pinned contract."""
    from zarr_datafusion_spark.operators.relational import QUERIES
    from zarr_datafusion_spark.session import load_table

    for name in ("nation", "region", "supplier", "events", "lineitem"):
        df = load_table(spark, SF_DIR, name)
        assert "ResolvedHint" not in df._jdf.queryExecution().analyzed().toString(), (
            f"{name} must not carry a forced broadcast hint"
        )

    # executedPlan BEFORE collect = the static decision (AQE finalizes
    # only on execution): file-size stats alone must yield broadcast
    # joins for the dimension chain.
    for q in ("tpch_q5_local_supplier", "tpch_q21_waiting_supplier"):
        plan = plan_text(QUERIES[q](spark, SF_DIR))
        assert plan.count("BroadcastHashJoin") >= 3, f"{q} lost its static broadcasts"


def test_q11_scalar_threshold_single_aggregate(spark):
    """Q11's HAVING threshold (a scalar over the same derived relation)
    must plan as ONE extra aggregate branch — never a per-group rescan
    or a cartesian against the groups.  The only nested-loop shapes
    allowed are the intentional broadcast 4-row VALUES expansions that
    synthesize partsupp (one per reference to the CTE)."""
    from zarr_datafusion_spark.operators.relational import QUERIES

    plan = plan_text(QUERIES["tpch_q11_important_stock"](spark, SF_DIR))
    final = plan.split("== Initial Plan ==")[0]
    assert "Subquery" in plan, "threshold did not plan as a scalar subquery"
    assert "CartesianProduct" not in final
    assert final.count("BroadcastNestedLoopJoin") <= 2, (
        "nested loops beyond the two 4-row VALUES expansions"
    )


def test_q16_not_in_becomes_anti_join(spark):
    """Q16's NOT IN supplier blacklist must plan as an anti join on
    s_suppkey (count-distinct over the surviving suppliers), never a
    per-row re-scan of supplier."""
    from zarr_datafusion_spark.operators.relational import QUERIES

    plan = plan_text(QUERIES["tpch_q16_supplier_part_count"](spark, SF_DIR))
    final = plan.split("== Initial Plan ==")[0]
    assert "LeftAnti" in final, "NOT IN did not become an anti join"
    assert "CartesianProduct" not in final
    assert final.count("BroadcastNestedLoopJoin") <= 1, (
        "nested loops beyond the 4-row VALUES expansion"
    )


def test_knn_join_partial_window_group_limit(spark):
    """The batch k-NN join's scale property: the per-query rank filter
    must plan as WindowGroupLimit in PARTIAL mode before the exchange —
    each map partition keeps only its local top-k per query, so the
    (low-cardinality) q_id shuffle carries bounded rows, never the
    full scored expansion."""
    from zarr_datafusion_spark.operators.similarity import QUERIES

    plan = plan_text(QUERIES["sim_knn_join"](spark, SF_DIR))
    final = plan.split("== Initial Plan ==")[0]
    assert "WindowGroupLimit" in final, "rank-limit pushdown missing"
    assert "Partial" in final.split("WindowGroupLimit", 1)[1] or (
        final.count("WindowGroupLimit") >= 2
    ), "no map-side partial top-k before the exchange"


def test_q18_having_in_becomes_semi_join(spark):
    """Q18's IN over a grouped-HAVING subquery on the same fact table
    must plan as aggregate -> left-semi join on l_orderkey — one extra
    aggregation pass, never a per-row re-scan."""
    from zarr_datafusion_spark.operators.relational import QUERIES

    plan = plan_text(QUERIES["tpch_q18_large_orders"](spark, SF_DIR))
    assert "LeftSemi" in plan, "HAVING-IN did not become a semi join"
    assert "NestedLoop" not in plan


def test_q19_disjunction_single_join(spark):
    """Q19's OR-of-ANDs spanning both join sides must stay ONE
    part-lineitem join with a residual disjunctive filter — a plan
    that unions three re-scans of lineitem (or degrades to a cross
    product) fails here."""
    from zarr_datafusion_spark.operators.relational import QUERIES

    plan = plan_text(QUERIES["tpch_q19_discounted_revenue"](spark, SF_DIR))
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("Scan parquet") <= 2, "disjunction re-scanned a table"
    assert "Union" not in final
    assert "NestedLoop" not in final and "CartesianProduct" not in final


def test_gopher_filter_plan_is_map_only(spark):
    """The Gopher filter's whole scale story is that it is ONE map-side
    pass: no hash-partitioned exchange (no aggregate, no join), no
    UDF/Python evaluation, everything inside whole-stage codegen.  The
    single permitted exchange is cpu_rebalance's round-robin
    repartition (small-corpus parallelization, a no-op at real scale)."""
    from zarr_datafusion_spark.operators.textstats import QUERIES

    df = QUERIES["text_quality_gopher"](spark, SF_DIR)
    # collect() executes THIS DataFrame's queryExecution so its AQE
    # plan prints the Final Plan (count() would execute a different one)
    df.collect()
    plan = plan_text(df)
    final = plan.split("== Initial Plan ==")[0]
    assert "hashpartitioning" not in final, "unexpected keyed shuffle"
    assert "SortMergeJoin" not in final and "BroadcastHashJoin" not in final
    assert "BatchEvalPython" not in final and "ArrowEvalPython" not in final
    # whole-stage codegen prints as the "*(n)" node prefix here
    assert "*(" in final, "signal projection fell out of codegen"
    assert final.count("Exchange") <= 1, "more than the rebalance exchange"


def test_cpu_rebalance_over_gates_on_scan_bytes(spark):
    """The size-gated rebalance (r14): below the byte floor the helper
    must return the input UNCHANGED (no round-robin exchange — measured
    regression on sub-MB corpora), above it it must delegate to
    cpu_rebalance (which repartitions scans narrower than the core
    count).  sf0.01's documents.parquet is ~60 KB, so the default 2 MB
    floor no-ops; a 0-byte floor forces the delegate path."""
    from zarr_datafusion_spark.operators.common import (
        cpu_rebalance_over,
        _planned_scan_partitions,
    )

    docs = load_table(spark, SF_DIR, "documents")
    gated = cpu_rebalance_over(spark, docs)
    assert gated is docs, "sub-threshold scan must not be rebalanced"

    forced = cpu_rebalance_over(spark, docs, min_bytes=0)
    if _planned_scan_partitions(spark, docs) < spark.sparkContext.defaultParallelism:
        assert forced is not docs
        assert "Repartition" in forced._jdf.queryExecution().logical().toString()


def test_cdc_union_has_no_distinct(spark):
    """r14 exchange win, pinned (VERDICT r14 item 9): the CDC boundary
    unions are provably disjoint, so neither chunk_cdc variant may plan
    a (doc_id, pos) DISTINCT — no HashAggregate anywhere in the plan (a
    dedup pair would reintroduce a full exchange per query) — and only
    the md5-per-char map branch is round-robin rebalanced."""
    from zarr_datafusion_spark.operators.extras import QUERIES

    for name in ("chunk_cdc", "chunk_cdc_bounded"):
        plan = plan_text(QUERIES[name](spark, SF_DIR))
        head = plan.split("== Initial Plan ==")[0]
        assert "HashAggregate" not in head, f"{name}: DISTINCT crept back"
        assert "RoundRobinPartitioning" in head, f"{name}: map branch lost its rebalance"


def test_lsh_band_exchange_is_packed_bigints(spark):
    """r14 shuffle-key win, pinned (VERDICT r14 item 9): the LSH
    banding exchange must key on the two packed BIGINTs, never the
    comma-joined string (array_join) key — and the r15 adjudication
    confirmed the packed explode-then-project shape is the fastest of
    the three candidates at sf0.1 AND sf1 (OPTIMIZATION_r15.md)."""
    from zarr_datafusion_spark.operators.dedup import QUERIES

    plan = plan_text(QUERIES["dedup_minhash_lsh"](spark, SF_DIR))
    head = plan.split("== Initial Plan ==")[0]
    assert re.search(r"hashpartitioning\(band_idx#\d+, band_h0#\d+L, band_h1#\d+L", head), (
        "banding exchange no longer keyed on the packed bigints"
    )
    assert "array_join" not in head, "string band key reappeared"
