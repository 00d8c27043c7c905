"""Scale-pattern tests: salting preserves aggregate semantics; bucketed
tables join and aggregate without a shuffle (no Exchange in the plan)."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_DIR, plan_text
from zarr_datafusion_spark.scale import salted_agg, write_bucketed
from zarr_datafusion_spark.session import load_table


def test_salted_agg_equals_direct(spark):
    li = load_table(spark, SF_DIR, "lineitem")
    direct = {
        r.l_returnflag: (r.n, r.q, r.lo, r.hi)
        for r in li.groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n"),
            F.sum("l_quantity").alias("q"),
            F.min("l_orderkey").alias("lo"),
            F.max("l_orderkey").alias("hi"),
        )
        .collect()
    }
    salted = {
        r.l_returnflag: (r.n, r.q, r.lo, r.hi)
        for r in salted_agg(
            li,
            "l_returnflag",
            {
                "n": "count(*)",
                "q": "sum(l_quantity)",
                "lo": "min(l_orderkey)",
                "hi": "max(l_orderkey)",
            },
        ).collect()
    }
    assert salted == direct


def test_salted_agg_rejects_non_algebraic(spark):
    import pytest

    li = load_table(spark, SF_DIR, "lineitem")
    with pytest.raises(ValueError):
        salted_agg(li, "l_returnflag", {"a": "avg(l_quantity)"})


def test_bucketed_join_has_no_shuffle(spark):
    o = load_table(spark, SF_DIR, "orders")
    c = load_table(spark, SF_DIR, "customer")
    write_bucketed(o, "orders_b", "o_custkey")
    write_bucketed(c, "cust_b", "c_custkey")
    ob, cb = spark.table("orders_b"), spark.table("cust_b")
    joined = ob.join(
        cb, ob.o_custkey == cb.c_custkey
    ).select("o_orderkey", "c_name")
    # disable broadcast so the join strategy decision is about shuffles;
    # restore the PRIOR value, not a hard-coded default (session fixture
    # is shared across the suite)
    prior = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = plan_text(joined)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prior)
    assert "SortMergeJoin" in plan
    assert "Exchange" not in plan, "bucketed join still shuffles"
    # and the result is right
    n = joined.count()
    assert n == o.join(c, o.o_custkey == c.c_custkey).count()


def test_bucketed_agg_has_no_shuffle(spark):
    o = load_table(spark, SF_DIR, "orders")
    write_bucketed(o, "orders_b2", "o_custkey")
    agg = spark.table("orders_b2").groupBy("o_custkey").agg(F.count("*").alias("n"))
    assert "Exchange" not in plan_text(agg)
    assert agg.count() == o.select("o_custkey").distinct().count()


def test_write_sorted_files_own_disjoint_key_ranges(spark, tmp_path):
    """write_sorted must produce footer min/max ranges that never
    interleave across files — the property engines prune on.  Verified
    independently with pyarrow (not through Spark)."""
    import pyarrow.parquet as pq

    from zarr_datafusion_spark.scale import write_sorted

    li = load_table(spark, SF_DIR, "lineitem")
    out = str(tmp_path / "li_sorted")
    write_sorted(li, out, "l_orderkey", n_files=4)

    ranges = []
    total = 0
    for f in sorted((tmp_path / "li_sorted").glob("*.parquet")):
        md = pq.ParquetFile(str(f)).metadata
        total += md.num_rows
        idx = next(
            i for i in range(md.num_columns)
            if md.row_group(0).column(i).path_in_schema == "l_orderkey"
        )
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            mins.append(st.min)
            maxs.append(st.max)
        ranges.append((min(mins), max(maxs)))
    assert total == li.count(), "sorted rewrite lost rows"
    assert len(ranges) > 1, "need multiple files to prove disjointness"
    ranges.sort()
    for (_, prev_hi), (nxt_lo, _) in zip(ranges, ranges[1:]):
        # equal keys land in one range partition, so file ranges are
        # strictly disjoint — an interleaved layout would defeat skipping
        assert prev_hi < nxt_lo, f"file key ranges interleave: {ranges}"


def test_write_zorder_clusters_both_key_columns(spark, tmp_path):
    """Z-order must shrink per-file footer ranges on BOTH keys, where
    single-key write_sorted clusters one and stripes the other — the
    multi-column data-skipping property, measured from real parquet
    footers."""
    import pyarrow.parquet as pq

    from zarr_datafusion_spark.scale import write_sorted, write_zorder

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").select(
        "l_partkey", "l_suppkey", "l_quantity"
    )
    glob_ranges = li.agg(
        F.max("l_partkey") - F.min("l_partkey"),
        F.max("l_suppkey") - F.min("l_suppkey"),
    ).collect()[0]

    def avg_file_range_frac(path: str, col: str, global_range: int) -> float:
        import glob as g

        fracs = []
        for f in sorted(g.glob(f"{path}/part-*.parquet")):
            md = pq.ParquetFile(f).metadata
            los, his = [], []
            for rg in range(md.num_row_groups):
                for ci in range(md.num_columns):
                    c = md.row_group(rg).column(ci)
                    if c.path_in_schema == col and c.statistics is not None:
                        los.append(c.statistics.min)
                        his.append(c.statistics.max)
            if los:
                fracs.append((max(his) - min(los)) / global_range)
        assert fracs
        return sum(fracs) / len(fracs)

    zpath = str(tmp_path / "zorder")
    spath = str(tmp_path / "sorted")
    write_zorder(li, zpath, "l_partkey", "l_suppkey", n_files=16)
    write_sorted(li, spath, "l_partkey", n_files=16)

    z_a = avg_file_range_frac(zpath, "l_partkey", glob_ranges[0])
    z_b = avg_file_range_frac(zpath, "l_suppkey", glob_ranges[1])
    s_b = avg_file_range_frac(spath, "l_suppkey", glob_ranges[1])

    # both z-ordered dimensions cluster (well under the full range) ...
    assert z_a < 0.6, f"l_partkey per-file range frac {z_a}"
    assert z_b < 0.6, f"l_suppkey per-file range frac {z_b}"
    # ... while the single-key layout stripes the second key across
    # nearly its whole range in every file
    assert s_b > 0.9, f"sorted layout unexpectedly clustered l_suppkey: {s_b}"
    assert z_b < s_b / 2


def test_ranked_two_pass_equals_plain_window(spark):
    """The two-pass ranking must reproduce the single-pass window
    EXACTLY (row_number under a total order is unique, so set equality
    is full equality), and its big-side plan must contain no
    hashpartitioning on the 5-value window key — the whole point is
    replacing the 5-reducer sort with an even range shuffle."""
    from pyspark.sql.window import Window as W

    from zarr_datafusion_spark.scale import ranked_two_pass

    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    two_pass = ranked_two_pass(
        orders, "o_orderpriority", "o_totalprice", "o_orderkey"
    ).select("o_orderkey", "rn")
    w = W.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    plain = orders.select(
        "o_orderkey", F.row_number().over(w).cast("long").alias("rn")
    )
    got = {(r.o_orderkey, r.rn) for r in two_pass.collect()}
    want = {(r.o_orderkey, r.rn) for r in plain.collect()}
    assert got == want


def test_ranked_two_pass_plan_avoids_skewed_window_exchange(spark):
    """Plan shape: the ranked rows flow range-exchange -> checkpoint ->
    local rank -> broadcast offset join.  The range stage (inspected
    pre-checkpoint, since the checkpoint truncates the visible plan)
    must show a rangepartitioning exchange on the full key tuple and NO
    hashpartitioning on the 5-value window key; the post-checkpoint
    plan must broadcast the offsets and keep the sole Window above the
    tiny count aggregate."""
    from tests.conftest import plan_text
    from zarr_datafusion_spark.scale import _ranked_range_stage, ranked_two_pass

    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    stage = _ranked_range_stage(
        orders, "o_orderpriority", "o_totalprice", "o_orderkey"
    )
    stage_plan = plan_text(stage)
    assert "rangepartitioning(o_orderpriority" in stage_plan
    assert "hashpartitioning(o_orderpriority" not in stage_plan

    df = ranked_two_pass(orders, "o_orderpriority", "o_totalprice", "o_orderkey")
    df.collect()  # finalize AQE
    plan = plan_text(df)
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the sole window in the plan is the offset cumsum over the count
    # table — it must sit above the tiny aggregate, not above the scan
    # (AQE plan text repeats nodes in its "Initial Plan" section; count
    # only the final plan)
    final_plan = plan.split("== Initial Plan ==")[0]
    assert final_plan.count("Window") <= 1


def test_ranked_two_pass_with_payload_columns(spark):
    """The ADVICE r5 fragile case: payload columns beyond the three
    keys used to break exchange reuse (column pruning made the two
    range subplans non-identical, letting two independently sampled
    RangePartitioners disagree on boundary rows).  The checkpoint pins
    one partition assignment, so payload inputs must now rank exactly
    like the plain window."""
    from pyspark.sql.window import Window as W

    from zarr_datafusion_spark.scale import ranked_two_pass

    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet").select(
        "o_orderkey", "o_orderpriority", "o_totalprice", "o_custkey", "o_orderstatus"
    )
    two_pass = ranked_two_pass(
        orders, "o_orderpriority", "o_totalprice", "o_orderkey"
    ).select("o_orderkey", "o_custkey", "rn")
    w = W.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    plain = orders.select(
        "o_orderkey", "o_custkey", F.row_number().over(w).cast("long").alias("rn")
    )
    got = {(r.o_orderkey, r.o_custkey, r.rn) for r in two_pass.collect()}
    want = {(r.o_orderkey, r.o_custkey, r.rn) for r in plain.collect()}
    assert got == want


def test_salted_join_equals_plain_join(spark):
    """Salting must be invisible in the result: same rows (with
    multiplicity) as the unsalted join, salt column dropped."""
    from zarr_datafusion_spark.scale import salted_join

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").select(
        "l_partkey", "l_quantity"
    )
    part = spark.read.parquet(f"{SF_DIR}/part.parquet").select(
        F.col("p_partkey").alias("l_partkey"), "p_brand"
    )
    salted = salted_join(li, part, "l_partkey", n_salt=8)
    plain = li.join(part, "l_partkey")
    assert salted.columns == plain.columns
    assert salted.count() == plain.count()
    # exceptAll is multiset difference: both directions empty => equal
    assert salted.exceptAll(plain).count() == 0
    assert plain.exceptAll(salted).count() == 0


def test_session_hides_console_progress(spark):
    """The session never draws console progress bars: their
    ``\r[Stage N:>...]`` frames would land in the stdout of every
    script that prints per-entry result lines."""
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.ui.showConsoleProgress") == "false"
