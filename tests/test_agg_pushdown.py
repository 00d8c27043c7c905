"""Chunk-level aggregate pushdown tests (reference ``README.md:297``,
the unchecked "push SUM/AVG/COUNT to chunk level" roadmap item).

Layers: differential (shortcut answer == full-scan answer, the
``integration_optimizer.rs`` discipline), plan shape (no zarr scan when
every chunk row is interior), I/O accounting (ONLY boundary slabs are
read when the window cuts mid-chunk), and the bail guards (floats,
overflow-withheld sums, unsorted coordinates — the full plan must
answer, never a wrong shortcut).
"""

from __future__ import annotations

import numpy as np
import pytest

from tests.conftest import jobs_launched, plan_text


@pytest.fixture(scope="module")
def agg_engine(spark):
    from zarr_datafusion_spark.engine import Engine
    from zarr_datafusion_spark.operators.zarr_queries import (
        trending_chunked_store,
    )

    e = Engine(spark)
    e.register_zarr("tc", trending_chunked_store(), data_filter_pushdown=True)
    return e


@pytest.mark.parametrize(
    "sql",
    [
        # boundary + interior mix (window cuts chunk rows 0 and 2)
        "SELECT SUM(pressure) AS s, COUNT(*) AS n, AVG(pressure) AS a, "
        "MIN(pressure) AS lo, MAX(pressure) AS hi "
        "FROM tc WHERE time >= 2 AND time <= 9",
        # chunk-aligned window: interior only
        "SELECT SUM(pressure) AS s FROM tc WHERE time BETWEEN 4 AND 7",
        # no WHERE: global fold
        "SELECT SUM(pressure) AS s, AVG(pressure) AS a FROM tc",
        # strict bounds
        "SELECT SUM(pressure) AS s, COUNT(pressure) AS c FROM tc WHERE time > 5",
        "SELECT AVG(pressure) AS a FROM tc WHERE time < 3",
        # equality inside a chunk (boundary-only)
        "SELECT COUNT(*) AS n, SUM(pressure) AS s FROM tc WHERE time = 5",
        # empty window: SUM/AVG NULL, COUNT 0
        "SELECT SUM(pressure) AS s, COUNT(*) AS n FROM tc WHERE time > 100",
        # redundant conjuncts tighten correctly
        "SELECT SUM(pressure) AS s FROM tc WHERE time >= 1 AND time >= 3 AND time <= 10 AND time < 9",
    ],
)
def test_pushdown_matches_full_scan(agg_engine, spark, sql):
    fast = agg_engine.sql(sql)
    assert agg_engine.last_query_used_shortcut, sql
    full = spark.sql(sql)
    assert fast.collect() == full.collect()
    assert [f.name for f in fast.schema.fields] == [
        f.name for f in full.schema.fields
    ]


def test_interior_only_plan_is_scan_free(agg_engine):
    """A chunk-aligned window needs no boundary scan — the physical
    plan must contain no zarr source at all (the ``assert_no_zarr_exec``
    discipline, reference ``tests/common/mod.rs:118-124``)."""
    df = agg_engine.sql("SELECT SUM(pressure) AS s FROM tc WHERE time BETWEEN 4 AND 7")
    assert agg_engine.last_query_used_shortcut
    assert "zarr" not in plan_text(df).lower()
    df = agg_engine.sql("SELECT SUM(pressure) AS s, AVG(pressure) AS a FROM tc")
    assert agg_engine.last_query_used_shortcut
    assert "zarr" not in plan_text(df).lower()


def test_boundary_slabs_only_are_read(spark, tmp_path, monkeypatch):
    """The done-bar I/O check (VERDICT r9 item 2): under
    ``time BETWEEN 2 AND 9`` over outer chunks of 4, chunk rows 0 and 2
    are boundary (cut at t=2 / t=9) and row 1 (times 4-7) is interior —
    the assembled answer must never read the interior slab.  The
    coordinate-range pushdown narrows WITHIN each boundary slab too,
    so exactly the filtered outer indices {2,3} and {8,9} are read —
    4 x 10 x 14 = 560 of 1680 rows."""
    import zarr_datafusion_spark.zarr as Z
    from zarr_datafusion_spark.engine import Engine
    from zarr_datafusion_spark.operators.zarr_queries import (
        trending_chunked_store,
    )
    from zarr_datafusion_spark.stats.io_stats import collect_stats_dir

    sd = str(tmp_path / "io")
    orig = Z.read_zarr

    def instrumented(spark_, store, **kw):
        return orig(spark_, store, stats_dir=sd, **kw)

    monkeypatch.setattr(Z, "read_zarr", instrumented)
    e = Engine(spark)
    e.register_zarr("tc_io", trending_chunked_store(), data_filter_pushdown=True)
    df = e.sql(
        "SELECT SUM(pressure) AS s, COUNT(*) AS n FROM tc_io "
        "WHERE time >= 2 AND time <= 9"
    )
    assert e.last_query_used_shortcut
    row = df.collect()[0]
    # independent arithmetic: sum over t in [2,9] of (1000+10t+lat+lon)
    t = np.arange(2, 10)
    la = np.arange(10)
    lo = np.arange(14)
    expect = int(
        (1000 + 10 * t[:, None, None] + la[None, :, None] + lo[None, None, :]).sum()
    )
    assert (row.s, row.n) == (expect, 8 * 10 * 14)
    s = collect_stats_dir(sd)
    assert s.rows == 4 * 10 * 14, "read beyond the boundary windows"
    assert s.n_arrays == 2, "read arrays beyond time and pressure"


def test_float_and_unsorted_and_overflow_bail(spark, tmp_path):
    """Guards: float vars (order-dependent sums), unsorted outer
    coordinates (boundary scan could double-count), and
    overflow-withheld sums must all fall through to the full plan —
    which still answers correctly."""
    from zarr_datafusion_spark.engine import Engine
    from zarr_datafusion_spark.zarr.writer import write_store

    e = Engine(spark)

    # float data var: SUM/AVG never shortcut
    fstore = str(tmp_path / "f.zarr")
    write_store(
        fstore,
        {
            "t": (np.arange(6, dtype=np.int64), (6,)),
            "x": (np.arange(4, dtype=np.int64), (4,)),
            "v": (np.arange(24, dtype=np.float64).reshape(6, 4) / 3.0, (2, 4)),
        },
    )
    e.register_zarr("fstore", fstore, data_filter_pushdown=True)
    df = e.sql("SELECT SUM(v) AS s FROM fstore WHERE t >= 2")
    # float SUM never takes the scan-free stats assembly — but the
    # pruned-SCAN rewrite may serve it (Spark computes the sum itself,
    # so there is no stats-vs-scan float contract to violate)
    assert e.last_shortcut_kind in (None, "pruned")
    assert df.collect() == spark.sql(
        "SELECT SUM(v) AS s FROM fstore WHERE t >= 2"
    ).collect()

    # unsorted outer coordinate: filtered form disabled, global still ok
    ustore = str(tmp_path / "u.zarr")
    write_store(
        ustore,
        {
            "t": (np.array([3, 0, 2, 5, 1, 4], dtype=np.int64), (6,)),
            "x": (np.arange(4, dtype=np.int64), (4,)),
            "v": (np.arange(24, dtype=np.int64).reshape(6, 4), (2, 4)),
        },
    )
    e.register_zarr("ustore", ustore, data_filter_pushdown=True)
    df = e.sql("SELECT SUM(v) AS s FROM ustore WHERE t >= 2")
    # the scan-free assembly must decline (unsorted coords); the
    # pruned-scan rewrite may serve it instead — values via Spark
    assert e.last_shortcut_kind in (None, "pruned")
    assert df.collect()[0].s == spark.sql(
        "SELECT SUM(v) AS s FROM ustore WHERE t >= 2"
    ).collect()[0].s
    df = e.sql("SELECT SUM(v) AS s FROM ustore")  # no WHERE: safe
    assert e.last_query_used_shortcut
    assert df.collect()[0].s == 24 * 23 // 2

    # overflow-withheld per-row sums: bail (the full plan then raises
    # Spark's own ANSI overflow — the shortcut must never answer where
    # the scan would error, and must not answer FROM stats it withheld)
    big = str(tmp_path / "big.zarr")
    write_store(
        big,
        {
            "t": (np.arange(4, dtype=np.int64), (4,)),
            "x": (np.arange(2, dtype=np.int64), (2,)),
            "v": (
                np.full((4, 2), (1 << 61) + 7, dtype=np.int64),
                (2, 2),
            ),
        },
    )
    e.register_zarr("bigstore", big, data_filter_pushdown=True)
    e.sql("SELECT SUM(v) AS s FROM bigstore WHERE t >= 1")
    # never answered FROM the withheld stats — at most a pruned scan
    # whose Spark-computed SUM raises the same ANSI overflow the full
    # plan would
    assert e.last_shortcut_kind in (None, "pruned")


def test_minmax_only_over_withheld_sums(spark, tmp_path):
    """ADVICE r10 (medium): a MIN/MAX-only aggregate over a var whose
    per-row sums were overflow-withheld must still be answered (the
    per-row MIN/MAX stats are present and exact) — it used to raise
    TypeError folding ``sum([None, ...])`` for the interior rows.  And
    the boundary scan must not compute a SUM the query never asked for
    (that sum can ANSI-overflow where the full MIN/MAX plan succeeds)."""
    from zarr_datafusion_spark.engine import Engine
    from zarr_datafusion_spark.zarr.writer import write_store

    big = str(tmp_path / "big_mm.zarr")
    write_store(
        big,
        {
            "t": (np.arange(4, dtype=np.int64), (4,)),
            "x": (np.arange(2, dtype=np.int64), (2,)),
            # |bound| * cells >= 2^62: sidecar withholds per-row sums;
            # 8 cells of ~2^61 also make any full-column SUM raise
            # Spark's ANSI long overflow — MIN/MAX must not trip it
            "v": (
                np.full((4, 2), (1 << 61) + 7, dtype=np.int64),
                (2, 2),
            ),
        },
    )
    e = Engine(spark)
    e.register_zarr("big_mm", big, data_filter_pushdown=True)
    sql = "SELECT MIN(v) AS lo, MAX(v) AS hi, COUNT(*) AS n FROM big_mm WHERE t >= 1"
    df = e.sql(sql)  # regression: raised TypeError out of Engine.sql
    row = df.collect()[0]
    assert (row.lo, row.hi, row.n) == ((1 << 61) + 7, (1 << 61) + 7, 6)
    assert df.collect() == spark.sql(sql).collect()
    # whichever path served it, no SUM over v may appear in the plan
    assert "sum(v" not in plan_text(df).lower()

    # SUM over the same var must still bail to the full plan (which
    # raises ANSI overflow) — the mixed-item guard is unchanged
    e.sql("SELECT SUM(v) AS s, MIN(v) AS lo FROM big_mm WHERE t >= 1")
    assert e.last_shortcut_kind in (None, "pruned")


def test_rollup_avg_overflow_defers_to_full_plan(spark, tmp_path):
    """ADVICE r10 (low): merging duplicate coordinate rows can push a
    group's exact integer sum past 2^63 even though every per-row sum
    was kept.  SUM already bails there; AVG must too — Spark's
    AVG(bigint) accumulates in DOUBLE (it does NOT overflow), and at
    that magnitude the full plan's rounding is the answer of record."""
    from zarr_datafusion_spark.engine import Engine
    from zarr_datafusion_spark.zarr.writer import write_store

    store = str(tmp_path / "avg_ovf.zarr")
    # outer_chunk == 1 (rollup shape); four duplicate t=7 rows, each
    # per-row sum = 2 * 2^60 = 2^61 (< 2^62: kept); merged group sum
    # = 2^63 (>= 2^63: must defer)
    write_store(
        store,
        {
            "t": (np.array([7, 7, 7, 7], dtype=np.int64), (1,)),
            "x": (np.arange(2, dtype=np.int64), (2,)),
            "v": (np.full((4, 2), 1 << 60, dtype=np.int64), (1, 2)),
        },
    )
    e = Engine(spark)
    e.register_zarr("avg_ovf", store, data_filter_pushdown=True)
    df = e.sql("SELECT t, AVG(v) AS a FROM avg_ovf GROUP BY t")
    assert not e.last_query_used_shortcut
    # the full plan answers (double accumulation), and the values agree
    assert df.collect() == spark.sql(
        "SELECT t, AVG(v) AS a FROM avg_ovf GROUP BY t"
    ).collect()
    # MIN/MAX/COUNT over the same store still roll up scan-free
    df = e.sql("SELECT t, MIN(v) AS lo, COUNT(*) AS n FROM avg_ovf GROUP BY t")
    assert e.last_query_used_shortcut
    assert df.collect() == spark.sql(
        "SELECT t, MIN(v) AS lo, COUNT(*) AS n FROM avg_ovf GROUP BY t"
    ).collect()


def test_bail_shapes_fall_through(agg_engine, spark):
    """Shapes outside every statistics rewrite's contract answer as
    Spark does: with a WHERE that narrows a window they run over the
    statement's own pruned relation, otherwise on the view: unfiltered
    GROUP BY, OR disjunctions, string literals."""
    for sql, rows, kind in [
        ("SELECT time, SUM(pressure) AS s FROM tc GROUP BY time", 12, None),
        ("SELECT SUM(pressure) AS s FROM tc WHERE time >= 2 OR time <= 1", 1,
         None),
        ("SELECT SUM(pressure) AS s FROM tc WHERE (time >= 2)", 1, "pruned"),
        # QUOTED literal: every rewrite's conjunct grammar is numeric-
        # only, so a string literal must decline to Spark (which casts
        # '2' and answers identically) — the literal-safety twin of the
        # r13 Engine.sql fuzz, applied to the pruning rewrites
        ("SELECT SUM(pressure) AS s FROM tc WHERE time = '2'", 1, None),
        # clause combinations no statistics rewrite serves
        ("SELECT time, pressure FROM tc WHERE time >= 2 "
         "ORDER BY time DESC, lat, lon LIMIT 5", 5, "pruned"),
        ("SELECT time, lat, SUM(pressure) AS s FROM tc GROUP BY time, lat", 120,
         None),
        ("SELECT time, lat, SUM(pressure) AS s FROM tc WHERE time >= 2 "
         "GROUP BY time, lat", 100, "pruned"),
        ("SELECT time, SUM(pressure) AS s FROM tc WHERE time >= 2 "
         "GROUP BY time ORDER BY time", 10, "pruned"),
        ("SELECT time AS t2 FROM tc WHERE time >= 11 AND lat = 0", 14, "pruned"),
    ]:
        df = agg_engine.sql(sql)
        assert agg_engine.last_shortcut_kind == kind, sql
        got = df.collect()
        assert len(got) == rows
        want = spark.sql(sql).collect()
        if "ORDER BY" in sql:  # a total order: the rows come in it
            assert got == want, sql
        else:
            assert sorted(got) == sorted(want), sql


@pytest.mark.parametrize(
    "sql,expect_shortcut",
    [
        # full rollup, no scan (trending_store has outer_chunk == 1)
        ("SELECT time, SUM(pressure) AS s, COUNT(*) AS n, AVG(pressure) AS a, "
         "MIN(pressure) AS lo, MAX(pressure) AS hi FROM tr GROUP BY time", True),
        # windowed rollup
        ("SELECT time, SUM(pressure) AS s FROM tr WHERE time >= 3 GROUP BY time", True),
        ("SELECT SUM(pressure) AS s, time FROM tr WHERE time BETWEEN 2 AND 5 "
         "GROUP BY time", True),
        # empty window
        ("SELECT time, SUM(pressure) AS s FROM tr WHERE time > 99 GROUP BY time", True),
        # outer chunks of 4: per-group sums unavailable -> full plan
        ("SELECT time, SUM(pressure) AS s FROM tc GROUP BY time", False),
        # grouping on a non-outer coordinate -> full plan
        ("SELECT lat, SUM(pressure) AS s FROM tr GROUP BY lat", False),
    ],
)
def test_grouped_rollup_matches_full_scan(rollup_engine, spark, sql, expect_shortcut):
    fast = rollup_engine.sql(sql)
    assert rollup_engine.last_query_used_shortcut == expect_shortcut, sql
    assert sorted(map(tuple, fast.collect())) == sorted(
        map(tuple, spark.sql(sql).collect())
    )
    assert [(f.name, f.dataType) for f in fast.schema.fields] == [
        (f.name, f.dataType) for f in spark.sql(sql).schema.fields
    ]


@pytest.fixture(scope="module")
def rollup_engine(spark):
    from zarr_datafusion_spark.engine import Engine
    from zarr_datafusion_spark.operators.zarr_queries import (
        trending_chunked_store,
        trending_store,
    )

    e = Engine(spark)
    e.register_zarr("tr", trending_store(), data_filter_pushdown=True)
    e.register_zarr("tc", trending_chunked_store(), data_filter_pushdown=True)
    return e


def test_grouped_rollup_plan_is_scan_free(rollup_engine):
    df = rollup_engine.sql(
        "SELECT time, SUM(pressure) AS s FROM tr WHERE time >= 3 GROUP BY time"
    )
    assert rollup_engine.last_query_used_shortcut
    assert "zarr" not in plan_text(df).lower()


def test_grouped_rollup_merges_duplicate_coord_values(spark, tmp_path):
    """An outer coordinate with DUPLICATE values (legal in an unsorted
    axis) must merge into one SQL group, not emit one row per chunk
    row."""
    from zarr_datafusion_spark.engine import Engine
    from zarr_datafusion_spark.zarr.writer import write_store

    store = str(tmp_path / "dup.zarr")
    write_store(
        store,
        {
            "t": (np.array([2, 1, 2, 1], dtype=np.int64), (4,)),
            "x": (np.arange(3, dtype=np.int64), (3,)),
            "v": (np.arange(12, dtype=np.int64).reshape(4, 3), (1, 3)),
        },
    )
    e = Engine(spark)
    e.register_zarr("dup_t", store, data_filter_pushdown=True)
    sql = (
        "SELECT t, SUM(v) AS s, COUNT(*) AS n, MIN(v) AS lo, MAX(v) AS hi "
        "FROM dup_t GROUP BY t"
    )
    fast = e.sql(sql)
    assert e.last_query_used_shortcut
    assert sorted(map(tuple, fast.collect())) == sorted(
        map(tuple, spark.sql(sql).collect())
    )
    assert fast.count() == 2


@pytest.mark.parametrize(
    "sql,expect_shortcut",
    [
        # tail top-k across a slab boundary (200 rows = 2 outer indices)
        ("SELECT time, lat, lon, pressure FROM tc "
         "ORDER BY time DESC, lat DESC, lon DESC LIMIT 200", True),
        # head direction, SELECT *
        ("SELECT * FROM tc ORDER BY time, lat, lon LIMIT 150", True),
        # k >= total rows: nothing prunable
        ("SELECT time, pressure FROM tc ORDER BY time DESC LIMIT 5000", False),
        # leading key not the outer coordinate
        ("SELECT time, pressure FROM tc ORDER BY pressure DESC LIMIT 10", False),
    ],
)
def test_topk_matches_full_plan(agg_engine, spark, sql, expect_shortcut):
    """Top-K pushdown (reference roadmap README.md:298): coordinate-
    leading ORDER BY ... LIMIT answers from a threshold-pruned scan and
    must equal the full plan row-for-row (total orders only here)."""
    fast = agg_engine.sql(sql)
    assert agg_engine.last_query_used_shortcut == expect_shortcut, sql
    assert [tuple(r) for r in fast.collect()] == [
        tuple(r) for r in spark.sql(sql).collect()
    ]


def test_topk_reads_only_tail_slabs(spark, tmp_path, monkeypatch):
    """ORDER BY time DESC LIMIT 200 over 3 slabs of 4 outer indices x
    140 rows: the top 200 fit inside the LAST slab, so the pruned scan
    reads exactly that one slab (560 rows) and never the other 1120.
    Slab granularity is the honest statistics contract (the parquet
    row-group analog): the sidecar bounds coordinates per chunk row,
    so the threshold lands on a slab edge, not a row edge."""
    import zarr_datafusion_spark.zarr as Z
    from zarr_datafusion_spark.engine import Engine
    from zarr_datafusion_spark.operators.zarr_queries import (
        trending_chunked_store,
    )
    from zarr_datafusion_spark.stats.io_stats import collect_stats_dir

    sd = str(tmp_path / "io")
    orig = Z.read_zarr
    monkeypatch.setattr(
        Z, "read_zarr", lambda sp, st, **kw: orig(sp, st, stats_dir=sd, **kw)
    )
    e = Engine(spark)
    e.register_zarr("tc_tk", trending_chunked_store(), data_filter_pushdown=True)
    df = e.sql(
        "SELECT time, lat, lon, pressure FROM tc_tk "
        "ORDER BY time DESC, lat DESC, lon DESC LIMIT 200"
    )
    assert e.last_query_used_shortcut
    assert e.last_shortcut_kind == "pruned"  # it DOES read tail slabs
    rows = df.collect()
    assert len(rows) == 200
    assert rows[0].time == 11 and rows[0].lat == 9 and rows[0].lon == 13
    assert {r.time for r in rows} == {10, 11}
    s = collect_stats_dir(sd)
    assert s.rows == 4 * 10 * 14, "read beyond the top-k tail slab"


def test_shortcut_kind_accounting(agg_engine):
    """`last_shortcut_kind` must say scan_free only when the plan has
    no zarr source (the honest REPL line, ADVICE-proofing)."""
    agg_engine.sql("SELECT SUM(pressure) AS s FROM tc WHERE time BETWEEN 4 AND 7")
    assert agg_engine.last_shortcut_kind == "scan_free"
    agg_engine.sql("SELECT SUM(pressure) AS s FROM tc WHERE time >= 2 AND time <= 9")
    assert agg_engine.last_shortcut_kind == "pruned"  # boundary slabs read
    agg_engine.sql("SELECT time, SUM(pressure) AS s FROM tc GROUP BY time")
    assert agg_engine.last_shortcut_kind is None  # full plan (outer_chunk=4)
    for sql, kind in [
        ("select sum(pressure) as s from tc where time between 4 and 7;",
         "scan_free"),
        ("SELECT COUNT(*) AS n FROM tc ;", "scan_free"),
        ("SELECT * FROM tc WHERE time >= 2 AND lat < 3", "pruned"),
        ("SELECT time, lat FROM tc ORDER BY time DESC LIMIT 3;", "pruned"),
        ("SELECT time, SUM(pressure) AS s FROM tc WHERE lat < 3 GROUP BY time",
         "pruned"),
        # declined by the statistics rewrites, served by the
        # statement's own pruned relation
        ("SELECT time, pressure FROM tc WHERE time >= 2 ORDER BY time LIMIT 5",
         "pruned"),
        ("SELECT time, lat, SUM(pressure) AS s FROM tc GROUP BY time, lat", None),
        ("SELECT time, SUM(pressure) AS s FROM tc WHERE time >= 2 "
         "GROUP BY time ORDER BY time", "pruned"),
        ("SELECT time AS t2 FROM tc WHERE time >= 2", "pruned"),
    ]:
        agg_engine.sql(sql)
        assert agg_engine.last_shortcut_kind == kind, sql


def test_one_schema_lookup_per_statement(agg_engine, spark, monkeypatch):
    """``Engine.sql`` parses a statement once and takes a Zarr table's
    schema from its registration, so no statement looks a schema up; a
    statement over a table without statistics, or one that narrows no
    window, makes no sidecar lookup either, and one declined by the
    statistics answers checks the sidecar for its own relation."""
    from zarr_datafusion_spark.stats import chunk_stats

    tables, sidecars = [], []
    table, sidecar = spark.table, chunk_stats.compute_zarr_chunk_stats
    monkeypatch.setattr(spark, "table", lambda n: tables.append(n) or table(n))
    monkeypatch.setattr(
        chunk_stats, "compute_zarr_chunk_stats",
        lambda sp, st: sidecars.append(st) or sidecar(sp, st),
    )
    spark.sql("SELECT * FROM tc").createOrReplaceTempView("tc_nostats")
    try:
        for sql, lookups in [
            ("SELECT COUNT(*) AS n FROM tc_nostats", (0, 0)),
            ("SELECT SUM(pressure) AS s FROM tc WHERE time >= 2 OR time <= 1",
             (0, 0)),
            # declined by every statistics rewrite
            ("SELECT time, SUM(pressure) AS s FROM tc WHERE lat < 3 GROUP BY time",
             (0, 1)),
        ]:
            tables.clear()
            sidecars.clear()
            agg_engine.sql(sql)
            assert (len(tables), min(len(sidecars), 1)) == lookups, sql
    finally:
        spark.catalog.dropTempView("tc_nostats")


def test_ddl_options_enable_chunk_stats(spark):
    """DataFusion's OPTIONS spelling on the verbatim DDL enables the
    sidecar from SQL: ``CREATE EXTERNAL TABLE ... STORED AS ZARR
    LOCATION '...' OPTIONS ('chunk_stats' 'true')`` makes aggregate
    and top-k pushdown serve the table; without the option the DDL
    registers the plain (also multi-query-safe) view, and a filtered
    statement still runs over its own pruned relation."""
    from zarr_datafusion_spark.engine import Engine
    from zarr_datafusion_spark.operators.zarr_queries import trending_store

    e = Engine(spark)
    e.sql(
        f"CREATE EXTERNAL TABLE trend_ddl_cs STORED AS ZARR "
        f"LOCATION '{trending_store()}' OPTIONS ('chunk_stats' 'true')"
    )
    df = e.sql("SELECT SUM(pressure) AS s FROM trend_ddl_cs WHERE time >= 6")
    assert e.last_query_used_shortcut
    assert df.collect() == spark.sql(
        "SELECT SUM(pressure) AS s FROM trend_ddl_cs WHERE time >= 6"
    ).collect()

    e.sql(
        f"CREATE EXTERNAL TABLE trend_ddl_plain STORED AS ZARR "
        f"LOCATION '{trending_store()}'"
    )
    e.sql("SELECT SUM(pressure) AS s FROM trend_ddl_plain WHERE time >= 6")
    assert e.last_shortcut_kind == "pruned"


def test_sql_filter_rewrite_prunes_and_matches(spark, tmp_path, monkeypatch):
    """A plain filtered SELECT against a chunk-stats table rewrites
    onto a FRESH pruned relation per statement: the scan skips the
    slabs the data statistics prove empty, the values equal the lazy
    view's, and — the ADVICE r9 regression — a later full COUNT on the
    same view still sees every row (nothing cacheable survives)."""
    import zarr_datafusion_spark.zarr as Z
    from zarr_datafusion_spark.engine import Engine
    from zarr_datafusion_spark.operators.zarr_queries import trending_store
    from zarr_datafusion_spark.stats.io_stats import collect_stats_dir

    sd = str(tmp_path / "io")
    orig = Z.read_zarr

    def instrumented(spark_, store, **kw):
        kw.setdefault("stats_dir", sd)
        return orig(spark_, store, **kw)

    monkeypatch.setattr(Z, "read_zarr", instrumented)
    e = Engine(spark)
    e.register_zarr("tr_fr", trending_store(), data_filter_pushdown=True)

    sql = (
        "SELECT time, lat, lon, pressure FROM tr_fr "
        "WHERE pressure >= 1075 AND lat > 2"
    )
    fast = e.sql(sql)
    assert e.last_query_used_shortcut
    assert e.last_shortcut_kind == "pruned"
    fast_rows = sorted(map(tuple, fast.collect()))
    # snapshot BEFORE the view comparison below (the view's full scan
    # spills into the same instrumented stats dir)
    s = collect_stats_dir(sd)
    # pressure >= 1075 skips slabs t<6 via data stats; lat > 2 narrows
    # the lat window to 7 of 10 — 6 slabs x 7 lats x 14 lons
    assert s.rows == 6 * 7 * 14, "rewrite did not prune the scan"
    assert s.n_arrays == 4  # time, lat, lon, pressure: all referenced

    # a narrower statement opens only the arrays it references
    import shutil

    shutil.rmtree(sd, ignore_errors=True)
    narrow = "SELECT lon, pressure FROM tr_fr WHERE pressure >= 1075"
    narrow_rows = sorted(map(tuple, e.sql(narrow).collect()))
    assert collect_stats_dir(sd).n_arrays == 2
    assert narrow_rows == sorted(map(tuple, spark.sql(narrow).collect()))
    assert fast_rows == sorted(map(tuple, spark.sql(sql).collect()))

    # the named view itself stays lazy and multi-query-safe
    assert spark.sql("SELECT COUNT(*) AS n FROM tr_fr").collect()[0].n == 1680

    # non-rewritable shapes answer through the view, correctly
    odd = "SELECT time, pressure FROM tr_fr WHERE pressure >= 1075 OR lat > 2"
    e.sql(odd)
    assert not e.last_query_used_shortcut


def test_pruned_agg_rewrite(spark, tmp_path, monkeypatch):
    """Aggregates the stats assembly declines (data-variable
    predicates, grouped forms over multi-index chunks) still run on a
    PRUNED scan: Spark computes the aggregate, the chunk statistics
    skip the provably-empty slabs, values equal the lazy view's."""
    import zarr_datafusion_spark.zarr as Z
    from zarr_datafusion_spark.engine import Engine
    from zarr_datafusion_spark.operators.zarr_queries import (
        trending_chunked_store,
    )
    from zarr_datafusion_spark.stats.io_stats import collect_stats_dir

    sd = str(tmp_path / "io")
    orig = Z.read_zarr

    def instrumented(spark_, store, **kw):
        kw.setdefault("stats_dir", sd)
        return orig(spark_, store, **kw)

    monkeypatch.setattr(Z, "read_zarr", instrumented)
    e = Engine(spark)
    e.register_zarr("tc_pa", trending_chunked_store(), data_filter_pushdown=True)

    # data-variable predicate: pressure >= 1075 skips slabs whose max
    # (1022 + 10*t_hi) proves empty — rows t in [0..3] skip entirely
    sql = (
        "SELECT COUNT(*) AS n, SUM(pressure) AS s, AVG(pressure) AS a "
        "FROM tc_pa WHERE pressure >= 1075"
    )
    fast = e.sql(sql)
    assert e.last_query_used_shortcut
    assert e.last_shortcut_kind == "pruned"
    got = fast.collect()
    s = collect_stats_dir(sd)
    assert s.rows == 2 * 4 * 10 * 14, "data-var pruning did not skip slabs"
    assert s.n_arrays == 1, "read arrays the statement never references"
    assert got == spark.sql(sql).collect()

    # grouped over multi-index chunks (stats assembly bails: outer
    # chunks of 4): the pruned-scan rewrite still serves it, column
    # order preserved even with the group key listed last
    sql = (
        "SELECT SUM(pressure) AS s, time FROM tc_pa "
        "WHERE pressure >= 1075 GROUP BY time"
    )
    fast = e.sql(sql)
    assert e.last_query_used_shortcut
    assert [f.name for f in fast.schema.fields] == ["s", "time"]
    assert sorted(map(tuple, fast.collect())) == sorted(
        map(tuple, spark.sql(sql).collect())
    )


_B = 2**53


@pytest.fixture(scope="module")
def literal_engine(spark, tmp_path_factory):
    """Two tiny stores where a literal's SQL type decides the answer:
    int64 coordinates and values at 2^53 + k (one outer index per
    chunk, so every chunk row classifies scan-free), and float64
    coordinates k/10 (two per chunk, so windows cut mid-chunk)."""
    from zarr_datafusion_spark.engine import Engine
    from zarr_datafusion_spark.zarr.writer import write_store

    root = tmp_path_factory.mktemp("literals")
    k = np.arange(8, dtype=np.int64)
    write_store(str(root / "big"), {
        "t": (_B + k, (1,)),
        "x": (np.arange(2, dtype=np.int64), (2,)),
        "v": (_B + 2 * k[:, None] + np.arange(2)[None, :], (1, 2)),
    })
    write_store(str(root / "tenths"), {
        "t": (np.arange(16) / 10, (2,)),
        "x": (np.arange(2, dtype=np.int64), (2,)),
        "v": (np.arange(32, dtype=np.int64).reshape(16, 2), (2, 2)),
    })
    e = Engine(spark)
    e.register_zarr("big", str(root / "big"), data_filter_pushdown=True)
    e.register_zarr("tenths", str(root / "tenths"), data_filter_pushdown=True)
    return e


@pytest.mark.parametrize(
    "sql",
    [
        # DECIMAL literals compare exactly against int64
        "SELECT t, x, v FROM big WHERE t > 9007199254740993.5",
        "SELECT COUNT(*) AS n FROM big "
        "WHERE t >= 9007199254740993.5 AND t <= 9007199254740995.5",
        "SELECT COUNT(*) AS n, MIN(v) AS lo FROM big WHERE v > 9007199254740997.5",
        "SELECT COUNT(*) AS n FROM big WHERE v = 9007199254740995.0",
        "SELECT t, x, v FROM big WHERE v = 9007199254740995.0",
        # DOUBLE (exponent) literals round the int64 side to double
        "SELECT COUNT(*) AS n FROM big WHERE t <= 9.007199254740992e15",
        "SELECT COUNT(*) AS n FROM big WHERE t > 9.007199254740992e15",
        "SELECT t, COUNT(*) AS n FROM big "
        "WHERE t <= 9.007199254740992e15 GROUP BY t",
        # integers past int64 are DECIMAL(20,0)
        "SELECT COUNT(*) AS n FROM big WHERE t < 99999999999999999999",
        "SELECT t, x FROM big WHERE t > -99999999999999999999",
        # float coordinates compare DECIMAL literals as DOUBLE
        "SELECT COUNT(*) AS n FROM tenths WHERE t > 0.1",
        "SELECT COUNT(*) AS n FROM tenths WHERE t >= 0.3 AND t < 0.7",
        "SELECT COUNT(*) AS n FROM tenths WHERE t = 0.3",
        "SELECT COUNT(*) AS n FROM tenths WHERE t BETWEEN 0.1 AND 0.5",
        "SELECT COUNT(*) AS n FROM tenths WHERE t > 1e-1",
        "SELECT t, v FROM tenths WHERE t > 0.1",
        "SELECT SUM(v) AS s FROM tenths WHERE t > 0.2 AND t <= 1.1",
    ],
)
def test_literals_typed_as_spark_sql(literal_engine, spark, sql):
    """Every rewrite types a numeric literal as Spark SQL does (integer,
    DECIMAL or DOUBLE) and compares it against statistics in the type
    Spark's coercion picks, so ``Engine.sql`` answers as ``spark.sql``."""
    got = sorted(map(tuple, literal_engine.sql(sql).collect()))
    assert literal_engine.last_query_used_shortcut, sql
    assert got == sorted(map(tuple, spark.sql(sql).collect()))


def _collect(engine, sql):
    """``Engine.sql(sql)`` collected, and the route that answered it."""
    return engine.sql(sql).collect(), engine.last_shortcut_kind


@pytest.mark.parametrize(
    "sql, kind",
    [
        ("SELECT COUNT(*) AS n FROM tc", "scan_free"),
        ("SELECT MIN(pressure) AS lo, MAX(pressure) AS hi FROM tc", "scan_free"),
        # every matching chunk row interior: folded from the sidecar
        ("SELECT SUM(pressure) AS s, COUNT(*) AS n, AVG(pressure) AS a "
         "FROM tc WHERE time BETWEEN 4 AND 7", "scan_free"),
        # an empty window: NULL SUM/AVG/MIN, COUNT 0
        ("SELECT SUM(pressure) AS s, COUNT(*) AS n, AVG(pressure) AS a, "
         "MIN(pressure) AS lo FROM tc WHERE time > 100", "scan_free"),
        # pruned windows far below the split threshold, read on the driver
        ("SELECT time, lat, lon, pressure FROM tc "
         "WHERE time BETWEEN 2 AND 5 AND lat = 3", "pruned"),
        ("SELECT lon, pressure FROM tc WHERE pressure >= 1075 AND lat > 2",
         "pruned"),
        ("SELECT * FROM tc WHERE time > 100", "pruned"),
    ],
)
def test_driver_sized_answers_launch_no_job(agg_engine, spark, sql, kind):
    """Scan-free answers and filtered SELECTs whose pruned window is
    below the planner's split threshold are local relations: the whole
    statement, ``Engine.sql`` through ``collect``, launches no Spark
    job, and the rows equal the plain plan's."""
    (rows, got_kind), jobs = jobs_launched(spark, lambda: _collect(agg_engine, sql))
    assert (got_kind, jobs) == (kind, []), sql
    assert sorted(map(tuple, rows)) == sorted(map(tuple, spark.sql(sql).collect()))


def test_rollup_and_typed_bounds_launch_no_job(engine, spark, tmp_path):
    """The grouped rollup and timestamp/string MIN/MAX answers are
    local relations too (the rollup used to run an RDD job)."""
    from tests.test_zarr_source import _station_store
    from zarr_datafusion_spark.operators.zarr_queries import trending_store

    engine.register_zarr("tr_jobs", trending_store(), data_filter_pushdown=True)
    engine.register_zarr("st_jobs", _station_store(tmp_path))
    for sql in [
        "SELECT time, SUM(pressure) AS s, AVG(pressure) AS a, COUNT(*) AS n "
        "FROM tr_jobs WHERE time >= 3 GROUP BY time",
        "SELECT MIN(ts) AS lo, MAX(ts) AS hi FROM events",
        "SELECT COUNT(*) AS n, MIN(station) AS lo, MAX(station) AS hi FROM st_jobs",
    ]:
        (rows, kind), jobs = jobs_launched(spark, lambda: _collect(engine, sql))
        assert (kind, jobs) == ("scan_free", []), sql
        assert sorted(map(tuple, rows)) == sorted(
            map(tuple, spark.sql(sql).collect())
        ), sql


def test_filtered_select_over_split_window_stays_distributed(spark, tmp_path):
    """A filtered SELECT whose pruned window holds two splits' worth of
    rows keeps the distributed pruned scan: it plans one partition per
    split (as far as the parallelism allows) and launches Spark jobs,
    with the plain plan's rows."""
    from zarr_datafusion_spark.engine import Engine
    from zarr_datafusion_spark.zarr.datasource import ZarrDataSourceReader
    from zarr_datafusion_spark.zarr.writer import write_store

    nt, nx, ny = 16, 96, 96
    split = ZarrDataSourceReader.MIN_PARTITION_ROWS
    assert 2 * split <= (nt - 1) * nx * ny < 3 * split
    store = write_store(
        str(tmp_path / "wide.zarr"),
        {
            "t": (np.arange(nt, dtype=np.int64), (nt,)),
            "x": (np.arange(nx, dtype=np.int64), (nx,)),
            "y": (np.arange(ny, dtype=np.int64), (ny,)),
            "v": (np.arange(nt * nx * ny, dtype=np.int32).reshape(nt, nx, ny),
                  (1, nx, ny)),
        },
    )
    import zarr_datafusion_spark.zarr as Z

    e = Engine(spark)
    e.register_zarr("wide", store, data_filter_pushdown=True)
    sql = "SELECT t, v FROM wide WHERE t >= 1"
    orig, seen = Z.read_zarr, []

    def instrumented(spark_, store_, **kw):
        seen.append(kw.get("filters"))
        return orig(spark_, store_, **kw)

    Z.read_zarr = instrumented
    try:
        fast = e.sql(sql)
    finally:
        Z.read_zarr = orig
    # the sidecar already bounds the window above the split threshold,
    # so the driver plans nothing itself
    assert seen == [None]
    assert e.last_shortcut_kind == "pruned"
    assert "BatchScan" in plan_text(fast)
    assert fast.rdd.getNumPartitions() == min(
        2, spark.sparkContext.defaultParallelism
    )
    rows, jobs = jobs_launched(spark, fast.collect)
    assert jobs
    assert sorted(map(tuple, rows)) == sorted(map(tuple, spark.sql(sql).collect()))


def test_driver_read_answer_is_a_snapshot(spark, tmp_path):
    """A filtered SELECT read on the driver is a snapshot taken at
    ``Engine.sql`` time: collecting the same DataFrame after an
    in-place region update returns the old rows, while a new statement
    sees the update, as the plain plan does."""
    from pyspark.sql import functions as F

    from zarr_datafusion_spark.engine import Engine
    from zarr_datafusion_spark.zarr.sink import update_zarr_region, write_zarr

    store = str(tmp_path / "live.zarr")
    write_zarr(
        spark.range(6 * 4).select(
            (F.col("id") / 4).cast("long").alias("t"),
            (F.col("id") % 4).alias("x"),
            F.col("id").alias("v"),
        ),
        store,
        ["t", "x"],
    )
    e = Engine(spark)
    e.register_zarr("live", store, data_filter_pushdown=True)
    sql = "SELECT t, x, v FROM live WHERE t >= 1 AND t <= 3"
    df = e.sql(sql)
    assert e.last_shortcut_kind == "pruned"
    before = sorted(map(tuple, df.collect()))
    assert [v for t, _, v in before if t == 2] == [8, 9, 10, 11]
    update_zarr_region(
        spark.createDataFrame(
            [(2, x, 1000 + x) for x in range(4)], "t long, x long, v long"
        ),
        store,
    )
    assert sorted(map(tuple, df.collect())) == before
    after = sorted(map(tuple, e.sql(sql).collect()))
    assert [v for t, _, v in after if t == 2] == [1000, 1001, 1002, 1003]
    assert after == sorted(map(tuple, spark.sql(sql).collect()))


def test_region_update_refreshes_statistics_answers(spark, tmp_path):
    """After an in-place region update, every statistics route answers
    for the new data: the scan-free data-variable MAX, the chunk-level
    filtered COUNT/SUM, and the data-var-pruned SELECT all equal Spark
    over the updated store, although each route already answered (and
    cached) for the old data in the same process."""
    from pyspark.sql import functions as F

    from zarr_datafusion_spark.engine import Engine
    from zarr_datafusion_spark.zarr.sink import update_zarr_region, write_zarr

    store = str(tmp_path / "upd.zarr")
    write_zarr(
        spark.range(6 * 4).select(
            (F.col("id") / 4).cast("long").alias("t"),
            (F.col("id") % 4).alias("x"),
            F.col("id").alias("v"),
        ),
        store,
        ["t", "x"],
    )
    e = Engine(spark)
    e.register_zarr("upd", store, data_filter_pushdown=True)
    queries = [
        "SELECT MAX(v) AS hi FROM upd",
        "SELECT COUNT(*) AS n, SUM(v) AS s FROM upd WHERE t >= 1",
        "SELECT t, x, v FROM upd WHERE v >= 1000",
    ]
    for q in queries:
        e.sql(q).collect()
    assert e.sql(queries[0]).collect()[0].hi == 23
    update_zarr_region(
        spark.createDataFrame(
            [(2, x, 1000 + x) for x in range(4)], "t long, x long, v long"
        ),
        store,
    )
    for q in queries:
        got = sorted(map(tuple, e.sql(q).collect()))
        assert got == sorted(map(tuple, spark.sql(q).collect())), q
    assert e.sql(queries[0]).collect()[0].hi == 1003
    assert e.last_shortcut_kind == "scan_free"


def test_pushed_filters_are_ones_spark_pushes(spark, tmp_path):
    """The driver-side read pushes, per conjunct, only a filter Spark
    itself pushes for it, with the same value: a spy source records
    what Spark pushes over every integral and floating column type."""
    import json

    from pyspark.sql import functions as F
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceReader,
        InputPartition,
    )

    from zarr_datafusion_spark.stats.statement import OPS, literal, pushed_filters

    out = str(tmp_path / "pushed.jsonl")

    class SpyReader(DataSourceReader):
        def __init__(self, path):
            self.path = path

        def pushFilters(self, filters):  # noqa: N802 (Spark API name)
            with open(self.path, "a") as f:
                for x in filters:
                    value = repr(getattr(x, "value", None))
                    f.write(json.dumps([type(x).__name__, x.attribute, value]))
                    f.write("\n")
            yield from filters

        def partitions(self):
            return [InputPartition(0)]

        def read(self, partition):
            return iter([])

    class PushSpy(DataSource):
        @classmethod
        def name(cls):
            return "push_spy"

        def schema(self):
            return "b byte, s short, i int, l long, f float, d double"

        def reader(self, schema):
            return SpyReader(self.options["out"])

    spark.dataSource.register(PushSpy)
    df = spark.read.format("push_spy").option("out", out).load()
    schema = {f.name: f.dataType for f in df.schema.fields}
    checked = 0
    for col in schema:
        for text in ["-300", "70000", "3000000000", "9007199254740993",
                     "2.5", "0.1e0"]:
            for op in (">=", "="):
                lit = literal(text)
                ours = [
                    [type(f).__name__, list(f.attribute), repr(f.value)]
                    for f in pushed_filters([(col, op, lit)], schema)
                ]
                if not ours:
                    continue
                open(out, "w").close()
                df.filter(OPS[op](F.col(col), F.lit(lit))).collect()
                with open(out) as f:
                    sparks = [json.loads(line) for line in f]
                for filt in ours:
                    assert filt in sparks, (col, op, text, sparks)
                checked += 1
    assert checked >= 24


def test_reregistration_forgets_the_old_store(spark, tmp_path):
    """Registering a name again over another store drops what the
    rewrites knew about the old one (its sidecar route and its
    statistics): the answers follow the new store."""
    from zarr_datafusion_spark.engine import Engine
    from zarr_datafusion_spark.zarr.writer import write_store

    def store(name, base):
        return write_store(
            str(tmp_path / name),
            {
                "t": (np.arange(8, dtype=np.int64), (8,)),
                "v": (np.arange(base, base + 8, dtype=np.int64), (2,)),
            },
        )

    e = Engine(spark)
    e.register_zarr("w", store("a", 0), data_filter_pushdown=True)
    e.register_zarr("w", store("b", 100))
    for sql in [
        "SELECT SUM(v) AS s FROM w WHERE t >= 1",
        "SELECT MAX(v) AS m FROM w",
    ]:
        assert e.sql(sql).collect() == spark.sql(sql).collect(), sql


def test_explain_analyze_runs_pruned_plans(agg_engine):
    """Only a scan-free answer gets the "no scan" banner; a pruned
    rewrite, top-k or a driver-read window alike, prints its real plan
    and ``explain_analyze`` executes it with node metrics."""
    topk = "SELECT time, lat FROM tc ORDER BY time DESC LIMIT 3"
    out = agg_engine.explain_analyze(topk)
    assert agg_engine.last_shortcut_kind == "pruned"
    assert "no scan" not in out and "number of output rows" in out
    assert "no scan" not in agg_engine.explain(topk)
    window = "SELECT time, pressure FROM tc WHERE time = 3"
    out = agg_engine.explain_analyze(window)
    assert agg_engine.last_shortcut_kind == "pruned"
    assert "no scan" not in out and "LocalTableScan" in out
    assert "no scan" in agg_engine.explain_analyze("SELECT COUNT(*) AS n FROM tc")


@pytest.fixture(scope="module")
def ref_store(tmp_path_factory):
    """32 x 64 x 128 int64 store, one outer index per data chunk; each
    coordinate is one chunk."""
    from zarr_datafusion_spark.zarr.writer import write_store

    root = tmp_path_factory.mktemp("refs")
    return write_store(str(root / "series.zarr"), {
        "time": (np.arange(32, dtype=np.int64), (32,)),
        "lat": (np.arange(64, dtype=np.int64), (64,)),
        "lon": (np.arange(128, dtype=np.int64), (128,)),
        "v": (np.arange(32 * 64 * 128, dtype=np.int64).reshape(32, 64, 128)
              % 1000, (1, 64, 128)),
    })


def _spilling(monkeypatch, sd):
    """Point every ``read_zarr`` relation at the ``sd`` stats dir."""
    import zarr_datafusion_spark.zarr as Z

    orig = Z.read_zarr

    def instrumented(spark_, store, **kw):
        kw.setdefault("stats_dir", sd)
        return orig(spark_, store, **kw)

    monkeypatch.setattr(Z, "read_zarr", instrumented)


@pytest.mark.parametrize(
    "sql, rows, chunks",
    [
        # chunks: the three coordinates per scan task, and the data
        # chunks of its window
        # two slabs, one per side of the self-join
        ("SELECT COUNT(*) AS n FROM series a JOIN series b "
         "ON a.lat = b.lat AND a.lon = b.lon WHERE a.time = 1 AND b.time = 3",
         2 * 64 * 128, 2 * (3 + 1)),
        ("WITH w AS (SELECT * FROM series WHERE time BETWEEN 4 AND 7) "
         "SELECT COUNT(*) AS n, SUM(v) AS s FROM w", 4 * 64 * 128, 3 + 4),
        # four slabs outside, two cells of one slab inside the subquery
        ("SELECT COUNT(*) AS n FROM series WHERE time BETWEEN 10 AND 13 AND lat "
         "IN (SELECT lat FROM series WHERE time = 20 AND lon = 0 AND lat < 2)",
         4 * 64 * 128 + 2, (3 + 4) + (3 + 1)),
    ],
)
def test_every_reference_reads_only_its_window(
    spark, ref_store, tmp_path, monkeypatch, sql, rows, chunks
):
    """A self-join, a CTE and an IN subquery over a registered store:
    each reference runs over its own fresh relation, so each reads only
    its own window, and the answer is the view's."""
    from zarr_datafusion_spark.engine import Engine
    from zarr_datafusion_spark.stats.io_stats import collect_stats_dir

    sd = str(tmp_path / "io")
    _spilling(monkeypatch, sd)
    e = Engine(spark)
    e.register_zarr("series", ref_store, data_filter_pushdown=True)
    got = e.sql(sql).collect()
    assert e.last_shortcut_kind == "pruned"
    s = collect_stats_dir(sd)
    assert (s.rows, s.n_chunks) == (rows, chunks)
    assert got == spark.sql(sql).collect()


def test_table_without_chunk_stats_prunes(spark, tmp_path, monkeypatch):
    """A table registered with no chunk statistics still reads only the
    window a filtered statement names: 20 of 64 slabs."""
    from zarr_datafusion_spark.engine import Engine
    from zarr_datafusion_spark.stats.io_stats import collect_stats_dir
    from zarr_datafusion_spark.zarr.writer import write_store

    store = write_store(str(tmp_path / "plain.zarr"), {
        "t": (np.arange(64, dtype=np.int64), (1,)),
        "x": (np.arange(256, dtype=np.int64), (256,)),
        "v": (np.arange(64 * 256, dtype=np.int64).reshape(64, 256), (1, 256)),
    })
    sd = str(tmp_path / "io")
    _spilling(monkeypatch, sd)
    e = Engine(spark)
    e.register_zarr("plain", store)
    sql = "SELECT t, x, v FROM plain WHERE t >= 10 AND t < 30"
    got = sorted(map(tuple, e.sql(sql).collect()))
    assert e.last_shortcut_kind == "pruned"
    assert collect_stats_dir(sd).rows == 20 * 256
    assert got == sorted(map(tuple, spark.sql(sql).collect()))


@pytest.mark.parametrize(
    "sql, where",
    [
        ("SELECT * FROM series WHERE time < 8", "time = 3"),
        # no conjunct known to be pushed as written: the relation reads
        # a coordinate for its always-true filter
        ("SELECT v FROM series WHERE v > 2.5", "v = 7"),
        # Spark pushes no filter of the statement into b's relation
        ("SELECT a.v AS av, b.* FROM series a CROSS JOIN series b "
         "WHERE a.time = 1 AND a.lat = 0 AND a.lon = 0", "time = 3"),
    ],
)
def test_reused_result_is_planned_again(spark, ref_store, sql, where):
    """A returned DataFrame planned twice, first filtered and then not,
    answers both times as the view does: a bound relation always
    pushes a filter, so Spark never replays its first window."""
    from zarr_datafusion_spark.engine import Engine

    e = Engine(spark)
    e.register_zarr("series", ref_store, data_filter_pushdown=True)
    df, view = e.sql(sql), spark.sql(sql)
    assert e.last_shortcut_kind == "pruned"
    assert df.filter(where).count() == view.filter(where).count()
    assert df.count() == view.count() > 64 * 128


def test_result_used_twice_in_one_plan(spark, ref_store):
    """A returned DataFrame joined or unioned with itself answers as the
    view does: its relation narrows only while every scan of it pushes
    the same filters.  So does a CTE used twice."""
    from zarr_datafusion_spark.engine import Engine

    e = Engine(spark)
    e.register_zarr("series", ref_store)
    sql = "SELECT * FROM series WHERE time < 8"
    df, view = e.sql(sql), spark.sql(sql)
    assert e.last_shortcut_kind == "pruned"

    def shapes(d):
        one, three = d.filter("time = 1"), d.filter("time = 3")
        return [
            one.join(three, ["lat", "lon"]).count(),
            one.union(three).count(),
            one.union(three).union(one).count(),
        ]

    assert shapes(df) == shapes(view) == [64 * 128, 2 * 64 * 128, 3 * 64 * 128]
    cte = (
        "WITH w AS (SELECT * FROM series WHERE time < 8) SELECT COUNT(*) AS n "
        "FROM w a JOIN w b ON a.lat = b.lat AND a.lon = b.lon "
        "WHERE a.time = 1 AND b.time = 3"
    )
    assert e.sql(cte).collect() == spark.sql(cte).collect() == [(64 * 128,)]
    assert e.last_shortcut_kind == "pruned"


def test_failed_attempt_logs_only_the_users_error(spark, ref_store, capfd):
    """A statement that fails analysis is re-run as written: stderr
    carries only that run's error, never the internal attempt's, and
    the raised error is Spark's own for the user's text."""
    import logging

    from pyspark.errors import AnalysisException
    from pyspark.logger import PySparkLogger

    from zarr_datafusion_spark.engine import Engine

    e = Engine(spark)
    e.register_zarr("series", ref_store, data_filter_pushdown=True)
    sql = "SELECT nosuchcol FROM series WHERE time < 3"
    records = []
    handler = logging.Handler()
    handler.emit = records.append
    logger = PySparkLogger.getLogger("SQLQueryContextLogger")
    logger.addHandler(handler)
    capfd.readouterr()
    try:
        with pytest.raises(AnalysisException) as got:
            e.sql(sql)
    finally:
        logger.removeHandler(handler)
    err = capfd.readouterr().err
    with pytest.raises(AnalysisException) as want:
        spark.sql(sql)
    assert str(got.value) == str(want.value)
    assert "__zds_ref_" not in err
    assert [r.getMessage() for r in records] == [want.value.getMessage()]


@pytest.mark.parametrize(
    "sql",
    [
        "SELECT COUNT(*) AS n FROM series WHERE time < 3 OR lat = 1",
        "SELECT COUNT(*) AS n FROM series WHERE time = '2'",
        "SELECT COUNT(*) AS n FROM series WHERE v > 500",  # no chunk stats
        "SELECT COUNT(*) AS n FROM series a JOIN series b "
        "ON a.time = b.time AND a.lat = b.lat AND a.lon = b.lon",
    ],
)
def test_statement_that_cannot_narrow_runs_on_the_view(spark, ref_store, sql):
    """A statement with no conjunct comparing a coordinate (or a data
    variable with chunk statistics) with a number Spark pushes has no
    window to narrow, so it runs on the view, as written."""
    from zarr_datafusion_spark.engine import Engine

    e = Engine(spark)
    e.register_zarr("series", ref_store)
    e.sql(sql)
    assert e.last_shortcut_kind is None


def test_cached_view_answers_from_its_cache(spark, ref_store):
    """While a registered view is cached, a statement over it reads the
    cache, as Spark's own plan would; once uncached it is bound again."""
    from zarr_datafusion_spark.engine import Engine

    e = Engine(spark)
    e.register_zarr("series_c", ref_store)
    sql = "SELECT COUNT(*) AS n, SUM(v) AS s FROM series_c WHERE time < 4"
    want = e.sql(sql).collect()
    assert e.last_shortcut_kind == "pruned"
    e.sql("CACHE TABLE series_c")
    try:
        df = e.sql(sql)
        assert e.last_shortcut_kind is None
        assert "InMemoryRelation" in df._jdf.queryExecution().optimizedPlan().toString()
        assert df.collect() == want
    finally:
        e.sql("UNCACHE TABLE series_c")
    e.sql(sql)
    assert e.last_shortcut_kind == "pruned"


def test_commands_and_errors_reach_spark_as_written(spark, ref_store, monkeypatch):
    """Commands go to Spark byte-identical and unbound; no per-statement
    view outlives ``Engine.sql``, even when the statement fails; an
    analysis error is Spark's error for the user's own text."""
    from pyspark.errors import AnalysisException

    from zarr_datafusion_spark.engine import Engine

    e = Engine(spark)
    e.register_zarr("series", ref_store, data_filter_pushdown=True)
    sent, sql = [], spark.sql
    monkeypatch.setattr(spark, "sql", lambda q, *a, **k: sent.append(q) or sql(q, *a, **k))

    def no_bound_views():
        return not [
            t.name for t in spark.catalog.listTables() if "__zds_ref_" in t.name
        ]

    try:
        for cmd in [
            "CREATE OR REPLACE TEMP VIEW series_early AS "
            "SELECT * FROM series WHERE time < 3",
            "EXPLAIN SELECT * FROM series WHERE time = 1",
            "DESCRIBE series",
        ]:
            sent.clear()
            e.sql(cmd)
            assert sent == [cmd] and e.last_shortcut_kind is None
            assert no_bound_views()
        # the stored view reads the registered (lazy) view
        n = e.sql("SELECT COUNT(*) AS n FROM series_early").collect()[0].n
        assert n == 3 * 64 * 128
        bad = "SELECT nosuchcol FROM series WHERE time < 3"
        sent.clear()
        with pytest.raises(AnalysisException) as err:
            e.sql(bad)
        assert sent[-1] == bad and "__zds_ref_" not in str(err.value)
        assert no_bound_views()
    finally:
        spark.catalog.dropTempView("series_early")


def test_table_names_match_as_spark_resolves_them(spark, ref_store):
    """Spark resolves ``SERIES`` to a view registered as ``series``
    (``spark.sql.caseSensitive`` is false), so the statistics answer
    and the per-reference relation serve it too."""
    from zarr_datafusion_spark.engine import Engine

    e = Engine(spark)
    e.register_zarr("series", ref_store, data_filter_pushdown=True)
    assert e.sql("SELECT COUNT(*) AS n FROM SERIES").collect()[0].n == 32 * 64 * 128
    assert e.last_shortcut_kind == "scan_free"
    sql = "SELECT COUNT(*) AS n FROM Series a JOIN SERIES b ON a.time = b.time " \
        "AND a.lat = b.lat AND a.lon = b.lon WHERE a.time = 2"
    assert e.sql(sql).collect() == spark.sql(sql).collect()
    assert e.last_shortcut_kind == "pruned"
