"""Statistics-shortcut tests (reference ``tests/integration_optimizer.rs``).

Differential: the shortcut answer must equal the full-scan answer
(``integration_optimizer.rs:149-212``).  Plan-shape: when the shortcut
fires the plan must contain no file scan (``assert_no_zarr_exec``,
``tests/common/mod.rs:118-124``); guarded shapes must fall through to a
real scan.
"""

from __future__ import annotations

import pytest

from tests.conftest import SF_DIR, plan_text


@pytest.mark.parametrize(
    "sql",
    [
        "SELECT COUNT(*) AS n FROM lineitem",
        "SELECT COUNT(1) AS n FROM orders",
        "SELECT COUNT(l_quantity) AS n FROM lineitem",
        "SELECT MIN(o_orderdate) AS lo, MAX(o_orderdate) AS hi FROM orders",
        "SELECT MIN(ts) AS lo, MAX(ts) AS hi FROM events",
        "SELECT COUNT(*) AS n, MIN(l_orderkey) AS lo, MAX(l_orderkey) AS hi FROM lineitem",
    ],
)
def test_shortcut_matches_full_scan(engine, spark, sql):
    fast = engine.sql(sql)
    assert engine.last_query_used_shortcut, sql
    assert "parquet" not in plan_text(fast).lower(), "shortcut plan must not scan"
    full = spark.sql(sql)
    assert fast.collect() == full.collect()
    assert [f.name for f in fast.schema.fields] == [f.name for f in full.schema.fields]


@pytest.mark.parametrize(
    "sql",
    [
        # guards (count_optimization.rs:293-308: bail on Filter etc.)
        "SELECT COUNT(*) AS n FROM lineitem WHERE l_quantity > 10",
        "SELECT l_returnflag, COUNT(*) AS n FROM lineitem GROUP BY l_returnflag",
        "SELECT SUM(l_quantity) AS s FROM lineitem",
        "SELECT MIN(l_returnflag) AS lo FROM lineitem",  # string: no exact stats
        # FLOAT/DOUBLE: footer min/max exclude NaN but Spark MIN/MAX order
        # NaN above everything, so float bounds are never trusted (ADVICE r1)
        "SELECT MIN(l_quantity) AS lo, MAX(l_quantity) AS hi FROM lineitem",
        "SELECT MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi FROM orders",
        "SELECT COUNT(*) AS n FROM lineitem JOIN orders ON l_orderkey = o_orderkey",
        "SELECT COUNT(DISTINCT l_orderkey) AS n FROM lineitem",
    ],
)
def test_guarded_shapes_fall_through(engine, spark, sql):
    df = engine.sql(sql)
    assert not engine.last_query_used_shortcut, sql
    assert df.collect() == spark.sql(sql).collect()


def test_timestamp_shortcut_tz_independent(engine, spark):
    """MIN/MAX(ts) answered from footer stats must equal the scan answer
    even when the driver's OS timezone is not UTC (ADVICE r1: the old
    path built the literal via TimestampType.toInternal on a naive
    datetime, which consults time.mktime/OS TZ; footer stats are UTC
    instants).  Both sides collect through the same fromInternal, so a
    TZ-dependent literal shows up as a differential mismatch here."""
    import os as _os
    import time as _time

    sql = "SELECT MIN(ts) AS lo, MAX(ts) AS hi FROM events"
    old_tz = _os.environ.get("TZ")
    _os.environ["TZ"] = "America/New_York"
    _time.tzset()
    try:
        fast = engine.sql(sql)
        assert engine.last_query_used_shortcut
        assert fast.collect() == spark.sql(sql).collect()
    finally:
        if old_tz is None:
            _os.environ.pop("TZ", None)
        else:
            _os.environ["TZ"] = old_tz
        _time.tzset()


def test_float_minmax_never_trusted(engine, tmp_path, spark):
    """A float column containing NaN: footer min/max ignore NaN but
    Spark's MIN/MAX rank NaN above every value — the shortcut must not
    fire and the scan answer (NaN max) must come through (ADVICE r1)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / "nanny.parquet")
    # build the array directly — pandas->arrow would turn NaN into NULL
    pq.write_table(
        pa.table({"x": pa.array([1.0, float("nan"), 3.0], pa.float64())}), path
    )
    from zarr_datafusion_spark.stats.parquet_stats import parquet_table_stats

    stats = parquet_table_stats(path)
    assert "x" not in stats.column_min_max  # float bounds excluded
    spark.read.parquet(path).createOrReplaceTempView("nanny")
    try:
        engine._stats["nanny"] = stats
        row = engine.sql("SELECT MIN(x) AS lo, MAX(x) AS hi FROM nanny").collect()[0]
        assert not engine.last_query_used_shortcut
        assert row.lo == 1.0 and np.isnan(row.hi)
    finally:
        engine._stats.pop("nanny", None)
        spark.catalog.dropTempView("nanny")


def test_zarr_store_shortcut(engine, spark, tmp_path):
    from zarr_datafusion_spark.zarr.writer import synthetic_weather_arrays, write_store

    store = write_store(str(tmp_path / "w"), synthetic_weather_arrays())
    engine.register_zarr("weather_sc", store)

    fast = engine.sql("SELECT COUNT(*) AS n, MIN(time) AS t0, MAX(lat) AS la FROM weather_sc")
    assert engine.last_query_used_shortcut
    row = fast.collect()[0]
    assert (row.n, row.t0, row.la) == (700, 0, 9)
    # differential vs the real scan
    assert row == spark.sql(
        "SELECT COUNT(*) AS n, MIN(time) AS t0, MAX(lat) AS la FROM weather_sc"
    ).collect()[0]


def test_data_var_minmax_shortcut(engine, spark):
    """A8 extended to DATA variables (r9): registering with
    ``data_filter_pushdown=True`` folds the chunk-row stats into the
    table's min/max, so MIN/MAX over a data variable answers scan-free
    — the reference's stats stop at coordinates (zarr.rs:191-254).
    Without the flag, data-var MIN/MAX must still fall through."""
    from zarr_datafusion_spark.operators.zarr_queries import trending_store

    engine.register_zarr("trend_plain", trending_store())
    df = engine.sql("SELECT MIN(pressure) AS lo FROM trend_plain")
    assert not engine.last_query_used_shortcut  # coords-only stats
    assert df.collect()[0].lo == 1000

    engine.register_zarr(
        "trend_sc", trending_store(), data_filter_pushdown=True
    )
    fast = engine.sql(
        "SELECT MIN(pressure) AS lo, MAX(pressure) AS hi, "
        "COUNT(*) AS n FROM trend_sc"
    )
    assert engine.last_query_used_shortcut
    row = fast.collect()[0]
    # pressure = 1000 + 10*time + lat + lon over 12 x 10 x 14
    assert (row.lo, row.hi, row.n) == (1000, 1000 + 110 + 9 + 13, 12 * 10 * 14)
    # the answer is a local relation: no store scan in the plan
    plan = fast._jdf.queryExecution().executedPlan().toString()
    assert plan.startswith("LocalTableScan") and "BatchScan" not in plan
    # differential vs the real scan
    assert row == spark.sql(
        "SELECT MIN(pressure) AS lo, MAX(pressure) AS hi, "
        "COUNT(*) AS n FROM trend_sc"
    ).collect()[0]


def test_registered_view_is_multi_query_safe(engine, spark):
    """ADVICE r9 (medium): ``register_zarr(data_filter_pushdown=True)``
    must register the VIEW in the safe lazy mode — eager narrowing
    bakes a filtered query's pruned partition set into Spark's
    per-relation plan cache, and a registered table is inherently
    multi-query.  A filtered query followed by a full COUNT against
    the SAME view must see every row (the old eager registration could
    silently replay the narrowed partitions)."""
    from zarr_datafusion_spark.operators.zarr_queries import trending_store

    engine.register_zarr("trend_mq", trending_store(), data_filter_pushdown=True)
    # 1) a filtered query that (under eager+data pruning) narrows to
    #    half the outer chunk rows
    narrowed = spark.sql(
        "SELECT COUNT(*) AS n FROM trend_mq WHERE pressure >= 1075"
    ).collect()[0]
    assert narrowed.n == 721
    # 2) the same VIEW must still serve the full table afterwards —
    #    spark.sql bypasses the engine's stats shortcut, forcing a scan
    full = spark.sql("SELECT COUNT(*) AS n FROM trend_mq").collect()[0]
    assert full.n == 12 * 10 * 14
    # and the stats-folding half still works: scan-free MIN/MAX answers
    fast = engine.sql("SELECT MAX(pressure) AS hi FROM trend_mq")
    assert engine.last_query_used_shortcut
    assert fast.collect()[0].hi == 1000 + 110 + 9 + 13


def test_data_var_shortcut_withheld_for_nan_floats(engine, spark, tmp_path):
    """A float data variable containing ANY NaN must NOT shortcut:
    Spark sorts NaN above every number, so MAX(col) is NaN while the
    NaN-ignoring chunk stats are not — the guard falls through to the
    full plan, which answers Spark's own semantics."""
    import math

    import numpy as np

    from zarr_datafusion_spark.zarr.writer import write_store

    vals = np.arange(12.0, dtype=np.float64).reshape(3, 4)
    vals[1, 2] = np.nan
    store = write_store(
        str(tmp_path / "nanstore"),
        {
            "t": (np.arange(3, dtype=np.int64), (3,)),
            "x": (np.arange(4, dtype=np.int64), (4,)),
            "v": (vals, (1, 4)),
        },
    )
    engine.register_zarr("nan_sc", store, data_filter_pushdown=True)
    df = engine.sql("SELECT MAX(v) AS hi FROM nan_sc")
    assert not engine.last_query_used_shortcut
    assert math.isnan(df.collect()[0].hi)


def test_registered_table_uses_shortcut(engine):
    df = engine.sql("SELECT COUNT(*) AS n FROM region")
    # region was registered via register_parquet_dir -> shortcut fires
    assert engine.last_query_used_shortcut
    assert df.collect()[0].n == 5


def test_unknown_table_falls_through(engine, spark):
    """A table the engine has no cached stats for (registered directly
    with Spark, not through the engine) must fall through to Catalyst —
    and still answer correctly."""
    spark.range(7).createOrReplaceTempView("no_stats_table")
    try:
        df = engine.sql("SELECT COUNT(*) AS n FROM no_stats_table")
        assert not engine.last_query_used_shortcut
        assert df.collect()[0].n == 7
    finally:
        spark.catalog.dropTempView("no_stats_table")


def test_zarr_string_coord_shortcut(engine, spark, tmp_path):
    """MIN/MAX over a STRING coordinate answers scan-free from the
    (lexicographic) coord stats — new with r4 string-coordinate
    support; differential against the real scan."""
    from tests.test_zarr_source import _station_store

    engine.register_zarr("strsc", _station_store(tmp_path))
    fast = engine.sql(
        "SELECT COUNT(*) AS n, MIN(station) AS lo, MAX(station) AS hi FROM strsc"
    )
    assert engine.last_query_used_shortcut
    row = fast.collect()[0]
    assert (row.n, row.lo, row.hi) == (24, "st00", "st05")
    assert row == spark.sql(
        "SELECT COUNT(*) AS n, MIN(station) AS lo, MAX(station) AS hi FROM strsc"
    ).collect()[0]


def test_zarr_datetime_coord_shortcut(engine, spark, tmp_path):
    """r7: MIN/MAX over a datetime64 coordinate answers scan-free —
    the A8 rewrite extended to the most common axis type.  Bounds are
    recorded in the scan's µs OUTPUT domain (the same numpy-astype
    floor the reader emits), so the shortcut literal equals the
    full-scan answer even for ns stores with sub-µs ticks, and the
    TZ-safe timestamp_micros literal path applies (pre-1970 included)."""
    import numpy as np

    from zarr_datafusion_spark.zarr.writer import write_store

    times = np.array(
        [
            "1969-12-31T23:59:59.999999500",  # floor -> ...59.999999
            "2024-01-01T06:00:00",
            "2024-06-30T12:00:00.000000300",  # floor -> ...00.000000
        ],
        dtype="M8[ns]",
    )
    store = write_store(
        str(tmp_path / "dtsc"),
        {
            "time": (times, (3,)),
            "cell": (np.arange(2, dtype=np.int64), (2,)),
            "temp": (np.arange(6, dtype=np.int64).reshape(3, 2), (1, 2)),
        },
    )
    engine.register_zarr("dt_sc", store)
    sql = "SELECT MIN(time) AS lo, MAX(time) AS hi FROM dt_sc"
    fast = engine.sql(sql)
    assert engine.last_query_used_shortcut
    assert "Zarr" not in plan_text(fast), "shortcut plan must not scan"
    assert fast.collect() == spark.sql(sql).collect()
