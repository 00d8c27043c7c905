"""Zarr source parity tests.

Mirrors the reference's integration suites:
* format parity v2≡v3, compressed≡plain (``tests/integration_formats.rs``)
* flattening semantics: 700 rows, row-major coord expansion
  (``tests/integration_query.rs``, ``README.md:23-34``)
* pushdown row counts incl. empty-result short-circuit
  (``tests/integration_pushdown.rs:179-302``)
"""

from __future__ import annotations

import contextlib

import numpy as np
import pytest
from pyspark.sql import functions as F

from tests.conftest import plan_text
from zarr_datafusion_spark.zarr import storage as st
from zarr_datafusion_spark.zarr.writer import synthetic_weather_arrays, write_store

ARRAYS = synthetic_weather_arrays()
NTIME, NLAT, NLON = 7, 10, 10


@pytest.fixture(scope="session")
def stores(tmp_path_factory):
    base = tmp_path_factory.mktemp("zarr_stores")
    variants = {
        "v2_plain": dict(zarr_format=2, compression=None),
        "v2_zlib": dict(zarr_format=2, compression="zlib"),
        "v3_plain": dict(zarr_format=3, compression=None),
        "v3_gzip": dict(zarr_format=3, compression="gzip"),
        # the reference's parity matrix is {v2,v3} x {plain, blosc-lz4}
        # (tests/integration_formats.rs) — readable here via the
        # pure-Python blosc decoder in zarr/lz4blosc.py
        "v2_blosc_lz4": dict(zarr_format=2, compression="blosc-lz4"),
        "v3_blosc_lz4": dict(zarr_format=3, compression="blosc-lz4"),
    }
    return {
        name: write_store(str(base / name), ARRAYS, **kw)
        for name, kw in variants.items()
    }


def expected_flat():
    """Row-major flattening computed independently of the engine."""
    time, lat, lon = ARRAYS["time"][0], ARRAYS["lat"][0], ARRAYS["lon"][0]
    temp, hum = ARRAYS["temperature"][0], ARRAYS["humidity"][0]
    rows = {
        "time": np.repeat(time, NLAT * NLON),
        "lat": np.tile(np.repeat(lat, NLON), NTIME),
        "lon": np.tile(lon, NTIME * NLAT),
        "temperature": temp.reshape(-1),
        "humidity": hum.reshape(-1),
    }
    return rows


# ---------------------------------------------------------------------------
# Metadata
# ---------------------------------------------------------------------------


def test_schema_inference(stores):
    from zarr_datafusion_spark.zarr import discover_arrays, infer_spark_schema

    for name, path in stores.items():
        meta = discover_arrays(path)
        assert [c.name for c in meta.coords] == ["time", "lat", "lon"], name
        assert [v.name for v in meta.data_vars] == ["humidity", "temperature"], name
        assert meta.total_rows == 700
        assert meta.coord_min_max["time"] == (0, 6)
        assert meta.coord_min_max["lat"] == (0, 9)
        schema = infer_spark_schema(meta)
        assert [f.name for f in schema.fields] == [
            "time",
            "lat",
            "lon",
            "humidity",
            "temperature",
        ]
        assert [f.nullable for f in schema.fields] == [False] * 3 + [True] * 2
        assert {f.dataType.simpleString() for f in schema.fields} == {"bigint"}


def test_version_detection(stores):
    from zarr_datafusion_spark.zarr import detect_zarr_version

    assert detect_zarr_version(stores["v2_plain"]) == 2
    assert detect_zarr_version(stores["v3_plain"]) == 3


# ---------------------------------------------------------------------------
# Flattening correctness + format parity
# ---------------------------------------------------------------------------


@pytest.mark.parametrize(
    "variant",
    ["v2_plain", "v2_zlib", "v3_plain", "v3_gzip", "v2_blosc_lz4", "v3_blosc_lz4"],
)
def test_flatten_matches_expected(spark, stores, variant):
    from zarr_datafusion_spark.zarr import read_zarr

    df = read_zarr(spark, stores[variant])
    pdf = df.toPandas()
    assert len(pdf) == 700
    exp = expected_flat()
    for col, values in exp.items():
        np.testing.assert_array_equal(pdf[col].to_numpy(), values, err_msg=f"{variant}:{col}")


def test_format_parity_v2_v3(spark, stores):
    """v2 ≡ v3 ≡ compressed variants (integration_formats.rs)."""
    from zarr_datafusion_spark.zarr import read_zarr

    frames = {
        name: read_zarr(spark, path).toPandas() for name, path in stores.items()
    }
    base = frames["v2_plain"]
    for name, pdf in frames.items():
        assert base.equals(pdf), f"{name} differs from v2_plain"


# ---------------------------------------------------------------------------
# Pushdowns (integration_pushdown.rs)
# ---------------------------------------------------------------------------


def test_filter_pushdown_counts(spark, stores):
    from pyspark.sql import functions as F

    from zarr_datafusion_spark.zarr import read_zarr

    df = read_zarr(spark, stores["v2_plain"], eager_pushdown=True)
    assert df.filter(F.col("time") == 0).count() == 100
    assert df.filter((F.col("time") == 0) & (F.col("lat") == 0)).count() == 10
    assert (
        df.filter(
            (F.col("time") == 0) & (F.col("lat") == 0) & (F.col("lon") == 3)
        ).count()
        == 1
    )
    # Unmatched literal -> empty short-circuit (filter.rs:222-230)
    assert df.filter(F.col("time") == 99).count() == 0
    # Filter on a data variable is NOT pushed (re-applied by Spark)
    assert df.filter(F.col("temperature") > 0).count() == int(
        (ARRAYS["temperature"][0] > 0).sum()
    )


def test_filter_pushdown_values(spark, stores):
    from pyspark.sql import functions as F

    from zarr_datafusion_spark.zarr import read_zarr

    df = read_zarr(spark, stores["v3_gzip"], eager_pushdown=True)
    got = (
        df.filter((F.col("time") == 2) & (F.col("lat") == 5))
        .orderBy("lon")
        .toPandas()
    )
    exp_temp = ARRAYS["temperature"][0][2, 5, :]
    np.testing.assert_array_equal(got["temperature"].to_numpy(), exp_temp)
    assert (got["time"] == 2).all() and (got["lat"] == 5).all()


def test_limit_pushdown(spark, stores):
    from zarr_datafusion_spark.zarr import read_zarr

    df = read_zarr(spark, stores["v2_plain"], limit=150)
    pdf = df.toPandas()
    assert len(pdf) == 150
    exp = expected_flat()
    # LIMIT takes the FIRST n rows in row-major order (coord.rs:112-158)
    np.testing.assert_array_equal(pdf["time"].to_numpy(), exp["time"][:150])
    np.testing.assert_array_equal(pdf["temperature"].to_numpy(), exp["temperature"][:150])


def test_projection_pushdown(spark, stores):
    from zarr_datafusion_spark.zarr import read_zarr

    df = read_zarr(spark, stores["v2_plain"], columns=["time", "temperature"])
    assert df.columns == ["time", "temperature"]
    assert df.count() == 700


def test_sql_registration(spark, stores):
    """SQL DDL path (reference A9 CREATE EXTERNAL TABLE — session-scoped
    registration; Spark analog is a temp view USING zarr)."""
    from zarr_datafusion_spark.zarr import register_zarr_source

    register_zarr_source(spark)
    spark.sql("DROP VIEW IF EXISTS weather")
    spark.sql(
        f"CREATE TEMPORARY VIEW weather USING zarr OPTIONS (path '{stores['v2_plain']}')"
    )
    try:
        assert spark.sql("SELECT COUNT(*) AS n FROM weather").collect()[0].n == 700
        got = spark.sql(
            "SELECT lat, AVG(temperature) AS avg_t FROM weather "
            "WHERE time = 3 GROUP BY lat ORDER BY lat"
        ).toPandas()
        exp = ARRAYS["temperature"][0][3].mean(axis=1)
        np.testing.assert_allclose(got["avg_t"].to_numpy(), exp)
    finally:
        spark.sql("DROP VIEW IF EXISTS weather")


def test_read_zarr_registers_source_once_per_session(spark, stores, monkeypatch):
    from pyspark.sql.datasource import DataSourceRegistration

    from zarr_datafusion_spark.zarr import read_zarr

    calls = []
    real_register = DataSourceRegistration.register

    def counting_register(self, data_source):
        calls.append(data_source.name())
        return real_register(self, data_source)

    monkeypatch.setattr(DataSourceRegistration, "register", counting_register)
    # a new session has its own data-source registry; Spark checks
    # registrations against the ACTIVE session's, so make it active
    session = spark.newSession()
    jvm_session = spark._jvm.org.apache.spark.sql.SparkSession
    jvm_session.setActiveSession(session._jsparkSession)
    try:
        assert read_zarr(session, stores["v2_plain"]).count() == 700
        assert read_zarr(session, stores["v3_plain"], columns=["time"]).count() == 700
    finally:
        jvm_session.setActiveSession(spark._jsparkSession)
    assert calls == ["zarr"]


def test_engine_register_zarr(spark, stores):
    from zarr_datafusion_spark.engine import Engine

    eng = Engine(spark)
    eng.register_zarr("weather_view", stores["v3_plain"])
    assert eng.table_stats("weather_view").row_count == 700
    assert eng.table_stats("weather_view").column_min_max["lon"] == (0, 9)
    n = spark.sql("SELECT COUNT(*) AS n FROM weather_view").collect()[0].n
    assert n == 700


def test_dtype_breadth_roundtrip(spark, tmp_path):
    """Every dtype the schema mapper declares (SURVEY §1.2 table) must
    survive write -> scan: signed ints, unsigned (widened; uint64 ->
    decimal(20,0) with values above int64 max), float16 (upcast), bool."""
    import numpy as np

    from zarr_datafusion_spark.zarr import read_zarr
    from zarr_datafusion_spark.zarr.writer import write_store

    x = np.arange(3, dtype=np.int64)
    y = np.arange(2, dtype=np.int64)
    big = np.uint64(2**63 + 7)
    arrays = {
        "x": (x, (3,)),
        "y": (y, (2,)),
        "v_i8": (np.arange(6, dtype=np.int8).reshape(3, 2) - 3, (1, 2)),
        "v_i16": (np.arange(6, dtype=np.int16).reshape(3, 2) * 100, (1, 2)),
        "v_u8": (np.arange(6, dtype=np.uint8).reshape(3, 2) + 200, (1, 2)),
        "v_u32": (
            np.full((3, 2), 2**31 + 5, dtype=np.uint32), (1, 2)),
        "v_u64": (np.full((3, 2), big, dtype=np.uint64), (1, 2)),
        "v_f16": (np.arange(6, dtype=np.float16).reshape(3, 2) / 4, (1, 2)),
        "v_f32": (np.arange(6, dtype=np.float32).reshape(3, 2) / 8, (1, 2)),
        "v_bool": (np.array([[True, False]] * 3), (1, 2)),
    }
    store = str(tmp_path / "dtypes.zarr")
    write_store(store, arrays)
    df = read_zarr(spark, store)
    schema = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    assert schema["v_i8"] == "tinyint" and schema["v_i16"] == "smallint"
    assert schema["v_u8"] == "smallint" and schema["v_u32"] == "bigint"
    assert schema["v_u64"] == "decimal(20,0)"
    assert schema["v_f16"] == "float" and schema["v_f32"] == "float"
    assert schema["v_bool"] == "boolean"
    rows = df.orderBy("x", "y").collect()
    assert len(rows) == 6
    assert rows[0].v_i8 == -3 and rows[0].v_u8 == 200
    assert int(rows[0].v_u64) == 2**63 + 7  # survives beyond int64 range
    assert rows[0].v_bool is True and rows[1].v_bool is False
    assert abs(rows[2].v_f16 - 0.5) < 1e-6


def test_sink_roundtrip(spark, tmp_path):
    """Distributed Zarr sink: flattened df -> chunked v2 store -> scan
    reproduces the exact cell mapping (sink.py; beyond-reference — the
    reference has no sink, main.rs:169)."""
    from zarr_datafusion_spark.zarr import read_zarr, write_zarr
    from zarr_datafusion_spark.operators.zarr_queries import fixture_store

    src = read_zarr(spark, fixture_store(2))
    dst = str(tmp_path / "rt.zarr")
    info = write_zarr(src, dst, coords=["time", "lat", "lon"])
    assert info["slabs"] == 7 and info["chunk_files"] == 14
    back = read_zarr(spark, dst)
    assert sorted(map(tuple, src.collect())) == sorted(map(tuple, back.collect()))


_SINK_OUTSIDE_CHECKOUT = """
import sys
sys.path.insert(0, sys.argv[1])  # the driver only; workers get no path
from pyspark.sql import SparkSession
from zarr_datafusion_spark.zarr import read_zarr, write_zarr
spark = (SparkSession.builder.master("local[1]")
         .config("spark.ui.enabled", "false")
         .config("spark.driver.memory", "512m").getOrCreate())
df = spark.createDataFrame(
    [(t, x, float(t * 10 + x)) for t in range(3) for x in range(4)],
    "time long, x long, v double")
write_zarr(df, "store.zarr", coords=["time", "x"])
print(sorted(r.v for r in read_zarr(spark, "store.zarr").collect()))
spark.stop()
"""


def test_sink_workers_import_package_outside_checkout(tmp_path):
    """The sink ships the package to executor Python workers itself: a
    ``write_zarr`` that is a fresh session's first Zarr call succeeds
    from a cwd outside the checkout with the checkout off PYTHONPATH
    (the workers would otherwise fail with ModuleNotFoundError)."""
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        p
        for p in env.get("PYTHONPATH", "").split(os.pathsep)
        if p and os.path.realpath(p) != os.path.realpath(repo)
    )
    out = subprocess.run(
        [sys.executable, "-c", _SINK_OUTSIDE_CHECKOUT, repo],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    want = sorted(float(t * 10 + x) for t in range(3) for x in range(4))
    assert out.stdout.strip().splitlines()[-1] == str(want)


def test_sink_roundtrip_v3(spark, tmp_path):
    """v3 sink mode: flattened df -> per-node zarr.json + c/<i>/...
    chunk keys + consolidated root group -> the v3 read path scans it
    back to the exact cell mapping.  The root group (with embedded
    consolidated metadata) is written LAST as the completion marker."""
    import json
    import os

    from zarr_datafusion_spark.operators.zarr_queries import fixture_store
    from zarr_datafusion_spark.zarr import read_zarr, write_zarr

    src = read_zarr(spark, fixture_store(2))
    dst = str(tmp_path / "rt3.zarr")
    info = write_zarr(src, dst, coords=["time", "lat", "lon"], zarr_format=3)
    assert info["slabs"] == 7 and info["chunk_files"] == 14
    # v3 layout on disk: no v2 markers, consolidated root, v3 chunk keys
    assert not os.path.exists(os.path.join(dst, ".zgroup"))
    root = json.load(open(os.path.join(dst, "zarr.json")))
    assert root["node_type"] == "group"
    assert "temperature" in root["consolidated_metadata"]["metadata"]
    assert os.path.exists(os.path.join(dst, "temperature", "c", "0", "0", "0"))
    back = read_zarr(spark, dst)
    assert sorted(map(tuple, src.collect())) == sorted(map(tuple, back.collect()))


def test_sink_roundtrip_v3_sharded(spark, tmp_path):
    """Sharded v3 sink mode (shard_outer): 7 time slabs packed 3 per
    sharding_indexed shard file -> 3 shard files per variable (the last
    one partial, zero-padded like the single-node sharded writer), each
    holding (1, lat, lon) inner chunks + the ZEP-2 end index; the v3
    shard-decoding read path scans it back to the exact cell mapping."""
    import json
    import os

    from zarr_datafusion_spark.operators.zarr_queries import fixture_store
    from zarr_datafusion_spark.zarr import read_zarr, write_zarr

    src = read_zarr(spark, fixture_store(2))
    dst = str(tmp_path / "rt3s.zarr")
    info = write_zarr(
        src, dst, coords=["time", "lat", "lon"], zarr_format=3, shard_outer=3
    )
    # ceil(7/3) = 3 shards x 2 data vars
    assert info["slabs"] == 3 and info["chunk_files"] == 6
    meta = json.load(open(os.path.join(dst, "temperature", "zarr.json")))
    assert meta["codecs"][0]["name"] == "sharding_indexed"
    assert meta["codecs"][0]["configuration"]["chunk_shape"][0] == 1
    assert meta["chunk_grid"]["configuration"]["chunk_shape"][0] == 3
    assert os.path.exists(os.path.join(dst, "temperature", "c", "2", "0", "0"))
    assert not os.path.exists(os.path.join(dst, "temperature", "c", "3", "0", "0"))
    back = read_zarr(spark, dst)
    assert sorted(map(tuple, src.collect())) == sorted(map(tuple, back.collect()))


import pytest as _pytest


@_pytest.mark.parametrize(
    "fmt,comp,shard",
    [
        (2, "zlib", None),
        (2, "gzip", None),
        (2, "blosc-lz4", None),
        (3, "gzip", None),
        (3, "blosc-lz4", None),
        (3, "gzip", 3),  # compressed inner chunks inside shards
    ],
)
def test_sink_roundtrip_compressed(spark, tmp_path, fmt, comp, shard):
    """Compressed sink chunks (executor-side codec) must roundtrip
    through the engine's own decode path for every supported
    (format, codec, sharding) combination, and the compressed store
    must actually be smaller than the raw cells."""
    import os

    import numpy as np

    from zarr_datafusion_spark.operators.zarr_queries import fixture_store
    from zarr_datafusion_spark.zarr import read_zarr, write_zarr

    src = read_zarr(spark, fixture_store(2))
    dst = str(tmp_path / f"rt_{fmt}_{comp}_{shard}.zarr")
    write_zarr(
        src, dst, coords=["time", "lat", "lon"], zarr_format=fmt,
        shard_outer=shard, compression=comp,
    )
    back = read_zarr(spark, dst)
    assert sorted(map(tuple, src.collect())) == sorted(map(tuple, back.collect()))
    n_cells = src.count()
    raw_bytes = n_cells * np.dtype(np.float64).itemsize  # per data var
    chunk_bytes = sum(
        os.path.getsize(os.path.join(r, f))
        for r, _, fs in os.walk(os.path.join(dst, "temperature"))
        for f in fs
        if not f.startswith((".z", "zarr"))
    )
    assert chunk_bytes < raw_bytes, "compression had no effect"


@_pytest.mark.parametrize(
    "fmt,comp", [(2, None), (2, "zlib"), (3, "gzip")]
)
def test_sink_append_outer_slabs(spark, tmp_path, fmt, comp):
    """append_zarr: write the first 5 time slabs, append the last 2 —
    the store must then scan back equal to the full fixture, no
    existing chunk rewritten (chunk files 0-4 keep their mtimes), new
    chunks encoded with the store's own compression, shape + outer
    coord + consolidated metadata all patched."""
    import os

    from zarr_datafusion_spark.operators.zarr_queries import fixture_store
    from zarr_datafusion_spark.zarr import read_zarr, write_zarr
    from zarr_datafusion_spark.zarr.sink import append_zarr

    src = read_zarr(spark, fixture_store(2))
    times = sorted(r[0] for r in src.select("time").distinct().collect())
    head, tail = times[:5], times[5:]
    dst = str(tmp_path / f"app_{fmt}.zarr")
    write_zarr(
        src.filter(F.col("time").isin(head)), dst,
        coords=["time", "lat", "lon"], zarr_format=fmt, compression=comp,
    )
    key0 = (
        os.path.join(dst, "temperature", "0.0.0")
        if fmt == 2
        else os.path.join(dst, "temperature", "c", "0", "0", "0")
    )
    mtime0 = os.path.getmtime(key0)
    info = append_zarr(src.filter(F.col("time").isin(tail)), dst)
    assert (info["appended_slabs"], info["outer_size"]) == (2, 7)
    assert info["bytes_written"] > 0
    assert os.path.getmtime(key0) == mtime0, "existing chunk rewritten"
    back = read_zarr(spark, dst)
    assert sorted(map(tuple, src.collect())) == sorted(map(tuple, back.collect()))


def test_sink_append_rejects_non_monotonic_and_sharded(spark, tmp_path):
    import pytest

    from zarr_datafusion_spark.operators.zarr_queries import fixture_store
    from zarr_datafusion_spark.zarr import read_zarr, write_zarr
    from zarr_datafusion_spark.zarr.sink import append_zarr

    src = read_zarr(spark, fixture_store(2))
    times = sorted(r[0] for r in src.select("time").distinct().collect())
    dst = str(tmp_path / "mono.zarr")
    write_zarr(
        src.filter(F.col("time").isin(times[2:])), dst,
        coords=["time", "lat", "lon"],
    )
    with pytest.raises(ValueError, match="monotonic"):
        append_zarr(src.filter(F.col("time").isin(times[:2])), dst)

    sharded = str(tmp_path / "shard.zarr")
    write_zarr(
        src, sharded, coords=["time", "lat", "lon"], zarr_format=3,
        shard_outer=3,
    )
    with pytest.raises(NotImplementedError, match="sharded"):
        append_zarr(src, sharded)


def test_sink_rejects_empty_input(spark, tmp_path):
    """ADVICE r8: an empty DataFrame must fail with a CLEAR error —
    not pass the dense-grid check (0 rows == 0 cells) and then die in
    repartition(0) with an opaque Spark message."""
    import pytest

    from zarr_datafusion_spark.operators.zarr_queries import fixture_store
    from zarr_datafusion_spark.zarr import read_zarr, write_zarr
    from zarr_datafusion_spark.zarr.sink import append_zarr

    src = read_zarr(spark, fixture_store(2))
    empty = src.filter(F.lit(False))
    with pytest.raises(ValueError, match="nothing to write"):
        write_zarr(empty, str(tmp_path / "e.zarr"), coords=["time", "lat", "lon"])

    dst = str(tmp_path / "full.zarr")
    write_zarr(src, dst, coords=["time", "lat", "lon"])
    with pytest.raises(ValueError, match="nothing to append"):
        append_zarr(empty, dst)


@_pytest.mark.parametrize(
    "filters",
    [
        ({"id": "delta", "dtype": "<i8"},),
        ({"id": "shuffle", "elementsize": 8},),
        ({"id": "delta", "dtype": "<i8"}, {"id": "shuffle", "elementsize": 8}),
    ],
    ids=["delta", "shuffle", "delta+shuffle"],
)
def test_v2_filter_write_roundtrip(spark, tmp_path, filters):
    """Writer-side v2 filter chains (delta, shuffle, chained — encode
    order) must invert exactly through the reader's
    `_apply_v2_filters_inverse`, including with zlib on top, and the
    full Spark scan must reproduce the cells."""
    import numpy as np

    from zarr_datafusion_spark.zarr import read_zarr
    from zarr_datafusion_spark.zarr.writer import write_v2_array

    store = str(tmp_path / "filt.zarr")
    import json
    import os

    os.makedirs(store)
    with open(os.path.join(store, ".zgroup"), "w") as f:
        json.dump({"zarr_format": 2}, f)
    rng = np.random.default_rng(7)
    t = np.arange(6, dtype=np.int64) * 100
    y = np.arange(5, dtype=np.int64)
    v = rng.integers(-1000, 1000, size=(6, 5)).astype(np.int64)
    write_v2_array(store, "t", t, (6,))
    write_v2_array(store, "y", y, (5,))
    write_v2_array(
        store, "v", v, (2, 5), compression="zlib", filters=filters
    )
    got = read_zarr(spark, store).orderBy("t", "y").collect()
    want = [
        (int(t[i]), int(y[j]), int(v[i, j]))
        for i in range(6)
        for j in range(5)
    ]
    assert [tuple(r) for r in got] == want


def test_zarr_stream_tails_appends_exactly_once(spark, tmp_path):
    """Streaming Zarr source: an availableNow run over a 5-slab store
    writes 500 rows to a parquet sink; after append_zarr adds 2 slabs,
    a SECOND availableNow run with the SAME checkpoint emits ONLY the
    new 200 rows (offset recovery — no re-read, no duplicates), and
    the sink's union equals the full batch scan."""
    import os

    from zarr_datafusion_spark.operators.zarr_queries import fixture_store
    from zarr_datafusion_spark.zarr import (
        append_zarr,
        read_zarr,
        read_zarr_stream,
        write_zarr,
    )

    src = read_zarr(spark, fixture_store(2))
    times = sorted(r[0] for r in src.select("time").distinct().collect())
    store = str(tmp_path / "grow.zarr")
    write_zarr(
        src.filter(F.col("time").isin(times[:5])), store,
        coords=["time", "lat", "lon"],
    )
    out = str(tmp_path / "tail_out")
    ckpt = str(tmp_path / "tail_ckpt")

    def run_once():
        q = (
            read_zarr_stream(spark, store, target_partitions=4)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()
    assert spark.read.parquet(out).count() == 500
    append_zarr(src.filter(F.col("time").isin(times[5:])), store)
    run_once()
    got = spark.read.parquet(out)
    assert got.count() == 700  # 200 new rows, zero duplicates
    assert sorted(map(tuple, got.select(*src.columns).collect())) == sorted(
        map(tuple, src.collect())
    )
    # a third run with nothing new must be a no-op
    run_once()
    assert spark.read.parquet(out).count() == 700


def test_sink_rejects_unsupported_compression(spark, tmp_path):
    import pytest

    from zarr_datafusion_spark.operators.zarr_queries import fixture_store
    from zarr_datafusion_spark.zarr import read_zarr, write_zarr

    src = read_zarr(spark, fixture_store(2))
    with pytest.raises(ValueError, match="compression"):
        write_zarr(src, str(tmp_path / "z.zarr"), coords=["time", "lat", "lon"],
                   zarr_format=3, compression="zlib")  # v3 has no zlib codec


def test_sink_shard_outer_requires_v3(spark, tmp_path):
    import pytest

    from zarr_datafusion_spark.operators.zarr_queries import fixture_store
    from zarr_datafusion_spark.zarr import read_zarr, write_zarr

    src = read_zarr(spark, fixture_store(2))
    with pytest.raises(ValueError, match="zarr_format=3"):
        write_zarr(src, str(tmp_path / "x.zarr"), coords=["time", "lat", "lon"],
                   shard_outer=3)
    with pytest.raises(ValueError, match=">= 2"):
        write_zarr(src, str(tmp_path / "y.zarr"), coords=["time", "lat", "lon"],
                   zarr_format=3, shard_outer=1)


def test_sink_rejects_non_dense(spark, tmp_path):
    from zarr_datafusion_spark.zarr import read_zarr, write_zarr
    from zarr_datafusion_spark.operators.zarr_queries import fixture_store
    import pytest

    # value-dependent filter punches irregular holes in the grid
    src = read_zarr(spark, fixture_store(2)).filter("temperature > 0")
    with pytest.raises(Exception, match="dense"):
        write_zarr(src, str(tmp_path / "bad.zarr"), coords=["time", "lat", "lon"])


def test_sink_rejects_data_sized_axis(spark, tmp_path, monkeypatch):
    """VERDICT r6: the sink's driver-side coordinate collect is bounded
    — a column with more distinct values than the per-axis cap must
    fail loudly BEFORE any unbounded collect (cap shrunk for the test;
    the limit(cap+1) pass is what bounds the transfer)."""
    import pytest

    from zarr_datafusion_spark.zarr import sink, write_zarr

    monkeypatch.setattr(sink, "MAX_COORD_VALUES_PER_AXIS", 5)
    df = spark.range(24).selectExpr(
        "id DIV 2 AS t",  # 12 distinct values > the 5-value cap
        "id % 2 AS x",
        "CAST(id * 2 AS DOUBLE) AS temperature",
    )
    with pytest.raises(ValueError, match="axis-sized"):
        write_zarr(df, str(tmp_path / "cap.zarr"), coords=["t", "x"])


def test_4d_flatten_order(spark, tmp_path):
    """4-D store (the reference's ERA5 shape class, time x hybrid x lat
    x lon): row-major flattening must match the numpy cell layout."""
    import numpy as np

    from zarr_datafusion_spark.zarr import read_zarr
    from zarr_datafusion_spark.zarr.writer import write_store

    # distinct dim sizes: shape→coord matching is unambiguous (the
    # reference's dimension-order inference has the same requirement —
    # equal-size dims fall back to alphabetical order)
    data = np.arange(2 * 3 * 4 * 5, dtype=np.int64).reshape(2, 3, 4, 5)
    arrays = {
        "t": (np.arange(2, dtype=np.int64), (2,)),
        "h": (np.arange(3, dtype=np.int64), (3,)),
        "la": (np.arange(4, dtype=np.int64), (4,)),
        "lo": (np.arange(5, dtype=np.int64), (5,)),
        "v": (data, (1, 1, 4, 5)),
    }
    store = str(tmp_path / "g4.zarr")
    write_store(store, arrays)
    df = read_zarr(spark, store)
    rows = df.orderBy("t", "h", "la", "lo").collect()
    assert len(rows) == 120
    for i, r in enumerate(rows):
        t, h, la, lo = np.unravel_index(i, (2, 3, 4, 5))
        assert (r.t, r.h, r.la, r.lo) == (t, h, la, lo)
        assert r.v == data[t, h, la, lo]
    # coordinate pushdown shrinks to a single cell
    one = df.filter("t=1 AND h=0 AND la=2 AND lo=3").collect()
    assert len(one) == 1 and one[0].v == data[1, 0, 2, 3]


def test_filter_pushdown_duplicate_coord_values(spark, tmp_path):
    """Pushdown must stay a superset when a coordinate has duplicate
    values: narrowing to the first match would silently drop rows
    (Spark's re-applied filter can only remove, never restore)."""
    store = str(tmp_path / "dup.zarr")
    write_store(
        store,
        {
            "t": (np.array([0, 5, 5, 7], dtype=np.int64), (4,)),
            "x": (np.arange(3, dtype=np.int64), (3,)),
            "v": (np.arange(12, dtype=np.int64).reshape(4, 3), (1, 3)),
        },
    )
    from pyspark.sql import functions as F

    from zarr_datafusion_spark.zarr import read_zarr

    df = read_zarr(spark, store, eager_pushdown=True)
    got = df.filter(F.col("t") == 5).orderBy("v").collect()
    assert [r.v for r in got] == [3, 4, 5, 6, 7, 8]  # BOTH t=5 slabs


def test_zarr_entries_match_parquet_mirror_oracle(spark, duck):
    """Driver-contract differential for the zarr entries: each queries()
    entry must hash-match its oracle_sql twin, which reads the parquet
    mirror (independent row-major expansion of the same source arrays).
    This is the round-2 conversion of the flatten semantics from a
    rows-only check to a value-checked row (VERDICT r1 item 6)."""
    from tests.conftest import assert_frames_match
    from zarr_datafusion_spark.operators import zarr_queries as zq

    assert set(zq.ORACLE) == set(zq.QUERIES)
    for name in sorted(zq.QUERIES):
        df = zq.QUERIES[name](spark, "/root/testdata/sf0.001")
        assert_frames_match(df, duck.sql(zq.ORACLE[name]))


def test_inner_dim_splitting_era5_shape(spark, tmp_path):
    """Round-1 perf-weak fix: a store whose OUTER dim is tiny but whose
    inner dims are huge (the ERA5 class, chunks (1,1,H,W)) must not pin
    the scan to outer_size partitions.  The planner splits inner dims
    chunk-aligned first, then sub-chunk, to reach the parallelism
    target — and the split scan returns exactly the unsplit rows."""
    from zarr_datafusion_spark.zarr.datasource import ZarrDataSourceReader
    from zarr_datafusion_spark.zarr.metadata import discover_arrays, infer_spark_schema
    from zarr_datafusion_spark.zarr import read_zarr

    from zarr_datafusion_spark.zarr.chunkio import read_window

    shape = (3, 2, 240, 480)  # 691k rows: above the 64k-row floor
    rng = np.random.RandomState(7)
    temp = rng.randint(-50, 60, shape).astype(np.int64)
    store = write_store(
        str(tmp_path / "era5ish"),
        {
            "time": (np.arange(3, dtype=np.int64), (3,)),
            "hybrid": (np.arange(2, dtype=np.int64), (2,)),
            "latitude": (np.arange(240, dtype=np.int64), (240,)),
            "longitude": (np.arange(480, dtype=np.int64), (480,)),
            "temperature": (temp, (1, 1, 240, 480)),
        },
    )
    meta = discover_arrays(store)
    reader = ZarrDataSourceReader(
        infer_spark_schema(meta), {"path": store, "target_partitions": "32"}, meta
    )
    # outer alone would give 3; hybrid doubles it chunk-aligned, and the
    # sub-chunk stage takes it to the row-floor-bounded target (10)
    n_parts = len(reader.partitions())
    assert n_parts > 3, n_parts

    df = read_zarr(spark, store, target_partitions=16)
    assert df.rdd.getNumPartitions() > 3
    # split scan must return exactly the unsplit rows (no dupes/drops)
    assert df.count() == int(np.prod(shape))
    total = df.groupBy().sum("temperature").collect()[0][0]
    assert total == int(temp.sum())


# ---------------------------------------------------------------------------
# Zarr v3 sharding_indexed (ZEP-2)
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("compression", [None, "gzip", "blosc-lz4"])
def test_v3_sharded_roundtrip(tmp_path, compression):
    """Sharded v3 store (chunk files are shards of inner chunks with a
    trailing index) reads back exactly, with plain / gzip / blosc-lz4
    inner codecs — the zarr-python default layout class the reference
    reads via zarrs."""
    from zarr_datafusion_spark.zarr.chunkio import read_window
    from zarr_datafusion_spark.zarr.metadata import discover_arrays
    from zarr_datafusion_spark.zarr.writer import write_v3_array

    rng = np.random.RandomState(11)
    arr = rng.randint(-500, 500, (12, 20)).astype(np.int64)
    store = str(tmp_path / f"shard_{compression}")
    import json
    import os

    os.makedirs(store, exist_ok=True)
    write_v3_array(store, "v", arr, chunks=(6, 10), compression=compression,
                   inner_chunks=(3, 5))
    write_v3_array(store, "x", np.arange(12, dtype=np.int64), (12,))
    write_v3_array(store, "y", np.arange(20, dtype=np.int64), (20,))
    with open(os.path.join(store, "zarr.json"), "w") as f:
        json.dump({"zarr_format": 3, "node_type": "group"}, f)

    meta = discover_arrays(store)
    out = read_window(store, meta.array("v"), ((0, 12), (0, 20)))
    np.testing.assert_array_equal(out, arr)
    # windowed read crossing shard and inner-chunk boundaries
    out = read_window(store, meta.array("v"), ((2, 11), (4, 17)))
    np.testing.assert_array_equal(out, arr[2:11, 4:17])


def test_v3_shard_missing_inner_chunk_fill(tmp_path):
    """An index entry of (2^64-1, 2^64-1) marks a missing inner chunk;
    the decoder must materialize the array fill_value there."""
    import json
    import os
    import struct

    from zarr_datafusion_spark.zarr.chunkio import read_window
    from zarr_datafusion_spark.zarr.metadata import discover_arrays
    from zarr_datafusion_spark.zarr.writer import write_v3_array

    arr = np.arange(16, dtype=np.int64).reshape(4, 4)
    store = str(tmp_path / "shard_missing")
    os.makedirs(store, exist_ok=True)
    write_v3_array(store, "v", arr, chunks=(4, 4), inner_chunks=(2, 2))
    write_v3_array(store, "x", np.arange(4, dtype=np.int64), (4,))
    write_v3_array(store, "y", np.arange(10, 14, dtype=np.int64), (4,))
    with open(os.path.join(store, "zarr.json"), "w") as f:
        json.dump({"zarr_format": 3, "node_type": "group"}, f)

    # patch inner chunk (0,0)'s index entry to the missing marker
    shard_path = os.path.join(store, "v", "c", "0", "0")
    raw = bytearray(open(shard_path, "rb").read())
    idx_off = len(raw) - 4 * 16  # 4 inner chunks x (u64, u64)
    raw[idx_off : idx_off + 16] = struct.pack("<QQ", 2**64 - 1, 2**64 - 1)
    open(shard_path, "wb").write(bytes(raw))

    meta = discover_arrays(store)
    out = read_window(store, meta.array("v"), ((0, 4), (0, 4)))
    exp = arr.copy()
    exp[0:2, 0:2] = 0  # fill_value
    np.testing.assert_array_equal(out, exp)


def test_v3_shard_crc32c_index_suffix(tmp_path):
    """index_codecs including crc32c add a 4-byte suffix to the index
    (stripped, unverified) — the zarr-python default layout."""
    import json
    import os

    from zarr_datafusion_spark.zarr.chunkio import read_window
    from zarr_datafusion_spark.zarr.metadata import discover_arrays
    from zarr_datafusion_spark.zarr.writer import write_v3_array

    arr = np.arange(24, dtype=np.int64).reshape(4, 6)
    store = str(tmp_path / "shard_crc")
    os.makedirs(store, exist_ok=True)
    write_v3_array(store, "v", arr, chunks=(4, 6), inner_chunks=(2, 3))
    write_v3_array(store, "x", np.arange(4, dtype=np.int64), (4,))
    write_v3_array(store, "y", np.arange(10, 16, dtype=np.int64), (6,))
    with open(os.path.join(store, "zarr.json"), "w") as f:
        json.dump({"zarr_format": 3, "node_type": "group"}, f)

    # declare crc32c in index_codecs and append 4 checksum bytes
    meta_path = os.path.join(store, "v", "zarr.json")
    m = json.load(open(meta_path))
    m["codecs"][0]["configuration"]["index_codecs"].append({"name": "crc32c"})
    json.dump(m, open(meta_path, "w"))
    shard_path = os.path.join(store, "v", "c", "0", "0")
    with open(shard_path, "ab") as f:
        f.write(b"\x00\x00\x00\x00")

    meta = discover_arrays(store)
    out = read_window(store, meta.array("v"), ((0, 4), (0, 6)))
    np.testing.assert_array_equal(out, arr)


def test_v3_sharded_store_through_spark(spark, tmp_path):
    """Full engine path over a sharded store: flatten via read_zarr and
    compare to the plain-chunk store of the same arrays."""
    import json
    import os

    from zarr_datafusion_spark.zarr import read_zarr
    from zarr_datafusion_spark.zarr.writer import write_store, write_v3_array

    sharded = str(tmp_path / "sharded")
    os.makedirs(sharded, exist_ok=True)
    for name, (arr, chunks) in ARRAYS.items():
        inner = tuple(max(1, c // 2) for c in chunks) if name in (
            "temperature", "humidity") else None
        write_v3_array(sharded, name, arr, chunks, inner_chunks=inner)
    with open(os.path.join(sharded, "zarr.json"), "w") as f:
        json.dump({"zarr_format": 3, "node_type": "group"}, f)
    plain = write_store(str(tmp_path / "plain"), ARRAYS, zarr_format=3)

    a = read_zarr(spark, sharded).toPandas()
    b = read_zarr(spark, plain).toPandas()
    assert a.equals(b)


# ---------------------------------------------------------------------------
# v2 filters, v3 transpose, consolidated metadata
# ---------------------------------------------------------------------------


def test_v2_filter_chain_delta_shuffle(tmp_path):
    """Zarr v2 numcodecs filter chain: delta then shuffle, zlib
    compressed — encoded by hand per the numcodecs algorithms, decoded
    by the reader (filters inverted in reverse order after
    decompression)."""
    import json
    import os
    import zlib

    from zarr_datafusion_spark.zarr.chunkio import read_window
    from zarr_datafusion_spark.zarr.lz4blosc import shuffle as byte_shuffle
    from zarr_datafusion_spark.zarr.metadata import discover_arrays

    rng = np.random.RandomState(5)
    arr = rng.randint(-100, 100, 40).astype("<i8").cumsum()  # smooth-ish
    store = str(tmp_path / "v2filters")
    adir = os.path.join(store, "v")
    os.makedirs(adir)
    meta = {
        "zarr_format": 2, "shape": [40], "chunks": [40], "dtype": "<i8",
        "compressor": {"id": "zlib", "level": 1},
        "filters": [
            {"id": "delta", "dtype": "<i8", "astype": "<i8"},
            {"id": "shuffle", "elementsize": 8},
        ],
        "fill_value": 0, "order": "C", "dimension_separator": ".",
    }
    json.dump(meta, open(os.path.join(adir, ".zarray"), "w"))
    # encode: delta (first value + diffs), then byte-shuffle, then zlib
    delta = np.empty_like(arr)
    delta[0] = arr[0]
    delta[1:] = arr[1:] - arr[:-1]
    payload = zlib.compress(byte_shuffle(delta.tobytes(), 8), 1)
    open(os.path.join(adir, "0"), "wb").write(payload)
    # 1-D data var needs a coordinate of the same length
    from zarr_datafusion_spark.zarr.writer import write_v2_array

    # v is 1-D => classified as a coordinate itself; verify via direct read
    json.dump({"zarr_format": 2}, open(os.path.join(store, ".zgroup"), "w"))
    m = discover_arrays(store)
    out = read_window(store, m.array("v"), ((0, 40),))
    np.testing.assert_array_equal(out, arr)


def test_v3_transpose_codec(tmp_path):
    """v3 transpose codec: stored bytes are input.transpose(order); the
    reader inverts the permutation."""
    import json
    import os

    from zarr_datafusion_spark.zarr.chunkio import read_window
    from zarr_datafusion_spark.zarr.metadata import discover_arrays
    from zarr_datafusion_spark.zarr.writer import write_v3_array

    rng = np.random.RandomState(6)
    arr = rng.randint(0, 1000, (6, 10)).astype(np.int64)
    store = str(tmp_path / "v3transpose")
    adir = os.path.join(store, "v")
    os.makedirs(adir)
    meta = {
        "zarr_format": 3, "node_type": "array", "shape": [6, 10],
        "data_type": "int64",
        "chunk_grid": {"name": "regular", "configuration": {"chunk_shape": [6, 10]}},
        "chunk_key_encoding": {"name": "default", "configuration": {"separator": "/"}},
        "codecs": [
            {"name": "transpose", "configuration": {"order": [1, 0]}},
            {"name": "bytes", "configuration": {"endian": "little"}},
        ],
        "fill_value": 0, "attributes": {},
    }
    json.dump(meta, open(os.path.join(adir, "zarr.json"), "w"))
    os.makedirs(os.path.join(adir, "c", "0"), exist_ok=True)
    with open(os.path.join(adir, "c", "0", "0"), "wb") as f:
        f.write(np.ascontiguousarray(arr.transpose(1, 0)).astype("<i8").tobytes())
    write_v3_array(store, "x", np.arange(6, dtype=np.int64), (6,))
    write_v3_array(store, "y", np.arange(10, 20, dtype=np.int64), (10,))
    json.dump({"zarr_format": 3, "node_type": "group"},
              open(os.path.join(store, "zarr.json"), "w"))

    m = discover_arrays(store)
    out = read_window(store, m.array("v"), ((0, 6), (0, 10)))
    np.testing.assert_array_equal(out, arr)
    # windowed read through the transpose too
    out = read_window(store, m.array("v"), ((1, 5), (3, 9)))
    np.testing.assert_array_equal(out, arr[1:5, 3:9])


def test_v2_consolidated_metadata_discovery(tmp_path):
    """.zmetadata consolidated discovery: one read instead of per-array
    .zarray reads (the object-store fast path).  Per-array .zarray
    files are deleted to prove the consolidated document is used."""
    import json
    import os

    from zarr_datafusion_spark.zarr.metadata import discover_arrays

    store = write_store(str(tmp_path / "cons"), ARRAYS, zarr_format=2)
    entries = {}
    for name in ARRAYS:
        p = os.path.join(store, name, ".zarray")
        entries[f"{name}/.zarray"] = json.load(open(p))
        os.remove(p)
    json.dump(
        {"zarr_consolidated_format": 1, "metadata": entries},
        open(os.path.join(store, ".zmetadata"), "w"),
    )
    m = discover_arrays(store)
    assert [c.name for c in m.coords] == ["time", "lat", "lon"]
    assert [v.name for v in m.data_vars] == ["humidity", "temperature"]
    assert m.total_rows == 700
    assert m.coord_min_max["time"] == (0, 6)


def test_datetime64_time_coordinate(spark, tmp_path):
    """datetime64[ns] time axis (the standard xarray/climate layout):
    surfaces as a Spark TimestampType column with correct UTC instants;
    equality filters on it return exact rows (re-applied by Spark;
    since r6 datetime coords also window-narrow in the µs output
    domain — test_datetime_range_pushdown — and since r7 they carry
    exact min/max statistics in that same output domain, so MIN/MAX
    answer scan-free)."""
    import datetime

    from zarr_datafusion_spark.zarr import read_zarr
    from zarr_datafusion_spark.zarr.metadata import discover_arrays

    times = np.array(
        ["2024-01-01T00:00:00", "2024-01-01T06:00:00", "2024-01-01T12:00:00"],
        dtype="M8[ns]",
    )
    temp = np.arange(12, dtype=np.int64).reshape(3, 4)
    store = write_store(
        str(tmp_path / "dt"),
        {
            "time": (times, (3,)),
            "cell": (np.arange(4, dtype=np.int64), (4,)),
            "temp": (temp, (1, 4)),
        },
    )
    meta = discover_arrays(store)
    assert meta.array("time").dtype == "datetime64[ns]"
    assert meta.coord_min_max["time"] == (
        datetime.datetime(2024, 1, 1, 0, 0),
        datetime.datetime(2024, 1, 1, 12, 0),
    )

    df = read_zarr(spark, store)
    assert dict(df.dtypes)["time"] == "timestamp"
    rows = df.orderBy("time", "cell").collect()
    assert len(rows) == 12
    assert rows[0].time == datetime.datetime(2024, 1, 1, 0, 0)
    assert rows[-1].time == datetime.datetime(2024, 1, 1, 12, 0)

    from pyspark.sql import functions as F

    sel = df.filter(F.col("time") == "2024-01-01 06:00:00").orderBy("cell")
    got = sel.collect()
    assert [r.temp for r in got] == [4, 5, 6, 7]


# ---------------------------------------------------------------------------
# Relation-reuse safety (Spark 4.1 readInfo cache) + string coordinates
# ---------------------------------------------------------------------------


def _station_store(tmp_path) -> str:
    store = str(tmp_path / "stations.zarr")
    write_store(
        store,
        {
            "time": (np.arange(4, dtype=np.int64), (4,)),
            "station": (
                np.array([f"st{i:02d}" for i in range(6)], dtype="S6"),
                (3,),
            ),
            "reading": (np.arange(24, dtype=np.float64).reshape(4, 6), (1, 3)),
        },
    )
    return store


def test_string_coordinate_roundtrip(spark, tmp_path):
    """v2 fixed-length |S coords decode to real StringType columns —
    the reference's own unchecked roadmap item (README.md:317-321; its
    dtype fallback maps unknowns to Utf8 but the readers never
    materialize them, zarr_reader.rs:68-124)."""
    from zarr_datafusion_spark.zarr import read_zarr

    df = read_zarr(spark, _station_store(tmp_path))
    assert dict(df.dtypes)["station"] == "string"
    rows = df.orderBy("time", "station").collect()
    assert len(rows) == 24
    assert rows[0].station == "st00" and rows[5].station == "st05"
    assert rows[0].reading == 0.0 and rows[5].reading == 5.0
    # equality filter on a string coord (re-applied by Spark; with
    # eager narrowing it also prunes — both paths must agree)
    for eager in (False, True):
        d = read_zarr(spark, _station_store(tmp_path), eager_pushdown=eager)
        got = sorted(r.reading for r in d.filter(d.station == "st03").collect())
        assert got == [3.0, 9.0, 15.0, 21.0]


def test_string_coordinate_minmax_stats(spark, tmp_path):
    """Coord min/max stats extend to string coords (lexicographic,
    matching Spark's UTF-8 ordering), so the A7/A8 shortcut can answer
    MIN/MAX(station) scan-free."""
    from zarr_datafusion_spark.zarr.metadata import discover_arrays

    store = _station_store(tmp_path)
    meta = discover_arrays(store)
    assert meta.coord_min_max["station"] == ("st00", "st05")


def test_temp_view_not_poisoned_by_filtered_query(spark, tmp_path):
    """REGRESSION (found round 4): Spark 4.1 caches planned partitions
    per relation (PythonDataSourceV2.readInfo) and the filter-pushdown
    planner OVERWRITES that shared cache.  With eager window narrowing
    a `USING zarr` temp view returned the previous query's filtered
    subset for every later query.  The safe default must keep a shared
    relation correct across arbitrary query sequences."""
    from zarr_datafusion_spark.zarr.datasource import register_zarr_source

    store = _station_store(tmp_path)
    register_zarr_source(spark)
    spark.sql(
        f"CREATE OR REPLACE TEMPORARY VIEW sv_poison USING zarr OPTIONS (path '{store}')"
    )
    try:
        assert (
            spark.sql("SELECT COUNT(*) AS n FROM sv_poison WHERE station = 'st03'")
            .collect()[0].n
            == 4
        )
        # the poisoning bug returned 4 here
        assert spark.sql("SELECT COUNT(*) AS n FROM sv_poison").collect()[0].n == 24
        assert (
            spark.sql("SELECT MIN(station) AS m FROM sv_poison").collect()[0].m
            == "st00"
        )
        # unmatched literal then full scan (the empty short-circuit
        # variant of the same staleness)
        assert (
            spark.sql("SELECT COUNT(*) AS n FROM sv_poison WHERE station = 'zz'")
            .collect()[0].n
            == 0
        )
        assert spark.sql("SELECT COUNT(*) AS n FROM sv_poison").collect()[0].n == 24
    finally:
        spark.catalog.dropTempView("sv_poison")


def test_reused_dataframe_not_poisoned(spark, tmp_path):
    """Same staleness through the DataFrame-reuse path: filtered query
    then unfiltered aggregates on ONE read_zarr result."""
    from zarr_datafusion_spark.zarr import read_zarr

    df = read_zarr(spark, _station_store(tmp_path))
    assert df.filter(df.station == "st03").count() == 4
    assert df.count() == 24
    mm = df.agg({"station": "max"}).collect()[0][0]
    assert mm == "st05"


def test_string_fill_value_base64_decoded(tmp_path):
    """zarr v2 base64-encodes fill_value for |S dtypes; a missing chunk
    must fill with the DECODED bytes, not the base64 text."""
    import base64
    import json
    import os

    from zarr_datafusion_spark.zarr.chunkio import read_window
    from zarr_datafusion_spark.zarr.metadata import discover_arrays

    store = str(tmp_path / "fill.zarr")
    write_store(
        store,
        {
            "x": (np.arange(4, dtype=np.int64), (2,)),
            "tag": (np.array(["aa", "bb", "cc", "dd"], dtype="S4"), (2,)),
        },
    )
    # make 'tag' a 1-D data var... it's classified as coord (1-D); the
    # fill path is dtype-level, so exercising it via the coord is fine:
    # rewrite its fill_value to base64(b'null') and delete chunk 1
    zpath = f"{store}/tag/.zarray"
    meta = json.load(open(zpath))
    meta["fill_value"] = base64.b64encode(b"null").decode("ascii")
    json.dump(meta, open(zpath, "w"))
    os.remove(f"{store}/tag/1")
    tag = discover_arrays(store).array("tag")
    vals = read_window(store, tag, ((0, 4),)).tolist()
    assert vals == ["aa", "bb", "null", "null"]


def test_range_pushdown_counts_and_values(spark, stores):
    """A5 superset: range conjuncts on sorted coordinates narrow the
    windows (searchsorted bounds) and Spark's re-applied filters keep
    the result exact — counts and values match the source arrays."""
    from pyspark.sql import functions as F

    from zarr_datafusion_spark.zarr import read_zarr

    df = read_zarr(spark, stores["v2_plain"], eager_pushdown=True)
    assert df.filter((F.col("time") >= 2) & (F.col("time") < 5)).count() == 300
    assert (
        df.filter(
            (F.col("time") >= 2) & (F.col("time") < 5) & (F.col("lat") > 6)
        ).count()
        == 90
    )
    # mixed equality + range on the same coord intersects
    assert (
        df.filter((F.col("time") == 3) & (F.col("time") >= 2)).count() == 100
    )
    # empty range short-circuits
    assert df.filter((F.col("time") > 3) & (F.col("time") < 3)).count() == 0
    got = (
        df.filter((F.col("time") >= 5) & (F.col("lat") <= 1))
        .orderBy("time", "lat", "lon")
        .toPandas()
    )
    exp = ARRAYS["temperature"][0][5:, :2, :].reshape(-1)
    np.testing.assert_array_equal(got["temperature"].to_numpy(), exp)


def test_range_pushdown_reduces_io(spark, stores, tmp_path):
    """The range window must actually shrink the chunks read: the
    per-partition spill counters for a 3-of-7 time-slab range read must
    land well below the full scan's."""
    from pyspark.sql import functions as F

    from zarr_datafusion_spark.stats.io_stats import collect_stats_dir
    from zarr_datafusion_spark.zarr import read_zarr

    d_full = str(tmp_path / "full")
    read_zarr(spark, stores["v2_plain"], stats_dir=d_full).count()
    full = collect_stats_dir(d_full)

    d_rng = str(tmp_path / "rng")
    df = read_zarr(
        spark, stores["v2_plain"], stats_dir=d_rng, eager_pushdown=True
    )
    assert (
        df.filter((F.col("time") >= 2) & (F.col("time") < 5)).count() == 300
    )
    rng = collect_stats_dir(d_rng)
    assert rng.data_bytes == full.data_bytes * 3 // 7
    assert rng.n_chunks < full.n_chunks


def test_range_window_bails_on_unsorted_coord(spark, tmp_path):
    """An UNSORTED coordinate must not be range-narrowed (searchsorted
    would return garbage windows): the planner keeps the full dimension
    and Spark's re-applied filter does the work — result stays exact."""
    import numpy as _np

    from pyspark.sql import functions as F

    from zarr_datafusion_spark.zarr import read_zarr
    from zarr_datafusion_spark.zarr.writer import write_store

    store = str(tmp_path / "unsorted.zarr")
    t = _np.array([3, 0, 5, 1], dtype=_np.int64)  # deliberately unsorted
    lat = _np.arange(6, dtype=_np.int64)
    data = _np.arange(24, dtype=_np.int64).reshape(4, 6)
    write_store(store, {
        "time": (t, (4,)),
        "lat": (lat, (6,)),
        "temperature": (data, (1, 6)),
    })
    df = read_zarr(spark, store, eager_pushdown=True)
    got = sorted(
        r.temperature for r in df.filter(F.col("time") >= 3).collect()
    )
    mask = t >= 3
    exp = sorted(data[mask].reshape(-1).tolist())
    assert got == exp


# ---------------------------------------------------------------------------
# Live remote store over HTTP (stdlib adapter — VERDICT r5 item 6)
# ---------------------------------------------------------------------------


@pytest.fixture()
def http_store(stores):
    """Serve the v2_plain fixture store over a real localhost HTTP
    server (socket-crossing, every byte through urllib) and yield its
    http:// URL."""
    import http.server
    import os
    import threading

    store_path = stores["v2_plain"]
    root = os.path.dirname(store_path)
    name = os.path.basename(store_path)

    handler = lambda *a, **kw: http.server.SimpleHTTPRequestHandler(  # noqa: E731
        *a, directory=root, **kw
    )
    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), handler)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        yield f"http://127.0.0.1:{srv.server_address[1]}/{name}"
    finally:
        srv.shutdown()
        srv.server_close()


def test_http_store_adapter_live(http_store, stores):
    """The stdlib HTTP adapter must answer the full store-fs surface
    (exists/isdir/listdir/read_text/read_bytes) against a live server —
    the environment-independent proof of the remote read path the
    reference exercises against GCS (storage.rs:63-193,
    examples/query_gcs.rs:36-43)."""
    import os

    from zarr_datafusion_spark.zarr.storage import store_fs

    fs, root = store_fs(http_store)
    assert root == http_store
    assert fs.isdir(root)
    assert not fs.isdir(root + "/.zgroup")
    assert fs.exists(root + "/.zgroup")
    assert not fs.exists(root + "/nope")
    listing = fs.listdir(root)
    assert {"time", "lat", "lon", "temperature", "humidity"} <= set(listing)
    local = stores["v2_plain"]
    assert fs.read_text(root + "/.zgroup") == open(
        os.path.join(local, ".zgroup")
    ).read()
    assert fs.read_bytes(root + "/temperature/0.0.0") == open(
        os.path.join(local, "temperature", "0.0.0"), "rb"
    ).read()


@contextlib.contextmanager
def _live_s3(root: str, bucket: str = "testbucket"):
    """Serve the files under ``root`` as the objects of ``bucket``
    through a minimal live S3-compatible server (path-style GET/HEAD
    objects + ListObjectsV2 XML listings — the protocol subset every
    S3-compatible store speaks) on the port conftest exported as
    ``$AWS_ENDPOINT_URL_S3``."""
    import http.server
    import os
    import threading
    import urllib.parse

    from tests.conftest import S3_TEST_SOCK

    class Handler(http.server.BaseHTTPRequestHandler):
        def log_message(self, *a):  # noqa: D102 - quiet test server
            pass

        def _keys(self):
            out = []
            for dirpath, _dirs, files in os.walk(root):
                for fn in files:
                    rel = os.path.relpath(os.path.join(dirpath, fn), root)
                    out.append(rel.replace(os.sep, "/"))
            return sorted(out)

        def _respond(self, code, body=b"", ctype="application/octet-stream"):
            self.send_response(code)
            self.send_header("Content-Type", ctype)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            if self.command != "HEAD":
                self.wfile.write(body)

        def do_GET(self):
            parsed = urllib.parse.urlparse(self.path)
            segs = parsed.path.lstrip("/").split("/", 1)
            if segs[0] != bucket:
                return self._respond(404, b"NoSuchBucket")
            if len(segs) == 1 or parsed.query:
                qs = urllib.parse.parse_qs(parsed.query)
                prefix = qs.get("prefix", [""])[0]
                delim = qs.get("delimiter", [""])[0]
                keys = [k for k in self._keys() if k.startswith(prefix)]
                contents, prefixes, seen = [], [], set()
                for k in keys:
                    rest = k[len(prefix) :]
                    if delim and delim in rest:
                        pref = prefix + rest.split(delim, 1)[0] + delim
                        if pref not in seen:
                            seen.add(pref)
                            prefixes.append(pref)
                    else:
                        contents.append(k)
                xml = [
                    '<?xml version="1.0" encoding="UTF-8"?>',
                    '<ListBucketResult xmlns='
                    '"http://s3.amazonaws.com/doc/2006-03-01/">',
                    "<IsTruncated>false</IsTruncated>",
                ]
                xml += [f"<Contents><Key>{k}</Key></Contents>" for k in contents]
                xml += [
                    f"<CommonPrefixes><Prefix>{p}</Prefix></CommonPrefixes>"
                    for p in prefixes
                ]
                xml.append("</ListBucketResult>")
                return self._respond(
                    200, "".join(xml).encode(), "application/xml"
                )
            key = urllib.parse.unquote(segs[1])
            fp = os.path.join(root, *key.split("/"))
            if not os.path.isfile(fp):
                return self._respond(404, b"NoSuchKey")
            with open(fp, "rb") as f:
                return self._respond(200, f.read())

        do_HEAD = do_GET  # _respond suppresses the body for HEAD

    srv = http.server.ThreadingHTTPServer(
        ("127.0.0.1", 0), Handler, bind_and_activate=False
    )
    # serve on the port conftest already exported to the JVM's env
    srv.socket = S3_TEST_SOCK
    srv.server_address = S3_TEST_SOCK.getsockname()
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        yield f"s3://{bucket}"
    finally:
        # shutdown only — the socket stays bound for later fixtures
        srv.shutdown()


@pytest.fixture()
def s3_store(stores):
    """The v2_plain fixture store served by :func:`_live_s3`; yields its
    ``s3://`` URL."""
    import os

    store_path = stores["v2_plain"]
    with _live_s3(os.path.dirname(store_path)) as bucket:
        yield f"{bucket}/{os.path.basename(store_path)}"


def test_discovery_requests_on_object_store(tmp_path, monkeypatch):
    """Store discovery over s3:// reads each metadata file with one GET:
    no HEAD, and a listing only to walk a store with no consolidated
    metadata.  Counted by verb on a live S3-compatible server for v2,
    v2 consolidated, v3 and v3 consolidated stores."""
    import json
    import os

    from zarr_datafusion_spark.zarr.metadata import discover_arrays

    root = tmp_path / "bucket"
    for fmt in (2, 3):
        write_store(str(root / f"v{fmt}"), ARRAYS, zarr_format=fmt)
        cons = write_store(str(root / f"v{fmt}c"), ARRAYS, zarr_format=fmt)
        meta = ".zarray" if fmt == 2 else "zarr.json"
        entries = {}
        for name in ARRAYS:
            p = os.path.join(cons, name, meta)
            entries[f"{name}/.zarray" if fmt == 2 else name] = json.load(open(p))
            os.remove(p)
        doc, path = (
            ({"zarr_consolidated_format": 1, "metadata": entries}, ".zmetadata")
            if fmt == 2
            else (
                {
                    "zarr_format": 3,
                    "node_type": "group",
                    "consolidated_metadata": {
                        "kind": "inline",
                        "must_understand": False,
                        "metadata": entries,
                    },
                },
                "zarr.json",
            )
        )
        json.dump(doc, open(os.path.join(cons, path), "w"))

    calls: list[str] = []
    send = st.S3HttpStoreFS._send

    def counted(self, req):
        verb = req.get_method()
        calls.append("LIST" if "list-type=2" in req.full_url else verb)
        return send(self, req)

    monkeypatch.setattr(st.S3HttpStoreFS, "_send", counted)
    counts = {}
    with _live_s3(str(root)) as bucket:
        for name in ("v2", "v2c", "v3", "v3c"):
            st._ADAPTER_CACHE.clear()
            calls.clear()
            meta = discover_arrays(f"{bucket}/{name}")
            assert meta.total_rows == NTIME * NLAT * NLON
            counts[name] = {v: calls.count(v) for v in sorted(set(calls))}
    st._ADAPTER_CACHE.clear()
    # GETs: the root probes (v3: zarr.json; v2: zarr.json, .zmetadata,
    # then .zgroup when not consolidated), one probe per listed entry
    # (five arrays and the root marker; v2 arrays add .zattrs), and the
    # one chunk of each of the three coordinates
    assert counts == {
        "v2": {"GET": 3 + 6 + 5 + 3, "LIST": 1},
        "v2c": {"GET": 2 + 3},
        "v3": {"GET": 1 + 6 + 3, "LIST": 1},
        "v3c": {"GET": 1 + 3},
    }


def test_s3_store_adapter_live(s3_store, stores):
    """VERDICT r6 item 8: one real ``s3://`` read without fsspec.  The
    unsigned path-style adapter must answer the full store-fs surface
    (exists/isdir/listdir/read_text/read_bytes) against a live
    S3-compatible server — ListObjectsV2 listings included — matching
    the reference's public-bucket S3 store (storage.rs:134-151)."""
    import os

    from zarr_datafusion_spark.zarr.storage import S3HttpStoreFS, store_fs

    fs, root = store_fs(s3_store)
    assert isinstance(fs, S3HttpStoreFS), "s3:// did not fall back to stdlib"
    assert root == s3_store
    assert fs.isdir(root)
    assert not fs.isdir(root + "/.zgroup")
    assert fs.exists(root + "/.zgroup")
    assert not fs.exists(root + "/nope")
    listing = fs.listdir(root)
    assert {"time", "lat", "lon", "temperature", "humidity"} <= set(listing)
    local = stores["v2_plain"]
    assert fs.read_text(root + "/.zgroup") == open(
        os.path.join(local, ".zgroup")
    ).read()
    assert fs.read_bytes(root + "/temperature/0.0.0") == open(
        os.path.join(local, "temperature", "0.0.0"), "rb"
    ).read()


def test_s3_store_schema_and_scan(spark, s3_store):
    """End-to-end over live s3://: schema inference AND the
    chunk-parallel flattened Spark scan read every byte through the
    unsigned S3 adapter (executors resolve the endpoint from the env
    the JVM inherited); result equals the independent row-major
    expansion."""
    from zarr_datafusion_spark.zarr import discover_arrays, read_zarr

    meta = discover_arrays(s3_store)
    assert [c.name for c in meta.coords] == ["time", "lat", "lon"]
    assert meta.total_rows == 700

    df = read_zarr(spark, s3_store)
    rows = df.orderBy("time", "lat", "lon").collect()
    exp = expected_flat()
    assert len(rows) == 700
    assert [r.temperature for r in rows] == list(exp["temperature"])
    assert [r.time for r in rows] == list(exp["time"])


def _verify_sigv4(handler, secret_key: str) -> bool:
    """Independent SigV4 verification of a received request (the
    server-side half of the public algorithm, reimplemented here from
    the spec rather than imported from the adapter, so a signing bug
    cannot self-validate): rebuild the canonical request from the RAW
    request line + received headers, re-derive the signing key from
    the shared secret, and constant-time-compare signatures."""
    import hashlib
    import hmac
    from urllib.parse import parse_qsl, quote, urlsplit

    auth = handler.headers.get("Authorization", "")
    if not auth.startswith("AWS4-HMAC-SHA256 "):
        return False
    try:
        fields = dict(
            p.strip().split("=", 1)
            for p in auth[len("AWS4-HMAC-SHA256 ") :].split(",")
        )
        ak, datestamp, region, svc, term = fields["Credential"].split("/")
    except (ValueError, KeyError):
        return False
    signed = fields.get("SignedHeaders", "")
    parts = urlsplit(handler.path)

    def enc(s: str) -> str:
        return quote(s, safe="-_.~")

    cq = "&".join(
        f"{k}={v}"
        for k, v in sorted(
            (enc(k), enc(v))
            for k, v in parse_qsl(parts.query, keep_blank_values=True)
        )
    )
    ch = "".join(
        f"{h}:{(handler.headers.get(h) or '').strip()}\n"
        for h in signed.split(";")
    )
    payload_hash = handler.headers.get("x-amz-content-sha256", "")
    creq = "\n".join(
        [handler.command, parts.path or "/", cq, ch, signed, payload_hash]
    )
    amzdate = handler.headers.get("x-amz-date", "")
    scope = f"{datestamp}/{region}/{svc}/{term}"
    sts = "\n".join(
        [
            "AWS4-HMAC-SHA256",
            amzdate,
            scope,
            hashlib.sha256(creq.encode()).hexdigest(),
        ]
    )

    def hm(key, msg):
        return hmac.new(key, msg.encode(), hashlib.sha256).digest()

    k = hm(("AWS4" + secret_key).encode(), datestamp)
    k = hm(k, region)
    k = hm(k, svc)
    k = hm(k, term)
    want = hmac.new(k, sts.encode(), hashlib.sha256).hexdigest()
    return hmac.compare_digest(want, fields.get("Signature", ""))


@pytest.fixture()
def s3_sigv4_store(stores):
    """Serve the v2_plain store through a live S3-compatible server
    that VERIFIES the SigV4 signature of EVERY request before serving
    (403 on missing/invalid signatures) — the done-bar for VERDICT r7
    item 2: a request only succeeds if the stdlib signer produced a
    spec-correct signature over the exact bytes sent."""
    import http.server
    import os
    import threading
    import urllib.parse

    from tests.conftest import S3_TEST_CREDS, S3_TEST_SOCK

    secret = S3_TEST_CREDS[1]
    store_path = stores["v2_plain"]
    root = os.path.dirname(store_path)
    name = os.path.basename(store_path)
    bucket = "signedbucket"

    class Handler(http.server.BaseHTTPRequestHandler):
        def log_message(self, *a):  # noqa: D102 - quiet test server
            pass

        def _keys(self):
            out = []
            for dirpath, _dirs, files in os.walk(os.path.join(root, name)):
                for fn in files:
                    rel = os.path.relpath(os.path.join(dirpath, fn), root)
                    out.append(rel.replace(os.sep, "/"))
            return sorted(out)

        def _respond(self, code, body=b"", ctype="application/octet-stream"):
            self.send_response(code)
            self.send_header("Content-Type", ctype)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            if self.command != "HEAD":
                self.wfile.write(body)

        def do_GET(self):
            if not _verify_sigv4(self, secret):
                return self._respond(403, b"SignatureDoesNotMatch")
            parsed = urllib.parse.urlparse(self.path)
            segs = parsed.path.lstrip("/").split("/", 1)
            if segs[0] != bucket:
                return self._respond(404, b"NoSuchBucket")
            if len(segs) == 1 or parsed.query:
                qs = urllib.parse.parse_qs(parsed.query)
                prefix = qs.get("prefix", [""])[0]
                delim = qs.get("delimiter", [""])[0]
                keys = [k for k in self._keys() if k.startswith(prefix)]
                contents, prefixes, seen = [], [], set()
                for k in keys:
                    rest = k[len(prefix) :]
                    if delim and delim in rest:
                        pref = prefix + rest.split(delim, 1)[0] + delim
                        if pref not in seen:
                            seen.add(pref)
                            prefixes.append(pref)
                    else:
                        contents.append(k)
                xml = [
                    '<?xml version="1.0" encoding="UTF-8"?>',
                    '<ListBucketResult xmlns='
                    '"http://s3.amazonaws.com/doc/2006-03-01/">',
                    "<IsTruncated>false</IsTruncated>",
                ]
                xml += [f"<Contents><Key>{k}</Key></Contents>" for k in contents]
                xml += [
                    f"<CommonPrefixes><Prefix>{p}</Prefix></CommonPrefixes>"
                    for p in prefixes
                ]
                xml.append("</ListBucketResult>")
                return self._respond(
                    200, "".join(xml).encode(), "application/xml"
                )
            key = urllib.parse.unquote(segs[1])
            fp = os.path.join(root, *key.split("/"))
            if not os.path.isfile(fp):
                return self._respond(404, b"NoSuchKey")
            with open(fp, "rb") as f:
                return self._respond(200, f.read())

        do_HEAD = do_GET  # _respond suppresses the body for HEAD

    srv = http.server.ThreadingHTTPServer(
        ("127.0.0.1", 0), Handler, bind_and_activate=False
    )
    srv.socket = S3_TEST_SOCK
    srv.server_address = S3_TEST_SOCK.getsockname()
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        yield f"s3://{bucket}/{name}"
    finally:
        srv.shutdown()


def test_s3_sigv4_adapter_live(s3_sigv4_store, stores):
    """Credentialed S3 (VERDICT r7 item 2): the full store-fs surface
    against a server that rejects anything without a valid SigV4
    signature — every passing call proves the stdlib signer end-to-end
    (canonical request, key derivation, header set).  An explicitly
    UNSIGNED adapter must be refused with 403, and under the strict
    probe contract that 403 RAISES rather than reading as absent."""
    import os
    import urllib.error

    from zarr_datafusion_spark.zarr.storage import S3HttpStoreFS, store_fs

    fs, root = store_fs(s3_sigv4_store)
    assert isinstance(fs, S3HttpStoreFS)
    assert fs.credentials is not None, "env credential chain not picked up"
    assert fs.exists(root + "/.zgroup")
    assert not fs.exists(root + "/nope")
    assert fs.isdir(root)
    listing = fs.listdir(root)
    assert {"time", "lat", "lon", "temperature", "humidity"} <= set(listing)
    local = stores["v2_plain"]
    assert fs.read_text(root + "/.zgroup") == open(
        os.path.join(local, ".zgroup")
    ).read()
    assert fs.read_bytes(root + "/temperature/0.0.0") == open(
        os.path.join(local, "temperature", "0.0.0"), "rb"
    ).read()

    # Keys needing percent-encoding (ADVICE r8: space/'+'/unicode/'%'):
    # _obj_url RFC-3986-encodes the key, the signer signs that encoded
    # path VERBATIM, and urllib sends the same bytes — so the verifying
    # server (which 403s any signature mismatch over the raw request
    # line) proves odd keys sign correctly end-to-end.
    import shutil

    odd_name = "k+y ü 100%.bin"
    odd_dir = os.path.join(os.path.dirname(local), "odd prefix")
    os.makedirs(odd_dir, exist_ok=True)
    payload = b"\x00sigv4 odd key"
    try:
        with open(os.path.join(odd_dir, odd_name), "wb") as f:
            f.write(payload)
        odd_url = s3_sigv4_store.rsplit("/", 1)[0] + "/odd prefix/" + odd_name
        assert fs.exists(odd_url)
        assert fs.read_bytes(odd_url) == payload
    finally:
        shutil.rmtree(odd_dir, ignore_errors=True)

    unsigned = S3HttpStoreFS(credentials=None)
    with pytest.raises(urllib.error.HTTPError) as exc:
        unsigned.read_bytes(root + "/.zgroup")
    assert exc.value.code == 403
    with pytest.raises(urllib.error.HTTPError):
        unsigned.exists(root + "/.zgroup")  # 403 must NOT read as absent


def test_s3_sigv4_schema_and_scan(spark, s3_sigv4_store):
    """End-to-end signed-s3 Spark scan: schema inference AND every
    executor chunk read go through SigV4-signed requests (executors
    build their adapters from the env the JVM inherited), against the
    signature-VERIFYING server; result equals the independent
    row-major expansion."""
    from zarr_datafusion_spark.zarr import discover_arrays, read_zarr

    meta = discover_arrays(s3_sigv4_store)
    assert [c.name for c in meta.coords] == ["time", "lat", "lon"]
    assert meta.total_rows == 700

    df = read_zarr(spark, s3_sigv4_store)
    rows = df.orderBy("time", "lat", "lon").collect()
    exp = expected_flat()
    assert len(rows) == 700
    assert [r.temperature for r in rows] == list(exp["temperature"])
    assert [r.time for r in rows] == list(exp["time"])


def _gcs_server(
    bucket: str,
    preload: dict[str, bytes] | None = None,
    *,
    oauth: bool = False,
):
    """Minimal live GCS-compatible server backed by a locked dict, on
    the port conftest exported as ``$STORAGE_EMULATOR_HOST``:
    path-style GET/HEAD objects (stamped ``Last-Modified``), the JSON
    list API with prefix/delimiter semantics, XML-API PUT (with
    ``x-goog-if-generation-match: 0`` conditional-create -> 412) and
    DELETE (404 when absent, like GCS).  Returns (server, objects,
    scopes).

    ``oauth=True`` REQUIRES a Bearer token on every object/list request
    (401 on missing, 403 on unknown tokens — the 401 is what triggers
    the adapter's anonymous-then-credentialed retry) and issues tokens
    at ``/token`` ONLY after independently verifying the
    service-account JWT's RS256 signature against the public key, so a
    request only succeeds if the stdlib signer produced a spec-correct
    signature.  Each token's requested scope is recorded in ``scopes``
    and a PUT or DELETE under a token whose scope cannot write answers
    403 "insufficient scope", as real GCS does."""
    import email.utils as _eut
    import http.server
    import json as _json
    import os
    import threading
    import time as _time
    import urllib.parse

    from tests.conftest import GCS_TEST_PUBKEY, GCS_TEST_SOCK

    objects: dict[str, bytes] = dict(preload or {})
    lock = threading.Lock()
    scopes: dict[str, str] = {}  # issued token -> its granted scope
    token_uri = os.environ["STORAGE_EMULATOR_HOST"] + "/token"
    born = _eut.formatdate(usegmt=True)
    writable = ("devstorage.read_write", "devstorage.full_control")

    class Handler(http.server.BaseHTTPRequestHandler):
        def log_message(self, *a):  # noqa: D102 - quiet test server
            pass

        def _respond(self, code, body=b"", ctype="application/octet-stream",
                     stamped=False):
            self.send_response(code)
            self.send_header("Content-Type", ctype)
            self.send_header("Content-Length", str(len(body)))
            if stamped:
                self.send_header("Last-Modified", born)
            self.end_headers()
            if self.command != "HEAD":
                self.wfile.write(body)

        def _refusal(self, write: bool = False):
            """None when the request may proceed, else (code, body)."""
            if not oauth:
                return None
            auth = self.headers.get("Authorization", "")
            if not auth:
                return 401, b"anonymous refused"
            scope = scopes.get(auth[7:]) if auth.startswith("Bearer ") else None
            if scope is None:
                return 403, b"bad token"
            if write and not any(w in scope for w in writable):
                return 403, b"insufficient scope"
            return None

        def _key(self) -> str | None:
            segs = urllib.parse.urlparse(self.path).path.lstrip("/").split("/", 1)
            if segs[0] != bucket or len(segs) < 2:
                return None
            return urllib.parse.unquote(segs[1])

        def do_POST(self):
            if urllib.parse.urlparse(self.path).path != "/token":
                return self._respond(404, b"NotFound")
            ln = int(self.headers.get("Content-Length", "0"))
            form = urllib.parse.parse_qs(self.rfile.read(ln).decode())
            if form.get("grant_type") != [
                "urn:ietf:params:oauth:grant-type:jwt-bearer"
            ]:
                return self._respond(400, b"unsupported grant")
            claims = _verify_rs256_jwt(
                form.get("assertion", [""])[0], *GCS_TEST_PUBKEY
            )
            if (
                claims is None
                or claims.get("aud") != token_uri
                or "devstorage" not in claims.get("scope", "")
                or claims.get("exp", 0) <= _time.time()
            ):
                return self._respond(403, b"invalid_grant")
            tok = f"zds-test-token-{len(scopes) + 1}"
            scopes[tok] = claims["scope"]
            return self._respond(
                200,
                _json.dumps(
                    {"access_token": tok, "expires_in": 3600, "token_type": "Bearer"}
                ).encode(),
                "application/json",
            )

        def do_GET(self):
            refused = self._refusal()
            if refused:
                return self._respond(*refused)
            parsed = urllib.parse.urlparse(self.path)
            if parsed.path.startswith(f"/storage/v1/b/{bucket}/o"):
                qs = urllib.parse.parse_qs(parsed.query)
                prefix = qs.get("prefix", [""])[0]
                delim = qs.get("delimiter", [""])[0]
                with lock:
                    keys = sorted(k for k in objects if k.startswith(prefix))
                items, prefixes, seen = [], [], set()
                for k in keys:
                    rest = k[len(prefix) :]
                    if delim and delim in rest:
                        pref = prefix + rest.split(delim, 1)[0] + delim
                        if pref not in seen:
                            seen.add(pref)
                            prefixes.append(pref)
                    else:
                        items.append({"name": k})
                body = _json.dumps({"items": items, "prefixes": prefixes})
                return self._respond(200, body.encode(), "application/json")
            key = self._key()
            with lock:
                body = objects.get(key) if key is not None else None
            if body is None:
                return self._respond(404, b"NoSuchObject")
            return self._respond(200, body, stamped=True)

        do_HEAD = do_GET  # _respond suppresses the body for HEAD

        def do_PUT(self):
            body = self.rfile.read(int(self.headers.get("Content-Length") or 0))
            refused = self._refusal(write=True)
            if refused:
                return self._respond(*refused)
            key = self._key()
            if not key:
                return self._respond(404, b"NotFound")
            create = self.headers.get("x-goog-if-generation-match") == "0"
            with lock:
                if create and key in objects:
                    return self._respond(412, b"conditionNotMet")
                objects[key] = body
            return self._respond(200)

        def do_DELETE(self):
            refused = self._refusal(write=True)
            if refused:
                return self._respond(*refused)
            with lock:
                gone = objects.pop(self._key() or "", None)
            return self._respond(204 if gone is not None else 404)

    srv = http.server.ThreadingHTTPServer(
        ("127.0.0.1", 0), Handler, bind_and_activate=False
    )
    srv.socket = GCS_TEST_SOCK  # the port the JVM env already carries
    srv.server_address = GCS_TEST_SOCK.getsockname()
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    return srv, objects, scopes


@pytest.fixture()
def gcs_store(stores):
    """The v2_plain fixture served from a live anonymous GCS server;
    yields its gs:// URL."""
    import os

    store_path = stores["v2_plain"]
    srv, _objects, _scopes = _gcs_server(
        "test-gcs-bucket", preload=_dir_as_blobs(store_path)
    )
    try:
        yield f"gs://test-gcs-bucket/{os.path.basename(store_path)}"
    finally:
        srv.shutdown()  # socket stays bound for later fixtures


@pytest.fixture()
def s3_trending_store():
    """Serve the TRENDING store (the data-skipping fixture) through a
    live unsigned S3 server on the shared test socket, so the remote
    chunk-statistics path can be proven end-to-end over a socket."""
    import http.server
    import os
    import threading
    import urllib.parse

    from tests.conftest import S3_TEST_SOCK
    from zarr_datafusion_spark.operators.zarr_queries import trending_store

    store_path = trending_store()
    root = os.path.dirname(store_path)
    name = os.path.basename(store_path)
    bucket = "trend-bucket"

    class Handler(http.server.BaseHTTPRequestHandler):
        def log_message(self, *a):  # noqa: D102 - quiet test server
            pass

        def _respond(self, code, body=b"", ctype="application/octet-stream"):
            self.send_response(code)
            self.send_header("Content-Type", ctype)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            if self.command != "HEAD":
                self.wfile.write(body)

        def do_GET(self):
            parsed = urllib.parse.urlparse(self.path)
            segs = parsed.path.lstrip("/").split("/", 1)
            if segs[0] != bucket:
                return self._respond(404, b"NoSuchBucket")
            if len(segs) == 1 or parsed.query:
                qs = urllib.parse.parse_qs(parsed.query)
                prefix = qs.get("prefix", [""])[0]
                delim = qs.get("delimiter", [""])[0]
                keys = []
                for dirpath, _dirs, files in os.walk(
                    os.path.join(root, name)
                ):
                    for fn in files:
                        rel = os.path.relpath(
                            os.path.join(dirpath, fn), root
                        ).replace(os.sep, "/")
                        if rel.startswith(prefix):
                            keys.append(rel)
                contents, prefixes, seen = [], [], set()
                for k in sorted(keys):
                    rest = k[len(prefix):]
                    if delim and delim in rest:
                        pref = prefix + rest.split(delim, 1)[0] + delim
                        if pref not in seen:
                            seen.add(pref)
                            prefixes.append(pref)
                    else:
                        contents.append(k)
                xml = [
                    '<?xml version="1.0" encoding="UTF-8"?>',
                    '<ListBucketResult xmlns='
                    '"http://s3.amazonaws.com/doc/2006-03-01/">',
                    "<IsTruncated>false</IsTruncated>",
                ]
                xml += [f"<Contents><Key>{k}</Key></Contents>" for k in contents]
                xml += [
                    f"<CommonPrefixes><Prefix>{p}</Prefix></CommonPrefixes>"
                    for p in prefixes
                ]
                xml.append("</ListBucketResult>")
                return self._respond(
                    200, "".join(xml).encode(), "application/xml"
                )
            key = urllib.parse.unquote(segs[1])
            fp = os.path.join(root, *key.split("/"))
            if not os.path.isfile(fp):
                return self._respond(404, b"NoSuchKey")
            with open(fp, "rb") as f:
                return self._respond(200, f.read())

        do_HEAD = do_GET

    srv = http.server.ThreadingHTTPServer(
        ("127.0.0.1", 0), Handler, bind_and_activate=False
    )
    srv.socket = S3_TEST_SOCK
    srv.server_address = S3_TEST_SOCK.getsockname()
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        yield f"s3://{bucket}/{name}"
    finally:
        srv.shutdown()


def test_remote_data_filter_pushdown(spark, s3_trending_store, tmp_path):
    """Data-variable chunk skipping over a LIVE remote store — the
    object-store case the feature exists for at 100 TB: the one-time
    stats pass reads chunks through the per-task S3 adapters, the
    sidecar caches locally keyed by the remote marker's CONTENT, and
    the filtered scan then skips half the slabs (verified in the
    spilled I/O counters) while returning exactly the local store's
    answer."""
    from pyspark.sql import functions as F

    from zarr_datafusion_spark.operators.zarr_queries import trending_store
    from zarr_datafusion_spark.stats.io_stats import collect_stats_dir
    from zarr_datafusion_spark.zarr import read_zarr

    sd = str(tmp_path / "io")
    df = read_zarr(
        spark,
        s3_trending_store,
        stats_dir=sd,
        eager_pushdown=True,
        data_filter_pushdown=True,
    ).filter(F.col("pressure") >= 1075)
    remote_rows = sorted(map(tuple, df.collect()))
    local_rows = sorted(
        map(
            tuple,
            read_zarr(spark, trending_store())
            .filter(F.col("pressure") >= 1075)
            .collect(),
        )
    )
    assert remote_rows == local_rows and len(remote_rows) == 721
    s = collect_stats_dir(sd)
    assert s.rows == 6 * 10 * 14, "remote scan did not skip chunk rows"


def test_remote_agg_pushdown(spark, s3_trending_store):
    """Chunk-level aggregate pushdown over a LIVE remote store — the
    100 TB posture: registration pays the one-time distributed stats
    pass through the per-task S3 adapters (sidecar cached locally,
    keyed by the remote marker's CONTENT), after which a windowed
    SUM/AVG and a GROUP-BY rollup answer from the sidecar with NO
    remote reads at all (the plans contain no zarr source)."""
    from zarr_datafusion_spark.engine import Engine
    from zarr_datafusion_spark.operators.zarr_queries import trending_store

    e = Engine(spark)
    e.register_zarr("s3_trend", s3_trending_store, data_filter_pushdown=True)
    e.register_zarr("local_trend", trending_store())

    q = (
        "SELECT SUM(pressure) AS s, AVG(pressure) AS a, COUNT(*) AS n "
        "FROM {t} WHERE time >= 6"
    )
    fast = e.sql(q.format(t="s3_trend"))
    assert e.last_query_used_shortcut
    assert e.last_shortcut_kind == "scan_free"  # 1-step chunks: no boundary
    assert "zarr" not in plan_text(fast).lower()
    assert fast.collect() == spark.sql(q.format(t="local_trend")).collect()

    roll = e.sql(
        "SELECT time, SUM(pressure) AS s FROM s3_trend "
        "WHERE time >= 6 GROUP BY time"
    )
    assert e.last_query_used_shortcut
    assert "zarr" not in plan_text(roll).lower()
    assert sorted(map(tuple, roll.collect())) == sorted(
        map(
            tuple,
            spark.sql(
                "SELECT time, SUM(pressure) AS s FROM local_trend "
                "WHERE time >= 6 GROUP BY time"
            ).collect(),
        )
    )


def _verify_rs256_jwt(assertion: str, n: int, e: int) -> dict | None:
    """Independent RS256 JWT verification (server-side half of the
    OAuth2 JWT-bearer flow, reimplemented here FROM THE SPEC rather
    than imported from the adapter, so a signing bug cannot
    self-validate — the SigV4-verifier pattern): decode the three
    segments, recompute the EMSA-PKCS1-v1_5 encoding of
    SHA-256(header.claims), apply the PUBLIC key power to the
    signature, constant-shape compare.  Returns the claims on success,
    None on any mismatch."""
    import base64
    import hashlib
    import json as _json

    def de(seg: str) -> bytes:
        return base64.urlsafe_b64decode(seg + "=" * (-len(seg) % 4))

    try:
        header_b64, claims_b64, sig_b64 = assertion.split(".")
        header = _json.loads(de(header_b64))
        if header.get("alg") != "RS256":
            return None
        sig = int.from_bytes(de(sig_b64), "big")
        k = (n.bit_length() + 7) // 8
        em = pow(sig, e, n).to_bytes(k, "big")
        h = hashlib.sha256(f"{header_b64}.{claims_b64}".encode()).digest()
        prefix = bytes.fromhex("3031300d060960864801650304020105000420")
        expected = (
            b"\x00\x01"
            + b"\xff" * (k - len(prefix) - len(h) - 3)
            + b"\x00"
            + prefix
            + h
        )
        if em != expected:
            return None
        return _json.loads(de(claims_b64))
    except (ValueError, KeyError):
        return None


@pytest.fixture()
def gcs_oauth_store(stores):
    """The v2_plain store served from a live GCS server that requires a
    VERIFIED service-account token on every request (``_gcs_server``
    with ``oauth=True``; the done-bar for VERDICT r8 item 4); yields
    its gs:// URL."""
    import os

    store_path = stores["v2_plain"]
    srv, _objects, _scopes = _gcs_server(
        "signed-gcs-bucket", preload=_dir_as_blobs(store_path), oauth=True
    )
    try:
        yield f"gs://signed-gcs-bucket/{os.path.basename(store_path)}"
    finally:
        srv.shutdown()


def test_gcs_oauth_adapter_live(gcs_oauth_store, stores):
    """Credentialed gs:// (VERDICT r8 item 4): the full store-fs
    surface against a server that refuses anonymous requests and only
    issues tokens for a VERIFIED RS256 service-account JWT — every
    passing call proves the stdlib OAuth2 flow end-to-end (PEM/DER key
    parse, EMSA-PKCS1-v1_5, JWT assembly, token exchange, Bearer
    retry).  An explicitly anonymous adapter must be refused, and
    under the strict probe contract that refusal RAISES rather than
    reading as absent."""
    import os
    import urllib.error

    from zarr_datafusion_spark.zarr.storage import (
        _GCS_TOKEN_CACHE,
        GcsHttpStoreFS,
        store_fs,
    )

    _GCS_TOKEN_CACHE.clear()  # force a fresh token exchange this test
    fs, root = store_fs(gcs_oauth_store)
    assert isinstance(fs, GcsHttpStoreFS)
    assert fs.credentials_path, "GOOGLE_APPLICATION_CREDENTIALS not picked up"
    assert fs.exists(root + "/.zgroup")
    assert not fs.exists(root + "/nope")
    assert fs.isdir(root)
    listing = fs.listdir(root)
    assert {"time", "lat", "lon", "temperature", "humidity"} <= set(listing)
    local = stores["v2_plain"]
    assert fs.read_text(root + "/.zgroup") == open(
        os.path.join(local, ".zgroup")
    ).read()
    assert fs.read_bytes(root + "/temperature/0.0.0") == open(
        os.path.join(local, "temperature", "0.0.0"), "rb"
    ).read()
    # the token is cached: many requests, one exchange per process
    assert len(_GCS_TOKEN_CACHE) == 1

    anon = GcsHttpStoreFS(credentials_path=None)
    with pytest.raises(urllib.error.HTTPError) as exc:
        anon.read_bytes(root + "/.zgroup")
    assert exc.value.code == 401
    with pytest.raises(urllib.error.HTTPError):
        anon.exists(root + "/.zgroup")  # refusal must NOT read as absent


def test_gcs_oauth_schema_and_scan(spark, gcs_oauth_store):
    """End-to-end credentialed-gs:// Spark scan: schema inference AND
    every executor chunk read run the OAuth2 JWT-bearer flow
    (executors build adapters + run the token exchange from the env
    the JVM inherited), against the JWT-VERIFYING server; result
    equals the independent row-major expansion."""
    from zarr_datafusion_spark.zarr import discover_arrays, read_zarr

    meta = discover_arrays(gcs_oauth_store)
    assert [c.name for c in meta.coords] == ["time", "lat", "lon"]
    assert meta.total_rows == 700

    df = read_zarr(spark, gcs_oauth_store)
    rows = df.orderBy("time", "lat", "lon").collect()
    exp = expected_flat()
    assert len(rows) == 700
    assert [r.temperature for r in rows] == list(exp["temperature"])
    assert [r.time for r in rows] == list(exp["time"])


def test_create_external_table_over_live_s3(engine, s3_store):
    """The reference's object-store example end-to-end
    (examples/query_gcs.rs:36-43, here over the live S3 endpoint):
    CREATE EXTERNAL TABLE ... STORED AS ZARR with an s3:// LOCATION,
    then COUNT answered scan-free from remotely-discovered statistics,
    then a real scanning query through the engine."""
    engine.sql(
        f"CREATE EXTERNAL TABLE s3_weather STORED AS ZARR LOCATION '{s3_store}'"
    )
    n = engine.sql("SELECT COUNT(*) AS n FROM s3_weather").collect()[0].n
    assert n == 700
    assert engine.last_query_used_shortcut, "remote stats did not shortcut"
    rows = engine.sql(
        "SELECT lat, COUNT(*) AS n FROM s3_weather WHERE time = 0 GROUP BY lat"
    ).collect()
    assert len(rows) == 10 and all(r.n == 10 for r in rows)


def test_gcs_store_adapter_live(gcs_store, stores):
    """The anonymous GCS adapter must answer the full store-fs surface
    against a live JSON-API server — the stdlib analog of the
    reference's anonymous-first GCS chain (storage.rs:155-188,
    examples/query_gcs.rs:36-43)."""
    import os

    from zarr_datafusion_spark.zarr.storage import GcsHttpStoreFS, store_fs

    fs, root = store_fs(gcs_store)
    assert isinstance(fs, GcsHttpStoreFS), "gs:// did not fall back to stdlib"
    assert root == gcs_store
    assert fs.isdir(root)
    assert not fs.isdir(root + "/.zgroup")
    assert fs.exists(root + "/.zgroup")
    assert not fs.exists(root + "/nope")
    listing = fs.listdir(root)
    assert {"time", "lat", "lon", "temperature", "humidity"} <= set(listing)
    local = stores["v2_plain"]
    assert fs.read_text(root + "/.zgroup") == open(
        os.path.join(local, ".zgroup")
    ).read()
    assert fs.read_bytes(root + "/temperature/0.0.0") == open(
        os.path.join(local, "temperature", "0.0.0"), "rb"
    ).read()


def test_gcs_store_schema_and_scan(spark, gcs_store):
    """End-to-end over live gs://: schema inference AND the
    chunk-parallel Spark scan read every byte through the anonymous
    GCS adapter; result equals the independent row-major expansion."""
    from zarr_datafusion_spark.zarr import discover_arrays, read_zarr

    meta = discover_arrays(gcs_store)
    assert [c.name for c in meta.coords] == ["time", "lat", "lon"]
    assert meta.total_rows == 700

    df = read_zarr(spark, gcs_store)
    rows = df.orderBy("time", "lat", "lon").collect()
    exp = expected_flat()
    assert len(rows) == 700
    assert [r.temperature for r in rows] == list(exp["temperature"])
    assert [r.time for r in rows] == list(exp["time"])


def test_http_store_schema_and_scan(spark, http_store):
    """End-to-end: schema inference AND the chunk-parallel flattened
    Spark scan read the store entirely over HTTP; result equals the
    independent row-major expansion."""
    from zarr_datafusion_spark.zarr import discover_arrays, read_zarr

    meta = discover_arrays(http_store)
    assert [c.name for c in meta.coords] == ["time", "lat", "lon"]
    assert meta.total_rows == 700

    df = read_zarr(spark, http_store)
    rows = df.orderBy("time", "lat", "lon").collect()
    exp = expected_flat()
    assert len(rows) == 700
    got_t = [r.temperature for r in rows]
    assert got_t == list(exp["temperature"])
    got_time = [r.time for r in rows]
    assert got_time == list(exp["time"])


def test_v2_fortran_order_chunks(spark, tmp_path):
    """Zarr v2 arrays may declare ``order: "F"`` (column-major chunk
    memory layout); the decode path reshapes with the declared order
    (chunkio.py), so an F-order store must flatten to the same rows as
    its C-order twin.  Hand-crafted store: the writer emits C only, so
    the chunk bytes are laid out in Fortran order here directly."""
    import json
    import os

    store = str(tmp_path / "f_order")
    time = np.arange(3, dtype=np.int64)
    lat = np.arange(4, dtype=np.int64)
    temp = np.arange(12, dtype=np.int64).reshape(3, 4) * 7

    os.makedirs(os.path.join(store, "time"))
    os.makedirs(os.path.join(store, "lat"))
    os.makedirs(os.path.join(store, "temperature"))

    def zarray(shape, chunks, order="C"):
        return {
            "zarr_format": 2,
            "shape": list(shape),
            "chunks": list(chunks),
            "dtype": "<i8",
            "compressor": None,
            "fill_value": 0,
            "filters": None,
            "order": order,
        }

    for name, arr in (("time", time), ("lat", lat)):
        with open(os.path.join(store, name, ".zarray"), "w") as f:
            json.dump(zarray(arr.shape, arr.shape), f)
        with open(os.path.join(store, name, "0"), "wb") as f:
            f.write(arr.tobytes())
    with open(os.path.join(store, "temperature", ".zarray"), "w") as f:
        json.dump(zarray(temp.shape, temp.shape, order="F"), f)
    with open(os.path.join(store, "temperature", "0.0"), "wb") as f:
        f.write(temp.tobytes(order="F"))  # column-major chunk bytes
    with open(os.path.join(store, ".zgroup"), "w") as f:
        json.dump({"zarr_format": 2}, f)

    from zarr_datafusion_spark.zarr import read_zarr

    rows = read_zarr(spark, store).orderBy("time", "lat").collect()
    assert len(rows) == 12
    for r in rows:
        assert r.temperature == temp[r.time, r.lat], (r.time, r.lat)


def test_v3_consolidated_metadata_discovery(spark, tmp_path):
    """v3 consolidated metadata: the root group zarr.json embeds every
    child array's metadata under consolidated_metadata.metadata
    (zarr-python v3 convention), so discovery needs ZERO per-array
    reads.  Per-array zarr.json files are deleted to prove the
    consolidated document is used, and the store must still scan
    end-to-end through Spark."""
    import json
    import os

    from zarr_datafusion_spark.zarr import read_zarr
    from zarr_datafusion_spark.zarr.metadata import discover_arrays

    store = write_store(str(tmp_path / "cons3"), ARRAYS, zarr_format=3)
    entries = {}
    for name in ARRAYS:
        p = os.path.join(store, name, "zarr.json")
        entries[name] = json.load(open(p))
        os.remove(p)
    json.dump(
        {
            "zarr_format": 3,
            "node_type": "group",
            "consolidated_metadata": {
                "kind": "inline",
                "must_understand": False,
                "metadata": entries,
            },
        },
        open(os.path.join(store, "zarr.json"), "w"),
    )
    m = discover_arrays(store)
    assert [c.name for c in m.coords] == ["time", "lat", "lon"]
    assert [v.name for v in m.data_vars] == ["humidity", "temperature"]
    assert m.total_rows == 700
    assert m.coord_min_max["time"] == (0, 6)

    rows = read_zarr(spark, store).orderBy("time", "lat", "lon").collect()
    exp = expected_flat()
    assert [r.temperature for r in rows] == list(exp["temperature"])


def test_sink_writes_consolidated_metadata(spark, tmp_path):
    """The sink must leave a .zmetadata behind so its own output is
    one-read discoverable; deleting the per-array .zarray files proves
    readers use it."""
    import json
    import os

    from zarr_datafusion_spark.zarr import read_zarr
    from zarr_datafusion_spark.zarr.metadata import discover_arrays
    from zarr_datafusion_spark.zarr.sink import write_zarr
    from zarr_datafusion_spark.zarr.writer import write_store

    src = write_store(str(tmp_path / "src"), ARRAYS, zarr_format=2)
    out = str(tmp_path / "sunk")
    write_zarr(read_zarr(spark, src), out, coords=["time", "lat", "lon"])
    zm = json.load(open(os.path.join(out, ".zmetadata")))
    assert zm["zarr_consolidated_format"] == 1
    for name in ARRAYS:
        assert f"{name}/.zarray" in zm["metadata"]
        os.remove(os.path.join(out, name, ".zarray"))
    m = discover_arrays(out)
    assert m.total_rows == 700
    rows = read_zarr(spark, out).orderBy("time", "lat", "lon").collect()
    assert [r.temperature for r in rows] == list(expected_flat()["temperature"])


def test_create_external_table_stored_as_zarr(spark, stores):
    """The reference's literal DDL (factory.rs:19-65,
    CLI_REFERENCE.md:39-53) must work verbatim through Engine.sql — a
    migrating user pastes their CREATE EXTERNAL TABLE unchanged."""
    from zarr_datafusion_spark.engine import Engine

    eng = Engine(spark)
    empty = eng.sql(
        f"CREATE EXTERNAL TABLE ext_weather STORED AS ZARR "
        f"LOCATION '{stores['v2_plain']}';"
    )
    assert empty.count() == 0  # DDL returns no rows, carries the schema
    assert set(empty.columns) >= {"time", "lat", "lon", "temperature"}
    n = spark.sql("SELECT COUNT(*) AS n FROM ext_weather").collect()[0].n
    assert n == 700
    # statistics were cached at registration: the shortcut answers
    # COUNT(*) with no scan, like engine.register_zarr
    eng.sql("SELECT COUNT(*) FROM ext_weather")
    assert eng.last_query_used_shortcut


def test_datetime_range_pushdown(spark, tmp_path):
    """r6: range/equality pushdown on a datetime64 time coordinate —
    THE canonical weather-store predicate.  The window comparison runs
    in the scan's µs output domain (matching the re-applied filter),
    so results must equal the full scan + filter AND the planned I/O
    must shrink to the matching time slabs.  Boundary check: ns ticks
    that truncate INTO the window must not be dropped."""
    from pyspark.sql import functions as F

    from zarr_datafusion_spark.stats.io_stats import collect_stats_dir
    from zarr_datafusion_spark.zarr import read_zarr

    times = np.array(
        [
            "2024-01-01T00:00:00.000000500",  # 500 ns past midnight
            "2024-01-01T06:00:00",
            "2024-01-01T12:00:00",
            "2024-01-01T18:00:00",
            "2024-01-02T00:00:00",
            "2024-01-02T06:00:00",
            "2024-01-02T12:00:00",
        ],
        dtype="M8[ns]",
    )
    lat = np.arange(10, dtype=np.int64)
    lon = np.arange(10, dtype=np.int64)
    rng = np.random.RandomState(7)
    temp = rng.randint(0, 1000, size=(7, 10, 10)).astype(np.int64)
    store = write_store(
        str(tmp_path / "dt_rng"),
        {
            "time": (times, (7,)),
            "lat": (lat, (10,)),
            "lon": (lon, (10,)),
            "temperature": (temp, (1, 10, 10)),
        },
    )

    pred = (
        (F.col("time") >= F.lit("2024-01-01 06:00:00").cast("timestamp"))
        & (F.col("time") < F.lit("2024-01-02 00:00:00").cast("timestamp"))
    )

    d_full = str(tmp_path / "dt_full")
    full_df = read_zarr(spark, store, stats_dir=d_full)
    expected = sorted(
        (r.time, r.lat, r.lon, r.temperature)
        for r in full_df.filter(pred).collect()
    )
    full_stats = collect_stats_dir(d_full)

    d_nar = str(tmp_path / "dt_nar")
    nar_df = read_zarr(spark, store, stats_dir=d_nar, eager_pushdown=True)
    got = sorted(
        (r.time, r.lat, r.lon, r.temperature)
        for r in nar_df.filter(pred).collect()
    )
    assert got == expected and len(got) == 300  # slabs 1,2,3 x 100 cells
    nar_stats = collect_stats_dir(d_nar)
    assert nar_stats.data_bytes == full_stats.data_bytes * 3 // 7, (
        "datetime range window did not narrow the scan"
    )

    # boundary: the ns-offset first timestamp truncates to exactly
    # 00:00:00.000000 in the µs output; an equality on that µs value
    # must keep the row (window compares in the output domain)
    d_eq = str(tmp_path / "dt_eq")
    eq_df = read_zarr(spark, store, stats_dir=d_eq, eager_pushdown=True)
    eq = eq_df.filter(
        F.col("time") == F.lit("2024-01-01 00:00:00").cast("timestamp")
    ).collect()
    assert len(eq) == 100, "ns-boundary row dropped by the pushdown window"


@pytest.mark.parametrize("unit", ["s", "ms", "us", "ns"])
def test_datetime_units_end_to_end(spark, tmp_path, unit):
    """Real stores encode time at any of the four numpy datetime64
    granularities — every unit must surface as a correct TimestampType
    column AND window-narrow under eager range pushdown (coarse units
    upcast to the µs output domain exactly)."""
    import datetime

    from pyspark.sql import functions as F

    from zarr_datafusion_spark.zarr import read_zarr

    times = np.array(
        ["2024-01-01T00:00:00", "2024-01-01T06:00:00", "2024-01-01T12:00:00"],
        dtype=f"M8[{unit}]",
    )
    store = write_store(
        str(tmp_path / f"u_{unit}"),
        {
            "time": (times, (1,)),
            "cell": (np.arange(2, dtype=np.int64), (2,)),
            "temp": (np.arange(6, dtype=np.int64).reshape(3, 2), (1, 2)),
        },
    )
    rows = read_zarr(spark, store).orderBy("time", "cell").collect()
    assert [r.time for r in rows[:2]] == [
        datetime.datetime(2024, 1, 1, 0, 0),
        datetime.datetime(2024, 1, 1, 0, 0),
    ]
    got = (
        read_zarr(spark, store, eager_pushdown=True)
        .filter(F.col("time") >= F.lit("2024-01-01 06:00:00").cast("timestamp"))
        .collect()
    )
    assert sorted(r.temp for r in got) == [2, 3, 4, 5]


def test_pre_epoch_subus_ticks_floor_consistently(spark, tmp_path):
    """ADVICE r6 (medium): pre-1970 sub-µs ticks must FLOOR toward -inf
    into the µs output domain — the same numpy-astype semantics
    _cmp_domain uses for window narrowing.  The old arrow safe=False
    cast truncated toward zero (-500ns -> 1970-01-01T00:00:00.000000),
    disagreeing with the narrowing comparison (23:59:59.999999) by 1µs,
    so an equality/upper-bound window could silently drop the boundary
    row.  Pins: (a) the emitted value IS the numpy floor; (b) eager
    equality and range pushdown on that value keep the row."""
    import datetime

    from pyspark.sql import functions as F

    from zarr_datafusion_spark.zarr import read_zarr

    times = np.array(
        [
            "1969-12-31T23:59:59.999999500",  # -500 ns: floor != truncate
            "1970-01-01T06:00:00",
            "1970-01-01T12:00:00",
        ],
        dtype="M8[ns]",
    )
    temp = np.arange(12, dtype=np.int64).reshape(3, 4)
    store = write_store(
        str(tmp_path / "pre_epoch"),
        {
            "time": (times, (1,)),
            "cell": (np.arange(4, dtype=np.int64), (4,)),
            "temp": (temp, (1, 4)),
        },
    )

    floor_us = datetime.datetime(1969, 12, 31, 23, 59, 59, 999999)
    rows = read_zarr(spark, store).orderBy("time", "cell").collect()
    assert rows[0].time == floor_us, (
        f"emitted {rows[0].time!r}: arrow truncate-toward-zero leaked in"
    )

    # equality on the floored µs value, eager window narrowing on
    eq = (
        read_zarr(spark, store, eager_pushdown=True)
        .filter(F.col("time") == F.lit("1969-12-31 23:59:59.999999").cast("timestamp"))
        .collect()
    )
    assert [r.temp for r in sorted(eq, key=lambda r: r.cell)] == [0, 1, 2, 3]

    # upper-bound range whose window ends exactly at the floored value
    rng = (
        read_zarr(spark, store, eager_pushdown=True)
        .filter(F.col("time") <= F.lit("1969-12-31 23:59:59.999999").cast("timestamp"))
        .collect()
    )
    assert len(rng) == 4, "pre-epoch boundary row dropped by range window"


def test_tz_aware_range_literal_normalized_at_accept(tmp_path):
    """ADVICE r6: a tz-aware datetime literal mixed with a naive one on
    the same coordinate must not raise TypeError during pushFilters'
    tightest-bound accumulation — aware literals normalize to naive UTC
    at accept time (the same conversion _cmp_domain applies later)."""
    import datetime

    from pyspark.sql.datasource import GreaterThan, LessThanOrEqual

    from zarr_datafusion_spark.zarr.datasource import ZarrDataSourceReader
    from zarr_datafusion_spark.zarr.metadata import (
        discover_arrays,
        infer_spark_schema,
    )

    times = np.array(
        ["2024-01-01T00:00:00", "2024-01-01T06:00:00", "2024-01-01T12:00:00"],
        dtype="M8[ns]",
    )
    store = write_store(
        str(tmp_path / "tz_mix"),
        {
            "time": (times, (3,)),
            "cell": (np.arange(2, dtype=np.int64), (2,)),
            "temp": (np.arange(6, dtype=np.int64).reshape(3, 2), (1, 2)),
        },
    )
    meta = discover_arrays(store)
    reader = ZarrDataSourceReader(
        infer_spark_schema(meta),
        {"path": store, "filter_pushdown": "eager"},
        meta,
    )
    aware = datetime.datetime(2024, 1, 1, 3, 0, tzinfo=datetime.timezone.utc)
    naive = datetime.datetime(2024, 1, 1, 5, 0)
    # two lower bounds (aware then naive: the second accumulation
    # compares naive > stored) + one aware upper bound
    handed_back = list(
        reader.pushFilters(
            [
                GreaterThan(attribute=("time",), value=aware),
                GreaterThan(attribute=("time",), value=naive),
                LessThanOrEqual(
                    attribute=("time",),
                    value=datetime.datetime(
                        2024, 1, 1, 7, 0, tzinfo=datetime.timezone.utc
                    ),
                ),
            ]
        )
    )
    assert len(handed_back) == 3  # Inexact contract: all re-applied
    lo, lo_strict, hi, hi_strict = reader.coord_ranges["time"]
    assert lo == naive and lo.tzinfo is None  # tightest bound, naive UTC
    assert hi == datetime.datetime(2024, 1, 1, 7, 0) and hi.tzinfo is None
    # and the window math itself stays consistent: rows 2 (06:00) only
    parts = reader.partitions()
    total = sum(p.outer_hi - p.outer_lo for p in parts)
    assert total == 1, "mixed-tz range bounds produced the wrong window"


def test_v2_big_endian_dtype(spark, tmp_path):
    """Zarr v2 big-endian dtypes ('>i8' — the reference parses the byte
    order char, dtype.rs:9-56): chunk bytes decode with the declared
    endianness and flatten to correct values through the full scan."""
    import json
    import os

    from zarr_datafusion_spark.zarr import discover_arrays, read_zarr

    store = str(tmp_path / "be")
    arrays = {
        "time": np.arange(3, dtype=">i8"),
        "lat": np.arange(4, dtype=">i8"),
        "temperature": (np.arange(12).reshape(3, 4) * 3).astype(">i8"),
    }
    for name, arr in arrays.items():
        os.makedirs(os.path.join(store, name))
        json.dump(
            {
                "zarr_format": 2,
                "shape": list(arr.shape),
                "chunks": list(arr.shape),
                "dtype": ">i8",
                "compressor": None,
                "fill_value": 0,
                "order": "C",
                "filters": None,
            },
            open(os.path.join(store, name, ".zarray"), "w"),
        )
        key = ".".join(["0"] * len(arr.shape))
        open(os.path.join(store, name, key), "wb").write(arr.tobytes())
    json.dump({"zarr_format": 2}, open(os.path.join(store, ".zgroup"), "w"))

    assert discover_arrays(store).total_rows == 12
    rows = read_zarr(spark, store).orderBy("time", "lat").collect()
    assert [r.temperature for r in rows] == [i * 3 for i in range(12)]


def test_missing_chunk_reads_fill_value(spark, tmp_path):
    """Zarr spec: a chunk with no file on disk reads as the array's
    fill_value (sparse stores are legal).  Deleting one time-slab chunk
    of temperature must yield fill (0) for exactly those 100 cells and
    leave every other cell — including the same slab of humidity —
    intact."""
    import os

    from zarr_datafusion_spark.zarr import read_zarr

    store = write_store(str(tmp_path / "sparse"), ARRAYS, zarr_format=2)
    removed = os.path.join(store, "temperature", "3.0.0")
    assert os.path.exists(removed)
    os.remove(removed)

    rows = read_zarr(spark, store).orderBy("time", "lat", "lon").collect()
    assert len(rows) == 700
    exp_t = ARRAYS["temperature"][0]
    exp_h = ARRAYS["humidity"][0]
    for r in rows:
        want_t = 0 if r.time == 3 else int(exp_t[r.time, r.lat, r.lon])
        assert r.temperature == want_t, (r.time, r.lat, r.lon)
        assert r.humidity == int(exp_h[r.time, r.lat, r.lon])


@_pytest.mark.parametrize("fmt,comp", [(2, None), (2, "zlib"), (3, "gzip")])
def test_sink_update_region_in_place(spark, tmp_path, fmt, comp):
    """update_zarr_region: overwrite time slabs 2-3 with adjusted
    values — only the targeted chunk files change (untouched slabs
    keep their mtimes), no metadata file is rewritten, and the store
    scans back as fixture-with-region-adjusted."""
    import os

    from zarr_datafusion_spark.operators.zarr_queries import fixture_store
    from zarr_datafusion_spark.zarr import read_zarr, write_zarr
    from zarr_datafusion_spark.zarr.sink import update_zarr_region

    src = read_zarr(spark, fixture_store(2))
    dst = str(tmp_path / f"upd_{fmt}.zarr")
    write_zarr(
        src, dst, coords=["time", "lat", "lon"], zarr_format=fmt,
        compression=comp,
    )

    def chunk_key(var, i):
        return (
            os.path.join(dst, var, f"{i}.0.0")
            if fmt == 2
            else os.path.join(dst, var, "c", str(i), "0", "0")
        )

    meta_file = (
        os.path.join(dst, "temperature", ".zarray")
        if fmt == 2
        else os.path.join(dst, "temperature", "zarr.json")
    )
    mtime_keep = os.path.getmtime(chunk_key("temperature", 0))
    mtime_meta = os.path.getmtime(meta_file)
    upd = (
        read_zarr(spark, dst)
        .filter((F.col("time") >= 2) & (F.col("time") < 4))
        .select(
            "time", "lat", "lon",
            (F.col("temperature") + 1000).alias("temperature"),
            (F.col("humidity") + 500).alias("humidity"),
        )
    )
    info = update_zarr_region(upd, dst)
    assert info["updated_slabs"] == 2
    assert info["outer_size"] == 7
    assert info["bytes_written"] > 0
    assert os.path.getmtime(chunk_key("temperature", 0)) == mtime_keep, (
        "untouched slab rewritten"
    )
    assert os.path.getmtime(meta_file) == mtime_meta, "metadata rewritten"
    back = read_zarr(spark, dst).collect()
    expect = {
        (r.time, r.lat, r.lon): (
            r.temperature + (1000 if 2 <= r.time < 4 else 0),
            r.humidity + (500 if 2 <= r.time < 4 else 0),
        )
        for r in src.collect()
    }
    got = {(r.time, r.lat, r.lon): (r.temperature, r.humidity) for r in back}
    assert got == expect


def test_sink_update_region_rejects_bad_targets(spark, tmp_path):
    import pytest

    from zarr_datafusion_spark.operators.zarr_queries import fixture_store
    from zarr_datafusion_spark.zarr import read_zarr, write_zarr
    from zarr_datafusion_spark.zarr.sink import update_zarr_region

    src = read_zarr(spark, fixture_store(2))
    dst = str(tmp_path / "updbad.zarr")
    write_zarr(src, dst, coords=["time", "lat", "lon"])

    # unknown outer value -> must point at append_zarr, not write
    ghost = src.filter(F.col("time") == 3).select(
        (F.col("time") + 100).alias("time"), "lat", "lon",
        "temperature", "humidity",
    )
    with pytest.raises(ValueError, match="existing time values"):
        update_zarr_region(ghost, dst)

    # a clipped inner range is caught by the cross-section check
    clipped = src.filter((F.col("time") == 3) & (F.col("lat") < 5))
    with pytest.raises(ValueError, match="inner coordinate"):
        update_zarr_region(clipped, dst)

    # one missing interior cell (full coord ranges, sparse grid) is
    # caught by the dense-grid count before any write
    holey = src.filter(
        (F.col("time") == 3) & ~((F.col("lat") == 0) & (F.col("lon") == 0))
    )
    with pytest.raises(ValueError, match="dense grid"):
        update_zarr_region(holey, dst)

    sharded = str(tmp_path / "updshard.zarr")
    write_zarr(
        src, sharded, coords=["time", "lat", "lon"], zarr_format=3,
        shard_outer=3,
    )
    with pytest.raises(NotImplementedError, match="chunk layout"):
        update_zarr_region(src, sharded)


def test_fill_value_nulls_surface(spark, tmp_path):
    """Reference roadmap README.md:318 ("Handle fill_value as Arrow
    nulls"): a missing data-var chunk reads as the spec's fill_value by
    default, and as SQL NULL under ``fill_value_nulls=True`` —
    COUNT(col)/AVG then behave like any nullable column.  Coordinates
    stay dense either way."""
    import os

    from zarr_datafusion_spark.zarr import read_zarr
    from zarr_datafusion_spark.zarr.writer import write_store

    path = str(tmp_path / "gap.zarr")
    write_store(
        path,
        {
            "t": (np.arange(6, dtype=np.int64), (6,)),
            "x": (np.arange(4, dtype=np.int64), (4,)),
            "v": (np.arange(24, dtype=np.int64).reshape(6, 4), (2, 4)),
        },
    )
    os.remove(os.path.join(path, "v", "1.0"))  # rows t in {2, 3}

    plain = read_zarr(spark, path)
    assert plain.filter(F.col("v").isNull()).count() == 0
    assert plain.filter((F.col("t") == 2) & (F.col("v") == 0)).count() == 4

    nulls = read_zarr(spark, path, fill_value_nulls=True)
    got = nulls.filter(F.col("v").isNull()).select("t").distinct().collect()
    assert sorted(r.t for r in got) == [2, 3]
    agg = nulls.agg(
        F.count("v").alias("n"), F.count(F.lit(1)).alias("all")
    ).collect()[0]
    assert (agg.n, agg.all) == (16, 24)
    # coordinates are never masked
    assert nulls.filter(F.col("t").isNull()).count() == 0
    # non-gap values identical to the plain read
    a = sorted(
        map(tuple, nulls.filter(F.col("v").isNotNull()).collect())
    )
    b = sorted(
        map(tuple, plain.filter(~F.col("t").isin(2, 3)).collect())
    )
    assert a == b


def test_fill_value_nulls_sharded_file_granularity(spark, tmp_path):
    """Sharded stores mask wholly-missing shard FILES; inner gaps
    inside a present shard stay fill_value (the documented sub-file
    limitation)."""
    import os

    from zarr_datafusion_spark.operators.zarr_queries import fixture_store
    from zarr_datafusion_spark.zarr import read_zarr
    from zarr_datafusion_spark.zarr.sink import write_zarr

    src = read_zarr(spark, fixture_store(2))
    dst = str(tmp_path / "shard.zarr")
    write_zarr(
        src, dst, coords=["time", "lat", "lon"], zarr_format=3, shard_outer=2
    )
    # remove one whole shard file (covers two outer time steps)
    shards = sorted(
        os.path.join(root, f)
        for root, _, names in os.walk(os.path.join(dst, "temperature"))
        for f in names
        if not f.startswith(".") and f != "zarr.json"
    )
    os.remove(shards[0])
    df = read_zarr(spark, dst, fill_value_nulls=True)
    got = df.filter(F.col("temperature").isNull()).select("time").distinct()
    assert got.count() == 2  # the two outer steps of the missing shard


def test_zarr_attributes_in_schema_metadata(spark, tmp_path):
    """Reference roadmap README.md:319 ("Expose Zarr attributes in
    Arrow schema metadata"): .zattrs (v2) ride into the Spark schema as
    StructField metadata — units/long_name/CF conventions stay attached
    to the column through the scan.  Covered for both discovery paths
    (consolidated .zmetadata and the directory walk)."""
    import json
    import os

    from zarr_datafusion_spark.zarr import read_zarr
    from zarr_datafusion_spark.zarr.writer import write_store

    attrs = {"units": "K", "long_name": "air temperature", "scale": 1.5}
    path = str(tmp_path / "attrs.zarr")
    write_store(
        path,
        {
            "t": (np.arange(4, dtype=np.int64), (4,)),
            "x": (np.arange(3, dtype=np.int64), (3,)),
            "v": (np.arange(12, dtype=np.float64).reshape(4, 3), (2, 3)),
        },
    )
    with open(os.path.join(path, "v", ".zattrs"), "w") as f:
        json.dump(attrs, f)
    zm = os.path.join(path, ".zmetadata")
    if os.path.exists(zm):
        doc = json.load(open(zm))
        doc["metadata"]["v/.zattrs"] = attrs
        with open(zm, "w") as f:
            json.dump(doc, f)

    df = read_zarr(spark, path)
    assert df.schema["v"].metadata == attrs
    assert df.schema["t"].metadata == {}
    assert df.count() == 12  # the scan itself is untouched

    # directory-walk path: same answer without consolidated metadata
    if os.path.exists(zm):
        os.remove(zm)
    df2 = read_zarr(spark, path)
    assert df2.schema["v"].metadata == attrs


# ---------------------------------------------------------------------------
# Datetime coordinate axes through the sink (r11)
# ---------------------------------------------------------------------------


def test_sink_datetime_coordinate_roundtrip(spark, tmp_path):
    """Event-time outer axes (the common real case — ERA5 time,
    ingestion timestamps) roundtrip through the sink: Spark TIMESTAMP
    coords become datetime64[us] zarr arrays and read back as
    TimestampType with equal values, both formats, sharded included."""
    import numpy as np
    from pyspark.sql import functions as F

    from zarr_datafusion_spark.zarr import read_zarr
    from zarr_datafusion_spark.zarr.sink import write_zarr

    df = (
        spark.range(6 * 4)
        .select(
            F.to_timestamp(
                F.lit("2026-03-01 00:00:00")
            ).alias("base"),
            (F.col("id") / 4).cast("long").alias("h"),
            (F.col("id") % 4).alias("x"),
            F.col("id").alias("v"),
        )
        .select(
            (F.col("base") + F.make_interval(hours=F.col("h"))).alias("ts"),
            "x",
            "v",
        )
    )
    for kw in (
        {"zarr_format": 2},
        {"zarr_format": 3},
        {"zarr_format": 3, "shard_outer": 3},
    ):
        store = str(
            tmp_path / f"ts_{kw['zarr_format']}_{kw.get('shard_outer', 0)}.zarr"
        )
        res = write_zarr(df, store, ["ts", "x"], **kw)
        assert res["rows"] == 24
        back = read_zarr(spark, store)
        assert back.schema["ts"].dataType.simpleString() == "timestamp"
        got = back.orderBy("ts", "x").collect()
        want = df.orderBy("ts", "x").collect()
        assert [(r.ts, r.x, r.v) for r in got] == [
            (r.ts, r.x, r.v) for r in want
        ]
        # the stored array is datetime64[us] (exact µs, both formats)
        from zarr_datafusion_spark.zarr.metadata import (
            discover_arrays,
            numpy_dtype_for,
        )

        ts_meta = discover_arrays(store).array("ts")
        assert np.dtype(
            numpy_dtype_for(ts_meta.dtype, ts_meta.byte_order)
        ) == np.dtype("<M8[us]")


def test_sink_date_coordinate_clear_error(spark, tmp_path):
    from pyspark.sql import functions as F

    from zarr_datafusion_spark.zarr.sink import write_zarr

    df = spark.range(4).select(
        F.to_date(F.lit("2026-03-01")).alias("d"),
        F.col("id").alias("x"),
        F.col("id").alias("v"),
    )
    import pytest as _pytest

    with _pytest.raises(ValueError, match="cast it to TIMESTAMP"):
        write_zarr(df, str(tmp_path / "d.zarr"), ["d", "x"])


def test_copy_to_zarr_with_timestamp_axis(spark, tmp_path):
    """COPY (time-bucketed events) TO '...' STORED AS ZARR — the SQL
    front door now takes event-time axes end to end."""
    from zarr_datafusion_spark.engine import Engine

    e = Engine(spark)
    store = str(tmp_path / "ev.zarr")
    res = e.sql(
        f"""COPY (
            SELECT timestamp'2026-03-01 00:00:00'
                       + make_interval(0,0,0,0, CAST(id / 4 AS INT)) AS ts,
                   id % 4 AS x,
                   id * 10 AS v
            FROM range(24)
        ) TO '{store}' STORED AS ZARR (COORDS 'ts,x')"""
    )
    n = res.collect()[0][0]
    assert n == 24
    from zarr_datafusion_spark.zarr import read_zarr

    back = read_zarr(spark, store)
    assert back.schema["ts"].dataType.simpleString() == "timestamp"
    assert back.count() == 24
    row = back.orderBy("ts", "x").collect()[5]
    assert row.v == 50 and row.x == 1


def test_sink_datetime_append_and_update(spark, tmp_path):
    """The ingestion pair on an event-time axis: monotonic append of
    later hours, then an in-place reissue of one — coordinate math runs
    on the store's own datetime64 dtype end to end."""
    from pyspark.sql import functions as F

    from zarr_datafusion_spark.zarr import read_zarr
    from zarr_datafusion_spark.zarr.sink import (
        append_zarr,
        update_zarr_region,
        write_zarr,
    )

    def block(lo, hi, off=0):
        return spark.range(lo * 4, hi * 4).select(
            (
                F.to_timestamp(F.lit("2026-03-01 00:00:00"))
                + F.make_interval(hours=(F.col("id") / 4).cast("int"))
            ).alias("ts"),
            (F.col("id") % 4).alias("x"),
            (F.col("id") + off).alias("v"),
        )

    store = str(tmp_path / "ts_ing.zarr")
    write_zarr(block(0, 6), store, ["ts", "x"])
    r = append_zarr(block(6, 8), store)
    assert r["appended_slabs"] == 2 and r["outer_size"] == 8
    r = update_zarr_region(block(2, 3, off=1000), store)
    assert r["updated_slabs"] == 1
    back = read_zarr(spark, store).orderBy("ts", "x").collect()
    assert len(back) == 32
    assert [row.v for row in back[8:12]] == [1008, 1009, 1010, 1011]
    assert [row.v for row in back[-4:]] == [28, 29, 30, 31]
    # non-monotonic datetime append still refuses, typed error intact
    import pytest as _pt

    with _pt.raises(ValueError, match="monotonic"):
        append_zarr(block(3, 4), store)


# ---------------------------------------------------------------------------
# az:// — Azure Blob adapter (the roadmap's third scheme, README.md:322,
# which the reference's storage.rs never implemented)
# ---------------------------------------------------------------------------


def _azure_server(
    container: str,
    preload: dict[str, bytes] | None = None,
    *,
    page_size: int | None = None,
    namespaced: bool = False,
):
    """Minimal live Azure-Blob-compatible server backed by a locked
    dict: path-style GET/HEAD blobs, the List Blobs XML API
    (restype=container&comp=list with prefix/delimiter), PUT BlockBlob
    (with ``If-None-Match: *`` conditional-create -> 409
    BlobAlreadyExists), DELETE.  Returns (server, blobs dict, stats).

    ``page_size`` paginates listings Azure-style: at most that many
    Blob+BlobPrefix entries per response with a ``NextMarker``
    continuation (marker = last emitted name); ``namespaced`` wraps
    the XML in the windowsazure default namespace so every element
    tag is namespace-qualified — the r13 NextMarker regression shape
    (VERDICT r13 item 7).  ``stats["list_pages"]`` counts list
    requests, ``stats["marker_pages"]`` the continuations served."""
    import http.server
    import threading
    import urllib.parse

    blobs: dict[str, bytes] = dict(preload or {})
    lock = threading.Lock()
    stats = {"list_pages": 0, "marker_pages": 0}

    class Handler(http.server.BaseHTTPRequestHandler):
        def log_message(self, *a):
            pass

        def _respond(self, code, body=b"", ctype="application/octet-stream",
                     stamped=False):
            self.send_response(code)
            self.send_header("Content-Type", ctype)
            self.send_header("Content-Length", str(len(body)))
            if stamped:  # blob responses carry Last-Modified, like Azure
                self.send_header(
                    "Last-Modified", "Sat, 15 Aug 2026 12:00:00 GMT"
                )
            self.end_headers()
            if self.command != "HEAD":
                self.wfile.write(body)

        def _key(self, parsed) -> str | None:
            segs = parsed.path.lstrip("/").split("/", 1)
            if segs[0] != container:
                return None
            return urllib.parse.unquote(segs[1]) if len(segs) > 1 else ""

        def do_GET(self):
            parsed = urllib.parse.urlparse(self.path)
            key = self._key(parsed)
            if key is None:
                return self._respond(404, b"ContainerNotFound")
            qs = urllib.parse.parse_qs(parsed.query)
            if qs.get("comp") == ["list"]:
                prefix = qs.get("prefix", [""])[0]
                delim = qs.get("delimiter", [""])[0]
                marker = qs.get("marker", [""])[0]
                stats["list_pages"] += 1
                if marker:
                    stats["marker_pages"] += 1
                with lock:
                    keys = sorted(k for k in blobs if k.startswith(prefix))
                entries, seen = [], set()  # ('b'|'p', name), sorted
                for k in keys:
                    rest = k[len(prefix):]
                    if delim and delim in rest:
                        pref = prefix + rest.split(delim, 1)[0] + delim
                        if pref not in seen:
                            seen.add(pref)
                            entries.append(("p", pref))
                    else:
                        entries.append(("b", k))
                # Azure continuation: marker = last name of the prior
                # page; resume strictly after it
                if marker:
                    entries = [e for e in entries if e[1] > marker]
                next_marker = ""
                if page_size is not None and len(entries) > page_size:
                    entries = entries[:page_size]
                    next_marker = entries[-1][1]
                ns = (
                    ' xmlns="http://schemas.microsoft.com/windowsazure"'
                    if namespaced else ""
                )
                xml = [
                    '<?xml version="1.0" encoding="utf-8"?>',
                    f"<EnumerationResults{ns}><Blobs>",
                ]
                xml += [
                    f"<Blob><Name>{name}</Name></Blob>"
                    if kind == "b"
                    else f"<BlobPrefix><Name>{name}</Name></BlobPrefix>"
                    for kind, name in entries
                ]
                xml.append(
                    f"</Blobs><NextMarker>{next_marker}</NextMarker>"
                    "</EnumerationResults>"
                    if next_marker
                    else "</Blobs><NextMarker/></EnumerationResults>"
                )
                return self._respond(
                    200, "".join(xml).encode(), "application/xml"
                )
            with lock:
                body = blobs.get(key)
            if body is None:
                return self._respond(404, b"BlobNotFound")
            return self._respond(200, body, stamped=True)

        do_HEAD = do_GET

        def do_PUT(self):
            parsed = urllib.parse.urlparse(self.path)
            key = self._key(parsed)
            if not key:
                return self._respond(404, b"ContainerNotFound")
            length = int(self.headers.get("Content-Length") or 0)
            body = self.rfile.read(length)
            with lock:
                if self.headers.get("If-None-Match") == "*" and key in blobs:
                    return self._respond(409, b"BlobAlreadyExists")
                blobs[key] = body
            return self._respond(201)

        def do_DELETE(self):
            parsed = urllib.parse.urlparse(self.path)
            key = self._key(parsed)
            with lock:
                blobs.pop(key or "", None)
            return self._respond(202)

    import http.server as _hs

    from tests.conftest import AZ_TEST_SOCK

    srv = _hs.ThreadingHTTPServer(
        ("127.0.0.1", 0), Handler, bind_and_activate=False
    )
    srv.socket = AZ_TEST_SOCK  # the port the JVM env already carries
    srv.server_address = AZ_TEST_SOCK.getsockname()
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    return srv, blobs, stats


def _dir_as_blobs(store_path: str) -> dict[str, bytes]:
    import os as _os

    name = _os.path.basename(store_path)
    out = {}
    for dirpath, _dirs, files in _os.walk(store_path):
        for fn in files:
            fp = _os.path.join(dirpath, fn)
            rel = _os.path.relpath(fp, _os.path.dirname(store_path))
            with open(fp, "rb") as f:
                out[rel.replace(_os.sep, "/")] = f.read()
    assert all(k.startswith(name + "/") or k == name for k in out)
    return out


@pytest.fixture()
def az_store(stores):
    """The v2_plain fixture served from a live Azure-compatible server;
    yields its az:// URL."""
    import os as _os

    store_path = stores["v2_plain"]
    srv, _blobs, _stats = _azure_server(
        "testcontainer", preload=_dir_as_blobs(store_path)
    )
    try:
        yield f"az://testcontainer/{_os.path.basename(store_path)}"
    finally:
        srv.shutdown()  # socket stays bound for later fixtures


def test_az_store_adapter_live(az_store, stores):
    """The stdlib Azure adapter answers the full store-fs surface
    against a live List-Blobs-speaking server."""
    import os as _os

    from zarr_datafusion_spark.zarr.storage import AzureHttpStoreFS, store_fs

    fs, root = store_fs(az_store)
    assert isinstance(fs, AzureHttpStoreFS)
    assert root == az_store
    assert fs.isdir(root)
    assert not fs.isdir(root + "/.zgroup")
    assert fs.exists(root + "/.zgroup")
    assert not fs.exists(root + "/nope")
    assert fs.try_read_bytes(root + "/nope") is None
    listing = fs.listdir(root)
    assert {"time", "lat", "lon", "temperature", "humidity"} <= set(listing)
    local = stores["v2_plain"]
    assert fs.read_text(root + "/.zgroup") == open(
        _os.path.join(local, ".zgroup")
    ).read()
    assert fs.read_bytes(root + "/temperature/0.0.0") == open(
        _os.path.join(local, "temperature", "0.0.0"), "rb"
    ).read()


def test_az_store_schema_and_scan(spark, az_store):
    """End-to-end over live az://: schema inference AND the
    chunk-parallel Spark scan (executors resolve the endpoint from the
    env the JVM inherited) equal the independent row-major expansion."""
    from zarr_datafusion_spark.zarr import discover_arrays, read_zarr

    meta = discover_arrays(az_store)
    assert [c.name for c in meta.coords] == ["time", "lat", "lon"]
    assert meta.total_rows == 700

    df = read_zarr(spark, az_store)
    rows = df.orderBy("time", "lat", "lon").collect()
    exp = expected_flat()
    assert len(rows) == 700
    assert [r.temperature for r in rows] == list(exp["temperature"])
    assert [r.time for r in rows] == list(exp["time"])


def test_az_icechunk_commit_and_read(spark, stores, tmp_path):
    """Transactional commits on an az:// repo: the conditional-create
    capability probe passes against the live server (409
    BlobAlreadyExists honored), two commits publish atomically with
    snapshot ids bit-identical to a local repo, and a simulated
    same-generation race has exactly one winner."""
    import zarr_datafusion_spark.zarr.icechunk as ic
    from zarr_datafusion_spark.zarr import read_zarr
    from zarr_datafusion_spark.zarr.icechunk import (
        IcechunkConflictError,
        commit_store,
        resolve_ref,
    )

    srv, blobs, _stats = _azure_server("iccontainer")
    st._ADAPTER_CACHE.clear()
    ic._COND_PUT_OK.clear()
    url = "az://iccontainer/repo.ic"
    try:
        s1 = commit_store(stores["v2_plain"], url, message="full")
        local = str(tmp_path / "local.ic")
        l1 = commit_store(stores["v2_plain"], local, message="full")
        assert s1 == l1  # content addressing is storage-independent
        assert read_zarr(spark, f"icechunk://{url}").count() == 700
        assert resolve_ref(url, "branch:main") == s1
        # loser race: head check predates the winner's publication
        import unittest.mock as mock

        with mock.patch.object(ic, "_branch_head", lambda *_a: None):
            with pytest.raises(IcechunkConflictError):
                commit_store(stores["v2_plain"], url, message="loser")
        assert resolve_ref(url, "branch:main") == s1
        assert any(k.endswith(".created") for k in blobs)
    finally:
        srv.shutdown()
        st._ADAPTER_CACHE.clear()
        ic._COND_PUT_OK.clear()


def test_az_gc_live_set_spans_paginated_namespaced_listings(
    spark, stores, tmp_path
):
    """The r13 NextMarker fix, live (VERDICT r13 item 7): an az://
    repo whose List Blobs responses page at 2 entries with NAMESPACED
    XML.  The refs listing spans multiple pages and a later page pins
    a snapshot nothing on page one reaches — a pagination bug that
    stopped after one page (the r13 regression: namespaced
    ``<NextMarker>`` never matched) would misread that branch as
    unreachable and gc would delete its live snapshot."""
    import zarr_datafusion_spark.zarr.icechunk as ic
    from zarr_datafusion_spark.zarr import read_zarr
    from zarr_datafusion_spark.zarr.icechunk import (
        commit_store,
        create_tag,
        gc_repo,
        resolve_ref,
    )

    srv, _blobs, stats = _azure_server(
        "pgcontainer", page_size=2, namespaced=True
    )
    st._ADAPTER_CACHE.clear()
    ic._COND_PUT_OK.clear()
    url = "az://pgcontainer/pg.ic"
    try:
        s1 = commit_store(stores["v2_plain"], url, message="base")
        create_tag(url, "base", s1)
        # refs sort as branch.main < branch.zz < tag.base: branch.zz
        # lands on page TWO of the refs listing, and its head's chunks
        # (a differently-compressed image) are pinned by nothing else
        s2 = commit_store(stores["v2_zlib"], url, branch="zz",
                          message="only ref to this image")
        stats["marker_pages"] = 0
        removed = gc_repo(url, grace_seconds=0.0)
        assert stats["marker_pages"] >= 1, "listings never paginated"
        assert removed == {
            "snapshots": 0, "manifests": 0, "chunks": 0, "skipped_young": 0,
        }
        assert resolve_ref(url, "branch:zz") == s2
        assert read_zarr(spark, f"icechunk://{url}@branch:zz").count() == 700
        assert read_zarr(spark, f"icechunk://{url}").count() == 700
        # the grace window's age probe, live: HEAD Last-Modified parses
        # to epoch seconds on an existing object, None on an absent one
        from zarr_datafusion_spark.zarr.storage import AzureHttpStoreFS

        fs = AzureHttpStoreFS()
        import calendar

        want = calendar.timegm((2026, 8, 15, 12, 0, 0))
        assert fs.mtime(f"{url}/refs/tag.base/ref.json") == want
        assert fs.mtime(f"{url}/refs/tag.base/nope.json") is None
    finally:
        srv.shutdown()
        st._ADAPTER_CACHE.clear()
        ic._COND_PUT_OK.clear()


# ---------------------------------------------------------------------------
# one write/read contract for every object-store adapter, live
# ---------------------------------------------------------------------------


def _status_server(code: int):
    """A live server answering every request with ``code``; returns
    (server, endpoint_url)."""
    import http.server
    import threading

    class Handler(http.server.BaseHTTPRequestHandler):
        def log_message(self, *a):
            pass

        def _answer(self):
            self.send_response(code)
            self.send_header("Content-Length", "0")
            self.end_headers()

        do_GET = do_HEAD = do_PUT = do_DELETE = _answer

    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    return srv, f"http://127.0.0.1:{srv.server_address[1]}"


@pytest.fixture(params=["s3", "az", "gs", "gs-oauth"])
def object_store(request):
    """(adapter, base URL, objects dict, failing adapter, token scopes)
    for one live writable object store; the failing adapter is the same
    cloud's adapter pointed at a server that answers 503 to everything,
    and the scopes (credentialed GCS only, else None) are those the
    token server granted."""
    from tests.test_icechunk import _writable_s3_server

    bad, bad_ep = _status_server(503)
    scopes = None
    sas = "sv=2024-08-04&sig=contract"
    if request.param == "s3":
        srv, objects, ep = _writable_s3_server("contract")
        fs, failing = st.S3HttpStoreFS(endpoint=ep), st.S3HttpStoreFS(endpoint=bad_ep)
    elif request.param == "az":
        srv, objects, _stats = _azure_server("contract")
        fs = st.AzureHttpStoreFS(sas=sas)
        failing = st.AzureHttpStoreFS(endpoint=bad_ep, sas=sas)
    else:
        oauth = request.param == "gs-oauth"
        st._GCS_TOKEN_CACHE.clear()
        srv, objects, granted = _gcs_server("contract", oauth=oauth)
        scopes = granted if oauth else None
        creds = "auto" if oauth else None
        fs = st.GcsHttpStoreFS(credentials_path=creds)
        failing = st.GcsHttpStoreFS(endpoint=bad_ep, credentials_path=creds)
        assert bool(fs.credentials_path) == oauth
    scheme = request.param.split("-")[0]
    try:
        yield fs, f"{scheme}://contract", objects, failing, scopes
    finally:
        srv.shutdown()
        bad.shutdown()
        bad.server_close()


def test_object_store_write_surface_contract(object_store):
    """The read/write surface every object store shares, against live
    servers: conditional create answers ``FileExistsError`` the second
    time, ``obj_exists`` is object-granular, deletes are idempotent,
    ``mtime`` parses ``Last-Modified`` (None on 404), and
    ``try_read_bytes`` reads a 404 as absent but raises on a 5xx — a
    throttled chunk read must never turn into fill values.  The
    credentialed GCS case PUTs under a token the server issued for the
    scope the adapter requested, so a read-only scope fails it."""
    import calendar
    import time
    import urllib.error

    fs, base, objects, failing, scopes = object_store
    p = f"{base}/dir/obj one.bin"
    assert not fs.obj_exists(p)
    assert fs.try_read_bytes(p) is None
    assert fs.mtime(p) is None
    fs.write_bytes(p, b"one", if_none_match=True)
    with pytest.raises(FileExistsError):
        fs.write_bytes(p, b"two", if_none_match=True)
    assert objects["dir/obj one.bin"] == b"one"
    assert fs.obj_exists(p)
    assert not fs.obj_exists(f"{base}/dir")  # no directory semantics
    assert fs.isdir(f"{base}/dir") and fs.listdir(f"{base}/dir") == ["obj one.bin"]
    fs.write_bytes(p, b"three")  # unconditional PUT overwrites
    assert fs.read_bytes(p) == b"three" and fs.read_text(p) == "three"
    stamp = fs.mtime(p)
    assert calendar.timegm((2026, 1, 1, 0, 0, 0)) <= stamp <= time.time() + 60
    fs.delete_object(p)
    assert not fs.obj_exists(p) and "dir/obj one.bin" not in objects
    fs.delete_object(p)  # deleting a missing object succeeds
    with pytest.raises(urllib.error.HTTPError) as exc:
        failing.try_read_bytes(p)
    assert exc.value.code == 503
    if scopes is not None:  # one scope serves reads and writes alike
        assert scopes and all("read_write" in s for s in scopes.values())


# ---------------------------------------------------------------------------
# remote sink: write_zarr straight to an object store (executor PUTs)
# ---------------------------------------------------------------------------


@pytest.fixture()
def s3_sink_bucket():
    """Writable live S3 endpoint on the conftest socket (executors
    resolve it from the JVM's env snapshot); yields the objects dict."""
    from tests.conftest import S3_TEST_SOCK
    from tests.test_icechunk import _writable_s3_server

    srv, objects, _ep = _writable_s3_server("sinkbucket", sock=S3_TEST_SOCK)
    st._ADAPTER_CACHE.clear()
    try:
        yield objects
    finally:
        srv.shutdown()  # socket stays bound for later fixtures
        st._ADAPTER_CACHE.clear()


@pytest.mark.parametrize(
    "fmt,comp,shard",
    [(2, None, None), (3, "blosc-lz4", None), (3, "gzip", 3)],
)
def test_sink_remote_roundtrip(spark, tmp_path, s3_sink_bucket, fmt, comp, shard):
    """write_zarr to a LIVE s3:// target: executors PUT chunk/shard
    objects directly, the driver uploads only metadata/coordinates, the
    consolidated doc lands last, and the store reads back equal to a
    local write of the same frame — across plain v2, compressed v3, and
    sharded v3 layouts."""
    from pyspark.sql import functions as F

    from zarr_datafusion_spark.zarr import read_zarr
    from zarr_datafusion_spark.zarr.sink import write_zarr

    objects = s3_sink_bucket
    df = spark.range(7 * 4).select(
        (F.col("id") / 4).cast("long").alias("t"),
        (F.col("id") % 4).alias("x"),
        (F.col("id") * 2).cast("double").alias("v"),
    )
    url = f"s3://sinkbucket/rt{fmt}{comp}{shard}.zarr"
    res = write_zarr(
        df, url, coords=["t", "x"], zarr_format=fmt,
        compression=comp, shard_outer=shard,
    )
    assert res["rows"] == 28 and res["chunk_files"] > 0
    prefix = url.split("/", 3)[3]
    marker = ".zmetadata" if fmt == 2 else "zarr.json"
    assert f"{prefix}/{marker}" in objects  # completion marker uploaded

    local = str(tmp_path / "local.zarr")
    write_zarr(df, local, coords=["t", "x"], zarr_format=fmt,
               compression=comp, shard_outer=shard)
    got = sorted(map(tuple, read_zarr(spark, url).collect()))
    want = sorted(map(tuple, read_zarr(spark, local).collect()))
    assert got == want and len(got) == 28


def test_sink_remote_copy_sql(spark, tmp_path, s3_sink_bucket):
    """The SQL front door end-to-end: COPY (query) TO 's3://...'
    STORED AS ZARR writes through the remote sink and reports the
    validated cell count."""
    from zarr_datafusion_spark.engine import Engine
    from zarr_datafusion_spark.zarr import read_zarr

    eng = Engine(spark)
    spark.range(12).selectExpr(
        "CAST(id / 3 AS LONG) AS a",
        "id % 3 AS b",
        "CAST(id * 1.5 AS DOUBLE) AS v",
    ).createOrReplaceTempView("rsink_src")
    n = eng.sql(
        "COPY (SELECT a, b, v FROM rsink_src) TO "
        "'s3://sinkbucket/copy.zarr' STORED AS ZARR (COORDS 'a,b')"
    ).first()[0]
    assert n == 12
    assert read_zarr(spark, "s3://sinkbucket/copy.zarr").count() == 12


def test_sink_remote_refusals(spark):
    """Unwritable backends refuse BEFORE any job runs; in-place
    append/update on object stores route to the transactional layer."""
    from pyspark.sql import functions as F

    from zarr_datafusion_spark.zarr.sink import (
        append_zarr,
        update_zarr_region,
        write_zarr,
    )

    df = spark.range(4).select(
        (F.col("id") / 2).cast("long").alias("t"),
        (F.col("id") % 2).alias("x"),
        F.col("id").cast("double").alias("v"),
    )
    with pytest.raises(NotImplementedError, match="atomic conditional"):
        write_zarr(df, "http://127.0.0.1:1/nope.zarr", coords=["t", "x"])
    with pytest.raises(NotImplementedError, match="append_snapshot"):
        append_zarr(df, "s3://sinkbucket/whatever.zarr")
    with pytest.raises(NotImplementedError, match="commit_zarr"):
        update_zarr_region(df, "s3://sinkbucket/whatever.zarr")


def test_remote_sink_failure_leaves_no_meta_mirror(spark, s3_sink_bucket):
    """A failing remote write (non-dense grid) must remove its local
    metadata-mirror tempdir — the success-path-only cleanup used to
    leak one zds_sink_meta_* dir per failed COPY (r12 review)."""
    import glob
    import os
    import tempfile

    from pyspark.sql import functions as F

    from zarr_datafusion_spark.zarr.sink import write_zarr

    before = set(glob.glob(os.path.join(tempfile.gettempdir(), "zds_sink_meta_*")))
    df = spark.range(6).select(
        (F.col("id") % 2).alias("t"),  # 2x2 grid but 6 rows: not dense
        (F.col("id") % 2).alias("x"),
        F.col("id").cast("double").alias("v"),
    )
    with pytest.raises(ValueError, match="dense"):
        write_zarr(df, "s3://sinkbucket/fail.zarr", coords=["t", "x"])
    after = set(glob.glob(os.path.join(tempfile.gettempdir(), "zds_sink_meta_*")))
    assert after <= before  # nothing new leaked


def test_az_list_follows_namespaced_next_marker(monkeypatch):
    """Azure's List Blobs XML may carry a namespace on every element;
    ``NextMarker`` must be matched namespace-agnostically like
    Blob/BlobPrefix or pagination silently stops after one 5000-blob
    page — and gc_repo, whose live set is built from these listings,
    would delete live snapshots (ADVICE r12)."""
    import io
    import urllib.parse

    from zarr_datafusion_spark.zarr.storage import AzureHttpStoreFS

    ns = 'xmlns="http://schemas.microsoft.com/windowsazure"'
    pages = {
        "": (
            f'<?xml version="1.0"?><EnumerationResults {ns}>'
            "<Blobs><Blob><Name>st/a</Name></Blob>"
            "<BlobPrefix><Name>st/d1/</Name></BlobPrefix></Blobs>"
            "<NextMarker>tok1</NextMarker></EnumerationResults>"
        ),
        "tok1": (
            f'<?xml version="1.0"?><EnumerationResults {ns}>'
            "<Blobs><Blob><Name>st/b</Name></Blob></Blobs>"
            "<NextMarker/></EnumerationResults>"
        ),
    }
    seen = []

    class _Resp(io.BytesIO):
        def __enter__(self):
            return self

        def __exit__(self, *a):
            return False

    fs = AzureHttpStoreFS(endpoint="http://example.invalid", sas=None)

    def fake_open(url, method="GET"):
        q = urllib.parse.parse_qs(urllib.parse.urlparse(url).query)
        marker = q.get("marker", [""])[0]
        seen.append(marker)
        return _Resp(pages[marker].encode())

    monkeypatch.setattr(fs, "_open", fake_open)
    assert fs.listdir("az://c/st") == ["a", "b", "d1"]
    assert seen == ["", "tok1"]  # pagination followed the marker


def test_local_write_bytes_thread_unique_tmp(tmp_path):
    """Two THREADS of one process racing the same conditional create
    must not share a pid-keyed tmp file: exactly one wins, the loser
    sees FileExistsError, and the winner's bytes land complete
    (ADVICE r12 — cross-process exclusivity held, cross-thread did
    not)."""
    import threading

    from zarr_datafusion_spark.zarr.storage import LocalStoreFS

    fs = LocalStoreFS()
    target = str(tmp_path / "ref.json")
    payloads = [b"A" * 65536, b"B" * 65536]
    wins, losses = [], []
    barrier = threading.Barrier(2)

    def writer(payload):
        barrier.wait()
        try:
            fs.write_bytes(target, payload, if_none_match=True)
            wins.append(payload)
        except FileExistsError:
            losses.append(payload)

    threads = [
        threading.Thread(target=writer, args=(p,)) for p in payloads
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert len(wins) == 1 and len(losses) == 1
    with open(target, "rb") as f:
        body = f.read()
    assert body == wins[0]  # complete, single-writer bytes
    assert [p.name for p in tmp_path.iterdir()] == ["ref.json"]  # no debris


def test_adapter_cache_bounded_under_thread_churn(tmp_path):
    """Threads looking up more store paths than the adapter cache holds
    (chunk prefetch threads share it) never fail, always get the
    adapter for the path they asked for, and leave the cache within
    its bound."""
    import sys
    import threading

    paths = [str(tmp_path / f"s{i}.zarr") for i in range(3 * st._ADAPTER_CACHE_SIZE)]
    errors: list[BaseException] = []

    def churn(k: int) -> None:
        try:
            for i in range(400):
                p = paths[(i * 7 + k) % len(paths)]
                fs, norm = st.store_fs(p)
                assert norm == p and isinstance(fs, st.LocalStoreFS)
        except BaseException as e:  # noqa: BLE001 - reported below
            errors.append(e)

    prev = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=churn, args=(k,)) for k in range(16)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
        assert not any(t.is_alive() for t in threads)
    finally:
        sys.setswitchinterval(prev)
    assert not errors, errors[:1]
    assert len(st._ADAPTER_CACHE) <= st._ADAPTER_CACHE_SIZE


def test_writable_store_fs_cache_expires(tmp_path):
    """The adapter cache re-dispatches after its TTL so credentials
    captured at construction (STS session tokens, SAS) are re-read from
    the environment within minutes instead of 403-ing until process
    restart (ADVICE r12)."""
    p = str(tmp_path)
    st._ADAPTER_CACHE.pop(p, None)
    out1 = st.writable_store_fs(p)
    assert st.writable_store_fs(p) is out1  # fresh entry served cached
    stamp, val = st._ADAPTER_CACHE[p]
    st._ADAPTER_CACHE[p] = (stamp - st._ADAPTER_TTL_S - 1, val)
    out2 = st.writable_store_fs(p)
    assert out2 is not out1  # expired entry rebuilt
    assert type(out2[0]) is type(out1[0])
    st._ADAPTER_CACHE.pop(p, None)
