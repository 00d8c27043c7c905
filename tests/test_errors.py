"""Error-path tests mirroring the reference's ``tests/integration_error.rs``:
bad store paths, bad SQL, unknown columns/tables — and, critically, the
session keeps working after every failure (``integration_error.rs:60-85``)."""

from __future__ import annotations

import pytest

from tests.conftest import SF_DIR


def test_bad_store_path():
    from zarr_datafusion_spark.zarr.metadata import discover_arrays

    with pytest.raises(Exception):
        discover_arrays("/nonexistent/store.zarr")


def test_not_a_zarr_store(tmp_path):
    from zarr_datafusion_spark.zarr.metadata import discover_arrays

    (tmp_path / "random.txt").write_text("not zarr")
    with pytest.raises(Exception):
        discover_arrays(str(tmp_path))


def test_bad_sql_then_recover(spark):
    from pyspark.sql.utils import ParseException

    with pytest.raises(ParseException):
        spark.sql("SELEKT 1").collect()
    # session survives
    assert spark.sql("SELECT 1 AS x").collect()[0].x == 1


def test_unknown_table(spark):
    from pyspark.sql.utils import AnalysisException

    with pytest.raises(AnalysisException):
        spark.sql("SELECT * FROM definitely_not_a_table_xyz").collect()


def test_unknown_column(spark):
    from pyspark.sql.utils import AnalysisException

    from zarr_datafusion_spark.session import register_tables

    register_tables(spark, SF_DIR)
    with pytest.raises(AnalysisException):
        spark.sql("SELECT bogus_col FROM lineitem").collect()
    # session survives with a correct query on the same table
    assert spark.sql("SELECT COUNT(*) AS n FROM lineitem").collect()[0].n > 0


def test_engine_sql_error_then_shortcut_still_works(engine):
    from pyspark.sql.utils import AnalysisException

    with pytest.raises(AnalysisException):
        engine.sql("SELECT nope FROM lineitem").collect()
    df = engine.sql("SELECT COUNT(*) AS n FROM lineitem")
    assert engine.last_query_used_shortcut
    assert df.collect()[0].n > 0


def test_zarr_source_requires_path(spark):
    from zarr_datafusion_spark.zarr import register_zarr_source

    register_zarr_source(spark)
    with pytest.raises(Exception):
        spark.read.format("zarr").load().collect()


# ---------------------------------------------------------------------------
# Storage location parsing (reference storage.rs:195-234 unit tests)
# ---------------------------------------------------------------------------


def test_storage_parse_local():
    from zarr_datafusion_spark.zarr.storage import StorageLocation

    loc = StorageLocation.parse("/tmp/store.zarr")
    assert (loc.scheme, loc.bucket, loc.path) == ("file", "", "/tmp/store.zarr")
    assert not loc.is_remote


def test_storage_parse_file_uri():
    from zarr_datafusion_spark.zarr.storage import StorageLocation

    loc = StorageLocation.parse("file:///tmp/store.zarr")
    assert loc.path == "/tmp/store.zarr" and not loc.is_remote


def test_storage_parse_s3_gs():
    from zarr_datafusion_spark.zarr.storage import StorageLocation

    s3 = StorageLocation.parse("s3://bucket/prefix/store.zarr/")
    assert (s3.scheme, s3.bucket, s3.path) == ("s3", "bucket", "prefix/store.zarr")
    assert s3.is_remote and s3.url() == "s3://bucket/prefix/store.zarr"
    gs = StorageLocation.parse("gs://b/p")
    assert (gs.scheme, gs.bucket, gs.path) == ("gs", "b", "p")


def test_storage_parse_errors():
    from zarr_datafusion_spark.zarr.storage import StorageLocation

    with pytest.raises(ValueError):
        StorageLocation.parse("s3://")
    with pytest.raises(ValueError):
        StorageLocation.parse("ftp://host/x")


def test_remote_stores_dispatch_to_object_store_adapters():
    """s3://, gs:// and az:// dispatch to their stdlib object-store
    adapters (the live-server tests in test_zarr_source.py execute
    them), and a write resolves to the same cached adapter as a read."""
    from zarr_datafusion_spark.zarr import storage as st

    for url, cls in (
        ("s3://bucket/store.zarr", st.S3HttpStoreFS),
        ("gs://bucket/store.zarr", st.GcsHttpStoreFS),
        ("az://bucket/store.zarr", st.AzureHttpStoreFS),
    ):
        fs, root = st.store_fs(url)
        assert isinstance(fs, cls) and root == url
        assert st.writable_store_fs(url) is st.store_fs(url)


def test_storage_parse_http():
    from zarr_datafusion_spark.zarr.storage import StorageLocation

    loc = StorageLocation.parse("http://127.0.0.1:8123/stores/w.zarr/")
    assert (loc.scheme, loc.bucket, loc.path) == (
        "http", "127.0.0.1:8123", "stores/w.zarr"
    )
    assert loc.is_remote
    assert loc.url() == "http://127.0.0.1:8123/stores/w.zarr"
    hs = StorageLocation.parse("https://example.com/data.zarr")
    assert hs.scheme == "https" and hs.bucket == "example.com"
    with pytest.raises(ValueError):
        StorageLocation.parse("http://")


def test_copy_to_zarr_sql_roundtrip(spark, tmp_path):
    """COPY (query) TO 'path' STORED AS ZARR — the SQL front door of
    the distributed sink (DataFusion's write statement, which the
    reference roadmaps): write a projection of the weather fixture,
    register the output store, and query it back equal."""
    from zarr_datafusion_spark.engine import Engine
    from zarr_datafusion_spark.operators.zarr_queries import fixture_store
    from zarr_datafusion_spark.zarr import read_zarr

    eng = Engine(spark)
    eng.register_zarr("w_src", fixture_store(2))
    out = str(tmp_path / "copied.zarr")
    res = eng.sql(
        f"COPY (SELECT time, lat, lon, temperature, humidity FROM w_src "
        f"WHERE time < 3) TO '{out}' STORED AS ZARR "
        f"(COORDS 'time,lat,lon', FORMAT_VERSION '3', COMPRESSION 'gzip')"
    ).collect()
    assert res[0]["count"] == 300
    back = read_zarr(spark, out)
    src = spark.sql("SELECT * FROM w_src WHERE time < 3")
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, src.collect()))


def test_copy_to_zarr_sharded(spark, tmp_path):
    """COPY with SHARD_OUTER (r9): the ZEP-2 sharded-output knob —
    THE object-store layout at scale — reachable from SQL; the store
    must round-trip and actually be sharded on disk (one shard file
    per 3 outer slabs, not one chunk file per slab)."""
    import os

    from zarr_datafusion_spark.engine import Engine
    from zarr_datafusion_spark.operators.zarr_queries import fixture_store
    from zarr_datafusion_spark.zarr import read_zarr

    eng = Engine(spark)
    eng.register_zarr("w_src3", fixture_store(2))
    out = str(tmp_path / "sharded.zarr")
    res = eng.sql(
        f"COPY (SELECT time, lat, lon, temperature, humidity FROM w_src3) "
        f"TO '{out}' STORED AS ZARR "
        f"(COORDS 'time,lat,lon', FORMAT_VERSION '3', SHARD_OUTER '3')"
    ).collect()
    assert res[0]["count"] == 700
    # 7 slabs / 3 per shard = 3 shard files per variable
    shards = os.listdir(os.path.join(out, "temperature", "c"))
    assert len(shards) == 3
    back = read_zarr(spark, out)
    src = spark.sql("SELECT * FROM w_src3")
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, src.collect()))


def test_copy_to_zarr_requires_coords(spark, tmp_path):
    import pytest

    from zarr_datafusion_spark.engine import Engine
    from zarr_datafusion_spark.operators.zarr_queries import fixture_store

    eng = Engine(spark)
    eng.register_zarr("w_src2", fixture_store(2))
    with pytest.raises(ValueError, match="COORDS"):
        eng.sql(
            f"COPY (SELECT * FROM w_src2) TO '{tmp_path}/x.zarr' "
            f"STORED AS ZARR"
        )
