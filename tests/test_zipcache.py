"""The lazy zip-directory cache (``zarr_datafusion_spark.zipcache``):
``invalidate_caches()`` defers the archive re-read to the next lookup,
one read serves every importer over the archive, and imports still see
an archive rewritten on disk."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

from zarr_datafusion_spark import zipcache


def _write_zip(path: str, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(name, src)


def test_invalidate_defers_one_directory_read_to_next_lookup(tmp_path, monkeypatch):
    assert zipcache.installed()
    archive = str(tmp_path / "lib.zip")
    _write_zip(archive, {"zc_top.py": "X = 1\n", "sub/zc_inner.py": "Y = 2\n"})
    importers = [
        zipimport.zipimporter(archive),
        zipimport.zipimporter(archive),
        zipimport.zipimporter(os.path.join(archive, "sub")),
    ]
    # register them the way sys.path entries are, so that
    # importlib.invalidate_caches() reaches them
    for i, imp in enumerate(importers):
        monkeypatch.setitem(sys.path_importer_cache, f"{archive}{os.sep}{i}", imp)
    reads = []
    real_read = zipimport._read_directory

    def counting_read(path):
        reads.append(path)
        return real_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)

    importlib.invalidate_caches()
    assert reads.count(archive) == 0
    assert archive not in zipimport._zip_directory_cache

    assert importers[0].find_spec("zc_top") is not None
    assert reads.count(archive) == 1
    assert importers[1].find_spec("zc_top") is not None
    assert importers[2].find_spec("zc_inner") is not None
    assert importers[2].find_spec("zc_top") is None
    assert reads.count(archive) == 1


def test_rewritten_archive_imports_new_module(tmp_path, monkeypatch):
    archive = str(tmp_path / "lib.zip")
    _write_zip(archive, {"zc_old.py": "V = 1\n"})
    monkeypatch.syspath_prepend(archive)
    try:
        assert importlib.import_module("zc_old").V == 1
        _write_zip(archive, {"zc_old.py": "V = 1\n", "zc_new.py": "V = 2\n"})
        importlib.invalidate_caches()
        assert importlib.import_module("zc_new").V == 2
    finally:
        sys.modules.pop("zc_old", None)
        sys.modules.pop("zc_new", None)


def test_invalidate_on_deleted_archive_does_not_raise(tmp_path):
    archive = str(tmp_path / "lib.zip")
    _write_zip(archive, {"zc_gone.py": "Z = 3\n"})
    imp = zipimport.zipimporter(archive)
    assert imp.find_spec("zc_gone") is not None
    os.remove(archive)
    imp.invalidate_caches()
    assert imp.find_spec("zc_gone") is None
    # an unreadable archive is not cached as empty: once it is back,
    # the next lookup reads it without another invalidation
    assert archive not in zipimport._zip_directory_cache
    _write_zip(archive, {"zc_gone.py": "Z = 3\n"})
    assert imp.find_spec("zc_gone") is not None


def test_spark_worker_importing_package_has_lazy_cache(spark):
    from zarr_datafusion_spark.zarr.datasource import _ensure_workers_can_import

    _ensure_workers_can_import(spark)

    def probe(batches):
        import importlib
        import sys
        import zipimport

        import pyarrow as pa

        from zarr_datafusion_spark import zipcache

        for _ in batches:
            pass
        importlib.invalidate_caches()
        archives = {
            f.archive
            for f in sys.path_importer_cache.values()
            if isinstance(f, zipimport.zipimporter)
        }
        yield pa.RecordBatch.from_pydict(
            {
                "lazy": [zipcache.installed()],
                "archives": [len(archives)],
                "reread": [len(archives & set(zipimport._zip_directory_cache))],
            }
        )

    schema = "lazy boolean, archives long, reread long"
    row = spark.range(1, numPartitions=1).mapInArrow(probe, schema).collect()[0]
    assert row.lazy
    # the worker imports through pyspark.zip; after the invalidation
    # no archive directory has been re-read yet
    assert row.archives >= 1
    assert row.reread == 0
