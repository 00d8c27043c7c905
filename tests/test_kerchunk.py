"""Kerchunk / virtual-reference store tests (reference roadmap
``README.md:331`` — an UNCHECKED row the reference never built).

Layers: loader (v0/v1 envelopes, templates, the honest ``gen`` gate),
adapter protocol (exists/isdir/listdir over the refs key space),
differential reads (whole-file refs, archive byte-range refs, base64
and latin-1 inlines, missing-chunk fill_value — each against the real
store the refs virtualise), live HTTP byte-range targets (both a
206-answering server and a Range-ignoring one), engine registration
with pushdown, and the read-only write guards."""

from __future__ import annotations

import base64
import json
import os

import numpy as np
import pytest

from zarr_datafusion_spark.zarr.kerchunk import (
    ReferenceStoreFS,
    load_references,
    virtualize_store,
    write_references,
)


@pytest.fixture(scope="module")
def weather_refs(tmp_path_factory):
    """(store, whole-file refs, archive refs) for the weather fixture."""
    from zarr_datafusion_spark.operators.zarr_queries import fixture_store

    d = tmp_path_factory.mktemp("kc")
    store = fixture_store(2)
    plain = virtualize_store(store, str(d / "w.refs.json"))
    arc = virtualize_store(
        store, str(d / "wa.refs.json"), archive_path=str(d / "w.bin")
    )
    return store, plain, arc


# ---------------------------------------------------------------------------
# Loader
# ---------------------------------------------------------------------------


def test_v0_flat_and_v1_envelope(tmp_path):
    p0 = str(tmp_path / "v0.json")
    with open(p0, "w") as f:
        json.dump({"a/.zarray": "{}", "a/0": ["x.bin", 0, 4]}, f)
    assert load_references(p0) == {"a/.zarray": "{}", "a/0": ["x.bin", 0, 4]}

    p1 = write_references(
        str(tmp_path / "v1.json"),
        {"a/0": ["{{u}}/x.bin", 8, 16], "a/1": ["{{ u }}/y.bin"]},
        templates={"u": "https://example.invalid/data"},
    )
    r = load_references(p1)
    assert r["a/0"] == ["https://example.invalid/data/x.bin", 8, 16]
    assert r["a/1"] == ["https://example.invalid/data/y.bin"]


def test_loader_error_gates(tmp_path):
    bad_ver = str(tmp_path / "v2.json")
    with open(bad_ver, "w") as f:
        json.dump({"version": 2, "refs": {}}, f)
    with pytest.raises(NotImplementedError, match="version"):
        load_references(bad_ver)

    gen = str(tmp_path / "gen.json")
    with open(gen, "w") as f:
        json.dump({"version": 1, "gen": [{"key": "a/{{i}}"}], "refs": {}}, f)
    with pytest.raises(NotImplementedError, match="gen"):
        load_references(gen)

    undef = write_references(
        str(tmp_path / "undef.json"), {"a/0": ["{{nope}}/x.bin", 0, 1]}
    )
    with pytest.raises(ValueError, match="undefined template"):
        load_references(undef)

    expr = write_references(
        str(tmp_path / "expr.json"),
        {"a/0": ["{{ 10*u }}/x.bin", 0, 1]},
        templates={"u": "z"},
    )
    with pytest.raises(NotImplementedError, match="template expression"):
        load_references(expr)


# ---------------------------------------------------------------------------
# Adapter protocol + targets
# ---------------------------------------------------------------------------


def test_adapter_protocol_surface(weather_refs):
    store, plain, _ = weather_refs
    fs = ReferenceStoreFS(plain)
    root = fs.root
    assert fs.isdir(root)
    assert sorted(fs.listdir(root)) == sorted(os.listdir(store))
    assert fs.exists(os.path.join(root, ".zgroup"))
    assert fs.isdir(os.path.join(root, "temperature"))
    assert not fs.exists(os.path.join(root, "temperature/9.9.9"))
    with pytest.raises(FileNotFoundError):
        fs.read_bytes(os.path.join(root, "temperature/9.9.9"))
    with pytest.raises(FileNotFoundError):
        fs.listdir(os.path.join(root, "no_such_array"))
    meta = json.loads(fs.read_text(os.path.join(root, "temperature/.zarray")))
    assert meta["shape"] == [7, 10, 10]
    # byte identity against the real store for one chunk payload
    want = open(os.path.join(store, "temperature", "0.0.0"), "rb").read()
    assert fs.read_bytes(os.path.join(root, "temperature/0.0.0")) == want


def test_inline_base64_and_latin1(tmp_path):
    payload = bytes(range(256))
    refs = write_references(
        str(tmp_path / "inl.json"),
        {
            "b64": "base64:" + base64.b64encode(payload).decode(),
            "lat1": payload.decode("latin-1"),
            "text": "hello",
        },
    )
    fs = ReferenceStoreFS(refs)
    assert fs.read_bytes(f"{fs.root}/b64") == payload
    assert fs.read_bytes(f"{fs.root}/lat1") == payload
    assert fs.read_text(f"{fs.root}/text") == "hello"


def test_relative_targets_resolve_against_refs_dir(tmp_path):
    with open(tmp_path / "blob.bin", "wb") as f:
        f.write(b"0123456789abcdef")
    refs = write_references(
        str(tmp_path / "rel.json"),
        {"whole": ["blob.bin"], "range": ["blob.bin", 4, 6]},
    )
    fs = ReferenceStoreFS(refs)
    assert fs.read_bytes(f"{fs.root}/whole") == b"0123456789abcdef"
    assert fs.read_bytes(f"{fs.root}/range") == b"456789"
    with pytest.raises(OSError, match="beyond EOF"):
        ReferenceStoreFS(
            write_references(
                str(tmp_path / "eof.json"), {"r": ["blob.bin", 10, 100]}
            )
        ).read_bytes("r")


def test_unsupported_target_scheme(tmp_path):
    refs = write_references(
        str(tmp_path / "ftp.json"), {"a": ["ftp://host/x.bin", 0, 1]}
    )
    with pytest.raises(NotImplementedError, match="scheme"):
        ReferenceStoreFS(refs).read_bytes("a")


# ---------------------------------------------------------------------------
# Differential reads through Spark
# ---------------------------------------------------------------------------


def test_reference_scan_matches_real_store(spark, weather_refs):
    from zarr_datafusion_spark.zarr import read_zarr

    store, plain, arc = weather_refs
    real = read_zarr(spark, store).orderBy("time", "lat", "lon").collect()
    for refs in (plain, arc):
        got = (
            read_zarr(spark, f"reference://{refs}")
            .orderBy("time", "lat", "lon")
            .collect()
        )
        assert got == real


def test_reference_pushdown_matches(spark, weather_refs):
    """The pushdown machinery is storage-agnostic: a filtered scan over
    the virtual store equals the real store's."""
    from pyspark.sql import functions as F

    from zarr_datafusion_spark.zarr import read_zarr

    store, _, arc = weather_refs
    pred = (F.col("time") >= 2) & (F.col("time") < 5) & (F.col("lat") > 6)
    real = read_zarr(spark, store).filter(pred).orderBy("time", "lat", "lon")
    virt = (
        read_zarr(spark, f"reference://{arc}", eager_pushdown=True)
        .filter(pred)
        .orderBy("time", "lat", "lon")
    )
    assert virt.collect() == real.collect()


def test_missing_chunk_ref_is_fill_value(spark, tmp_path):
    """A chunk key absent from the refs behaves exactly like an absent
    chunk file: the spec-mandated fill_value."""
    from zarr_datafusion_spark.zarr import read_zarr
    from zarr_datafusion_spark.zarr.writer import write_store

    store = str(tmp_path / "gap.zarr")
    write_store(
        store,
        {
            "t": (np.arange(4, dtype=np.int64), (4,)),
            "x": (np.arange(3, dtype=np.int64), (3,)),
            "v": (np.arange(12, dtype=np.int64).reshape(4, 3), (2, 3)),
        },
    )
    refs_path = str(tmp_path / "gap.refs.json")
    refs = load_references(virtualize_store(store, refs_path, inline_threshold=0))
    del refs["v/1.0"]  # drop the t in {2,3} slab
    write_references(refs_path, refs)
    rows = (
        read_zarr(spark, f"reference://{refs_path}")
        .orderBy("t", "x")
        .collect()
    )
    assert [r.v for r in rows] == [0, 1, 2, 3, 4, 5, 0, 0, 0, 0, 0, 0]


# ---------------------------------------------------------------------------
# Live HTTP byte-range targets
# ---------------------------------------------------------------------------


@pytest.fixture()
def range_server(tmp_path):
    """Serve tmp_path over HTTP with honest 206 Range support, plus a
    hit log so tests can assert chunk reads stayed ranged."""
    import http.server
    import threading

    hits: list[tuple[str, str | None, int]] = []
    root = str(tmp_path)

    class Handler(http.server.BaseHTTPRequestHandler):
        def log_message(self, *a):  # quiet
            pass

        def do_GET(self):
            path = os.path.join(root, self.path.lstrip("/"))
            if not os.path.isfile(path):
                self.send_error(404)
                return
            data = open(path, "rb").read()
            rng = self.headers.get("Range")
            status = 200
            if rng and rng.startswith("bytes="):
                lo, hi = rng[len("bytes=") :].split("-")
                data = data[int(lo) : int(hi) + 1]
                status = 206
            hits.append((self.path, rng, len(data)))
            self.send_response(status)
            self.send_header("Content-Length", str(len(data)))
            self.end_headers()
            self.wfile.write(data)

    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        yield f"http://127.0.0.1:{srv.server_address[1]}", hits
    finally:
        srv.shutdown()
        srv.server_close()


def test_http_range_targets_live(spark, tmp_path, range_server):
    """Virtual store whose payloads are byte ranges of ONE archive blob
    served over real HTTP: the scan answers correctly and every chunk
    read is a ranged GET of exactly its own bytes — the object-store
    access pattern kerchunk exists for (never the whole archive)."""
    from zarr_datafusion_spark.zarr import read_zarr
    from zarr_datafusion_spark.zarr.writer import write_store

    url, hits = range_server
    store = str(tmp_path / "src.zarr")
    write_store(
        store,
        {
            "t": (np.arange(6, dtype=np.int64), (6,)),
            "x": (np.arange(4, dtype=np.int64), (4,)),
            "v": (np.arange(24, dtype=np.int64).reshape(6, 4), (2, 4)),
        },
    )
    refs_path = str(tmp_path / "http.refs.json")
    # inline_threshold=0: even the 64-byte chunk payloads become
    # archive ranges (the point of this test), metadata included
    virtualize_store(
        store,
        refs_path,
        archive_path=str(tmp_path / "arc.bin"),
        inline_threshold=0,
    )
    refs = load_references(refs_path)
    blob_size = os.path.getsize(tmp_path / "arc.bin")
    rewritten = {
        k: (
            ["{{u}}/arc.bin", v[1], v[2]]
            if isinstance(v, list) and len(v) == 3
            else v
        )
        for k, v in refs.items()
    }
    with open(refs_path, "w") as f:
        json.dump({"version": 1, "templates": {"u": url}, "refs": rewritten}, f)

    rows = read_zarr(spark, f"reference://{refs_path}").orderBy("t", "x").collect()
    assert [r.v for r in rows] == list(range(24))
    ranged = [h for h in hits if h[1]]
    assert ranged, "no ranged GETs reached the server"
    assert all(n < blob_size for _, _, n in ranged), "a chunk read fetched the whole archive"


def test_http_range_ignored_falls_back_client_side(tmp_path, range_server):
    """A server that ignores Range (SimpleHTTPRequestHandler behavior)
    still yields correct bytes: the adapter slices client-side when a
    200 comes back oversized."""
    import http.server
    import threading

    with open(tmp_path / "blob.bin", "wb") as f:
        f.write(bytes(range(97)) * 3)

    root = str(tmp_path)
    handler = lambda *a, **kw: http.server.SimpleHTTPRequestHandler(  # noqa: E731
        *a, directory=root, **kw
    )
    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        url = f"http://127.0.0.1:{srv.server_address[1]}/blob.bin"
        refs = write_references(
            str(tmp_path / "noranges.json"), {"r": [url, 100, 50]}
        )
        got = ReferenceStoreFS(refs).read_bytes("r")
        assert got == (bytes(range(97)) * 3)[100:150]
    finally:
        srv.shutdown()
        srv.server_close()


def test_object_store_targets_read_through_adapters(tmp_path, monkeypatch):
    """An s3:// payload target is read by the same object-store adapter
    as an s3:// store — whole-file and byte-range refs alike (this
    server ignores Range, so the range is sliced client-side)."""
    from tests.test_icechunk import _writable_s3_server
    from zarr_datafusion_spark.zarr import storage as st

    blob = bytes(range(97)) * 3
    srv, objects, ep = _writable_s3_server("kbucket")
    objects["arc.bin"] = blob
    monkeypatch.setenv("AWS_ENDPOINT_URL_S3", ep)
    st._ADAPTER_CACHE.clear()
    try:
        refs = write_references(
            str(tmp_path / "s3.json"),
            {"whole": ["s3://kbucket/arc.bin"], "r": ["s3://kbucket/arc.bin", 100, 50]},
        )
        fs = ReferenceStoreFS(refs)
        assert fs.read_bytes("whole") == blob
        assert fs.read_bytes("r") == blob[100:150]
    finally:
        srv.shutdown()
        srv.server_close()
        st._ADAPTER_CACHE.clear()


# ---------------------------------------------------------------------------
# Engine + read-only guards
# ---------------------------------------------------------------------------


def test_engine_registers_reference_store(spark, weather_refs):
    from zarr_datafusion_spark.engine import Engine

    _, _, arc = weather_refs
    e = Engine(spark)
    e.register_zarr("kc_weather", f"reference://{arc}")
    got = e.sql(
        "SELECT time, AVG(temperature) AS avg_t FROM kc_weather "
        "GROUP BY time ORDER BY time"
    ).collect()
    want = spark.sql(
        "SELECT time, AVG(temperature) AS avg_t FROM kc_weather "
        "GROUP BY time ORDER BY time"
    ).collect()
    assert got == want and len(got) == 7


def test_reference_store_is_read_only(spark, weather_refs):
    from zarr_datafusion_spark.zarr.sink import (
        append_zarr,
        update_zarr_region,
        write_zarr,
    )

    _, plain, _ = weather_refs
    df = spark.range(4).selectExpr("id AS t", "id AS x", "id AS v")
    with pytest.raises(ValueError, match="read-only"):
        write_zarr(df, f"reference://{plain}", ["t", "x"])
    with pytest.raises(ValueError, match="read-only"):
        append_zarr(df, f"reference://{plain}")
    with pytest.raises(ValueError, match="read-only"):
        update_zarr_region(df, f"reference://{plain}")
