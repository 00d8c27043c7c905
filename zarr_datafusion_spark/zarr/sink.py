"""Distributed Zarr v2 sink — write a flattened DataFrame back as a
chunked Zarr store.

Beyond-reference superset: the reference has NO sink (results are
printed, ``main.rs:169``).  This is the inverse of the source's
nD→2D flatten: a DataFrame holding the dense Cartesian product of its
coordinate columns (row-major or any order) becomes one nD array per
value column, chunked ``(1, d2, d3, ...)`` along the outer dimension —
the same layout the reference's fixture generator uses
(``scripts/data_gen.py:96,116``).

Scale design: the driver writes only metadata and the (tiny) 1-D
coordinate arrays; every outer-index slab of data cells is written by
the executor that owns it (``repartition(outer)`` → ``applyInPandas``
per outer value → one chunk file per data column).  No data cells ever
pass through the driver, so the write scales with the cluster exactly
like the scan does.  Determinism: chunk content depends only on the
(coord → value) mapping, not row order.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from zarr_datafusion_spark.zarr.datasource import _ensure_workers_can_import
from zarr_datafusion_spark.zarr.writer import (
    _V2_DTYPE,
    _compress,
    _encode_shard,
    write_v2_array,
    write_v3_array,
)


def _outer_key_map(vals: np.ndarray, offset: int = 0, positions=None):
    """``(index dict, executor-side key fn)`` for an outer coordinate.

    Datetime axes key by epoch-µs ints: the driver holds
    ``datetime64`` values while ``applyInPandas`` hands the executors
    pandas Timestamps — a shared integer key sidesteps cross-type
    hashing entirely.  Other dtypes key by their Python values, as
    before."""
    if positions is None:
        positions = range(offset, offset + len(vals))
    if vals.dtype.kind == "M":
        keys = vals.astype("datetime64[us]").astype(np.int64)
        idx = {int(k): p for k, p in zip(keys, positions)}

        def okey(v):
            return int(pd.Timestamp(v).value // 1000)

        return idx, okey
    return dict(zip(vals.tolist(), positions)), (lambda v: v)


def _collect_coord(df, c: str, np_dtype=None) -> np.ndarray:
    """Sorted distinct values of one coordinate column; ``np_dtype``
    pins the array dtype (datetime axes: the store's datetime64 unit,
    so comparisons and concatenations stay typed)."""
    rows = df.select(c).distinct().collect()
    if np_dtype is not None and np.dtype(np_dtype).kind == "M":
        return np.sort(np.array([r[0] for r in rows], dtype=np_dtype))
    return np.sort(np.array([r[0] for r in rows]))


def _reject_readonly_store(store_path: str, op: str) -> None:
    """Virtual (kerchunk) stores describe byte ranges of OTHER files —
    there is nothing writable behind them."""
    if store_path.startswith("reference://"):
        raise ValueError(
            f"cannot {op} a reference:// (kerchunk) store: virtual "
            "stores are read-only"
        )
    if store_path.startswith("icechunk://"):
        raise ValueError(
            f"cannot {op} an icechunk:// snapshot directly: snapshots "
            "are immutable — publish a new one with "
            "zarr_datafusion_spark.zarr.icechunk.commit_zarr"
        )


def write_zarr(
    df: DataFrame,
    store_path: str,
    coords: list[str],
    data_vars: list[str] | None = None,
    zarr_format: int = 2,
    shard_outer: int | None = None,
    compression: str | None = None,
) -> dict[str, int]:
    """Write ``df`` as a Zarr v2 store.

    ``coords``: dimension columns, outermost first; the DataFrame must
    contain every combination of their distinct values exactly once
    (dense grid — validated).  ``data_vars`` defaults to all remaining
    numeric columns.  Returns ``{"arrays", "chunk_files", "slabs",
    "bytes_written"}`` — the last is the compressed byte count that
    hit chunk/shard files, summed from executor tasks (the write-side
    A10 counter).

    ``zarr_format``: 2 (``.zgroup``/``.zarray``/``.zmetadata``,
    dot-separated chunk keys) or 3 (per-node ``zarr.json``,
    ``c/<i>/...`` chunk keys, little-endian ``bytes`` codec, root
    group with embedded ``consolidated_metadata`` written LAST as the
    completion marker) — the source reads both, so either roundtrips.

    ``compression``: per-chunk codec applied executor-side — v2
    ``zlib``/``gzip``/``blosc-lz4`` (numcodecs compressor ids), v3
    ``gzip``/``blosc-lz4`` (codec-chain entries); composes with
    ``shard_outer`` (inner chunks compress individually inside the
    shard, exactly what the shard index's per-chunk byte ranges are
    for).  Coordinate arrays stay uncompressed — they are bytes-tiny
    and reading them cheaply matters more (stats shortcuts).

    ``shard_outer`` (v3 only): pack this many consecutive outer slabs
    into ONE ``sharding_indexed`` shard file (ZEP-2; inner chunks stay
    ``(1, d2, ...)``, index at end, bytes-le index codec — the exact
    layout ``chunkio._decode_shard`` reads and the zarrs crate the
    reference depends on writes).  Sharding is THE object-store layout
    at 100 TB: a 10^5-slab store becomes 10^5/S objects instead of
    10^5 per variable, while readers still address single slabs
    through the shard index.  One executor task owns one shard, so
    writes stay collect-free and slab-parallel up to S.

    Driver-memory contract: the ONLY driver-side collect is the
    per-axis distinct coordinate values, and it is hard-bounded at
    :data:`MAX_COORD_VALUES_PER_AXIS` values per axis (checked with a
    ``limit(cap+1)`` in the same job, so the transfer itself is
    bounded too).  An axis exceeding the cap raises ``ValueError``
    before any metadata or chunk is written — a column that large is
    data-sized, not a dense-grid axis.  Data cells never pass through
    the driver at any size.

    ``store_path`` may be an OBJECT-STORE URL (``s3://``, ``gs://``,
    ``az://``): executor tasks PUT their chunk/shard objects directly
    (no local staging of data anywhere), the driver uploads only the
    bytes-tiny metadata/coordinate objects, and the consolidated
    metadata document uploads LAST as the completion marker.  For an
    ATOMIC publish under concurrent readers, commit through
    ``icechunk.commit_zarr`` instead; backends without a write path
    (plain ``http://``) refuse loudly before any work.
    """
    _reject_readonly_store(store_path, "write")
    if len(coords) < 2:
        raise ValueError("need >= 2 coordinate columns (data vars must be nD)")
    spark = df.sparkSession
    _ensure_workers_can_import(spark)
    spark_to_np = {
        "tinyint": np.int8, "smallint": np.int16, "int": np.int32,
        "bigint": np.int64, "float": np.float32, "double": np.float64,
        "boolean": np.bool_,
    }
    if data_vars is None:
        data_vars = [
            f.name
            for f in df.schema.fields
            if f.name not in coords and f.dataType.simpleString() in spark_to_np
        ]
    if not data_vars:
        raise ValueError("no numeric data variable columns to write")
    if zarr_format not in (2, 3):
        raise ValueError(f"zarr_format must be 2 or 3, got {zarr_format}")
    if shard_outer is not None:
        if zarr_format != 3:
            raise ValueError("shard_outer requires zarr_format=3")
        if not isinstance(shard_outer, int) or shard_outer < 2:
            raise ValueError(f"shard_outer must be an int >= 2, got {shard_outer!r}")
    allowed = {2: (None, "zlib", "gzip", "blosc-lz4"),
               3: (None, "gzip", "blosc-lz4")}[zarr_format]
    if compression not in allowed:
        raise ValueError(
            f"v{zarr_format} sink supports compression in {allowed}, "
            f"got {compression!r}"
        )

    # Remote targets build driver-side metadata in a local mirror;
    # owned HERE so any failure path (validation, a slab task, a PUT)
    # still removes it (r12 review finding: the success-path-only
    # cleanup leaked a mirror per failed write).
    meta_root = None
    if _is_remote_store(store_path):
        import shutil
        import tempfile

        from zarr_datafusion_spark.zarr.storage import writable_store_fs

        writable_store_fs(store_path)  # refuse unwritable backends NOW
        meta_root = tempfile.mkdtemp(prefix="zds_sink_meta_")

    # One materialization for the coord/count/write passes (the input
    # may be an expensive upstream plan).
    df = df.select(*coords, *data_vars).persist()
    try:
        return _write_zarr_persisted(
            df, spark, store_path, coords, data_vars, spark_to_np,
            zarr_format, shard_outer, compression, meta_root=meta_root,
        )
    finally:
        df.unpersist()
        if meta_root is not None:
            shutil.rmtree(meta_root, ignore_errors=True)


#: Per-axis cap on driver-collected coordinate values.  Coordinates
#: are AXES of the dense grid, not data: a 10^7-value axis already
#: implies >=10^7 grid rows per value of every other axis, so real
#: stores sit orders of magnitude below this (ERA5: 721 x 1440 x
#: O(10^4) time steps).  The cap makes the 100 TB posture explicit —
#: the collect is bounded metadata, and a DataFrame whose "axis" is
#: actually data-sized fails loudly instead of OOMing the driver.
MAX_COORD_VALUES_PER_AXIS = 10_000_000


def _write_zarr_persisted(
    df, spark, store_path, coords, data_vars, spark_to_np, zarr_format=2,
    shard_outer=None, compression=None, meta_root=None,
):
    # --- driver side: coordinate values (tiny), grid validation, metadata
    coord_values: dict[str, np.ndarray] = {}
    cap = MAX_COORD_VALUES_PER_AXIS
    col_types = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    for c in coords:
        # limit(cap+1) bounds the driver transfer in the same pass that
        # detects overflow — no separate count job, no unbounded collect
        rows = df.select(c).distinct().limit(cap + 1).collect()
        if len(rows) > cap:
            raise ValueError(
                f"coordinate {c!r} has more than {cap} distinct values; "
                "that is data-sized, not axis-sized — not a dense-grid "
                "coordinate"
            )
        if col_types.get(c) in ("timestamp", "timestamp_ntz"):
            # event-time axes (the common real outer dimension): store
            # as datetime64[us] — Spark timestamps ARE µs, the reader
            # maps <M8[*] back to TimestampType, so the roundtrip is
            # exact both formats (v3 data_type carries the numpy name)
            vals = np.sort(
                np.array([r[0] for r in rows], dtype="datetime64[us]")
            )
        elif col_types.get(c) == "date":
            raise ValueError(
                f"coordinate {c!r} is DATE; cast it to TIMESTAMP for a "
                "zarr axis (datetime64 units below seconds only)"
            )
        else:
            vals = np.sort(np.array([r[0] for r in rows]))
        coord_values[c] = vals
    shape = tuple(len(coord_values[c]) for c in coords)
    n_cells = int(np.prod(shape))
    if n_cells == 0:
        # an empty axis would otherwise pass the dense-grid check
        # (0 rows == 0 cells) and die later in repartition(0) with an
        # opaque Spark error (ADVICE r8)
        empty = [c for c in coords if len(coord_values[c]) == 0]
        raise ValueError(
            f"nothing to write: coordinate axis(es) {empty} have no "
            "values (empty input DataFrame?)"
        )
    n_rows = df.count()
    if n_rows != n_cells:
        raise ValueError(
            f"DataFrame is not a dense grid: {n_rows} rows != "
            f"{n_cells} = {' x '.join(map(str, shape))} cells"
        )

    import json

    # Remote targets (s3://, gs://, az://): driver-side metadata and
    # coordinate arrays build in a local MIRROR (``meta_root``, created
    # and cleaned by the ``write_zarr`` caller) and upload as objects
    # (they are bytes-tiny), while executor tasks PUT their chunk slabs
    # straight to the object store — no local staging of data anywhere.
    # The consolidated metadata document uploads LAST as the store's
    # completion marker (object stores have no rename, so a reader
    # polling the consolidated doc sees the store only once complete;
    # for an ATOMIC publish with readers present, commit through
    # icechunk instead).
    remote = meta_root is not None
    if not remote:
        meta_root = store_path
        os.makedirs(store_path, exist_ok=True)

    def _upload_meta(*rels: str) -> None:
        for rel in rels:
            with open(os.path.join(meta_root, *rel.split("/")), "rb") as f:
                _put_object(store_path, rel, f.read())

    if zarr_format == 2:
        with open(os.path.join(meta_root, ".zgroup"), "w") as f:
            json.dump({"zarr_format": 2}, f)

    # 1-D coordinate arrays, one chunk each (the reference's layout)
    write_coord = write_v2_array if zarr_format == 2 else write_v3_array
    for c in coords:
        write_coord(
            meta_root, c, coord_values[c], (len(coord_values[c]),),
            dims=(c,),
        )

    var_dtypes = {}
    for v in data_vars:
        t = dict((f.name, f.dataType.simpleString()) for f in df.schema.fields)[v]
        if t not in spark_to_np:
            raise ValueError(f"unsupported data-var type for zarr write: {v}: {t}")
        var_dtypes[v] = np.dtype(spark_to_np[t])

    # chunk grid: (1, d2, d3, ...) — one chunk per outer index spanning
    # the full inner dims; write array metadata on the driver.  With
    # shard_outer the STORED grid is (S, d2, ...) shards whose inner
    # chunks are the same (1, d2, ...) slabs.
    chunks = (1,) + shape[1:]
    top_chunks = ((shard_outer,) + shape[1:]) if shard_outer else chunks
    for v in data_vars:
        if zarr_format == 2:
            _write_v2_metadata_only(
                meta_root, v, var_dtypes[v], shape, chunks, compression,
                dims=tuple(coords),
            )
        else:
            _write_v3_metadata_only(
                meta_root, v, var_dtypes[v], shape, top_chunks,
                inner_chunks=chunks if shard_outer else None,
                compression=compression,
                dims=tuple(coords),
            )

    if remote:
        # phase 1: everything in the mirror so far (per-array metadata,
        # coordinate arrays, v2 .zgroup) — the consolidated doc is NOT
        # written yet, so the completion marker cannot precede the data
        for dirpath, _dirs, files in os.walk(meta_root):
            for fn in files:
                rel = os.path.relpath(
                    os.path.join(dirpath, fn), meta_root
                ).replace(os.sep, "/")
                _upload_meta(rel)

    # --- executor side: one task per outer index writes its chunk files
    outer = coords[0]
    inner = coords[1:]
    inner_values = {c: coord_values[c] for c in inner}
    inner_shape = shape[1:]
    outer_index, okey = _outer_key_map(coord_values[outer])
    sc = spark.sparkContext
    b_inner = sc.broadcast(inner_values)
    b_outer_index = sc.broadcast(outer_index)
    b_dtypes = sc.broadcast({v: d.str for v, d in var_dtypes.items()})

    out_schema = "outer_idx long, files int, bytes long"

    def _write_slab(pdf: pd.DataFrame) -> pd.DataFrame:
        oi = b_outer_index.value[okey(pdf[outer].iloc[0])]
        # order rows into row-major position within the slab
        pos = np.zeros(len(pdf), dtype=np.int64)
        stride = 1
        for c in reversed(inner):
            vals = b_inner.value[c]
            idx = np.searchsorted(vals, pdf[c].to_numpy())
            pos += idx * stride
            stride *= len(vals)
        n = int(np.prod(inner_shape))
        if len(pdf) != n or len(np.unique(pos)) != n:
            raise ValueError(
                f"slab {oi}: {len(pdf)} rows for {n} cells (grid not dense)"
            )
        files = nbytes = 0
        for v, dstr in b_dtypes.value.items():
            cell = np.empty(n, dtype=np.dtype(dstr))
            cell[pos] = pdf[v].to_numpy()
            if zarr_format == 3:  # v3 'bytes' codec: little-endian
                cell = cell.astype(cell.dtype.newbyteorder("<"), copy=False)
            payload = _compress(
                cell.tobytes(), compression, typesize=cell.dtype.itemsize
            )
            _write_chunk_file(
                store_path, v, oi, 1 + len(inner), payload, zarr_format
            )
            files += 1
            nbytes += len(payload)
        return pd.DataFrame(
            {"outer_idx": [oi], "files": [files], "bytes": [nbytes]}
        )

    def _write_shard(pdf: pd.DataFrame) -> pd.DataFrame:
        m = b_outer_index.value
        shard = int(m[okey(pdf[outer].iloc[0])]) // shard_outer
        oidx = (
            pdf[outer].map(lambda v: m[okey(v)]).to_numpy(dtype=np.int64)
            - shard * shard_outer
        )
        pos = np.zeros(len(pdf), dtype=np.int64)
        stride = 1
        for c in reversed(inner):
            vals = b_inner.value[c]
            idx = np.searchsorted(vals, pdf[c].to_numpy())
            pos += idx * stride
            stride *= len(vals)
        n = int(np.prod(inner_shape))
        present = np.bincount(oidx, minlength=shard_outer)
        flat = oidx * n + pos
        if not ((present == 0) | (present == n)).all() or len(
            np.unique(flat)
        ) != len(pdf):
            raise ValueError(
                f"shard {shard}: partial or duplicated slabs "
                f"(per-outer counts {present.tolist()}, {len(pdf)} rows)"
            )
        files = nbytes = 0
        for v, dstr in b_dtypes.value.items():
            # absent outer rows (trailing partial shard) stay zero —
            # the same padding the single-node sharded writer emits;
            # the array shape slices them away on read
            block = np.zeros((shard_outer, n), dtype=np.dtype(dstr))
            block.flat[flat] = pdf[v].to_numpy()
            block = block.astype(block.dtype.newbyteorder("<"), copy=False)
            payload = _encode_shard(
                block.reshape((shard_outer,) + inner_shape),
                (1,) + inner_shape,
                compression,
            )
            key = "/".join([v, "c", str(shard)] + ["0"] * len(inner))
            _put_object(store_path, key, payload)
            files += 1
            nbytes += len(payload)
        return pd.DataFrame(
            {"outer_idx": [shard], "files": [files], "bytes": [nbytes]}
        )

    if shard_outer:
        n_shards = -(-shape[0] // shard_outer)
        b_shard_index = sc.broadcast(
            {val: i // shard_outer for val, i in outer_index.items()}
        )

        @F.pandas_udf("long")
        def _shard_of(s: pd.Series) -> pd.Series:
            m = b_shard_index.value
            return s.map(lambda v: m[okey(v)])

        results = (
            df.withColumn("__shard__", _shard_of(F.col(outer)))
            .repartition(min(n_shards, 512), "__shard__")
            .groupBy("__shard__")
            .applyInPandas(_write_shard, schema=out_schema)
            .collect()
        )
    else:
        results = (
            df.repartition(min(shape[0], 512), outer)
            .groupBy(outer)
            .applyInPandas(_write_slab, schema=out_schema)
            .collect()
        )

    # consolidated metadata: readers discover the whole store in ONE
    # read — the layout remote/object-store consumers need
    # (metadata.py reads both back; a driver-side metadata pass).
    # v2: .zmetadata next to .zgroup.  v3: the consolidated root
    # group's zarr.json, written LAST so it doubles as the store's
    # completion marker (writer.write_store's convention).
    if zarr_format == 2:
        entries = {}
        for name in list(coords) + list(data_vars):
            with open(os.path.join(meta_root, name, ".zarray")) as f:
                entries[f"{name}/.zarray"] = json.load(f)
            zattrs = os.path.join(meta_root, name, ".zattrs")
            if os.path.exists(zattrs):
                with open(zattrs) as f:
                    entries[f"{name}/.zattrs"] = json.load(f)
        with open(os.path.join(meta_root, ".zmetadata"), "w") as f:
            json.dump({"zarr_consolidated_format": 1, "metadata": entries}, f)
    else:
        nodes = {}
        for name in list(coords) + list(data_vars):
            with open(os.path.join(meta_root, name, "zarr.json")) as f:
                nodes[name] = json.load(f)
        with open(os.path.join(meta_root, "zarr.json"), "w") as f:
            json.dump(
                {
                    "zarr_format": 3,
                    "node_type": "group",
                    "consolidated_metadata": {"metadata": nodes},
                },
                f,
            )

    if remote:
        # phase 2: the consolidated document — the completion marker —
        # uploads only after every chunk PUT succeeded (the mirror dir
        # itself is removed by the write_zarr caller's finally)
        _upload_meta(".zmetadata" if zarr_format == 2 else "zarr.json")

    return {
        "arrays": len(coords) + len(data_vars),
        "chunk_files": sum(r.files for r in results),
        "slabs": len(results),
        # the write-side I/O counter (stats.rs A10 analog): compressed
        # bytes that hit chunk/shard files, summed from executor tasks
        "bytes_written": sum(r.bytes for r in results),
        # rows written == validated dense-grid cell count; callers
        # (COPY ... STORED AS ZARR) must report this instead of
        # re-executing the input query with a second count (ADVICE r8)
        "rows": n_cells,
    }


def _write_v2_metadata_only(
    store: str,
    name: str,
    dtype: np.dtype,
    shape: tuple,
    chunks: tuple,
    compression: str | None = None,
    dims: tuple | None = None,
) -> None:
    import json

    adir = os.path.join(store, name)
    os.makedirs(adir, exist_ok=True)
    if compression == "blosc-lz4":
        compressor = {
            "id": "blosc", "cname": "lz4", "clevel": 5,
            "shuffle": 1, "blocksize": 0,
        }
    elif compression:
        compressor = {"id": compression, "level": 1}
    else:
        compressor = None
    meta = {
        "zarr_format": 2,
        "shape": list(shape),
        "chunks": list(chunks),
        "dtype": _V2_DTYPE[dtype.name],
        "compressor": compressor,
        "fill_value": 0,
        "order": "C",
        "filters": None,
    }
    with open(os.path.join(adir, ".zarray"), "w") as f:
        json.dump(meta, f)
    if dims:
        # xarray's convention: declared dimension names make the axis
        # order exact for every reader (ours strips the attr back out
        # of user-facing schema metadata, exactly as xarray does)
        with open(os.path.join(adir, ".zattrs"), "w") as f:
            json.dump({"_ARRAY_DIMENSIONS": list(dims)}, f)


def _write_v3_metadata_only(
    store: str,
    name: str,
    dtype: np.dtype,
    shape: tuple,
    chunks: tuple,
    inner_chunks: tuple | None = None,
    compression: str | None = None,
    dims: tuple | None = None,
) -> None:
    """v3 array node: regular chunk grid, default ``/``-separated key
    encoding, little-endian ``bytes`` codec — the exact layout
    ``writer.write_v3_array`` emits, minus the chunk payloads (those
    come from the executors).  With ``inner_chunks`` the codec chain
    is wrapped in ``sharding_indexed`` (index at end, bytes-le index
    codec — ``writer.write_v3_array``'s sharded convention); with
    ``compression`` the gzip/blosc codec rides inside the chain, so
    sharded inner chunks compress individually."""
    import json

    adir = os.path.join(store, name)
    os.makedirs(adir, exist_ok=True)
    codecs = [{"name": "bytes", "configuration": {"endian": "little"}}]
    if compression == "gzip":
        codecs.append({"name": "gzip", "configuration": {"level": 1}})
    elif compression == "blosc-lz4":
        codecs.append(
            {
                "name": "blosc",
                "configuration": {
                    "cname": "lz4", "clevel": 5, "shuffle": "shuffle",
                    "typesize": dtype.itemsize, "blocksize": 0,
                },
            }
        )
    if inner_chunks is not None:
        codecs = [
            {
                "name": "sharding_indexed",
                "configuration": {
                    "chunk_shape": list(inner_chunks),
                    "codecs": codecs,
                    "index_codecs": [
                        {"name": "bytes", "configuration": {"endian": "little"}}
                    ],
                    "index_location": "end",
                },
            }
        ]
    meta = {
        "zarr_format": 3,
        "node_type": "array",
        "shape": list(shape),
        "data_type": str(dtype),
        "chunk_grid": {
            "name": "regular",
            "configuration": {"chunk_shape": list(chunks)},
        },
        "chunk_key_encoding": {
            "name": "default",
            "configuration": {"separator": "/"},
        },
        "codecs": codecs,
        "fill_value": 0,
        "attributes": {},
    }
    if dims:
        meta["dimension_names"] = list(dims)  # v3 core-spec field
    with open(os.path.join(adir, "zarr.json"), "w") as f:
        json.dump(meta, f)


def _is_remote_store(store_path: str) -> bool:
    return "://" in store_path and not store_path.startswith("file://")


def _put_object(store_path: str, rel_key: str, payload: bytes) -> None:
    """One store object write, local or remote.  Local: atomic
    tmp+replace, never truncate-in-place — a concurrent reader (or a
    zero-copy mmap of the old chunk) keeps the old inode's bytes, and a
    crash mid-write can never leave a torn chunk file.  Remote: one PUT
    through the write-capable adapter (object stores make per-key PUTs
    atomic already); executors construct their own adapter from the env
    they inherited, same as the read path."""
    if _is_remote_store(store_path):
        from zarr_datafusion_spark.zarr.storage import writable_store_fs

        fs, norm = writable_store_fs(store_path)
        fs.write_bytes(f"{norm}/{rel_key}", payload)
        return
    path = os.path.join(store_path, *rel_key.split("/"))
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = f"{path}.tmp{os.getpid()}"
    with open(tmp, "wb") as f:
        f.write(payload)
    os.replace(tmp, path)


def _write_chunk_file(
    store: str,
    name: str,
    outer_idx: int,
    rank: int,
    payload: bytes,
    zarr_format: int = 2,
) -> None:
    """Chunk key for the (1, d2, ...) grid — v2 ``<outer>.0.0...``,
    v3 ``c/<outer>/0/...``.  ``rank`` is passed by the caller (1 +
    inner dims) so executor tasks never need to read back
    driver-written metadata."""
    if zarr_format == 3:
        key = "/".join([name, "c", str(outer_idx)] + ["0"] * (rank - 1))
    else:
        key = f"{name}/" + ".".join([str(outer_idx)] + ["0"] * (rank - 1))
    _put_object(store, key, payload)


def _compression_token(meta_arr) -> str | None:
    """Map an array's stored compressor/codec config back to the sink's
    ``compression`` token, so appended chunks encode exactly like the
    existing ones."""
    if meta_arr.zarr_format == 2:
        c = meta_arr.compressor
        if c is None:
            return None
        cid = c.get("id")
        if cid in ("zlib", "gzip"):
            return cid
        if cid == "blosc" and c.get("cname", "lz4") == "lz4":
            return "blosc-lz4"
        raise NotImplementedError(f"cannot append to v2 compressor {c!r}")
    names = [c.get("name") for c in meta_arr.codecs]
    if any(n == "sharding_indexed" for n in names):
        raise NotImplementedError(
            "append into a sharded store is not supported: new outer "
            "slabs would land inside the (zero-padded) trailing shard, "
            "which would need a read-modify-write of that shard file"
        )
    for c in meta_arr.codecs:
        if c.get("name") == "gzip":
            return "gzip"
        if c.get("name") == "blosc":
            if (c.get("configuration") or {}).get("cname", "lz4") == "lz4":
                return "blosc-lz4"
            raise NotImplementedError(f"cannot append to v3 codec {c!r}")
    return None


def _read_1d(store_path: str, meta_arr) -> np.ndarray:
    from zarr_datafusion_spark.zarr.chunkio import read_chunk

    n, c = meta_arr.shape[0], meta_arr.chunks[0]
    parts = [
        read_chunk(store_path, meta_arr, (i,)) for i in range(-(-n // c))
    ]
    return np.concatenate(parts)[:n]


def append_zarr(df: DataFrame, store_path: str) -> dict[str, int]:
    """Append new OUTER slabs (e.g. new time steps) to an existing
    sink-written store — the standard Zarr ingestion workflow (ERA5
    grows by one time slice per assimilation cycle; the reference's
    fixture generator regenerates whole stores instead,
    ``scripts/data_gen.py``).  The append unit is the store's own
    chunk unit, so NO existing chunk file is ever rewritten:

    * the DataFrame must carry every store column; its inner-coordinate
      values must equal the store's (same grid cross-section);
    * new outer values must all exceed the current outer max
      (monotonic append keeps the coordinate array sorted — the
      contract the min/max stats shortcuts and range pushdown rely on);
    * new slabs are written by executors at offset outer indices with
      the store's own compression (``_compression_token``), then the
      1-D outer coordinate array is extended and every array's shape
      metadata patched IN PLACE (other fields untouched), consolidated
      metadata LAST as the completion marker.

    Returns ``{"appended_slabs", "outer_size", "bytes_written"}``.
    100 TB posture: appends touch only the new slabs + O(metadata);
    the driver handles only coordinate values (axis-bounded).
    """
    _reject_readonly_store(store_path, "append")
    if _is_remote_store(store_path):
        raise NotImplementedError(
            "in-place append to an object-store path is non-transactional "
            "(a reader can observe the grown metadata before the new "
            "slabs land); append through the transactional layer instead: "
            "zarr_datafusion_spark.zarr.icechunk.append_snapshot"
        )
    from zarr_datafusion_spark.zarr.metadata import discover_arrays

    meta = discover_arrays(store_path)
    coords = [c.name for c in meta.coords]
    data_vars = sorted(v.name for v in meta.data_vars)
    outer, inner = coords[0], coords[1:]
    # sharded detection first: its error names the real obstacle
    compressions = {v.name: _compression_token(v) for v in meta.data_vars}
    for v in meta.data_vars:
        if v.chunks != (1,) + v.shape[1:]:
            raise NotImplementedError(
                f"append requires the sink's (1, d2, ...) chunk layout; "
                f"{v.name} has chunks {v.chunks}"
            )

    spark = df.sparkSession
    _ensure_workers_can_import(spark)
    df = df.select(*coords, *data_vars).persist()
    try:
        old_outer = _read_1d(store_path, meta.array(outer))
        new_outer = _collect_coord(df, outer, old_outer.dtype)
        if len(new_outer) == 0:
            # empty input would otherwise fail the inner-grid check
            # with a misleading mismatch message (or, skipping that,
            # pass the dense-grid check 0 rows == 0 cells and die in
            # repartition(0)) — say what actually happened (ADVICE r8)
            raise ValueError(
                "nothing to append: input DataFrame has no "
                f"{outer!r} values (empty input?)"
            )
        # validate the inner grid cross-section matches the store
        inner_values: dict[str, np.ndarray] = {}
        for c in inner:
            stored = _read_1d(store_path, meta.array(c))
            have = _collect_coord(df, c, stored.dtype)
            if len(have) != len(stored) or not (have == stored).all():
                raise ValueError(
                    f"inner coordinate {c!r} does not match the store's "
                    f"({len(have)} vs {len(stored)} values)"
                )
            inner_values[c] = stored
        if not (new_outer[0] > old_outer[-1]):
            raise ValueError(
                f"append must be monotonic: new {outer} min "
                f"{new_outer[0]!r} <= stored max {old_outer[-1]!r}"
            )
        inner_shape = tuple(len(inner_values[c]) for c in inner)
        n_cells = len(new_outer) * int(np.prod(inner_shape))
        n_rows = df.count()
        if n_rows != n_cells:
            raise ValueError(
                f"appended block is not a dense grid: {n_rows} rows != "
                f"{n_cells} cells"
            )

        offset = len(old_outer)
        outer_index, okey = _outer_key_map(new_outer, offset=offset)
        var_dtypes = {
            v.name: np.dtype(v.dtype).str for v in meta.data_vars
        }
        zarr_format = meta.zarr_format
        sc = spark.sparkContext
        b_inner = sc.broadcast(inner_values)
        b_outer_index = sc.broadcast(outer_index)
        b_dtypes = sc.broadcast(var_dtypes)
        b_comp = sc.broadcast(compressions)

        def _append_slab(pdf: pd.DataFrame) -> pd.DataFrame:
            oi = b_outer_index.value[okey(pdf[outer].iloc[0])]
            pos = np.zeros(len(pdf), dtype=np.int64)
            stride = 1
            for c in reversed(inner):
                vals = b_inner.value[c]
                idx = np.searchsorted(vals, pdf[c].to_numpy())
                pos += idx * stride
                stride *= len(vals)
            n = int(np.prod(inner_shape))
            if len(pdf) != n or len(np.unique(pos)) != n:
                raise ValueError(
                    f"slab {oi}: {len(pdf)} rows for {n} cells"
                )
            files = nbytes = 0
            for v, dstr in b_dtypes.value.items():
                cell = np.empty(n, dtype=np.dtype(dstr))
                cell[pos] = pdf[v].to_numpy()
                if zarr_format == 3:
                    cell = cell.astype(
                        cell.dtype.newbyteorder("<"), copy=False
                    )
                payload = _compress(
                    cell.tobytes(),
                    b_comp.value[v],
                    typesize=cell.dtype.itemsize,
                )
                _write_chunk_file(
                    store_path, v, oi, 1 + len(inner), payload, zarr_format
                )
                files += 1
                nbytes += len(payload)
            return pd.DataFrame(
                {"outer_idx": [oi], "files": [files], "bytes": [nbytes]}
            )

        results = (
            df.repartition(min(len(new_outer), 512), outer)
            .groupBy(outer)
            .applyInPandas(
                _append_slab, schema="outer_idx long, files int, bytes long"
            )
            .collect()
        )
    finally:
        df.unpersist()

    # extend the outer coordinate array (tiny, driver-side), then patch
    # every array's shape metadata in place; consolidated metadata LAST
    import json

    combined = np.concatenate([old_outer, new_outer])
    write_coord = write_v2_array if zarr_format == 2 else write_v3_array
    write_coord(store_path, outer, combined, (len(combined),), dims=(outer,))
    meta_name = ".zarray" if zarr_format == 2 else "zarr.json"
    for v in data_vars:
        p = os.path.join(store_path, v, meta_name)
        with open(p) as f:
            m = json.load(f)
        m["shape"][0] += len(new_outer)
        with open(p, "w") as f:
            json.dump(m, f)
    if zarr_format == 2:
        zmeta = os.path.join(store_path, ".zmetadata")
        if os.path.exists(zmeta):
            entries = {}
            for name in coords + data_vars:
                with open(os.path.join(store_path, name, ".zarray")) as f:
                    entries[f"{name}/.zarray"] = json.load(f)
                zattrs = os.path.join(store_path, name, ".zattrs")
                if os.path.exists(zattrs):
                    # keep dimension declarations (and any user attrs)
                    # visible to consolidated discovery after appends
                    with open(zattrs) as f:
                        entries[f"{name}/.zattrs"] = json.load(f)
            with open(zmeta, "w") as f:
                json.dump(
                    {"zarr_consolidated_format": 1, "metadata": entries}, f
                )
    else:
        nodes = {}
        for name in coords + data_vars:
            with open(os.path.join(store_path, name, meta_name)) as f:
                nodes[name] = json.load(f)
        with open(os.path.join(store_path, "zarr.json"), "w") as f:
            json.dump(
                {
                    "zarr_format": 3,
                    "node_type": "group",
                    "consolidated_metadata": {"metadata": nodes},
                },
                f,
            )
    return {
        "appended_slabs": len(results),
        "outer_size": len(combined),
        "bytes_written": sum(r.bytes for r in results),
    }


def _republish_marker(store_path: str) -> None:
    """Replace the store's metadata marker with a new file holding the
    same bytes, so every cache keyed on the marker's identity (the
    chunk-statistics sidecar: inode, size, mtime) sees a new store
    version once the chunk files changed — within one mtime tick too,
    since the replacement is a new inode."""
    from zarr_datafusion_spark.stats.chunk_stats import _store_marker
    from zarr_datafusion_spark.zarr.storage import tmp_name

    marker = _store_marker(store_path)
    if marker is None:
        return
    with open(marker, "rb") as f:
        payload = f.read()
    tmp = tmp_name(marker)
    with open(tmp, "wb") as f:
        f.write(payload)
    os.replace(tmp, marker)


def update_zarr_region(df: DataFrame, store_path: str) -> dict[str, int]:
    """Overwrite EXISTING outer slabs of a sink-written store in place —
    the region-write half of the ingestion workflow (:func:`append_zarr`
    adds new slabs; this corrects ones already written, e.g. a
    reanalysis re-issuing time steps).  The update unit is again the
    store's own outer chunk, so the operation rewrites exactly the
    affected chunk files and changes NO metadata (shape, coords and
    consolidated metadata are all unchanged by construction); the
    metadata marker is re-published with the same bytes so statistics
    keyed on it are recomputed.

    Contract (validated before any file is touched):

    * the DataFrame must carry every store column; its inner grid
      cross-section must equal the store's;
    * every outer value must already exist in the store (unknown outer
      values are an error — use :func:`append_zarr` to grow);
    * each touched slab must arrive as a complete dense grid (partial
      slab updates would need read-modify-write of live chunks).

    The input is eagerly ``localCheckpoint``-ed first: an update built
    by READING the store it overwrites (the natural "fix this region"
    idiom) must be fully materialized before the first chunk file is
    replaced, or the lazy scan could observe its own writes (the
    round-8 streaming-index lesson).

    Returns ``{"updated_slabs", "outer_size", "bytes_written"}``.
    """
    _reject_readonly_store(store_path, "update")
    if _is_remote_store(store_path):
        raise NotImplementedError(
            "in-place update of an object-store path is non-transactional "
            "(a multi-chunk update is not atomic for concurrent readers); "
            "publish a corrected snapshot through the transactional layer "
            "instead: zarr_datafusion_spark.zarr.icechunk.commit_zarr"
        )
    import json  # noqa: F401 — parity with append_zarr's tail imports

    from zarr_datafusion_spark.zarr.metadata import discover_arrays

    meta = discover_arrays(store_path)
    coords = [c.name for c in meta.coords]
    data_vars = sorted(v.name for v in meta.data_vars)
    outer, inner = coords[0], coords[1:]
    # layout check FIRST: for sharded stores _compression_token raises
    # an append-specific message; the update contract is the chunk grid
    for v in meta.data_vars:
        if v.chunks != (1,) + v.shape[1:]:
            raise NotImplementedError(
                f"region update requires the sink's (1, d2, ...) chunk "
                f"layout; {v.name} has chunks {v.chunks}"
            )
    compressions = {v.name: _compression_token(v) for v in meta.data_vars}

    spark = df.sparkSession
    _ensure_workers_can_import(spark)
    df = df.select(*coords, *data_vars).localCheckpoint()
    inner_values: dict[str, np.ndarray] = {}
    for c in inner:
        stored = _read_1d(store_path, meta.array(c))
        have = _collect_coord(df, c, stored.dtype)
        if len(have) != len(stored) or not (have == stored).all():
            raise ValueError(
                f"inner coordinate {c!r} does not match the store's "
                f"({len(have)} vs {len(stored)} values)"
            )
        inner_values[c] = stored
    old_outer = _read_1d(store_path, meta.array(outer))
    upd_outer = _collect_coord(df, outer, old_outer.dtype)
    pos = np.searchsorted(old_outer, upd_outer)
    known = (pos < len(old_outer)) & (old_outer[np.minimum(pos, len(old_outer) - 1)] == upd_outer)
    if not known.all():
        bad = upd_outer[~known].tolist()
        raise ValueError(
            f"region update must target existing {outer} values; "
            f"unknown: {bad[:5]} (use append_zarr to grow the store)"
        )
    inner_shape = tuple(len(inner_values[c]) for c in inner)
    n_cells = len(upd_outer) * int(np.prod(inner_shape))
    n_rows = df.count()
    if n_rows != n_cells:
        raise ValueError(
            f"updated region is not a dense grid: {n_rows} rows != "
            f"{n_cells} cells"
        )

    outer_index, okey = _outer_key_map(upd_outer, positions=pos.tolist())
    var_dtypes = {v.name: np.dtype(v.dtype).str for v in meta.data_vars}
    zarr_format = meta.zarr_format
    sc = spark.sparkContext
    b_inner = sc.broadcast(inner_values)
    b_outer_index = sc.broadcast(outer_index)
    b_dtypes = sc.broadcast(var_dtypes)
    b_comp = sc.broadcast(compressions)

    def _update_slab(pdf: pd.DataFrame) -> pd.DataFrame:
        oi = b_outer_index.value[okey(pdf[outer].iloc[0])]
        cell_pos = np.zeros(len(pdf), dtype=np.int64)
        stride = 1
        for c in reversed(inner):
            vals = b_inner.value[c]
            idx = np.searchsorted(vals, pdf[c].to_numpy())
            cell_pos += idx * stride
            stride *= len(vals)
        n = int(np.prod(inner_shape))
        if len(pdf) != n or len(np.unique(cell_pos)) != n:
            raise ValueError(f"slab {oi}: {len(pdf)} rows for {n} cells")
        files = nbytes = 0
        for v, dstr in b_dtypes.value.items():
            cell = np.empty(n, dtype=np.dtype(dstr))
            cell[cell_pos] = pdf[v].to_numpy()
            if zarr_format == 3:
                cell = cell.astype(cell.dtype.newbyteorder("<"), copy=False)
            payload = _compress(
                cell.tobytes(), b_comp.value[v], typesize=cell.dtype.itemsize
            )
            _write_chunk_file(
                store_path, v, oi, 1 + len(inner), payload, zarr_format
            )
            files += 1
            nbytes += len(payload)
        return pd.DataFrame(
            {"outer_idx": [oi], "files": [files], "bytes": [nbytes]}
        )

    results = (
        df.repartition(min(len(upd_outer), 512), outer)
        .groupBy(outer)
        .applyInPandas(
            _update_slab, schema="outer_idx long, files int, bytes long"
        )
        .collect()
    )
    _republish_marker(store_path)
    return {
        "updated_slabs": len(results),
        "outer_size": len(old_outer),
        "bytes_written": sum(r.bytes for r in results),
    }
