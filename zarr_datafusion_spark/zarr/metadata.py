"""Zarr store metadata: version detection, array discovery, schema inference.

Pure-JSON parsing of Zarr v2 (``.zgroup``/``.zarray``) and v3
(``zarr.json``) metadata — the Spark-native rebuild of the reference's
``src/reader/schema_inference.rs`` semantics:

* version detection: root v3 ``zarr.json`` wins, else v2 ``.zgroup``/
  ``.zarray``, else probe subdirectories (``schema_inference.rs:47-77``);
* every 1-D array is a coordinate, every nD array a data variable whose
  dimensionality must equal the coordinate count
  (``schema_inference.rs:5-19,90-93``);
* dimension order inferred by matching a data variable's shape to
  coordinate sizes, first-unused match per position; alphabetical
  fallback (``schema_inference.rs:311-358``).  Divergence: the
  reference seeds the match with filesystem readdir order, which is
  nondeterministic (its fixture happens to yield ``[time,lon,lat]``);
  we seed with sorted names so inference is deterministic across
  machines and object stores;
* data variables sorted alphabetically (``schema_inference.rs:371``);
* coordinate min/max computed eagerly by reading each (small, 1-D)
  coordinate array at inference time (``schema_inference.rs:214-302``)
  — powers the statistics shortcuts and filter pushdown;
* total_rows = product of coordinate sizes (``schema_inference.rs:392``).

Scale note: inference reads only JSON metadata plus the 1-D coordinate
arrays — O(#arrays + sum coord sizes), independent of data volume, so a
100 TB store with metre-scale coords registers in milliseconds.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import types as T

from zarr_datafusion_spark.zarr.storage import StorageLocation, store_fs

# ---------------------------------------------------------------------------
# dtype normalization (reference src/reader/dtype.rs:9-75)
# ---------------------------------------------------------------------------

_V2_DTYPE_CODES = {
    "i1": "int8",
    "i2": "int16",
    "i4": "int32",
    "i8": "int64",
    "u1": "uint8",
    "u2": "uint16",
    "u4": "uint32",
    "u8": "uint64",
    "f2": "float16",
    "f4": "float32",
    "f8": "float64",
    "b1": "bool",
}

#: normalized dtype -> Spark SQL type (SURVEY §1.2 mapping: unsigned
#: types widen since Spark has none; float16 upcasts; unknown -> string)
_SPARK_TYPES = {
    "int8": T.ByteType(),
    "int16": T.ShortType(),
    "int32": T.IntegerType(),
    "int64": T.LongType(),
    "uint8": T.ShortType(),
    "uint16": T.IntegerType(),
    "uint32": T.LongType(),
    "uint64": T.DecimalType(20, 0),
    "float16": T.FloatType(),
    "float32": T.FloatType(),
    "float64": T.DoubleType(),
    "bool": T.BooleanType(),
    "datetime64[ns]": T.TimestampType(),
    "datetime64[us]": T.TimestampType(),
    "datetime64[ms]": T.TimestampType(),
    "datetime64[s]": T.TimestampType(),
}

#: normalized dtype -> numpy dtype used when decoding chunk bytes
_NUMPY_TYPES = {
    "int8": "i1",
    "int16": "i2",
    "int32": "i4",
    "int64": "i8",
    "uint8": "u1",
    "uint16": "u2",
    "uint32": "u4",
    "uint64": "u8",
    "float16": "f2",
    "float32": "f4",
    "float64": "f8",
    "bool": "b1",
}


def parse_v2_dtype(dtype_raw: str) -> tuple[str, str]:
    """Normalize a numpy dtype string like ``<i8`` -> (``int64``, byte
    order char) (reference ``dtype.rs:9-56``).  ``M8[ns]`` (datetime64,
    the standard xarray/climate time axis) normalizes to
    ``datetime64[ns]``."""
    s = dtype_raw.strip()
    order = "<"
    if s and s[0] in "<>|=":
        order = "<" if s[0] in "|=" else s[0]
        s = s[1:]
    if s.startswith("M8"):
        unit = s[3:-1] if "[" in s else "ns"
        return f"datetime64[{unit}]", order
    return _V2_DTYPE_CODES.get(s, s), order


def spark_type_for(dtype: str) -> T.DataType:
    return _SPARK_TYPES.get(dtype, T.StringType())


def numpy_dtype_for(dtype: str, byte_order: str = "<") -> np.dtype:
    if dtype.startswith("datetime64"):
        unit = dtype[len("datetime64[") : -1] if "[" in dtype else "ns"
        return np.dtype(f"{byte_order}M8[{unit}]")
    # v2 fixed-length strings: |S<n> bytes (no byte order) and <U<n>
    # UCS-4 — the reference maps these to its Utf8 fallback
    # (dtype.rs:73) but never reads them (string coords are an
    # unchecked roadmap item, reference README.md:317-321); here they
    # decode to real StringType columns.
    if len(dtype) > 1 and dtype[0] == "S" and dtype[1:].isdigit():
        return np.dtype(dtype)
    if len(dtype) > 1 and dtype[0] == "U" and dtype[1:].isdigit():
        return np.dtype(byte_order + dtype)
    code = _NUMPY_TYPES.get(dtype)
    if code is None:
        raise NotImplementedError(f"unsupported Zarr dtype: {dtype!r}")
    return np.dtype(byte_order + code)


# ---------------------------------------------------------------------------
# Array / store metadata
# ---------------------------------------------------------------------------


@dataclass
class ZarrArrayMeta:
    """One Zarr array's metadata (reference ``ZarrArrayMeta``,
    ``schema_inference.rs:80-101``, extended with the chunk-level fields
    the reader needs)."""

    name: str
    dtype: str  # normalized (int64, float32, ...)
    byte_order: str  # '<' or '>'
    shape: tuple[int, ...]
    chunks: tuple[int, ...]
    zarr_format: int  # 2 or 3
    order: str = "C"  # v2 memory order; v3 is always C in core spec
    fill_value: object = 0
    compressor: dict | None = None  # v2 compressor config
    filters: tuple = ()  # v2 filter chain (unsupported if nonempty)
    codecs: tuple = ()  # v3 codec chain
    dimension_separator: str = "."  # v2 chunk key separator
    chunk_key_separator: str = "/"  # v3 chunk key separator
    #: user attributes (.zattrs / v3 "attributes") — exposed as Spark
    #: StructField metadata (reference roadmap README.md:319, unchecked)
    attrs: dict = field(default_factory=dict)
    #: declared dimension names, when the store carries them: the v3
    #: core-spec ``dimension_names`` field, or xarray's v2 convention
    #: ``_ARRAY_DIMENSIONS`` in .zattrs.  Names make dimension ORDER
    #: exact where shape-matching is ambiguous (equal-size dims).
    dimension_names: tuple = ()

    @property
    def is_coordinate(self) -> bool:
        """1-D arrays are coordinates (``schema_inference.rs:90-93``)."""
        return len(self.shape) == 1


@dataclass
class ZarrStoreMeta:
    """Discovered store: coordinates in dimension order, data variables
    alphabetical, exact statistics (reference ``ZarrStoreMeta``,
    ``schema_inference.rs:95-101``)."""

    store_path: str
    zarr_format: int
    coords: list[ZarrArrayMeta] = field(default_factory=list)
    data_vars: list[ZarrArrayMeta] = field(default_factory=list)
    coord_min_max: dict[str, tuple] = field(default_factory=dict)
    total_rows: int = 0

    @property
    def coord_sizes(self) -> tuple[int, ...]:
        return tuple(c.shape[0] for c in self.coords)

    def array(self, name: str) -> ZarrArrayMeta:
        for a in self.coords + self.data_vars:
            if a.name == name:
                return a
        raise KeyError(name)


# ---------------------------------------------------------------------------
# Version detection (reference schema_inference.rs:47-77)
# ---------------------------------------------------------------------------


def normalize_store_path(store_path: str) -> str:
    """Accept plain paths, ``file:``/``file://`` URIs (Spark's DDL path
    resolution produces the latter), and remote ``s3://``/``gs://``/
    ``az://``/``http(s)://`` URLs (reference ``storage.rs:63-89``).  Remote URLs pass through
    unchanged; their reads dispatch to the storage adapters via
    :func:`zarr_datafusion_spark.zarr.storage.store_fs`."""
    if store_path.startswith("file:") and not store_path.startswith("file://"):
        store_path = "file://" + store_path[len("file:") :]
    loc = StorageLocation.parse(store_path)
    return loc.url() if loc.is_remote else loc.path


def detect_zarr_version(store_path: str) -> int:
    fs, store_path = store_fs(normalize_store_path(store_path))
    root_v3 = os.path.join(store_path, "zarr.json")
    if fs.exists(root_v3):
        return 3
    if (
        fs.exists(os.path.join(store_path, ".zgroup"))
        or fs.exists(os.path.join(store_path, ".zarray"))
        or fs.exists(os.path.join(store_path, ".zmetadata"))
    ):
        return 2
    # Probe subdirectories (stores without root group metadata)
    try:
        for entry in sorted(fs.listdir(store_path)):
            sub = os.path.join(store_path, entry)
            if fs.isdir(sub):
                if fs.exists(os.path.join(sub, "zarr.json")):
                    return 3
                if fs.exists(os.path.join(sub, ".zarray")):
                    return 2
    except FileNotFoundError:
        raise FileNotFoundError(f"Zarr store not found: {store_path}")
    raise ValueError(f"not a Zarr v2 or v3 store: {store_path}")


# ---------------------------------------------------------------------------
# Discovery (reference schema_inference.rs:104-210)
# ---------------------------------------------------------------------------


def _dim_names(raw) -> tuple:
    """Validated declared-dimension tuple: a list of strings (v3
    allows nulls for unnamed axes — those void the declaration for
    ordering purposes)."""
    if not isinstance(raw, (list, tuple)) or not raw:
        return ()
    if not all(isinstance(d, str) and d for d in raw):
        return ()
    return tuple(raw)


def _parse_v2_array(name: str, meta: dict, attrs: dict | None = None) -> ZarrArrayMeta:
    dtype, order_char = parse_v2_dtype(meta["dtype"])
    attrs = dict(attrs or {})
    # xarray's dimension declaration is SYSTEM metadata: honor it for
    # axis order, strip it from user-facing attrs (exactly as xarray
    # itself hides it)
    dim_names = _dim_names(attrs.pop("_ARRAY_DIMENSIONS", None))
    return ZarrArrayMeta(
        name=name,
        dtype=dtype,
        byte_order=order_char,
        shape=tuple(meta["shape"]),
        chunks=tuple(meta["chunks"]),
        zarr_format=2,
        order=meta.get("order", "C"),
        fill_value=meta.get("fill_value", 0),
        compressor=meta.get("compressor"),
        filters=tuple(meta.get("filters") or ()),
        dimension_separator=meta.get("dimension_separator", "."),
        attrs=attrs,
        # xarray's v2 convention: .zattrs _ARRAY_DIMENSIONS
        dimension_names=dim_names,
    )


def _parse_v3_array(name: str, meta: dict) -> ZarrArrayMeta:
    if meta.get("node_type") != "array":
        raise ValueError(f"{name}: zarr.json is not an array node")
    grid = meta.get("chunk_grid", {})
    if grid.get("name") != "regular":
        raise NotImplementedError(f"{name}: only regular chunk grids supported")
    key_enc = meta.get("chunk_key_encoding", {"name": "default"})
    separator = (key_enc.get("configuration") or {}).get(
        "separator", "/" if key_enc.get("name") == "default" else "."
    )
    return ZarrArrayMeta(
        name=name,
        dtype=meta["data_type"],
        byte_order="<",  # v3 endianness comes from the bytes codec
        shape=tuple(meta["shape"]),
        chunks=tuple(grid["configuration"]["chunk_shape"]),
        zarr_format=3,
        fill_value=meta.get("fill_value", 0),
        codecs=tuple(meta.get("codecs") or ()),
        chunk_key_separator=separator,
        attrs=dict(meta.get("attributes") or {}),
        # v3 core-spec field (nullable per axis; nulls void it here)
        dimension_names=_dim_names(meta.get("dimension_names")),
    )


def _infer_coord_order(
    coords: list[ZarrArrayMeta], data_vars: list[ZarrArrayMeta]
) -> list[ZarrArrayMeta]:
    """Dimension order of the store's coordinates.

    DECLARED names win outright: a data variable carrying the v3
    core-spec ``dimension_names`` field or xarray's v2
    ``_ARRAY_DIMENSIONS`` attribute states its axis order exactly —
    no inference, and no ambiguity when dimension sizes collide
    (equal-size dims are where shape-matching is provably blind).

    Otherwise: match a data variable's shape to coordinate sizes,
    first-unused wins per position (``schema_inference.rs:311-358``);
    alphabetical fallback.  Candidates are pre-sorted by name
    (determinism — see module docstring divergence note)."""
    coords = sorted(coords, key=lambda c: c.name)
    if not coords or not data_vars:
        return coords
    by_name = {c.name: c for c in coords}
    for var in data_vars:
        names = var.dimension_names
        if (
            len(names) == len(coords)
            and len(set(names)) == len(names)
            and all(n in by_name for n in names)
            and tuple(by_name[n].shape[0] for n in names) == var.shape
        ):
            return [by_name[n] for n in names]
    for var in data_vars:
        if len(var.shape) != len(coords):
            continue
        ordered: list[ZarrArrayMeta] = []
        used = [False] * len(coords)
        for dim_size in var.shape:
            for j, c in enumerate(coords):
                if not used[j] and c.shape[0] == dim_size:
                    ordered.append(c)
                    used[j] = True
                    break
            else:
                break
        if len(ordered) == len(coords):
            return ordered
    return coords


def _arrays_from_consolidated(fs, store_path: str) -> list[ZarrArrayMeta] | None:
    """Zarr v2 consolidated metadata: a root ``.zmetadata`` file holds
    every ``.zarray``/``.zattrs`` document, so discovery is ONE read
    instead of one per array — the difference between milliseconds and
    seconds of round-trips on an object store.  Returns None when the
    file is absent/unusable (fall back to directory walking)."""
    path = os.path.join(store_path, ".zmetadata")
    if not fs.exists(path):
        return None
    try:
        doc = json.loads(fs.read_text(path))
        entries = doc["metadata"]
    except Exception:
        return None
    arrays: list[ZarrArrayMeta] = []
    for key in sorted(entries):
        if key.endswith("/.zarray") and "/" not in key[: -len("/.zarray")]:
            name = key[: -len("/.zarray")]
            arrays.append(
                _parse_v2_array(
                    name, entries[key], entries.get(f"{name}/.zattrs")
                )
            )
    return arrays or None


def _arrays_from_v3_consolidated(fs, store_path: str) -> list[ZarrArrayMeta] | None:
    """Zarr v3 consolidated metadata: the root group's ``zarr.json``
    may embed every child node's metadata under
    ``consolidated_metadata.metadata`` (the zarr-python v3 convention
    that replaces v2's ``.zmetadata``), so discovery is the SAME single
    read that already fetched the root document — zero per-array
    round-trips, the layout remote stores should use with the http(s)
    adapter.  Returns None when absent/unusable (fall back to
    directory walking).  Beyond the reference, which consolidates v2
    only (``schema_inference.rs`` reads per-array metadata for v3)."""
    path = os.path.join(store_path, "zarr.json")
    if not fs.exists(path):
        return None
    try:
        doc = json.loads(fs.read_text(path))
        if doc.get("node_type") != "group":
            return None
        entries = doc["consolidated_metadata"]["metadata"]
    except Exception:
        return None
    arrays: list[ZarrArrayMeta] = []
    for key in sorted(entries):
        node = entries[key]
        # root-level arrays only (the flattening model is one group of
        # coordinate + data arrays; nested groups are out of model)
        if "/" in key or not isinstance(node, dict):
            continue
        if node.get("node_type") == "array":
            arrays.append(_parse_v3_array(key, node))
    return arrays or None


def discover_arrays(store_path: str) -> ZarrStoreMeta:
    """Discover all arrays; classify, order, compute coord min/max."""
    from zarr_datafusion_spark.zarr.chunkio import read_array

    fs, store_path = store_fs(normalize_store_path(store_path))
    version = detect_zarr_version(store_path)
    arrays: list[ZarrArrayMeta] | None = None
    if version == 2:
        arrays = _arrays_from_consolidated(fs, store_path)
    elif version == 3:
        arrays = _arrays_from_v3_consolidated(fs, store_path)
    if arrays is None:
        arrays = []
        for entry in sorted(fs.listdir(store_path)):
            sub = os.path.join(store_path, entry)
            if not fs.isdir(sub):
                continue
            if version == 2:
                zarray = os.path.join(sub, ".zarray")
                if fs.exists(zarray):
                    zattrs = os.path.join(sub, ".zattrs")
                    attrs = None
                    if fs.exists(zattrs):
                        try:
                            attrs = json.loads(fs.read_text(zattrs))
                        except Exception:
                            attrs = None  # malformed attrs never block a scan
                    arrays.append(
                        _parse_v2_array(
                            entry, json.loads(fs.read_text(zarray)), attrs
                        )
                    )
            else:
                zjson = os.path.join(sub, "zarr.json")
                if fs.exists(zjson):
                    meta = json.loads(fs.read_text(zjson))
                    if meta.get("node_type") == "array":
                        arrays.append(_parse_v3_array(entry, meta))

    coords = [a for a in arrays if a.is_coordinate]
    data_vars = sorted(
        (a for a in arrays if not a.is_coordinate), key=lambda a: a.name
    )
    for var in data_vars:
        if len(var.shape) != len(coords):
            raise ValueError(
                f"data variable {var.name!r} has {len(var.shape)} dims but the "
                f"store has {len(coords)} coordinates (Cartesian-product model, "
                "reference schema_inference.rs:10-15)"
            )
    coords = _infer_coord_order(coords, data_vars)

    meta = ZarrStoreMeta(
        store_path=store_path,
        zarr_format=version,
        coords=coords,
        data_vars=data_vars,
        total_rows=int(np.prod([c.shape[0] for c in coords])) if coords else 0,
    )
    # Eager exact coord min/max (schema_inference.rs:214-302).
    # datetime64 coords participate since r7: bounds are computed in
    # the scan's OUTPUT domain — the same ``astype('datetime64[us]')``
    # floor the reader applies before emitting — so the shortcut
    # literal IS the value a full scan's MIN/MAX would return (floor is
    # monotonic: min∘floor = floor∘min).  ``.item()`` on [us] values
    # yields ``datetime.datetime``, which the shortcut turns into a
    # TZ-safe ``timestamp_micros`` literal.  NaT bounds decline (the
    # shortcut must not fire rather than fire wrong — the float-NaN
    # guard discipline).
    for c in coords:
        if c.dtype.startswith("datetime64"):
            values = read_array(store_path, c)
            if len(values) and not np.isnat(values).any():
                vals_us = values.astype("datetime64[us]")
                meta.coord_min_max[c.name] = (
                    vals_us.min().item(),
                    vals_us.max().item(),
                )
            continue
        values = read_array(store_path, c)
        if len(values):
            if values.dtype.kind == "U":
                # numpy's min/max ufuncs lack a unicode loop on this
                # numpy version; Python min/max gives the same
                # lexicographic answer (and Spark's UTF-8 binary string
                # comparison agrees with code-point order)
                vals = values.tolist()
                meta.coord_min_max[c.name] = (min(vals), max(vals))
            else:
                meta.coord_min_max[c.name] = (
                    values.min().item(),
                    values.max().item(),
                )
    return meta


def infer_spark_schema(meta: ZarrStoreMeta) -> T.StructType:
    """Field order: coords (dimension order) then data vars
    (alphabetical); coords non-nullable, data vars nullable
    (``schema_inference.rs:417-435``).  Zarr user attributes (.zattrs /
    v3 ``attributes`` — units, long_name, CF conventions) ride along as
    StructField metadata (reference roadmap ``README.md:319``,
    unchecked there): ``df.schema["temperature"].metadata["units"]``."""
    fields = [
        T.StructField(
            c.name, spark_type_for(c.dtype), nullable=False, metadata=c.attrs
        )
        for c in meta.coords
    ] + [
        T.StructField(
            v.name, spark_type_for(v.dtype), nullable=True, metadata=v.attrs
        )
        for v in meta.data_vars
    ]
    return T.StructType(fields)
