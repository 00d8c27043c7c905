"""Zarr scan I/O statistics — the reference's A10 surface.

The reference counts metadata/coordinate/data bytes and compressed disk
bytes with atomic counters threaded through a wrapping object store
(``src/reader/stats.rs:14-96``, ``src/reader/tracked_store.rs:20-98``)
and surfaces them on the REPL stats line (``src/bin/zarr_cli/main.rs:253``).

Spark has no channel from a Python Data Source reader back to the
driver (accumulators don't propagate from that worker path), so this
module provides the same numbers three ways:

1. :func:`plan_scan_stats` — *planned* statistics computed purely from
   store metadata + pushdown windows.  Because the scan is
   deterministic (which chunks a window touches is metadata math), the
   planned chunk/data numbers equal what a tracked store counts, and
   they are available before running the query — a superset of the
   reference's after-the-fact counters.  One caveat: coordinate value
   arrays (tiny) are re-read once per scan *task*, so tracked
   coord_bytes exceed the planned single-read figure on multi-partition
   scans.
2. Live process-local counters in :mod:`zarr_datafusion_spark.zarr.chunkio`
   (``io_counters``/``reset_io_counters``) — the direct ``TrackedStore``
   analog, used by tests to prove pushdowns really reduce I/O.
3. A stats-spill protocol for distributed runs: passing a
   ``stats_dir`` option to the zarr source makes every partition write
   its counter delta as one tiny JSON file; :func:`collect_stats_dir`
   sums them after an action completes (shared filesystem on a real
   cluster, local tmp under ``local[*]``).
"""

from __future__ import annotations

import glob
import json
import os
from dataclasses import dataclass

import numpy as np

from zarr_datafusion_spark.zarr.metadata import (
    ZarrStoreMeta,
    discover_arrays,
    numpy_dtype_for,
)


def _fmt_bytes(n: int) -> str:
    for unit in ("B", "KB", "MB", "GB", "TB"):
        if n < 1024 or unit == "TB":
            return f"{n:.2f} {unit}" if unit != "B" else f"{n} B"
        n /= 1024
    return f"{n:.2f} TB"


@dataclass
class ZarrIoStats:
    """Counter set mirroring the reference's ``ZarrIoStats``
    (``stats.rs:14-40``): decoded in-memory bytes split by class, plus
    compressed on-disk bytes and chunk/array counts."""

    metadata_bytes: int = 0
    coord_bytes: int = 0
    data_bytes: int = 0
    disk_bytes: int = 0
    n_arrays: int = 0
    n_chunks: int = 0
    rows: int = 0

    @property
    def mem_bytes(self) -> int:
        return self.coord_bytes + self.data_bytes

    def add(self, other: "ZarrIoStats") -> "ZarrIoStats":
        for f in (
            "metadata_bytes",
            "coord_bytes",
            "data_bytes",
            "disk_bytes",
            "n_arrays",
            "n_chunks",
            "rows",
        ):
            setattr(self, f, getattr(self, f) + getattr(other, f))
        return self

    def format_line(self, seconds: float | None = None) -> str:
        """REPL stats line, same shape as ``main.rs:253``:
        ``700 rows · 3 arrays · 6.70 KB disk · 13.92 KB mem · 0.013s``."""
        parts = [
            f"{self.rows} rows",
            f"{self.n_arrays} arrays",
            f"{_fmt_bytes(self.disk_bytes)} disk",
            f"{_fmt_bytes(self.mem_bytes)} mem",
        ]
        if seconds is not None:
            parts.append(f"{seconds:.3f}s")
        return " · ".join(parts)


def _metadata_file_bytes(store_path: str, meta: ZarrStoreMeta) -> int:
    """Bytes of every metadata JSON the discovery step read."""
    names = []
    if meta.zarr_format == 2:
        names.append(os.path.join(store_path, ".zgroup"))
        for a in meta.coords + meta.data_vars:
            names.append(os.path.join(store_path, a.name, ".zarray"))
            names.append(os.path.join(store_path, a.name, ".zattrs"))
    else:
        names.append(os.path.join(store_path, "zarr.json"))
        for a in meta.coords + meta.data_vars:
            names.append(os.path.join(store_path, a.name, "zarr.json"))
    return sum(os.path.getsize(p) for p in names if os.path.exists(p))


def _chunk_files_in_window(
    store_path: str, arr, window: tuple[tuple[int, int], ...]
) -> tuple[int, int]:
    """(n_chunks, compressed_bytes) of the chunk files intersecting the
    window — identical chunk math to ``chunkio.read_window``."""
    import itertools

    from zarr_datafusion_spark.zarr.chunkio import _chunk_path

    ranges = [
        range(lo // cs, (hi + cs - 1) // cs) if hi > lo else range(0)
        for (lo, hi), cs in zip(window, arr.chunks)
    ]
    n = 0
    disk = 0
    for idx in itertools.product(*ranges):
        path = _chunk_path(store_path, arr, idx)
        if os.path.exists(path):
            n += 1
            disk += os.path.getsize(path)
    return n, disk


def plan_scan_stats(
    store_path: str,
    columns: list[str] | None = None,
    coord_filters: dict[str, object] | None = None,
    limit: int | None = None,
) -> ZarrIoStats:
    """Exact I/O accounting for a (possibly pushed-down) flattened scan.

    Mirrors the reference's reduction accounting
    (``zarr_reader.rs:255-264,676-687``): coordinate-equality filters
    shrink per-dimension windows to one index; a limit trims the
    outermost dimension to the leading rows (``coord.rs:112-158``).
    """
    from zarr_datafusion_spark.zarr.chunkio import read_array

    meta = discover_arrays(store_path)
    stats = ZarrIoStats(metadata_bytes=_metadata_file_bytes(store_path, meta))

    all_names = [a.name for a in meta.coords] + [a.name for a in meta.data_vars]
    wanted = columns if columns is not None else all_names

    # Per-dimension windows from coord-equality filters (filter.rs:203-238).
    windows: list[tuple[int, int]] = []
    for c in meta.coords:
        if coord_filters and c.name in coord_filters:
            lit = coord_filters[c.name]
            if isinstance(lit, float) and np.isnan(lit):
                # Mirror the reader's NaN bail (NaN == NaN is TRUE in
                # Spark SQL but never matches under numpy ==).
                windows.append((0, c.shape[0]))
                continue
            values = read_array(store_path, c)
            matches = np.nonzero(values == lit)[0]
            if len(matches) == 0:
                stats.rows = 0
                return stats  # empty-result short-circuit (filter.rs:222-230)
            lo, hi = int(matches[0]), int(matches[-1]) + 1
            # non-contiguous duplicates: reader bails to the full window
            windows.append((lo, hi) if len(matches) == hi - lo else (0, c.shape[0]))
        else:
            windows.append((0, c.shape[0]))

    inner_rows = int(np.prod([hi - lo for lo, hi in windows[1:]])) if len(windows) > 1 else 1
    total_rows = int(np.prod([hi - lo for lo, hi in windows])) if windows else 0
    if limit is not None and limit < total_rows:
        # Trim the outer dimension to the leading ceil(limit/inner) slabs
        # (the per-dimension subset math of coord.rs:112-158).
        lo0, _ = windows[0]
        windows[0] = (lo0, lo0 + max(1, -(-limit // max(inner_rows, 1))))
        total_rows = limit
    stats.rows = total_rows

    for name in wanted:
        arr = meta.array(name)
        stats.n_arrays += 1
        if arr.is_coordinate:
            # The reader materializes full coordinate value arrays once
            # per task (cheap 1-D reads), like the reference.
            itemsize = numpy_dtype_for(arr.dtype, arr.byte_order).itemsize
            stats.coord_bytes += int(arr.shape[0]) * itemsize
            n, disk = _chunk_files_in_window(
                store_path, arr, ((0, arr.shape[0]),)
            )
        else:
            itemsize = numpy_dtype_for(arr.dtype, arr.byte_order).itemsize
            cells = int(np.prod([hi - lo for lo, hi in windows]))
            stats.data_bytes += cells * itemsize
            n, disk = _chunk_files_in_window(store_path, arr, tuple(windows))
        stats.n_chunks += n
        stats.disk_bytes += disk
    return stats


# ---------------------------------------------------------------------------
# Distributed stats-spill aggregation (stats_dir protocol)
# ---------------------------------------------------------------------------


def collect_stats_dir(stats_dir: str) -> ZarrIoStats:
    """Sum the per-partition counter JSONs written by the zarr source
    when the ``stats_dir`` option is set (one file per input partition,
    written at partition completion).

    ``n_arrays`` is a property of the projection, not of the work done,
    so it is taken as the max across partitions rather than summed
    (every partition reads the same projected arrays; summing would
    report ``arrays x partitions`` on any multi-partition scan)."""
    total = ZarrIoStats()
    n_arrays = 0
    for path in glob.glob(os.path.join(stats_dir, "part-*.json")):
        with open(path) as f:
            d = json.load(f)
        n_arrays = max(n_arrays, int(d.pop("n_arrays", 0)))
        total.add(ZarrIoStats(**d))
    total.n_arrays = n_arrays
    return total
