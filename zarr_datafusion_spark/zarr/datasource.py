"""Spark Python Data Source for Zarr stores (reference Tier A core).

Maps the reference's DataFusion integration onto Spark's Python Data
Source API (Spark >= 4.0):

* ``TableProvider::scan`` + ``ZarrExec`` (``src/datasource/zarr.rs:115-181``,
  ``src/physical_plan/zarr_exec.rs``) -> ``ZarrDataSourceReader`` with
  one :class:`InputPartition` per outer-dimension chunk slab.  The
  reference scan is single-partition/single-batch (``zarr_exec.rs:100``,
  a documented limitation); partition-per-slab gives a genuinely
  parallel scan that holds at 100 TB — each task reads only its slab,
  nothing is materialized on the driver.  The one exception is
  ``read_zarr(filters=...)``, which the driver reads itself only for a
  pruned window below the planner's split threshold.
* coordinate-equality filter pushdown (``src/reader/filter.rs:70-302``)
  -> ``pushFilters``: ``coord = literal`` conjuncts shrink the
  per-dimension read windows (chunk pruning); ALL filters are returned
  as unsupported so Spark re-applies them — exactly the reference's
  ``Inexact`` contract (``zarr.rs:105-113``).  An unmatched literal
  short-circuits to an empty scan (``filter.rs:222-230``).
* limit pushdown (``src/reader/coord.rs:112-158``) -> the ``limit``
  option: partitions are planned only up to the first N row-major rows
  and the final batch is trimmed.
* projection pushdown (``zarr.rs:115-141``) -> the ``columns`` option
  restricts the schema and the arrays opened/read.

Coordinate columns are never stored: they're expanded arithmetically
per batch from the 1-D coordinate values (tile/repeat in row-major
order — ``coord.rs:80-105`` semantics), so a batch costs O(batch rows),
not O(total rows).
"""

from __future__ import annotations

import json
import os
import tempfile
import threading
import zipfile
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    EqualTo,
    Filter,
    InputPartition,
)
from pyspark.sql.types import StructType

from zarr_datafusion_spark.zarr.metadata import (
    ZarrStoreMeta,
    discover_arrays,
    infer_spark_schema,
)

_ARROW_TYPES = {
    "int8": pa.int8(),
    "int16": pa.int16(),
    "int32": pa.int32(),
    "int64": pa.int64(),
    "uint8": pa.int16(),
    "uint16": pa.int32(),
    "uint32": pa.int64(),
    "uint64": pa.decimal128(20, 0),
    "float16": pa.float32(),
    "float32": pa.float32(),
    "float64": pa.float64(),
    "bool": pa.bool_(),
    # Spark timestamps are microsecond precision; arrow casts ns -> us
    # by truncation, matching Spark's own parquet TIMESTAMP(NANOS) read
    "datetime64[ns]": pa.timestamp("us"),
    "datetime64[us]": pa.timestamp("us"),
    "datetime64[ms]": pa.timestamp("us"),
    "datetime64[s]": pa.timestamp("us"),
}


def _aligned_pieces(
    lo: int, hi: int, chunk: int, want: int
) -> list[tuple[int, int]]:
    """Split the half-open window [lo, hi) into at most ``want``
    contiguous chunk-aligned pieces (each piece's interior boundaries
    fall on chunk-grid lines, so pieces read disjoint chunks)."""
    if hi <= lo:
        return []
    first, last = lo // chunk, (hi - 1) // chunk
    nch = last - first + 1
    per = -(-nch // max(1, min(want, nch)))
    out = []
    for s in range(first, last + 1, per):
        w_lo, w_hi = max(lo, s * chunk), min(hi, (s + per) * chunk)
        if w_hi > w_lo:
            out.append((w_lo, w_hi))
    return out


def _even_pieces(lo: int, hi: int, want: int) -> list[tuple[int, int]]:
    """Split [lo, hi) into ``min(want, hi-lo)`` near-equal pieces
    (NOT chunk-aligned — pieces may share chunks)."""
    n = max(1, min(want, hi - lo))
    edges = np.linspace(lo, hi, n + 1).astype(int)
    return [(int(a), int(b)) for a, b in zip(edges[:-1], edges[1:]) if b > a]


@dataclass
class ZarrInputPartition(InputPartition):
    """One outer-dimension slab: absolute index window per dimension,
    plus an optional row budget for limit pushdown."""

    outer_lo: int
    outer_hi: int
    inner_windows: tuple  # ((lo, hi), ...) for dims 1..n-1
    row_budget: int | None = None  # max rows this partition may emit


class ZarrDataSourceReader(DataSourceReader):
    def __init__(
        self,
        schema: StructType,
        options: dict,
        meta: ZarrStoreMeta | None = None,
    ):
        from zarr_datafusion_spark.zarr.metadata import normalize_store_path

        if not options.get("path"):
            raise ValueError("zarr source requires a 'path' option")
        self.store_path = normalize_store_path(options["path"])
        # schema() already discovered the store (incl. the eager coord
        # min/max reads) — reuse it instead of re-reading every
        # coordinate array (the reference likewise caches discovery on
        # the table, zarr.rs:69-83)
        self.meta: ZarrStoreMeta = meta or discover_arrays(self.store_path)
        self.columns = [f.name for f in schema.fields]
        self.limit = int(options["limit"]) if "limit" in options else None
        self.target_batch_rows = int(options.get("target_batch_rows", 1 << 20))
        #: desired scan parallelism (read_zarr passes the session's
        #: defaultParallelism; 32 matches the bench/test harness)
        self.target_partitions = int(options.get("target_partitions", 32))
        #: when set, each partition writes its I/O-counter delta here as
        #: one JSON file (A10 distributed stats; reference tracked_store.rs)
        self.stats_dir = options.get("stats_dir")
        #: surface cells of MISSING data-var chunks as SQL NULL instead
        #: of the spec's fill_value (reference roadmap ``README.md:318``
        #: "Handle fill_value as Arrow nulls", unchecked).  Data vars
        #: only — coordinates define the grid and stay dense; sharded
        #: stores mask wholly-missing shard FILES only (sub-file inner
        #: gaps stay fill_value).  Never on for registered tables: the
        #: engine's exact null-count statistics assume dense columns.
        self.fill_value_nulls = (
            str(options.get("fill_value_nulls", "false")).lower() == "true"
        )
        #: coord name -> pushed literal (reference CoordFilters, filter.rs:70-129)
        self.coord_filters: dict[str, object] = {}
        #: coord name -> [lo, lo_strict, hi, hi_strict] accumulated from
        #: range conjuncts (BEYOND-reference: filter.rs parses equality
        #: only; ranges are the natural time-series predicate and narrow
        #: windows the same way when the coordinate is sorted)
        self.coord_ranges: dict[str, list] = {}
        #: data-var name -> [lo, lo_strict, hi, hi_strict] accumulated
        #: from range/equality conjuncts on DATA variables — pruned
        #: against the per-chunk-row stats sidecar (VERDICT r8 item 3:
        #: the parquet-row-group data-skipping story for Zarr; the
        #: reference prunes on coordinates only, filter.rs:70-302)
        self.data_ranges: dict[str, list] = {}
        #: per-outer-chunk-row min/max for data variables, loaded once
        #: at plan time from the ``data_stats_path`` option (written by
        #: ``stats.chunk_stats.compute_zarr_chunk_stats``); planning
        #: runs driver-side so executors never see this
        self.data_stats: dict | None = None
        p = options.get("data_stats_path")
        if p and os.path.exists(p):
            with open(p) as f:
                self.data_stats = json.load(f)
        #: window narrowing from pushed filters is OPT-IN
        #: (``filter_pushdown 'eager'``): Spark 4.1 caches the planned
        #: partitions per relation (``PythonDataSourceV2.readInfo``,
        #: overwritten by each pushdown planning run), so when ONE
        #: relation serves many queries — a ``USING zarr`` temp view, or
        #: a reused DataFrame — partitions narrowed for an earlier
        #: query's filter are silently replayed for later queries that
        #: want more data (wrong COUNT/MIN/MAX; caught by the
        #: string-coord regression test).  The safe default keeps the
        #: Inexact contract (all filters handed back, Spark re-applies)
        #: without baking any filter into cacheable state; single-query
        #: relations (read_zarr per query) opt in for the A5 I/O
        #: reduction.
        self.eager_pushdown = options.get("filter_pushdown", "safe") == "eager"
        #: one file per eager relation (``read_zarr`` names it) holding
        #: the filter state of its first planning pass: Spark keeps ONE
        #: planned read per relation and every scan of the relation in
        #: a plan (a DataFrame joined or unioned with itself) replays
        #: the last one planned, so the relation narrows only while all
        #: its passes push the same filters (see :func:`_same_window`)
        self.window_key = options.get("window_key")
        #: decoded-chunk LRU budget per executor python worker, MiB
        #: (reference roadmap ``README.md:327``; 0 = off).  Off by
        #: default: the honest disk_bytes/n_chunks accounting and the
        #: read-your-writes tests stay exact; repeated-scan workloads
        #: opt in per read.
        self.chunk_cache_mb = int(options.get("chunk_cache_mb", 0))
        #: intra-task concurrent chunk fetch width (reference roadmap
        #: ``README.md:326``; 0/1 = sequential).  Pays on remote stores
        #: (latency-bound ranged GETs); cross-chunk parallelism at
        #: cluster scale stays in Spark's partitioning.
        self.prefetch = int(options.get("prefetch", 0))

    # -- filter pushdown ----------------------------------------------------

    def pushFilters(self, filters: list[Filter]):  # noqa: N802 (Spark API name)
        """Record ``coord = literal`` and ``coord </<=/>/>= literal``
        conjuncts for window pruning; yield every filter back as
        unsupported so Spark re-applies them (the reference's Inexact
        pushdown contract).  Range conjuncts are a capability superset:
        ``filter.rs:70-129`` parses equality only, but a sorted
        coordinate (the typical time axis) narrows its window from a
        range predicate just as exactly — unsorted coordinates bail to
        the full dimension at planning time."""
        from pyspark.sql.datasource import (
            GreaterThan,
            GreaterThanOrEqual,
            LessThan,
            LessThanOrEqual,
        )

        # Reset per planning pass (defense-in-depth on top of the
        # eager_pushdown opt-in above).
        self.coord_filters = {}
        self.coord_ranges = {}
        self.data_ranges = {}
        if not self.eager_pushdown:
            yield from filters
            return
        # datetime coords participate since r6: the pushed literal is a
        # datetime.datetime and BOTH sides of the window comparison are
        # normalized to the scan's OUTPUT granularity (datetime64[us],
        # the arrow timestamp("us") the reader emits), so the narrowed
        # window agrees with the re-applied filter by construction —
        # the condition that makes narrowing safe under the Inexact
        # contract (a µs-truncating comparison at ns precision could
        # silently drop boundary rows; see _range_window).
        import datetime as _dt

        dt_coords = {
            c.name for c in self.meta.coords if c.dtype.startswith("datetime64")
        }
        coord_names = {c.name for c in self.meta.coords}

        def _ok_value(attr: str, v) -> bool:
            if attr in dt_coords:
                return isinstance(v, _dt.datetime)
            return isinstance(v, (int, float)) and not (
                isinstance(v, float) and np.isnan(v)
            )

        def _norm_value(v):
            # Normalize tz-aware datetime literals to naive UTC at
            # ACCEPT time: the tightest-bound accumulation below
            # compares literals against each other (``v > lo``), and a
            # mixed aware/naive pair raises TypeError during planning
            # (ADVICE r6).  Same conversion _cmp_domain applies to any
            # literal it sees later, so the two stay consistent.
            if isinstance(v, _dt.datetime) and v.tzinfo is not None:
                return v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
            return v

        # data variables with a stats sidecar participate in chunk-row
        # skipping; a numeric non-NaN literal is required (NaN literals
        # compare under Spark's NaN-is-largest total order — `v = NaN`
        # matches NaN cells, `v < NaN` matches every number — which the
        # min/max range encoding can't express; bail, scan full)
        stat_vars = (
            set(self.data_stats["vars"]) if self.data_stats else set()
        )

        def _num(v) -> bool:
            return isinstance(v, (int, float)) and not (
                isinstance(v, float) and np.isnan(v)
            )

        def _acc_data(name: str, lo, lo_strict, hi, hi_strict) -> None:
            spec = self.data_ranges.setdefault(
                name, [None, False, None, False]
            )
            if lo is not None and (
                spec[0] is None or lo > spec[0] or (lo == spec[0] and lo_strict)
            ):
                spec[0], spec[1] = lo, lo_strict
            if hi is not None and (
                spec[2] is None or hi < spec[2] or (hi == spec[2] and hi_strict)
            ):
                spec[2], spec[3] = hi, hi_strict

        for f in filters:
            if (
                isinstance(f, EqualTo)
                and len(f.attribute) == 1
                and f.attribute[0] in stat_vars
                and _num(f.value)
            ):
                # equality == the degenerate closed range [v, v]
                _acc_data(f.attribute[0], f.value, False, f.value, False)
                yield f
                continue
            if (
                isinstance(
                    f,
                    (GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual),
                )
                and len(f.attribute) == 1
                and f.attribute[0] in stat_vars
                and _num(f.value)
            ):
                if isinstance(f, (GreaterThan, GreaterThanOrEqual)):
                    _acc_data(
                        f.attribute[0], f.value, isinstance(f, GreaterThan),
                        None, False,
                    )
                else:
                    _acc_data(
                        f.attribute[0], None, False,
                        f.value, isinstance(f, LessThan),
                    )
                yield f
                continue
            if (
                isinstance(f, EqualTo)
                and len(f.attribute) == 1
                and f.attribute[0] in coord_names
                and (
                    f.attribute[0] not in dt_coords
                    or _ok_value(f.attribute[0], f.value)
                )
            ):
                self.coord_filters[f.attribute[0]] = _norm_value(f.value)
            elif (
                isinstance(
                    f, (GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual)
                )
                and len(f.attribute) == 1
                and f.attribute[0] in coord_names
                and _ok_value(f.attribute[0], f.value)
            ):
                # accumulate conjuncts: tightest lower / upper bound wins
                val = _norm_value(f.value)
                lo, lo_s, hi, hi_s = self.coord_ranges.setdefault(
                    f.attribute[0], [None, False, None, False]
                )
                spec = self.coord_ranges[f.attribute[0]]
                if isinstance(f, (GreaterThan, GreaterThanOrEqual)):
                    strict = isinstance(f, GreaterThan)
                    if lo is None or val > lo or (val == lo and strict):
                        spec[0], spec[1] = val, strict
                else:
                    strict = isinstance(f, LessThan)
                    if hi is None or val < hi or (val == hi and strict):
                        spec[2], spec[3] = val, strict
            yield f

    # -- planning -----------------------------------------------------------

    @staticmethod
    def _cmp_domain(c, values, lit):
        """(comparable_values, comparable_literal) in the scan's OUTPUT
        value domain, or ``None`` to decline narrowing.

        datetime64 coords: the reader emits arrow ``timestamp("us")``,
        so coord ticks truncate to [us] and the pushed
        ``datetime.datetime`` converts at [us] — comparing in the
        output domain is what guarantees the window is a superset of
        the rows the re-applied filter keeps (comparing raw ns ticks
        against a µs literal could exclude a boundary row whose
        truncated output still matches).  Spark hands the literal as a
        NAIVE datetime in the Python worker's OS timezone; narrowing is
        therefore gated on the worker clock being UTC (this project
        forces session TZ to UTC; a non-UTC worker would shift the
        literal and a shifted window can silently drop rows — decline
        and let Spark filter the full window instead)."""
        if not c.dtype.startswith("datetime64"):
            return values, lit
        import datetime as _dt
        import time as _time

        if _time.timezone != 0 or _time.daylight:
            return None
        if isinstance(lit, _dt.datetime):
            if lit.tzinfo is not None:
                lit = lit.astimezone(_dt.timezone.utc).replace(tzinfo=None)
            lit = np.datetime64(lit, "us")
        else:
            return None
        return values.astype("datetime64[us]"), lit

    def _range_window(self, c, values) -> tuple[int, int]:
        """Window for accumulated range bounds on a SORTED coordinate
        (searchsorted on the ascending value array); unsorted
        coordinates bail to the full dimension — the narrowed window
        must stay a superset of the matching rows."""
        spec = self.coord_ranges.get(c.name)
        full = (0, c.shape[0])
        if spec is None:
            return full
        lo_b, lo_strict, hi_b, hi_strict = spec
        # dtype-agnostic ascending check (np.diff on datetime64 yields
        # timedelta64, which does not compare against the int 0)
        if len(values) > 1 and not np.all(values[1:] >= values[:-1]):
            return full
        lo_idx, hi_idx = 0, len(values)
        if lo_b is not None:
            dom = self._cmp_domain(c, values, lo_b)
            if dom is None:
                return full
            vals_c, lo_c = dom
            lo_idx = int(
                np.searchsorted(vals_c, lo_c, side="right" if lo_strict else "left")
            )
        if hi_b is not None:
            dom = self._cmp_domain(c, values, hi_b)
            if dom is None:
                return full
            vals_c, hi_c = dom
            hi_idx = int(
                np.searchsorted(vals_c, hi_c, side="left" if hi_strict else "right")
            )
        return (lo_idx, hi_idx)

    def _windows(self) -> list[tuple[int, int]] | None:
        """Per-dimension read windows from pushed filters; ``None`` means
        a filter matched nothing -> empty scan
        (``filter.rs:203-238`` + the empty-result short-circuit).
        Equality and range windows on the same coordinate intersect."""
        from zarr_datafusion_spark.zarr.chunkio import read_array

        windows: list[tuple[int, int]] = []
        for c in self.meta.coords:
            lo, hi = 0, c.shape[0]
            values = None
            if c.name in self.coord_filters or c.name in self.coord_ranges:
                values = read_array(self.store_path, c)
            if c.name in self.coord_filters:
                lit = self.coord_filters[c.name]
                if isinstance(lit, float) and np.isnan(lit):
                    # Spark SQL defines NaN = NaN as TRUE but numpy ==
                    # never matches NaN, so narrowing here would drop
                    # rows Spark's re-applied filter keeps.  Bail to the
                    # full dimension (pushdown stays a superset).
                    pass
                else:
                    # int/float cross-cast comparison (filter.rs:262-302);
                    # datetime coords compare in the µs output domain
                    # (or decline — see _cmp_domain)
                    dom = self._cmp_domain(c, values, lit)
                    if dom is not None:
                        vals_c, lit_c = dom
                        matches = np.nonzero(vals_c == lit_c)[0]
                        if len(matches) == 0:
                            return None
                        m_lo, m_hi = int(matches[0]), int(matches[-1]) + 1
                        if len(matches) == m_hi - m_lo:
                            lo, hi = m_lo, m_hi
                        # else: duplicate values scattered
                        # non-contiguously: a narrowed window would
                        # silently drop rows (pushdown must be a
                        # superset — Spark's re-applied filter can only
                        # remove).  Keep the full dimension.
            if c.name in self.coord_ranges:
                r_lo, r_hi = self._range_window(c, values)
                lo, hi = max(lo, r_lo), min(hi, r_hi)
            if hi <= lo:
                return None
            windows.append((lo, hi))
        return windows

    def _dim_chunk(self, d: int) -> int:
        """Chunk length of dimension ``d`` under the data variables'
        grid (they share it under the Cartesian model); coord chunking
        is the fallback for a store with no data vars."""
        if self.meta.data_vars:
            return max(1, min(v.chunks[d] for v in self.meta.data_vars))
        return max(1, self.meta.coords[d].chunks[0]) if self.meta.coords else 1

    def _outer_chunk(self) -> int:
        return self._dim_chunk(0)

    def _prune_outer_by_stats(
        self,
        slabs: list[tuple[int, int]],
        data_ranges: dict[str, list],
    ) -> list[tuple[int, int]]:
        """Drop/split outer slabs so only chunk rows whose cached
        min/max can satisfy every data-var conjunct remain.  A row is
        pruned only when PROVABLY empty, under Spark/DuckDB's total
        order where NaN sorts ABOVE every number (``NaN > 0.5`` is
        TRUE — verified on both engines):

        * upper bound (``v < hi``): NaN fails it too, so skip when the
          NaN-ignoring min exceeds the bound (or the row is all-NaN);
        * lower bound (``v > lo``): ANY NaN cell satisfies it, so skip
          on the max only when the row's per-row ``nan`` flag is clear.

        The surviving set is a superset of the matching rows and
        Spark's re-applied filter does the rest (Inexact contract).
        Declines (returns ``slabs`` unchanged) when the sidecar's chunk
        grid doesn't match the store — a rewritten store must never be
        pruned by stale stats."""
        stats = self.data_stats
        if not data_ranges or not stats or not stats.get("vars"):
            return slabs
        shape0 = self.meta.coords[0].shape[0] if self.meta.coords else 0
        C = stats.get("outer_chunk")
        if C != self._outer_chunk() or stats.get("shape0") != shape0 or not C:
            return slabs
        specs = [
            (stats["vars"][v], spec)
            for v, spec in data_ranges.items()
            if v in stats["vars"]
        ]
        if not specs:
            return slabs

        def row_may_match(r: int) -> bool:
            for vs, (lo, lo_s, hi, hi_s) in specs:
                mn, mx = vs["min"][r], vs["max"][r]
                # missing per-row flag (foreign sidecar): assume NaN
                # possible — disables lower-bound skipping, stays sound
                rn = vs["nan"][r] if "nan" in vs else True
                if hi is not None and (
                    mn is None or mn > hi or (mn == hi and hi_s)
                ):
                    return False  # NaN fails upper bounds too
                if (
                    lo is not None
                    and not rn
                    and (mx < lo or (mx == lo and lo_s))
                ):
                    return False  # only NaN-free rows skip on the max
            return True

        out: list[tuple[int, int]] = []
        for lo_i, hi_i in slabs:
            cur: tuple[int, int] | None = None
            for r in range(lo_i // C, (hi_i - 1) // C + 1):
                rlo, rhi = max(lo_i, r * C), min(hi_i, (r + 1) * C)
                if row_may_match(r):
                    if cur is not None and cur[1] == rlo:
                        cur = (cur[0], rhi)
                    else:
                        if cur is not None:
                            out.append(cur)
                        cur = (rlo, rhi)
                elif cur is not None:
                    out.append(cur)
                    cur = None
            if cur is not None:
                out.append(cur)
        return out

    #: partitions are never split below this many rows — keeps tiny
    #: fixtures single-partition and bounds per-task scheduling overhead
    MIN_PARTITION_ROWS = 1 << 16

    def partitions(self):
        """Plan scan partitions for ``target_partitions``-way parallelism.

        Three stages, stopping as soon as the target is met:

        1. chunk-aligned slabs of the outer dimension;
        2. chunk-aligned splits of inner dimensions, most-chunks first
           (free parallelism: each partition still reads disjoint
           chunks).  This fixes the round-1 ERA5 cap, where an outer
           dim of size 3 pinned the whole 6.2M-row scan to 3 tasks
           (chunks ``(1,1,721,1440)``, ``scripts/data_gen.py:96,116``;
           the reference's own roadmap item "chunk-level parallelism",
           ``README.md:312``);
        3. sub-chunk split of the largest remaining dimension — each
           extra piece re-reads/re-decodes its shared chunk, the right
           trade for huge-chunk stores (decode is cheap vs a 10x-idle
           cluster) but never the default: only after 1+2 fall short.

        A limit disables inner splitting (row budgets assume row-major
        contiguity per slab) — limit queries are small by construction.
        """
        import itertools
        import math

        if self.window_key and not _same_window(
            self.window_key,
            repr([sorted(d.items()) for d in (
                self.coord_filters, self.coord_ranges, self.data_ranges
            )]),
        ):
            self.coord_filters, self.coord_ranges, self.data_ranges = {}, {}, {}
        windows = self._windows()
        # Consume-and-clear the pushed filters: Spark reuses this ONE
        # reader instance for every query planned from the same
        # DataFrame, and pushFilters only runs for queries that HAVE
        # filters — without the clear, a window pushed by an earlier
        # query silently constrains a later filterless one (wrong
        # min/max, wrong counts).  partitions() runs once per query,
        # after any pushFilters, so this is the per-query reset point.
        self.coord_filters = {}
        self.coord_ranges = {}
        data_ranges, self.data_ranges = self.data_ranges, {}
        if windows is None or self.meta.total_rows == 0:
            return [ZarrInputPartition(0, 0, ())]
        if not self.meta.coords:
            return [ZarrInputPartition(0, 0, ())]

        outer_lo, outer_hi = windows[0]
        inner = tuple(windows[1:])
        inner_rows = int(np.prod([hi - lo for lo, hi in inner])) if inner else 1
        window_rows = (outer_hi - outer_lo) * inner_rows

        n_parts_max = max(
            1,
            min(self.target_partitions, window_rows // self.MIN_PARTITION_ROWS),
        )

        # 1. outer-dimension chunk-aligned slabs
        outer_chunk = self._outer_chunk()
        outer_slabs = _aligned_pieces(outer_lo, outer_hi, outer_chunk, n_parts_max)
        # 1b. data-variable chunk-row skipping (VERDICT r8 item 3):
        # drop chunk rows whose cached min/max prove no cell can match
        # the pushed data-var conjuncts — the Zarr analog of parquet
        # row-group skipping; Spark still re-applies the filters, so
        # pruning only removes provably-empty reads (superset kept).
        outer_slabs = self._prune_outer_by_stats(outer_slabs, data_ranges)
        if not outer_slabs:
            return [ZarrInputPartition(0, 0, ())]
        n_parts = len(outer_slabs)

        # 2 + 3. inner splitting
        pieces: list[list[tuple[int, int]]] = [[w] for w in inner]
        if self.limit is None and inner and n_parts < n_parts_max:
            def nch(d: int) -> int:
                lo, hi = inner[d]
                cd = self._dim_chunk(d + 1)
                return (hi - 1) // cd - lo // cd + 1 if hi > lo else 0

            for d in sorted(range(len(inner)), key=nch, reverse=True):
                if n_parts >= n_parts_max or nch(d) <= 1:
                    break
                want = math.ceil(n_parts_max / n_parts)
                lo, hi = inner[d]
                pieces[d] = _aligned_pieces(lo, hi, self._dim_chunk(d + 1), want)
                n_parts = len(outer_slabs) * int(
                    np.prod([len(p) for p in pieces])
                )
            if n_parts < n_parts_max:
                d = max(
                    range(len(inner)),
                    key=lambda i: (inner[i][1] - inner[i][0]) // len(pieces[i]),
                )
                want = math.ceil(n_parts_max / n_parts)
                pieces[d] = [
                    sub
                    for piece in pieces[d]
                    for sub in _even_pieces(piece[0], piece[1], want)
                ]

        inner_variants = (
            [tuple(v) for v in itertools.product(*pieces)] if inner else [()]
        )

        parts: list[ZarrInputPartition] = []
        remaining = self.limit
        for pos, hi in outer_slabs:
            rows = (hi - pos) * inner_rows
            if remaining is not None:
                if remaining <= 0:
                    break
                budget = min(rows, remaining)
                parts.append(ZarrInputPartition(pos, hi, inner, budget))
                remaining -= budget
            else:
                for v in inner_variants:
                    parts.append(ZarrInputPartition(pos, hi, v))
        return parts or [ZarrInputPartition(0, 0, ())]

    # -- execution (runs on executors) --------------------------------------

    def read(self, partition: ZarrInputPartition):
        from zarr_datafusion_spark.zarr.chunkio import (
            io_counters,
            read_window,
            reset_io_counters,
        )

        if partition.outer_hi <= partition.outer_lo:
            return
        if self.stats_dir:
            reset_io_counters()
        meta = self.meta
        inner = partition.inner_windows
        inner_sizes = [hi - lo for lo, hi in inner]
        inner_rows = int(np.prod(inner_sizes)) if inner_sizes else 1

        # Pre-read (tiny) coordinate value arrays once per task — only
        # the coords the projection actually asks for (column pruning
        # applies to coordinate reads too).
        from zarr_datafusion_spark.zarr.chunkio import read_array

        coord_values = {
            c.name: read_array(self.store_path, c)
            for c in meta.coords
            if c.name in self.columns
        }
        coord_decoded = io_counters()["decoded_bytes"] if self.stats_dir else 0

        names = self.columns
        coord_names = [c.name for c in meta.coords]
        produced = 0
        budget = partition.row_budget

        # Chunk-aligned batches grouped toward target_batch_rows
        # (bounded memory per batch; fewer Arrow transfers than strict
        # one-batch-per-chunk — the reference emits ONE batch total,
        # zarr_reader.rs:427, which doesn't bound memory at all).
        outer_chunk = self._outer_chunk()
        step = max(1, outer_chunk)
        want_outer = self.target_batch_rows // max(inner_rows, 1)
        if want_outer > step:
            step = (want_outer // outer_chunk) * outer_chunk
        pos = partition.outer_lo
        while pos < partition.outer_hi:
            hi = min(pos + step, partition.outer_hi)
            n_outer = hi - pos
            batch_rows = n_outer * inner_rows
            if budget is not None:
                batch_rows = min(batch_rows, budget - produced)
                if batch_rows <= 0:
                    break  # budget exhausted; fall through to stats spill

            arrays = []
            for name in names:
                null_mask = None  # coords are always dense
                if name in coord_names:
                    d = coord_names.index(name)
                    if d == 0:
                        vals = coord_values[name][pos:hi]
                        col = np.repeat(vals, inner_rows)
                    else:
                        lo_d, hi_d = inner[d - 1]
                        vals = coord_values[name][lo_d:hi_d]
                        reps_inner = int(np.prod(inner_sizes[d:])) if d < len(
                            inner_sizes
                        ) else 1
                        reps_outer = n_outer * int(np.prod(inner_sizes[: d - 1]))
                        col = np.tile(np.repeat(vals, reps_inner), reps_outer)
                else:
                    var = meta.array(name)
                    window = ((pos, hi),) + inner
                    if self.fill_value_nulls:
                        from zarr_datafusion_spark.zarr.chunkio import (
                            read_window_masked,
                        )

                        col, miss = read_window_masked(
                            self.store_path, var, window,
                            cache_mb=self.chunk_cache_mb,
                            prefetch=self.prefetch,
                        )
                        col = col.reshape(-1)
                        if miss is not None:
                            null_mask = miss.reshape(-1)[:batch_rows]
                    else:
                        col = read_window(
                            self.store_path, var, window,
                            cache_mb=self.chunk_cache_mb,
                            prefetch=self.prefetch,
                        ).reshape(-1)
                col = col[:batch_rows]
                target = _ARROW_TYPES.get(meta.array(name).dtype, pa.string())
                if col.dtype.kind == "M":
                    # ns->us with NUMPY's astype (floors toward -inf) —
                    # the SAME conversion _cmp_domain uses for window
                    # narrowing.  Arrow's safe=False cast truncates
                    # toward zero instead, which disagrees by 1µs on
                    # pre-1970 sub-µs ticks, so a narrowed window could
                    # drop a boundary row the re-applied filter keeps
                    # (ADVICE r6 — the superset contract requires one
                    # conversion on both sides).
                    col = col.astype("datetime64[us]")
                arr = pa.array(col, mask=null_mask)
                if arr.type != target:
                    # safe=False ONLY for timestamp targets (unit
                    # changes are legitimate precision loss); any other
                    # dtype mismatch keeps arrow's overflow/precision
                    # checks (ADVICE r6).
                    arr = arr.cast(target, safe=not pa.types.is_timestamp(target))
                arrays.append(arr)

            yield pa.RecordBatch.from_arrays(arrays, names=names)
            produced += batch_rows
            pos = hi

        if self.stats_dir:
            import json as _json
            import uuid as _uuid

            c = io_counters()
            os.makedirs(self.stats_dir, exist_ok=True)
            out = {
                "coord_bytes": coord_decoded,
                "data_bytes": c["decoded_bytes"] - coord_decoded,
                "disk_bytes": c["disk_bytes"],
                "n_chunks": c["n_chunks"],
                "n_arrays": len(names),
                "rows": produced,
            }
            fname = f"part-{partition.outer_lo}-{_uuid.uuid4().hex[:8]}.json"
            with open(os.path.join(self.stats_dir, fname), "w") as f:
                _json.dump(out, f)


class ZarrDataSource(DataSource):
    """``spark.read.format("zarr").load(path)`` / SQL ``CREATE TEMPORARY
    VIEW t USING zarr OPTIONS (path '...')`` (reference A9,
    ``src/datasource/factory.rs:19-65`` — its ``CREATE EXTERNAL TABLE``
    is likewise session-scoped registration).

    Note: persistent-catalog tables (``CREATE TABLE ... USING zarr``)
    parse, but Spark 4.1's session catalog does not replay OPTIONS to a
    Python data source reader at SELECT time — use the temp-view DDL or
    :func:`read_zarr`."""

    @classmethod
    def name(cls) -> str:
        return "zarr"

    def schema(self) -> StructType:
        if not self.options.get("path"):
            raise ValueError("zarr source requires a 'path' option")
        self._meta = discover_arrays(self.options["path"])
        schema = infer_spark_schema(self._meta)
        if "columns" in self.options:
            wanted = [c.strip() for c in self.options["columns"].split(",")]
            fields = {f.name: f for f in schema.fields}
            schema = StructType([fields[c] for c in wanted])
        return schema

    def reader(self, schema: StructType) -> ZarrDataSourceReader:
        return ZarrDataSourceReader(
            schema, dict(self.options), getattr(self, "_meta", None)
        )

    def streamReader(self, schema: StructType) -> "ZarrStreamReader":  # noqa: N802
        return ZarrStreamReader(schema, dict(self.options))


class ZarrStreamReader(DataSourceStreamReader):
    """Streaming tail of a GROWING Zarr store — the streaming half of
    Tier A1, pairing with ``sink.append_zarr`` (live ingestion: one
    process appends outer slabs, another tails them).  The reference is
    batch-only (``Boundedness::Bounded``, ``zarr_exec.rs:102``); this
    is the beyond-reference surface a 100 TB live archive needs.

    Offset model: the OUTER dimension's current length (one integer —
    Zarr appends are monotonic along the outer axis, enforced by
    ``append_zarr``), so offsets are total-ordered, replayable, and
    exactly-once under checkpointing: micro-batch [lo, hi) re-reads
    identical slabs on recovery because slab content is immutable once
    written (append never rewrites a chunk).

    Partitioning: each micro-batch's [lo, hi) window splits into
    chunk-aligned slab pieces — the SAME planning and executor read
    path as the batch scan (``ZarrDataSourceReader.read``), so
    projection/batching behavior is identical and nothing is
    materialized on the driver.  Metadata is re-discovered when an
    offset beyond the cached shape appears (the append grew the
    store); windows are absolute indices, so a NEWER metadata snapshot
    is always valid for an OLDER window."""

    def __init__(self, schema: StructType, options: dict):
        from zarr_datafusion_spark.zarr.metadata import normalize_store_path

        if not options.get("path"):
            raise ValueError("zarr source requires a 'path' option")
        self.store_path = normalize_store_path(options["path"])
        self.schema_ = schema
        self.options = dict(options)
        self.target_partitions = int(options.get("target_partitions", 8))
        self._cached: ZarrDataSourceReader | None = None

    def _effective_path(self, min_outer: int = 0) -> str:
        """Store path to read THROUGH for a window reaching
        ``min_outer``.  Plain stores pass through.  An ``icechunk://``
        BRANCH ref is the transactional tail: every call re-resolves
        the head and pins it, so each micro-batch reads one immutable
        snapshot (the per-worker adapter memoization keys on the
        pinned URL and can never serve a stale head).  Offsets stay
        absolute outer indices, so the stream contract is the same
        append-only discipline ``append_zarr`` enforces for plain
        stores — commits must only GROW the outer axis; a window the
        head cannot cover fails loud below (shrink = data loss)."""
        if not self.store_path.startswith("icechunk://"):
            return self.store_path
        from zarr_datafusion_spark.zarr.icechunk import pin_snapshot

        url = pin_snapshot(self.store_path)
        if min_outer:
            meta = discover_arrays(url)
            outer = int(meta.coords[0].shape[0]) if meta.coords else 0
            if outer < min_outer:
                raise ValueError(
                    f"icechunk branch head {url!r} covers only outer "
                    f"length {outer}, but the committed stream window "
                    f"needs {min_outer} — the branch shrank or was "
                    "rewritten under the stream (append-only contract)"
                )
        return url

    def _reader_for(self, outer: int) -> ZarrDataSourceReader:
        r = self._cached
        if r is None or (r.meta.coords and r.meta.coords[0].shape[0] < outer):
            eff = self._effective_path(outer)
            opts = dict(self.options)
            opts["path"] = eff  # chunk reads go through the PINNED url
            r = ZarrDataSourceReader(
                self.schema_, opts, discover_arrays(eff)
            )
            self._cached = r
        return r

    def initialOffset(self) -> dict:  # noqa: N802
        return {"outer": 0}

    def latestOffset(self) -> dict:  # noqa: N802
        meta = discover_arrays(self._effective_path())
        outer = int(meta.coords[0].shape[0]) if meta.coords else 0
        return {"outer": outer}

    def partitions(self, start: dict, end: dict):
        lo, hi = int(start["outer"]), int(end["outer"])
        if hi < lo:
            # a backwards offset means the store SHRANK under the
            # stream — data loss, not a normal empty batch; fail loud
            # rather than silently skipping the committed window
            raise ValueError(
                f"zarr store shrank under the stream: offset window "
                f"[{lo}, {hi}) is backwards ({self.store_path})"
            )
        if hi == lo:
            return []
        reader = self._reader_for(hi)
        inner = tuple((0, s) for s in reader.meta.coord_sizes[1:])
        pieces = _aligned_pieces(
            lo, hi, reader._outer_chunk(), self.target_partitions
        )
        return [ZarrInputPartition(a, b, inner, None) for a, b in pieces]

    def read(self, partition: ZarrInputPartition):
        # executes on executors: the lazily built delegate re-discovers
        # metadata there (local metadata math, no driver involvement)
        yield from self._reader_for(partition.outer_hi).read(partition)

    def commit(self, end: dict) -> None:
        pass


# ---------------------------------------------------------------------------
# Registration / convenience API
# ---------------------------------------------------------------------------


def _ensure_workers_can_import(spark: SparkSession) -> None:
    """Ship the package to executor Python workers via ``addPyFile``
    (robust regardless of the launching session's PYTHONPATH)."""
    sc = spark.sparkContext
    if getattr(sc, "_zarr_datafusion_spark_shipped", False):
        return
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    zip_path = os.path.join(
        tempfile.mkdtemp(prefix="zds_pyfiles_"), "zarr_datafusion_spark.zip"
    )
    base = os.path.dirname(pkg_root)
    with zipfile.ZipFile(zip_path, "w") as zf:
        for dirpath, _dirnames, filenames in os.walk(pkg_root):
            for fn in filenames:
                if fn.endswith(".py"):
                    full = os.path.join(dirpath, fn)
                    zf.write(full, os.path.relpath(full, base))
    sc.addPyFile(zip_path)
    sc._zarr_datafusion_spark_shipped = True


def _same_window(path: str, state: str) -> bool:
    """Whether a relation may narrow to ``state``, its pushed filters:
    only while every planning pass of the relation (whose file is
    ``path``) pushed the same ones.  The first pass records its state;
    a pass with another marks the relation mixed, and a mixed relation
    reads its full extent from then on, whatever it is pushed.  Any
    replayed plan then covers every scan: scans that agree share one
    window, and once they disagree the last plan is the full one."""
    try:
        fd = os.open(path, os.O_WRONLY | os.O_CREAT | os.O_EXCL, 0o600)
    except FileExistsError:
        with open(path) as f:
            if f.read() == state:
                return True
        with open(path, "w") as f:
            f.write("mixed")
        return False
    with os.fdopen(fd, "w") as f:
        f.write(state)
    return True


_WINDOW_DIR: list[str] = []
_WINDOW_DIR_LOCK = threading.Lock()


def _window_dir() -> str:
    """This process's directory of eager relations' window files (the
    driver plans every relation, in Python workers on its own host),
    removed when the process exits."""
    with _WINDOW_DIR_LOCK:
        if not _WINDOW_DIR:
            import atexit
            import shutil

            _WINDOW_DIR.append(tempfile.mkdtemp(prefix="zds_windows_"))
            atexit.register(shutil.rmtree, _WINDOW_DIR[0], True)
        return _WINDOW_DIR[0]


def register_zarr_source(spark: SparkSession) -> None:
    """Register the 'zarr' format with a session (idempotent: a session
    that already has it keeps its registration, so repeated
    ``read_zarr`` calls neither re-ship the class nor make Spark warn
    that the source was replaced)."""
    _ensure_workers_can_import(spark)
    # pushFilters requires this flag (off by default in Spark 4.1);
    # runtime-settable SQL conf, safe on any session we're handed.
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    manager = spark._jsparkSession.sessionState().dataSourceManager()
    if not manager.dataSourceExists(ZarrDataSource.name()):
        spark.dataSource.register(ZarrDataSource)


def read_zarr(
    spark: SparkSession,
    store_path: str,
    columns: list[str] | None = None,
    limit: int | None = None,
    target_batch_rows: int | None = None,
    stats_dir: str | None = None,
    target_partitions: int | None = None,
    eager_pushdown: bool = False,
    data_filter_pushdown: bool = False,
    fill_value_nulls: bool = False,
    chunk_cache_mb: int = 0,
    prefetch: int = 0,
    filters: list[Filter] | None = None,
    *,
    _schema: StructType | None = None,
) -> DataFrame:
    """Flattened DataFrame over a Zarr store (engine API analog of the
    reference's ``register_table`` example path, EP2).

    ``stats_dir``: directory where each scan partition spills its I/O
    counter delta (A10); aggregate after an action with
    :func:`zarr_datafusion_spark.stats.io_stats.collect_stats_dir`.

    ``eager_pushdown``: enable coord-equality window narrowing (the A5
    I/O reduction).  Meant for a DataFrame that serves ONE query:
    Spark 4.1 caches planned partitions per relation and replays them
    to a later plan that pushes no filter (see
    ``ZarrDataSourceReader.eager_pushdown``).  The relation narrows
    only while every plan over it pushes the same filters, so a
    DataFrame used twice in one plan (a self-join or self-union), or
    re-planned with other filters, reads its full extent instead.

    ``data_filter_pushdown``: also skip chunk rows using per-chunk-row
    DATA-variable min/max statistics (computed distributed on first
    use, cached in a staleness-keyed sidecar —
    :mod:`zarr_datafusion_spark.stats.chunk_stats`): ``WHERE
    temperature > x`` then skips whole chunks, the parquet-row-group
    data-skipping story the reference lacks (its pruning stops at
    coordinates, ``filter.rs:70-302``).  Requires ``eager_pushdown``
    (same single-query caveat).  Works for LOCAL and REMOTE stores —
    the remote (object-store) case is where skipping matters most:
    the sidecar is a local cache keyed by the store's consolidated-
    metadata CONTENT (see ``chunk_stats_sidecar_path``), and the
    one-time stats pass reads chunks through the same per-task remote
    adapters as the scan.  Stores with no metadata marker scan full.

    ``fill_value_nulls``: surface cells of MISSING data-variable chunks
    as SQL NULL instead of the Zarr spec's fill_value (the reference's
    unchecked "Handle fill_value as Arrow nulls" roadmap row,
    ``README.md:318``).  Data variables only; sharded stores mask
    wholly-missing shard files only.  ``register_zarr`` never enables
    this: the engine's COUNT(col) shortcut assumes exact zero null
    counts, so nullable semantics stay a per-query read opt-in.

    ``chunk_cache_mb``: byte-budgeted LRU over decoded chunks, one per
    executor python worker (reference roadmap ``README.md:327``).
    Local chunk keys carry size+mtime_ns (updates/appends never serve
    stale); enabling it on a REMOTE store opts into object
    immutability (no cheap stat).  Off by default so physical-I/O
    accounting stays exact.

    ``prefetch``: fetch+decode up to this many chunks concurrently
    WITHIN each task's window assembly (reference roadmap
    ``README.md:326``) — pays on latency-bound remote stores; local
    scans usually prefer the default sequential reads (the chunks of
    one window are adjacent on disk).

    ``filters``: data-source filters the caller re-applies to the
    result, a subset of those Spark pushes for its predicate (the
    Inexact contract: pushing fewer only reads more).  With them the
    driver plans the read here, as Spark's Python workers would: the
    source's own ``schema()``, ``pushFilters(filters)`` and
    ``partitions()``.  When the planned window holds fewer than
    ``ZarrDataSourceReader.MIN_PARTITION_ROWS`` rows, the size below
    which the planner makes one partition at any parallelism, the
    driver also runs the reader's ``read()`` (``stats_dir`` accounting
    included) and returns the rows as a ``LocalRelation``: a snapshot
    taken now, which collects with no Spark job and no Python worker.
    A bigger window returns the usual distributed relation.

    ``_schema`` is internal: the engine passes the schema of the
    columns it already knows from registration, so Spark skips the
    source's ``schema()`` call (store discovery in a Python worker).
    """
    if store_path.startswith("icechunk://"):
        # pin a mutable branch ref to its snapshot id NOW, so the plan
        # cache, per-worker adapter memoization, and every executor
        # task read ONE immutable snapshot (repeatable reads under
        # concurrent commits); re-read/re-register to see new commits.
        from zarr_datafusion_spark.zarr.icechunk import pin_snapshot

        store_path = pin_snapshot(store_path)
    register_zarr_source(spark)
    options = {}
    if eager_pushdown:
        options["filter_pushdown"] = "eager"
    if data_filter_pushdown:
        if not eager_pushdown:
            raise ValueError(
                "data_filter_pushdown requires eager_pushdown=True "
                "(pruning is gated on the single-query opt-in)"
            )
        from zarr_datafusion_spark.stats.chunk_stats import (
            chunk_stats_sidecar_path,
            compute_zarr_chunk_stats,
        )

        sidecar = chunk_stats_sidecar_path(store_path)
        if sidecar is not None:
            compute_zarr_chunk_stats(spark, store_path)  # builds sidecar
            options["data_stats_path"] = sidecar
    if fill_value_nulls:
        options["fill_value_nulls"] = "true"
    if chunk_cache_mb:
        options["chunk_cache_mb"] = str(int(chunk_cache_mb))
    if prefetch:
        options["prefetch"] = str(int(prefetch))
    if columns:
        options["columns"] = ",".join(columns)
    if limit is not None:
        options["limit"] = str(limit)
    if target_batch_rows is not None:
        options["target_batch_rows"] = str(target_batch_rows)
    if stats_dir is not None:
        options["stats_dir"] = stats_dir
    if target_partitions is None:
        target_partitions = spark.sparkContext.defaultParallelism
    options["target_partitions"] = str(target_partitions)
    if filters is not None:
        local = _read_on_driver(spark, {**options, "path": store_path}, filters)
        if local is not None:
            return local
    if eager_pushdown:
        import uuid

        options["window_key"] = os.path.join(_window_dir(), uuid.uuid4().hex)
    reader = spark.read.format("zarr")
    if _schema is not None:
        reader = reader.schema(_schema)
    return reader.options(**options).load(store_path)


def _read_on_driver(
    spark: SparkSession, options: dict, filters: list[Filter]
) -> DataFrame | None:
    """The ``read_zarr(filters=...)`` window read on the driver, or
    ``None`` when it plans at or above the split threshold."""
    from zarr_datafusion_spark.local_relation import frame

    source = ZarrDataSource(options)
    schema = source.schema()
    reader = source.reader(schema)
    list(reader.pushFilters(list(filters)))  # a generator: run it
    parts = reader.partitions()
    rows = sum(
        (p.outer_hi - p.outer_lo)
        * int(np.prod([hi - lo for lo, hi in p.inner_windows]))
        for p in parts
    )
    if rows >= reader.MIN_PARTITION_ROWS:
        return None
    batches = [b for p in parts for b in reader.read(p)]
    columns = [
        pa.chunked_array([b.column(i) for b in batches]) if batches else []
        for i in range(len(schema.fields))
    ]
    return frame(spark, schema, columns)


def read_zarr_stream(
    spark: SparkSession,
    store_path: str,
    target_partitions: int | None = None,
) -> DataFrame:
    """Streaming DataFrame tailing a growing Zarr store (see
    :class:`ZarrStreamReader`): every outer slab appended after the
    stream's last committed offset arrives as new rows — pair with
    ``sink.append_zarr`` for live-archive ingestion.  Drive with
    ``trigger(availableNow=True)`` for catch-up-and-stop semantics or
    a processing-time trigger to follow the store continuously."""
    register_zarr_source(spark)
    reader = spark.readStream.format("zarr")
    if target_partitions is None:
        target_partitions = spark.sparkContext.defaultParallelism
    reader = reader.option("target_partitions", str(target_partitions))
    return reader.load(store_path)
