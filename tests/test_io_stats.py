"""A10 I/O statistics tests (reference ``stats.rs`` / ``tracked_store.rs``
counters + the pushdown reduction accounting ``zarr_reader.rs:255-264``).

Three layers under test: planned stats (pure metadata math), live
process-local counters (TrackedStore analog), and the distributed
stats-spill protocol through a real Spark scan.
"""

from __future__ import annotations

import numpy as np

from zarr_datafusion_spark.operators.zarr_queries import fixture_store
from zarr_datafusion_spark.stats.io_stats import (
    collect_stats_dir,
    plan_scan_stats,
)
from zarr_datafusion_spark.zarr.chunkio import (
    io_counters,
    read_array,
    reset_io_counters,
)
from zarr_datafusion_spark.zarr.metadata import discover_arrays


def test_planned_full_scan_counts():
    store = fixture_store(2)
    s = plan_scan_stats(store)
    assert s.rows == 700
    assert s.n_arrays == 5
    # 3 coords (7+10+10 int64) + 2 data vars (700 cells int64 each)
    assert s.coord_bytes == (7 + 10 + 10) * 8
    assert s.data_bytes == 2 * 700 * 8
    assert s.disk_bytes > 0 and s.n_chunks > 0
    assert s.metadata_bytes > 0


def test_planned_filter_reduction():
    store = fixture_store(2)
    full = plan_scan_stats(store)
    filt = plan_scan_stats(store, coord_filters={"time": 3})
    assert filt.rows == 100
    # reading 1 of 7 time slabs cuts data bytes 7x (reduction_pct
    # accounting, zarr_reader.rs:255-264)
    assert filt.data_bytes == full.data_bytes // 7
    assert filt.disk_bytes < full.disk_bytes


def test_planned_unmatched_filter_empty():
    store = fixture_store(2)
    s = plan_scan_stats(store, coord_filters={"time": 99})
    assert s.rows == 0


def test_planned_limit_and_projection():
    store = fixture_store(2)
    s = plan_scan_stats(store, columns=["time", "temperature"], limit=20)
    assert s.rows == 20
    assert s.n_arrays == 2
    full = plan_scan_stats(store)
    assert s.disk_bytes < full.disk_bytes


def test_live_counters_track_window_reads():
    store = fixture_store(2)
    meta = discover_arrays(store)
    temp = meta.array("temperature")
    reset_io_counters()
    read_array(store, temp)
    full = io_counters()
    assert full["decoded_bytes"] == 700 * 8
    assert full["n_chunks"] == 7  # chunked (1, 10, 10)

    from zarr_datafusion_spark.zarr.chunkio import read_window

    reset_io_counters()
    read_window(store, temp, ((3, 4), (0, 10), (0, 10)))
    one = io_counters()
    assert one["n_chunks"] == 1
    assert one["disk_bytes"] < full["disk_bytes"]


def test_stats_spill_matches_planned(spark, tmp_path):
    from zarr_datafusion_spark.zarr import read_zarr

    store = fixture_store(2)
    d = str(tmp_path / "iostats")
    df = read_zarr(spark, store, stats_dir=d)
    assert df.count() == 700
    spilled = collect_stats_dir(d)
    planned = plan_scan_stats(store)
    assert spilled.rows == planned.rows == 700
    assert spilled.disk_bytes == planned.disk_bytes
    assert spilled.coord_bytes == planned.coord_bytes
    assert spilled.data_bytes == planned.data_bytes


def test_format_line_shape():
    s = plan_scan_stats(fixture_store(2))
    line = s.format_line(0.013)
    assert line.startswith("700 rows · 5 arrays · ")
    assert line.endswith("0.013s")


def test_unpruned_eager_plan_is_observable(spark, tmp_path):
    """Whether a scan pruned shows in the rows it read: the spilled
    ``rows`` of an eager relation's filtered scan are its window, the
    unfiltered scan's are the whole store."""
    from pyspark.sql import functions as F

    from zarr_datafusion_spark.zarr import read_zarr

    store = fixture_store(2)

    d_pruned = str(tmp_path / "pruned")
    df = read_zarr(spark, store, stats_dir=d_pruned, eager_pushdown=True)
    assert df.filter(F.col("time") == 3).count() == 100
    assert collect_stats_dir(d_pruned).rows == 100

    d_full = str(tmp_path / "full")
    df2 = read_zarr(spark, store, stats_dir=d_full, eager_pushdown=True)
    assert df2.count() == 700
    assert collect_stats_dir(d_full).rows == 700


def test_data_filter_pushdown_skips_chunks(spark, tmp_path):
    """VERDICT r8 item 3 done-bar: a data-variable predicate must SKIP
    chunk reads (observable in the spilled I/O counters), and the
    pruned scan must return exactly the rows of the unpruned one under
    the same re-applied filter (Inexact contract — pruning only ever
    removes provably-empty chunk rows)."""
    from pyspark.sql import functions as F

    from zarr_datafusion_spark.operators.zarr_queries import trending_store
    from zarr_datafusion_spark.zarr import read_zarr

    store = trending_store()
    sd_full, sd_pruned = str(tmp_path / "full"), str(tmp_path / "pruned")

    full = read_zarr(spark, store, stats_dir=sd_full).filter(
        F.col("pressure") >= 1075
    )
    full_rows = sorted(map(tuple, full.collect()))
    s_full = collect_stats_dir(sd_full)

    pruned = read_zarr(
        spark,
        store,
        stats_dir=sd_pruned,
        eager_pushdown=True,
        data_filter_pushdown=True,
    ).filter(F.col("pressure") >= 1075)
    pruned_rows = sorted(map(tuple, pruned.collect()))
    s_pruned = collect_stats_dir(sd_pruned)

    assert pruned_rows == full_rows and len(full_rows) > 0
    # slab max = 1022 + 10*t >= 1075 <=> t >= 6: exactly half the 12
    # outer chunk rows survive, so data rows read and data bytes halve
    assert s_full.rows == 12 * 10 * 14
    assert s_pruned.rows == 6 * 10 * 14
    assert s_pruned.data_bytes == s_full.data_bytes // 2
    assert s_pruned.n_chunks < s_full.n_chunks


def test_data_filter_pushdown_stale_sidecar_declines(spark, tmp_path):
    """A sidecar whose chunk grid doesn't match the store (rewritten
    store, stale stats) must DECLINE pruning — full scan, never a
    wrong one."""
    import json

    from zarr_datafusion_spark.operators.zarr_queries import trending_store
    from zarr_datafusion_spark.stats.chunk_stats import (
        chunk_stats_sidecar_path,
        compute_zarr_chunk_stats,
    )
    from zarr_datafusion_spark.zarr import read_zarr
    from pyspark.sql import functions as F

    store = trending_store()
    compute_zarr_chunk_stats(spark, store)
    sidecar = chunk_stats_sidecar_path(store)
    bad = str(tmp_path / "bad_stats.json")
    stats = json.load(open(sidecar))
    stats["outer_chunk"] = 99  # grid mismatch
    json.dump(stats, open(bad, "w"))

    from zarr_datafusion_spark.zarr.datasource import register_zarr_source

    register_zarr_source(spark)
    df = (
        spark.read.format("zarr")
        .option("filter_pushdown", "eager")
        .option("data_stats_path", bad)
        .option("target_partitions", "4")
        .load(store)
        .filter(F.col("pressure") >= 1075)
    )
    assert df.count() == 721  # correct despite the unusable sidecar


def test_data_filter_equality_and_allnan_skip(spark, tmp_path):
    """Two more skip shapes: (a) a data-var EQUALITY literal prunes to
    the chunk rows whose [min,max] contain it; (b) NaN under Spark's
    NaN-is-largest order — `v > lo` MATCHES NaN cells (no NaN-bearing
    row may skip), `v < hi` fails them (all-NaN rows skip)."""
    import numpy as np
    from pyspark.sql import functions as F

    from zarr_datafusion_spark.operators.zarr_queries import trending_store
    from zarr_datafusion_spark.zarr import read_zarr
    from zarr_datafusion_spark.zarr.writer import write_store

    # (a) equality: pressure == 1005 lives only in slab t=0 (per-slab
    # range is [1000+10t, 1022+10t])
    sd = str(tmp_path / "eq")
    df = read_zarr(
        spark, trending_store(), stats_dir=sd,
        eager_pushdown=True, data_filter_pushdown=True,
    ).filter(F.col("pressure") == 1005)
    rows = df.collect()
    assert {r.pressure for r in rows} == {1005}
    s = collect_stats_dir(sd)
    assert s.rows == 1 * 10 * 14  # one slab read of twelve

    # (b) NaN semantics: Spark (and DuckDB) sort NaN ABOVE every
    # number, so `v > lo` MATCHES NaN cells — a NaN-bearing slab must
    # never be skipped under a lower bound, while `v < hi` (which NaN
    # fails) may skip aggressively.
    vals = np.ones((3, 4), dtype=np.float64)
    vals[1, :] = np.nan   # slab 1: all NaN
    vals[2, 0] = np.nan   # slab 2: mixed
    vals[2, 3] = 0.2      # ... with one small value
    store = write_store(
        str(tmp_path / "nanskip"),
        {
            "t": (np.arange(3, dtype=np.int64), (3,)),
            "x": (np.arange(4, dtype=np.int64), (4,)),
            "v": (vals, (1, 4)),
        },
    )

    def run(pred, subdir):
        sd = str(tmp_path / subdir)
        df = read_zarr(
            spark, store, stats_dir=sd,
            eager_pushdown=True, data_filter_pushdown=True,
        ).filter(pred)
        rows = sorted((r.t, r.x) for r in df.collect())
        return rows, collect_stats_dir(sd)

    # lower bound: NaN matches, so NOTHING prunes on this store and
    # the NaN rows (slab 1 + cell (2,0)) are all in the result
    got_gt, s_gt = run(F.col("v") > 0.5, "gt")
    assert got_gt == [
        (0, 0), (0, 1), (0, 2), (0, 3),
        (1, 0), (1, 1), (1, 2), (1, 3),
        (2, 0), (2, 1), (2, 2),
    ]
    assert s_gt.rows == 3 * 4  # no slab skipped (every slab may match)

    # upper bound: NaN fails it, so the all-1.0 slab (min 1.0 > 0.5)
    # AND the all-NaN slab both skip; only the mixed slab is read
    got_lt, s_lt = run(F.col("v") < 0.5, "lt")
    assert got_lt == [(2, 3)]
    assert s_lt.rows == 1 * 4

    # differential: pruned results equal the unpruned scan's
    full = read_zarr(spark, store)
    assert got_gt == sorted(
        (r.t, r.x) for r in full.filter(F.col("v") > 0.5).collect()
    )
    assert got_lt == sorted(
        (r.t, r.x) for r in full.filter(F.col("v") < 0.5).collect()
    )


def test_append_invalidates_chunk_stats_sidecar(spark, tmp_path):
    """Writing to a store must invalidate its chunk-stats sidecar:
    append_zarr rewrites consolidated metadata LAST, so the marker
    file's mtime_ns changes, the staleness key changes, and the next
    data-filtered scan recomputes stats over the GROWN store — pruning
    after an append must see the new slabs (a stale sidecar would have
    the wrong shape0 and decline, also correct, but the key change
    makes it recompute and keep pruning)."""
    from pyspark.sql import functions as F

    from zarr_datafusion_spark.stats.chunk_stats import (
        chunk_stats_sidecar_path,
        compute_zarr_chunk_stats,
    )
    from zarr_datafusion_spark.operators.zarr_queries import fixture_store
    from zarr_datafusion_spark.zarr import read_zarr, write_zarr
    from zarr_datafusion_spark.zarr.sink import append_zarr

    src = read_zarr(spark, fixture_store(2))
    times = sorted(r[0] for r in src.select("time").distinct().collect())
    dst = str(tmp_path / "grow.zarr")
    write_zarr(
        src.filter(F.col("time").isin(times[:5])), dst,
        coords=["time", "lat", "lon"],
    )
    s1 = compute_zarr_chunk_stats(spark, dst)
    key1 = chunk_stats_sidecar_path(dst)
    assert s1["shape0"] == 5

    append_zarr(src.filter(F.col("time").isin(times[5:])), dst)
    key2 = chunk_stats_sidecar_path(dst)
    assert key2 != key1, "append did not change the staleness key"
    s2 = compute_zarr_chunk_stats(spark, dst)
    assert s2["shape0"] == 7

    # the data-filtered scan over the grown store answers the full set
    df = read_zarr(
        spark, dst, eager_pushdown=True, data_filter_pushdown=True
    ).filter(F.col("temperature") >= -100)
    assert df.count() == 700


def test_sidecar_prune_is_store_scoped_and_tmp_safe(spark, tmp_path):
    """ADVICE r9: (a) two stores sharing a BASENAME must not prune each
    other's sidecars into a recompute ping-pong — the sidecar prefix
    carries a digest of the full store path; (b) the prune loop must
    skip ``.tmp`` names (a concurrent writer's in-flight file); (c) the
    tmp file is pid-suffixed."""
    import json
    import os

    from pyspark.sql import functions as F

    from zarr_datafusion_spark.stats.chunk_stats import (
        chunk_stats_sidecar_path,
        compute_zarr_chunk_stats,
    )
    from zarr_datafusion_spark.zarr import read_zarr, write_zarr
    from zarr_datafusion_spark.operators.zarr_queries import fixture_store

    src = read_zarr(spark, fixture_store(2))
    a = str(tmp_path / "a" / "same.zarr")
    b = str(tmp_path / "b" / "same.zarr")
    for dst in (a, b):
        write_zarr(
            src.filter(F.col("time") < 3), dst, coords=["time", "lat", "lon"]
        )

    pa_, pb = chunk_stats_sidecar_path(a), chunk_stats_sidecar_path(b)
    assert pa_ != pb
    # (a) distinct PREFIXES, not just distinct keys: same-basename
    # stores must never match each other's prune glob
    assert os.path.basename(pa_).rsplit("-", 1)[0] != os.path.basename(
        pb
    ).rsplit("-", 1)[0]

    compute_zarr_chunk_stats(spark, a)
    # (b) plant a superseded key and an in-flight tmp for store a, then
    # force a rebuild (new key via marker touch)
    side_dir = os.path.dirname(pa_)
    prefix = os.path.basename(pa_).rsplit("-", 1)[0]
    stale = os.path.join(side_dir, f"{prefix}-deadbeef0000.json")
    inflight = os.path.join(side_dir, f"{prefix}-deadbeef0000.json.tmp999")
    with open(stale, "w") as f:
        json.dump({}, f)
    with open(inflight, "w") as f:
        json.dump({}, f)
    marker = os.path.join(a, ".zmetadata")
    if not os.path.isfile(marker):
        marker = os.path.join(a, "zarr.json")
    if not os.path.isfile(marker):
        marker = os.path.join(a, ".zgroup")
    st = os.stat(marker)
    os.utime(marker, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000))

    compute_zarr_chunk_stats(spark, b)  # unrelated store: no pruning of a's
    assert os.path.exists(stale), "store b pruned store a's sidecar"
    compute_zarr_chunk_stats(spark, a)  # rebuild for a prunes the stale key
    assert not os.path.exists(stale)
    assert os.path.exists(inflight), ".tmp in-flight file was pruned"
    os.remove(inflight)
