"""Execute EVERY registry entry end-to-end at sf1 and report timings.

The per-round bench covers only the headline set; this sweep is how
round 6 found the SemDeDup cell-sizing cliff (92 s) and the
repetition-signal per-doc quadratic (19 s) in non-headline-stressed
paths.  Run it after adding an operator, before calling it done:

    python scripts/make_sf1.py          # once, generates data/sf1
    python scripts/sf1_sweep.py 2>&1 | tee /tmp/sf1_sweep.log   # ~4 min at r6 state

Failures print as ERROR rows; the slowest entries print last — anything
disproportionate to its data volume deserves a plan look (EXPLAIN
ANALYZE via the engine shows per-node metrics).
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as E  # noqa: E402
from zarr_datafusion_spark.session import get_spark  # noqa: E402


def main() -> None:
    sf = os.environ.get(
        "SPARK_GRAFT_SWEEP_SF_DIR",
        os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "data", "sf1"),
    )
    spark = get_spark("sf1-sweep")
    spark.sparkContext.setLogLevel("ERROR")
    print(
        "[note] Any 'ERROR DAGScheduler: Failed to update accumulator "
        "... (Unknown class)' lines around the streaming entries are "
        "Spark's own Python-runner metric accumulators arriving after "
        "a stopped streaming query's stage teardown — harmless to "
        "results (this repo's io_stats are file-spill counters, not "
        "accumulators; exactness is pinned by tests/test_io_stats.py).",
        flush=True,
    )

    # Pre-build the persisted build-once/query-many indexes OUTSIDE the
    # per-entry timers, with the build cost printed honestly (VERDICT
    # r9 item 4): the per-entry lines then measure each entry's
    # STEADY-STATE shape — a stale-keyed first run was billing the
    # whole band-index build to streaming_lsh_dedup (63.6 s recorded
    # vs 31.6 s steady on the same box).
    from zarr_datafusion_spark.operators import extras, similarity

    for label, build in (
        ("bm25_index", extras.build_bm25_index),
        ("ann_index", similarity.build_ann_index),
        ("lsh_band_index", extras.build_lsh_band_index),
    ):
        t0 = time.perf_counter()
        try:
            build(spark, sf)
            print(
                f"[prebuild] {label}: {time.perf_counter() - t0:.2f}s",
                flush=True,
            )
        except Exception as e:
            print(f"[prebuild] {label}: ERROR {type(e).__name__}: {e}")

    # SPARK_GRAFT_SWEEP_QUERIES="a,b,c" sweeps a named subset in order
    # (fresh-session re-measures of single entries, e.g. the r14
    # sim_kmeans_train bar check) — same spelling as bench.py's knob.
    entries = E.queries()
    subset = os.environ.get("SPARK_GRAFT_SWEEP_QUERIES")
    if subset:
        wanted = [q.strip() for q in subset.split(",") if q.strip()]
        unknown = [q for q in wanted if q not in entries]
        if unknown:
            raise SystemExit(f"unknown sweep entries: {unknown}")
        entries = {q: entries[q] for q in wanted}

    times: dict[str, object] = {}
    for name, fn in entries.items():
        t0 = time.perf_counter()
        try:
            fn(spark, sf).write.format("noop").mode("overwrite").save()
            times[name] = round(time.perf_counter() - t0, 2)
        except Exception as e:  # keep sweeping; report at the end
            times[name] = f"ERROR: {type(e).__name__}: {str(e)[:120]}"
        print(f"{name}: {times[name]}", flush=True)

    slow = sorted((v, k) for k, v in times.items() if isinstance(v, float))
    print("\nTOP 15 SLOWEST:")
    for v, k in slow[-15:][::-1]:
        print(f"  {k:40s} {v:8.2f}s")
    errs = {k: v for k, v in times.items() if not isinstance(v, float)}
    print("ERRORS:", errs or "none")


if __name__ == "__main__":
    main()
