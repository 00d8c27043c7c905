"""Per-layer tracing for the benchmark, from outside the package.

:class:`Tracer` wraps the driver-side public functions of each layer
(``Engine.sql``, the ``stats`` rewrites, metadata discovery, the sink)
with timing spans, points every ``read_zarr`` relation at a
``stats_dir`` so chunk I/O counters spill per scan partition, and reads
Spark's status store for the jobs of each op's job group.  Sink calls
are recorded one by one, with the chunk files each left in its store.  Nothing in
the package is edited: ``install`` patches the module attributes and
``uninstall`` restores them, so the harness can alternate traced and
untraced rounds in one session.

Spans only run on the driver.  Discovery and planning that Spark runs
inside Python workers (the data source's ``schema()``/``partitions()``)
are outside their reach; ``datasource.plan_ms`` covers planning from
the driver's side instead.
"""

from __future__ import annotations

import glob
import importlib
import json
import os
import sys
import time
from collections import defaultdict

#: (module, function, span name) wrapped on the driver
TARGETS = [
    ("zarr_datafusion_spark.stats.shortcuts", "try_stats_shortcut", "stats.rewrite"),
    ("zarr_datafusion_spark.stats.agg_pushdown", "try_chunk_agg_pushdown", "stats.rewrite"),
    ("zarr_datafusion_spark.stats.topk", "try_topk_pushdown", "stats.rewrite"),
    ("zarr_datafusion_spark.stats.filter_rewrite", "try_filter_rewrite", "stats.rewrite"),
    ("zarr_datafusion_spark.stats.filter_rewrite", "try_pruned_agg_rewrite", "stats.rewrite"),
    ("zarr_datafusion_spark.stats.chunk_stats", "compute_zarr_chunk_stats", "stats.sidecar"),
    ("zarr_datafusion_spark.zarr.metadata", "discover_arrays", "metadata.discover"),
    ("zarr_datafusion_spark.stats.zarr_stats", "zarr_table_stats", "metadata.discover"),
    ("zarr_datafusion_spark.zarr.sink", "write_zarr", "sink.copy"),
    ("zarr_datafusion_spark.zarr.sink", "append_zarr", "sink.append"),
    ("zarr_datafusion_spark.zarr.sink", "update_zarr_region", "sink.update"),
    ("zarr_datafusion_spark.zarr.datasource", "read_zarr", "datasource.read_zarr"),
]

PYTHON_BYTES = "data returned from Python workers"


class Tracer:
    def __init__(self, spark, stats_dir: str):
        self.spark = spark
        self.sc = spark.sparkContext
        self.stats_dir = stats_dir
        os.makedirs(stats_dir, exist_ok=True)
        #: per-op spans: name -> [durations]; reset by ``begin_op``
        self.spans: dict[str, list[float]] = defaultdict(list)
        #: kind, ms, bytes_written and chunk_files of every sink call
        self.sink_calls: list[dict] = []
        self.sidecar_build_s: list[float] = []
        self._sidecar_seen: set[str] = set()
        self._patched: list[tuple[object, str, object]] = []
        self._acc_seen: dict[int, int] = {}
        self._status = self.sc._jsc.sc().statusStore()
        self._sql_status = spark._jsparkSession.sharedState().statusStore()
        self._accs = self.sc._jvm.org.apache.spark.util.AccumulatorContext

    # -- patching -------------------------------------------------------

    def install(self, only: set[str] | None = None) -> None:
        """Patch every target, or only those whose span is in ``only``."""
        from zarr_datafusion_spark.engine import Engine

        if only is None or "engine.sql" in only:
            self._patch(Engine, "sql", self._span(Engine.sql, "engine.sql"))
        for mod_name, fn_name, span in TARGETS:
            if only is not None and span not in only:
                continue
            original = getattr(importlib.import_module(mod_name), fn_name)
            wrapper = self._wrapper_for(original, span)
            for mod in list(sys.modules.values()):
                name = getattr(mod, "__name__", "") or ""
                if name.startswith("zarr_datafusion_spark") and (
                    getattr(mod, fn_name, None) is original
                ):
                    self._patch(mod, fn_name, wrapper)

    def uninstall(self) -> None:
        for owner, attr, original in reversed(self._patched):
            setattr(owner, attr, original)
        self._patched.clear()

    def _patch(self, owner, attr: str, new) -> None:
        self._patched.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def _span(self, fn, name: str):
        spans = self.spans

        def wrapped(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                spans[name].append(time.perf_counter() - t0)

        wrapped.__wrapped__ = fn
        return wrapped

    def _wrapper_for(self, fn, span: str):
        if span == "datasource.read_zarr":
            stats_dir = self.stats_dir

            def with_stats_dir(spark, store_path, *args, **kwargs):
                kwargs.setdefault("stats_dir", stats_dir)
                return fn(spark, store_path, *args, **kwargs)

            return self._span(with_stats_dir, span)
        if span == "stats.sidecar":
            def sidecar(spark, store_path, *args, **kwargs):
                t0 = time.perf_counter()
                out = fn(spark, store_path, *args, **kwargs)
                dt = time.perf_counter() - t0
                if store_path in self._sidecar_seen:
                    self.spans["stats.sidecar_lookup"].append(dt)
                else:
                    self._sidecar_seen.add(store_path)
                    self.sidecar_build_s.append(dt)
                return out

            return sidecar
        if span.startswith("sink."):
            timed = self._span(fn, span)

            def sink(df, store_path, *args, **kwargs):
                # file timestamps come from a coarser clock than time_ns()
                start_ns = time.time_ns() - 20_000_000
                out = timed(df, store_path, *args, **kwargs)
                self.sink_calls.append({
                    "kind": span,
                    "ms": self.spans[span][-1] * 1000,
                    "bytes_written": int(out.get("bytes_written", 0)),
                    "chunk_files": _files_written_since(store_path, start_ns),
                })
                return out

            return sink
        return self._span(fn, span)

    # -- per-op collection ----------------------------------------------

    def begin_op(self) -> None:
        self.spans.clear()
        for path in glob.glob(os.path.join(self.stats_dir, "*.json")):
            os.remove(path)

    def group_jobs(self, group: str) -> list[int]:
        return sorted(self.sc.statusTracker().getJobIdsForGroup(group))

    def plan_ms(self, df) -> float:
        t0 = time.perf_counter()
        df._jdf.queryExecution().executedPlan()
        return (time.perf_counter() - t0) * 1000

    def _wait_jobs_done(self, jobs: list[int], timeout: float = 5.0) -> None:
        deadline = time.perf_counter() + timeout
        for j in jobs:
            while time.perf_counter() < deadline:
                info = self.sc.statusTracker().getJobInfo(j)
                if info is None or info.status not in ("RUNNING", "UNKNOWN"):
                    break
                time.sleep(0.01)

    def stage_totals(self, jobs: list[int]) -> dict[str, float]:
        """Executor CPU/run/GC time, completed tasks, shuffle and spill
        bytes summed over every stage of ``jobs`` (status store)."""
        self._wait_jobs_done(jobs)
        out = dict.fromkeys(
            ("cpu_ms", "run_ms", "gc_ms", "tasks", "shuffle_read",
             "shuffle_write", "spill"), 0.0)
        seen: set[int] = set()
        for j in jobs:
            try:
                stage_ids = self._status.job(j).stageIds()
            except Exception:  # job evicted from the store
                continue
            for i in range(stage_ids.size()):
                sid = stage_ids.apply(i)
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    st = self._status.lastStageAttempt(sid)
                except Exception:  # stage never submitted (skipped)
                    continue
                out["cpu_ms"] += st.executorCpuTime() / 1e6
                out["run_ms"] += st.executorRunTime()
                out["gc_ms"] += st.jvmGcTime()
                out["tasks"] += st.numCompleteTasks()
                out["shuffle_read"] += st.shuffleReadBytes()
                out["shuffle_write"] += st.shuffleWriteBytes()
                out["spill"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        return out

    def sql_metrics(self, jobs: list[int]) -> dict[str, float]:
        """Per-op deltas of SQL metrics in the SQL executions that ran
        ``jobs``: ``python_bytes`` returned from Python workers (the
        Zarr BatchScan, and the sink's pandas UDFs), and ``scan_ms``,
        the duration of each codegen stage that consumes a Zarr
        BatchScan (the scan node has no timer of its own).  The
        accumulators can be cumulative across executions that share a
        plan, so the last value seen per accumulator is subtracted."""
        jobs_set = set(jobs)
        out = {"python_bytes": 0.0, "scan_ms": 0.0}
        execs = self._sql_status.executionsList()
        for i in range(execs.size() - 1, -1, -1):
            x = execs.apply(i)
            ids = x.jobs().keySet().iterator()
            hit = False
            while ids.hasNext():
                if int(ids.next()) in jobs_set:
                    hit = True
                    break
            if not hit:
                continue
            metrics = x.metrics()
            for k in range(metrics.size()):
                m = metrics.apply(k)
                if m.name() == PYTHON_BYTES:
                    out["python_bytes"] += self._delta(m.accumulatorId())
            for acc_id in _zarr_scan_stage_durations(
                    self._sql_status.planGraph(x.executionId())):
                out["scan_ms"] += self._delta(acc_id)
        return out

    def _delta(self, acc_id: int) -> int:
        acc = self._accs.get(acc_id)
        if not acc.isDefined():
            return 0
        value = int(acc.get().value())
        delta = value - self._acc_seen.get(acc_id, 0)
        self._acc_seen[acc_id] = value
        return delta

    def chunk_io(self) -> dict[str, int]:
        """Summed ``stats_dir`` spill of the op's scan partitions."""
        out = dict.fromkeys(
            ("partitions", "rows", "disk_bytes", "decoded_bytes", "chunks"), 0)
        for path in glob.glob(os.path.join(self.stats_dir, "part-*.json")):
            with open(path) as f:
                d = json.load(f)
            out["partitions"] += 1
            out["rows"] += int(d.get("rows", 0))
            out["disk_bytes"] += int(d.get("disk_bytes", 0))
            out["decoded_bytes"] += int(d.get("coord_bytes", 0)) + int(
                d.get("data_bytes", 0))
            out["chunks"] += int(d.get("n_chunks", 0))
        return out

    def span_total(self, name: str) -> float:
        return sum(self.spans.get(name, ()))

    def span_count(self, name: str) -> int:
        return len(self.spans.get(name, ()))


def _zarr_scan_stage_durations(graph) -> list[int]:
    """Accumulator ids of the "duration" metric of every codegen stage
    that consumes a Zarr BatchScan (plan-graph edges run from child to
    parent)."""
    nodes = graph.allNodes()
    nodes = [nodes.apply(i) for i in range(nodes.size())]
    scans = {n.id() for n in nodes if n.name().startswith("BatchScan zarr")}
    edges = graph.edges()
    parents = {edges.apply(i).toId() for i in range(edges.size())
               if edges.apply(i).fromId() in scans}
    out = []
    for n in nodes:
        if n.getClass().getSimpleName() != "SparkPlanGraphCluster":
            continue
        inner = n.nodes()
        if any(inner.apply(i).id() in parents for i in range(inner.size())):
            ms = n.metrics()
            out += [ms.apply(j).accumulatorId() for j in range(ms.size())
                    if ms.apply(j).name() == "duration"]
    return out


def _files_written_since(store: str, start_ns: int) -> int:
    """Chunk files under ``store`` written since ``start_ns``.  Chunk
    writes replace files by rename, so a rewritten chunk counts too."""
    n = 0
    for dirpath, _, files in os.walk(store):
        for name in files:
            if name.startswith(".") or name == "zarr.json":
                continue  # array/group metadata
            n += os.stat(os.path.join(dirpath, name)).st_mtime_ns >= start_ns
    return n
