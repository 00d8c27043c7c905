#!/usr/bin/env python3
"""Engine benchmark: one closed-loop client per workload.

    python3 perfbench/run.py --workload interactive_pushdown --seed 1 --seconds 5 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 5 --trace 0

Run from the root of a checkout.  A single driver thread sends the next
statement only after the previous one has completed, on
``local[<cpus>]``.  Every input is generated from ``--seed`` under
``.perfbench_work/`` in the checkout (removed on exit) and every answer
is checked against numpy or DuckDB (see ``workloads.py``).
``--workload all`` runs every workload in turn, each in its own
process.

``--trace 0`` prints the end-to-end metrics.  ``--trace 1`` prints the
per-layer ones (``layers.py``): the timed rounds then alternate between
untraced rounds and traced rounds, and ``trace.overhead_pct`` compares
their mean op latency.  Each metric is printed on its own line as
``metric <name> <value> <unit>``; the last line of standard output is
one JSON object with ``correct``, ``attempted``, ``failed`` and
``metrics``.  ``NOTES.md`` says what each metric means.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

from workloads import WORKLOADS, OperatorsSf01

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: set-up repetitions per run; ``setup_s`` uses their median
SETUP_REPS = 3
#: the timed phase runs whole rounds, at least this many: one round
#: per run left run-to-run spreads of 20-28% on operators_sf01, and
#: the traced run needs an untraced and a traced round
MIN_ROUNDS = 2
#: heap of the local-mode driver JVM (which is also the executor)
DRIVER_MEM = "3g"
#: the tail percentile is the highest of these with >= 10 samples beyond
TAIL_LADDER = (99.9, 99, 95, 90, 75, 50)

END_TO_END_UNITS = {
    "setup_s": "s",
    "ops_per_s": "1/s",
    "op_p50_ms": "ms",
    "op_tail_ms": "ms",
    "cells_per_s": "1/s",
    "cpu_s_per_op": "s",
    "peak_rss_mb": "MB",
    "ok_rate": "ratio",
}

OPERATOR_ENTRIES = tuple(OperatorsSf01.ENTRIES)

PER_LAYER_UNITS = {
    "engine.sql_ms": "ms",
    "engine.shortcut_scan_free": "count",
    "engine.shortcut_pruned": "count",
    "engine.shortcut_none": "count",
    "stats.rewrite_ms": "ms",
    "stats.sidecar_build_s": "s",
    "stats.sidecar_lookup_ms": "ms",
    "stats.jobs_per_op": "count",
    "metadata.discover_ms": "ms",
    "metadata.discover_calls_per_op": "count",
    "datasource.plan_ms": "ms",
    "datasource.partitions_per_op": "count",
    "datasource.scan_rows_per_op": "count",
    "datasource.scan_node_ms": "ms",
    "datasource.python_bytes": "B",
    "boundary.bytes_per_cell": "B/cell",
    "chunkio.disk_bytes": "B",
    "chunkio.decoded_bytes": "B",
    "chunkio.chunks": "count",
    "chunkio.plan_disk_ratio": "ratio",
    "chunkio.reader_alone_ms": "ms",
    "chunkio.decode_mb_per_s": "MB/s",
    "sink.copy_ms": "ms",
    "sink.append_ms": "ms",
    "sink.update_ms": "ms",
    "sink.bytes_written": "B",
    "sink.chunk_files": "count",
    "sink.write_amplification": "ratio",
    "spark.executor_cpu_ms": "ms",
    "spark.executor_run_ms": "ms",
    "spark.gc_ms": "ms",
    "spark.tasks": "count",
    "spark.shuffle_read_bytes": "B",
    "spark.shuffle_write_bytes": "B",
    "spark.spill_bytes": "B",
    "spark.parallel_efficiency": "ratio",
    "operators.build_ms": "ms",
    "operators.action_ms": "ms",
    **{f"operators.{e}.{part}_ms": "ms"
       for e in OPERATOR_ENTRIES for part in ("build", "action")},
    "trace.overhead_pct": "%",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True,
                   help="a workload name, or 'all' for every workload in turn")
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True,
                   help="length of the timed phase (whole rounds run)")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=("full", "tiny"), default="full",
                   help="tiny inputs, for smoke.py")
    p.add_argument("--inject-wrong", type=int, default=0, metavar="N",
                   help="fail the answer check of the first N timed ops "
                        "(smoke.py checks that they are counted)")
    return p.parse_args(argv)


def configure_env(work: str, cpus: int) -> None:
    """Environment for the Spark JVM and its Python workers; must run
    before the JVM starts."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    # Workers import the package through PYTHONPATH, whatever the
    # working directory: the sink's pandas UDFs otherwise fail with
    # ModuleNotFoundError when COPY ... STORED AS ZARR is a session's
    # first Zarr call (NOTES.md).
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf spark.ui.showConsoleProgress=false",
        f"--conf spark.local.dir={local}",
        f"--conf spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp}",
        "pyspark-shell",
    ])


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def tail(latencies: list[float]) -> tuple[float, float, int]:
    """(percentile, value, samples beyond) for the highest ladder
    percentile that leaves at least 10 samples above it.  A run with
    fewer than 40 samples needs only a quarter of them beyond (p75 of
    a one-round run)."""
    xs = sorted(latencies)
    n = len(xs)
    need = min(10, max(n // 4, 1))
    for q in TAIL_LADDER:
        beyond = n - int(q / 100 * n + 0.5)
        if beyond >= need:
            return q, statistics.quantiles(xs, n=1000, method="inclusive")[
                int(q * 10) - 1], beyond
    return 0.0, xs[0], n


class Harness:
    def __init__(self, args, engine, wl, cpus: int):
        from procstat import RssSampler, tree_cpu_s

        self.args, self.engine, self.wl, self.cpus = args, engine, wl, cpus
        self.sc = engine.spark.sparkContext
        self.pid = os.getpid()
        self._rss, self._cpu = RssSampler, tree_cpu_s
        self.n_op = 0
        self.to_inject = args.inject_wrong
        self.errors: list[str] = []
        self.tracer = None

    # -- one op ----------------------------------------------------------

    def run_op(self, op, timed: bool, rec=None) -> tuple[bool, float]:
        """Run one op under its own job group; returns (answer ok,
        seconds from the ``Engine.sql``/API call to action complete).
        With ``rec`` the tracer is installed and the op's layer figures
        are added to ``rec``."""
        self.n_op += 1
        group = f"{self.wl.name}:{self.n_op}:{op.name}"
        self.sc.setJobGroup(group, op.name)
        tr = self.tracer if rec is not None else None
        if tr is not None:
            tr.begin_op()
        extra = {}
        t0 = time.perf_counter()
        try:
            if op.sql is not None:
                df = self.engine.sql(op.sql)
                if tr is not None:
                    extra["jobs_before"] = len(tr.group_jobs(group))
                    extra["kind"] = self.engine.last_shortcut_kind
                    extra["plan_ms"] = tr.plan_ms(df)
                result = df.collect()
            else:
                result = op.call(self.engine)
            dt = time.perf_counter() - t0
        except Exception as exc:  # a failed op counts, the run goes on
            dt = time.perf_counter() - t0
            self.errors.append(f"{op.name}: {type(exc).__name__}: {exc}"[:500])
            return False, dt
        ok = bool(op.check(result))
        if not ok:
            self.errors.append(f"{op.name}: wrong answer")
        if timed and self.to_inject > 0:
            self.to_inject -= 1
            ok = False
        if tr is not None:
            self._record(rec, op, group, dt, extra)
        return ok, dt

    def _record(self, rec, op, group, dt, extra) -> None:
        tr = self.tracer
        jobs = tr.group_jobs(group)
        st = tr.stage_totals(jobs)
        io = tr.chunk_io()
        sql = tr.sql_metrics(jobs)
        add = lambda k, v: rec.__setitem__(k, rec.get(k, 0) + v)  # noqa: E731
        add("ops", 1)
        add("wall_s", dt)
        add("python_bytes", sql["python_bytes"])
        add("scan_ms", sql["scan_ms"])
        for k, v in st.items():
            add(k, v)
        for k, v in io.items():
            add(k, v)
        if 0 < getattr(self.wl, "cells", 0) <= io["rows"]:
            rec.setdefault("full_scan_disk", []).append(io["disk_bytes"])
        add("discover_ms", tr.span_total("metadata.discover") * 1000)
        add("discover_calls", tr.span_count("metadata.discover"))
        add("rewrite_ms", tr.span_total("stats.rewrite") * 1000)
        add("sidecar_lookup_ms", tr.span_total("stats.sidecar_lookup") * 1000)
        for part, secs in op.timings.items():
            rec.setdefault(f"op_{part}", {}).setdefault(op.name, []).append(secs * 1000)
        if op.sql is not None:
            add("sql_ops", 1)
            add("engine_ms", tr.span_total("engine.sql") * 1000)
            add("jobs_before", extra["jobs_before"])
            add("plan_ms", extra["plan_ms"])
            add(f"kind_{extra['kind'] or 'none'}", 1)

    # -- phases ----------------------------------------------------------

    def phase(self, pool: list, seconds: float, rec=None) -> dict:
        """Closed loop over whole rounds until ``seconds`` have passed
        and at least ``MIN_ROUNDS`` rounds have run.

        With ``rec`` (trace mode) the rounds alternate between untraced
        rounds and traced rounds, which install the tracer and register
        the inputs again under it; the seed's parity picks which comes
        first."""
        latencies, by_name = [], {}
        lat_of = {False: [], True: []}
        attempted = failed = cells = 0
        cpu0 = self._cpu(self.pid)
        sampler = self._rss(self.pid).start()
        t_start = time.perf_counter()
        r = 0
        while True:
            if not pool:
                raise RuntimeError("round pool exhausted")
            traced = rec is not None and (r + self.args.seed) % 2 == 1
            if traced:
                self.tracer.install()
                self.wl.register(self.engine)
            ops = pool.pop(0)
            for op in ops:
                ok, dt = self.run_op(op, timed=True, rec=rec if traced else None)
                attempted += 1
                failed += not ok
                latencies.append(dt)
                lat_of[traced].append(dt)
                by_name.setdefault(op.name, []).append(dt)
                if ok:
                    cells += op.cells
            if traced:
                self.tracer.uninstall()
                self.wl.register(self.engine)
            r += 1
            if time.perf_counter() - t_start >= seconds and r >= MIN_ROUNDS:
                break
        wall = time.perf_counter() - t_start
        peak = sampler.stop()
        cpu = self._cpu(self.pid) - cpu0
        return {
            "wall": wall, "latencies": latencies, "by_name": by_name,
            "plain": lat_of[False], "traced": lat_of[True],
            "attempted": attempted, "failed": failed, "cells": cells,
            "cpu": cpu, "peak_rss": peak,
        }


def reader_alone(wl) -> tuple[float, int]:
    """Median ms of three single-thread ``read_window`` passes over
    every data-variable chunk of the workload's store, outside Spark,
    and the decoded bytes of one pass."""
    from zarr_datafusion_spark.zarr.chunkio import read_window
    from zarr_datafusion_spark.zarr.metadata import discover_arrays

    store, names = wl.reader_windows()
    if store is None:
        return 0.0, 0
    meta = discover_arrays(store)
    times, nbytes = [], 0
    for _ in range(3):
        nbytes = 0
        t0 = time.perf_counter()
        for name in names:
            arr = meta.array(name)
            nbytes += read_window(store, arr, tuple((0, s) for s in arr.shape)).nbytes
        times.append((time.perf_counter() - t0) * 1000)
    return statistics.median(times), nbytes


def per_layer(rec: dict, wl, cpus: int, tracer, overhead_pct: float) -> dict:
    from zarr_datafusion_spark.stats.io_stats import plan_scan_stats

    ops = max(rec.get("ops", 0), 1)
    sql_ops = max(rec.get("sql_ops", 0), 1)
    mean = lambda xs: statistics.fmean(xs) if xs else 0.0  # noqa: E731
    alone_ms, alone_bytes = reader_alone(wl)
    plan_ratio = 0.0
    if rec.get("full_scan_disk"):
        planned = plan_scan_stats(wl.reader_windows()[0]).disk_bytes
        plan_ratio = mean(rec["full_scan_disk"]) / planned if planned else 0.0
    rows = rec.get("rows", 0)
    # the sink runs once, in set-up
    sink_calls = tracer.sink_calls
    written = sum(c["bytes_written"] for c in sink_calls)
    logical = getattr(wl, "sink_logical_bytes", 0)
    out = {
        "engine.sql_ms": rec.get("engine_ms", 0) / sql_ops,
        "engine.shortcut_scan_free": rec.get("kind_scan_free", 0),
        "engine.shortcut_pruned": rec.get("kind_pruned", 0),
        "engine.shortcut_none": rec.get("kind_none", 0),
        "stats.rewrite_ms": rec.get("rewrite_ms", 0) / sql_ops,
        "stats.sidecar_build_s": (statistics.median(tracer.sidecar_build_s)
                                  if tracer.sidecar_build_s else 0.0),
        "stats.sidecar_lookup_ms": rec.get("sidecar_lookup_ms", 0) / sql_ops,
        "stats.jobs_per_op": rec.get("jobs_before", 0) / sql_ops,
        "metadata.discover_ms": rec.get("discover_ms", 0) / ops,
        "metadata.discover_calls_per_op": rec.get("discover_calls", 0) / ops,
        "datasource.plan_ms": rec.get("plan_ms", 0) / sql_ops,
        "datasource.partitions_per_op": rec.get("partitions", 0) / ops,
        "datasource.scan_rows_per_op": rows / ops,
        "datasource.scan_node_ms": rec.get("scan_ms", 0) / ops,
        "datasource.python_bytes": rec.get("python_bytes", 0) / ops,
        "boundary.bytes_per_cell": rec.get("python_bytes", 0) / rows if rows else 0.0,
        "chunkio.disk_bytes": rec.get("disk_bytes", 0) / ops,
        "chunkio.decoded_bytes": rec.get("decoded_bytes", 0) / ops,
        "chunkio.chunks": rec.get("chunks", 0) / ops,
        "chunkio.plan_disk_ratio": plan_ratio,
        "chunkio.reader_alone_ms": alone_ms,
        "chunkio.decode_mb_per_s": alone_bytes / 1e6 / (alone_ms / 1000) if alone_ms else 0.0,
        "sink.copy_ms": mean([c["ms"] for c in sink_calls if c["kind"] == "sink.copy"]),
        "sink.append_ms": mean([c["ms"] for c in sink_calls if c["kind"] == "sink.append"]),
        "sink.update_ms": mean([c["ms"] for c in sink_calls if c["kind"] == "sink.update"]),
        "sink.bytes_written": written,
        "sink.chunk_files": sum(c["chunk_files"] for c in sink_calls),
        "sink.write_amplification": written / logical if logical else 0.0,
        "spark.executor_cpu_ms": rec.get("cpu_ms", 0) / ops,
        "spark.executor_run_ms": rec.get("run_ms", 0) / ops,
        "spark.gc_ms": rec.get("gc_ms", 0) / ops,
        "spark.tasks": rec.get("tasks", 0) / ops,
        "spark.shuffle_read_bytes": rec.get("shuffle_read", 0) / ops,
        "spark.shuffle_write_bytes": rec.get("shuffle_write", 0) / ops,
        "spark.spill_bytes": rec.get("spill", 0) / ops,
        "spark.parallel_efficiency": (
            rec.get("cpu_ms", 0) / 1000 / (rec.get("wall_s", 0) * cpus)
            if rec.get("wall_s") else 0.0),
    }
    for part in ("build", "action"):
        per_entry = rec.get(f"op_{part}", {})
        for e in OPERATOR_ENTRIES:
            out[f"operators.{e}.{part}_ms"] = mean(per_entry.get(e, []))
        out[f"operators.{part}_ms"] = sum(
            out[f"operators.{e}.{part}_ms"] for e in OPERATOR_ENTRIES)
    out["trace.overhead_pct"] = overhead_pct
    return out


def run(args, work: str) -> dict:
    cpus = len(os.sched_getaffinity(0))
    configure_env(work, cpus)
    sys.path.insert(0, ROOT)
    t0 = time.perf_counter()
    from zarr_datafusion_spark.engine import Engine
    from zarr_datafusion_spark.session import get_spark

    spark = get_spark("perfbench")
    session_s = time.perf_counter() - t0
    wl = None
    try:
        wl = WORKLOADS[args.workload](args.seed, args.scale, os.path.join(work, "inputs"))
        engine = Engine(spark)
        h = Harness(args, engine, wl, cpus)
        if args.trace:
            from layers import Tracer

            # set-up runs untraced, except for the sidecar-build and
            # sink timers
            h.tracer = Tracer(spark, os.path.join(work, "io_stats"))
            h.tracer.install(only={"stats.sidecar", "sink.copy", "sink.append",
                                   "sink.update"})

        prep = []
        for rep in range(SETUP_REPS):
            t = time.perf_counter()
            wl.prepare(engine, rep)
            prep.append(time.perf_counter() - t)
        t = time.perf_counter()
        verified = bool(wl.verify(engine))
        if not verified:
            h.errors.append("set-up verify: wrong answer")
        if h.tracer is not None:
            h.tracer.uninstall()
        pool_size = max(4, int(args.seconds) + 2)
        warm = wl.warmup_round()
        pool = wl.rounds(pool_size)
        setup_ok = verified and all([h.run_op(op, timed=False)[0] for op in warm])
        warm_s = time.perf_counter() - t
        setup_s = session_s + statistics.median(prep) + warm_s

        if args.trace:
            rec: dict = {}
            res = h.phase(pool, args.seconds, rec=rec)
            overhead = (statistics.fmean(res["traced"])
                        / statistics.fmean(res["plain"]) - 1) * 100
            metrics = per_layer(rec, wl, cpus, h.tracer, overhead)
            units = PER_LAYER_UNITS
        else:
            res = h.phase(pool, args.seconds)
            units = END_TO_END_UNITS
        lat = res["latencies"]
        q, tail_s, beyond = tail(lat)
        attempted = 1 + res["attempted"]
        failed = (not setup_ok) + res["failed"]
        if not args.trace:
            metrics = {
                "setup_s": setup_s,
                "ops_per_s": len(lat) / res["wall"],
                "op_p50_ms": statistics.median(lat) * 1000,
                "op_tail_ms": tail_s * 1000,
                "cells_per_s": res["cells"] / res["wall"],
                "cpu_s_per_op": res["cpu"] / len(lat),
                "peak_rss_mb": res["peak_rss"] / 2**20,
                "ok_rate": (attempted - failed) / attempted,
            }
        print(f"workload {wl.name} seed {args.seed} cpus {cpus} "
              f"driver_memory {DRIVER_MEM} trace {args.trace} scale {args.scale}")
        print(f"setup session_s {session_s:.3f} prep_s "
              f"{' '.join(f'{x:.3f}' for x in prep)} verify_warmup_s {warm_s:.3f} "
              f"setup_ok {setup_ok}")
        for name, xs in sorted(res["by_name"].items()):
            print(f"op {name} n {len(xs)} p50_ms {statistics.median(xs) * 1000:.1f}")
        print(f"info op_tail_ms at p{q:g} ({beyond} samples beyond, "
              f"{len(lat)} samples)")
        print(f"info error_rate {failed / attempted:.6f} "
              f"({failed} failed or wrong of {attempted} attempted)")
        for err in h.errors[:20]:
            print(f"error {err}", file=sys.stderr)
        for name, value in metrics.items():
            print(f"metric {name} {value!r} {units[name]}")
        return {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
        }
    finally:
        stop_spark(spark)
        if wl is not None:
            wl.cleanup()


def run_all(args) -> dict:
    """Every workload in its own process, one after the other; the
    metrics come back prefixed with the workload's name."""
    out = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace), "--scale", args.scale,
               "--inject-wrong", str(args.inject_wrong)]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, check=False)
        lines = proc.stdout.splitlines()
        print("\n".join(lines[:-1]))
        if proc.returncode != 0 or not lines:
            raise SystemExit(f"workload {name} exited with {proc.returncode}")
        res = json.loads(lines[-1])
        out["correct"] = out["correct"] and res["correct"]
        out["attempted"] += res["attempted"]
        out["failed"] += res["failed"]
        out["metrics"].update({f"{name}.{k}": v for k, v in res["metrics"].items()})
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "zarr_datafusion_spark")):
        print(f"perfbench: no zarr_datafusion_spark package under {ROOT}",
              file=sys.stderr)
        return 2
    if args.workload == "all":
        result = run_all(args)
    elif args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(WORKLOADS)} or 'all'", file=sys.stderr)
        return 2
    else:
        work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
        try:
            result = run(args, work)
        finally:
            shutil.rmtree(work, ignore_errors=True)
            try:
                os.rmdir(os.path.dirname(work))
            except OSError:  # another run still uses it
                pass
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
