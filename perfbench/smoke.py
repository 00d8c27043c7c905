#!/usr/bin/env python3
"""Smoke test of the benchmark at tiny sizes (about 5 minutes).

    python3 perfbench/smoke.py

Runs every workload of ``BENCHMARK.json`` with and without tracing and
checks that each run answers correctly and prints exactly the metrics
the file names, with their units.  One more run fails the answer check
of its first timed op on purpose (``--inject-wrong 1``) and checks that
the op is counted as failed.  Exits 1 on the first failed check.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload: str, trace: int, *extra: str) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace),
           "--scale", "tiny", *extra]
    proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True,
                          timeout=600, check=False)
    if proc.returncode != 0:
        raise AssertionError(f"{' '.join(cmd)} exited with {proc.returncode}")
    return json.loads(proc.stdout.splitlines()[-1])


def expect(cond: bool, what: str) -> None:
    print(("ok   " if cond else "FAIL ") + what, flush=True)
    if not cond:
        sys.exit(1)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    kinds = {0: bench["end_to_end"], 1: bench["per_layer"]}
    for w in bench["workloads"]:
        for trace, named in kinds.items():
            res = run(w["name"], trace)
            tag = f"{w['name']} trace {trace}"
            expect(res["correct"] and res["failed"] == 0
                   and res["attempted"] > 1, f"{tag}: every answer correct")
            want = {m["name"]: m["unit"] for m in named}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            expect(got == want, f"{tag}: metrics and units as BENCHMARK.json names them")
    res = run(bench["workloads"][0]["name"], 0, "--inject-wrong", "1")
    expect(not res["correct"] and res["failed"] == 1
           and res["metrics"]["ok_rate"]["value"] < 1,
           "an injected wrong answer is counted as failed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
