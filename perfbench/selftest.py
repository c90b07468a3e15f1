#!/usr/bin/env python3
"""Tiny-scale self-test of the benchmark, run from a checkout root:

    python3 perfbench/selftest.py

Runs every workload at a few hundred docs, untraced and traced. Asserts that
each run exits 0, that every output check passes, that every metric is
emitted with its unit as a finite number, and that the metric lists agree
with BENCHMARK.json where it names them.
"""

from __future__ import annotations

import json
import math
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench.core import E2E_METRICS, LAYER_METRICS  # noqa: E402

WORKLOADS = ["bulk", "topup", "stream_recrawl"]


def fail(msg: str) -> None:
    print(f"selftest: {msg}", file=sys.stderr)
    sys.exit(1)


def check_contract() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    e2e = [(m["name"], m["unit"]) for m in bench["end_to_end"]]
    layer = [(m["name"], m["unit"]) for m in bench["per_layer"]]
    if e2e != E2E_METRICS:
        fail(f"BENCHMARK.json end_to_end {e2e} != {E2E_METRICS}")
    if layer != LAYER_METRICS:
        fail(f"BENCHMARK.json per_layer {layer} != {LAYER_METRICS}")
    unknown = {w["name"] for w in bench["workloads"]} - set(WORKLOADS)
    if unknown:
        fail(f"BENCHMARK.json names unknown workloads {unknown}")


def run_one(workload: str, trace: int) -> None:
    cmd = [sys.executable, os.path.join(HERE, "run.py"),
           "--workload", workload, "--seed", "1", "--seconds", "1",
           "--trace", str(trace), "--tiny"]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                          timeout=900)
    label = f"{workload} --trace {trace}"
    if proc.returncode != 0:
        fail(f"{label} exited {proc.returncode}:\n{proc.stderr[-4000:]}")
    res = json.loads(proc.stdout.strip().splitlines()[-1])
    if set(res) != {"correct", "attempted", "failed", "metrics"}:
        fail(f"{label} result keys {sorted(res)}")
    if not res["correct"] or res["failed"] or res["attempted"] < 1:
        fail(f"{label} output checks failed:\n{proc.stderr[-4000:]}")
    want = LAYER_METRICS if trace else E2E_METRICS
    got = res["metrics"]
    if set(got) != {n for n, _ in want}:
        fail(f"{label} metric names {sorted(got)}")
    for name, unit in want:
        v = got[name]
        if v.get("unit") != unit or not isinstance(v.get("value"),
                                                     (int, float)):
            fail(f"{label} metric {name} = {v}, want unit {unit}")
        if not math.isfinite(v["value"]):
            fail(f"{label} metric {name} is not finite: {v}")
    print(f"selftest: {label} ok ({res['attempted']} ops)")


def main() -> int:
    check_contract()
    for workload in WORKLOADS:
        for trace in (0, 1):
            run_one(workload, trace)
    print("selftest: all workloads ok")
    return 0


if __name__ == "__main__":
    sys.exit(main())
