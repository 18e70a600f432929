#!/usr/bin/env python3
"""Summarizes benchmark runs from `.bench_build/results/`.

Usage (from the repository root, after some runs of perfbench/run.py):

    python3 perfbench/report.py

For each workload: the median end-to-end numbers of the untraced runs, the
same numbers from the traced runs, and their difference (the tracing
overhead); then the traced runs' per-layer split: jobs, task time and the
share of task time by module.
"""
import glob
import json
import os
import statistics
import sys

OUT = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"


def load():
    runs = {}
    for path in sorted(glob.glob(os.path.join(OUT, "results", "*-detail.json"))):
        with open(path) as fh:
            d = json.load(fh)
        if "workload" in d:
            runs.setdefault(d["workload"], []).append(d)
    return runs


def med(runs, key):
    xs = [r["end_to_end"][key] for r in runs]
    return statistics.median(xs) if xs else None


def main():
    runs = load()
    if not runs:
        print(f"no results under {OUT}/results; run perfbench/run.py first", file=sys.stderr)
        return 1
    for w, rs in sorted(runs.items()):
        plain = [r for r in rs if not r["trace"]]
        traced = [r for r in rs if r["trace"]]
        print(f"== {w}: {len(plain)} untraced, {len(traced)} traced run(s)")
        labels = rs[-1]["labels"]
        print(f"   {labels['master']}, nproc {labels['nproc']}, heap {labels['driver_heap_bytes'] >> 20} MB, "
              f"JDK {labels['jdk']}, Spark {labels['spark']}")
        for key in ("setup_s", "unit_s", "store_bytes"):
            a, b = med(plain, key), med(traced, key)
            diff = f"{100.0 * (b - a) / a:+.1f} %" if a and b is not None else "n/a"
            print(f"   {key:12s} untraced {a if a is not None else 'n/a':>14} traced "
                  f"{b if b is not None else 'n/a':>14}  overhead {diff}")
        if traced:
            layers = traced[-1]["traced"]["per_layer"]
            share = {k[:-len(".task_share")]: v for k, v in layers.items() if k.endswith(".task_share")}
            print(f"   per unit: {layers['sched.jobs']:.0f} jobs, {layers['sched.tasks']:.0f} tasks, "
                  f"task {layers['exec.task_ms']:.0f} ms (cpu {layers['exec.cpu_ms']:.0f} ms), "
                  f"no job running {layers['driver.nojob_ms']:.0f} ms, "
                  f"planning {layers['plan.analysis_ms'] + layers['plan.optimization_ms'] + layers['plan.physical_ms']:.0f} ms, "
                  f"core use {layers['exec.core_util']:.0f} %")
            print("   task time by module: " + ", ".join(
                f"{m} {v:.0f} %" for m, v in sorted(share.items(), key=lambda kv: -kv[1]) if v > 0))
    return 0


if __name__ == "__main__":
    sys.exit(main())
