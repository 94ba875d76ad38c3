#!/usr/bin/env python3
"""Steadiness check: run one workload N times, each with another seed, and
print for each end-to-end metric its median, its spread (quartile distance
over the median) and the medians of two independent halves of the runs.

    python3 perfbench/steady.py --workload dedup_pipeline --runs 10 [--trace]

Run it from the root of a checkout, like run.py.  The runs use seeds
``--first-seed .. --first-seed + runs - 1`` and the run length of
BENCHMARK.json.  Runs alternate between the two halves (A gets the even
runs, B the odd ones), so a drift over time shows as a gap between the
halves.  ``--trace`` adds one traced run and prints the tracing overhead:
the traced op_p50_ms over the untraced median.  The wall time of every run
is printed too, against the benchmark's time budget.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

import measure

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_once(workload: str, seed: int, seconds: int, trace: int, command: list[str]) -> tuple[dict, dict, float]:
    """One run: its result, its stderr detail line and its wall time."""
    t0 = time.perf_counter()
    proc = subprocess.run(
        [*command, "--workload", workload, "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT,
        capture_output=True,
        text=True,
        timeout=180,
    )
    wall = time.perf_counter() - t0
    if proc.returncode != 0:
        sys.exit(f"seed {seed} failed ({proc.returncode}):\n{proc.stderr[-2000:]}")
    detail = json.loads(proc.stderr.strip().splitlines()[-1])
    return json.loads(proc.stdout.strip().splitlines()[-1]), detail, wall


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=[w["name"] for w in bench["workloads"]])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--trace", action="store_true")
    args = ap.parse_args()

    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    values: dict[str, list[float]] = {m: [] for m in bounds}
    walls, rss_warm, rss_window = [], [], []
    for i in range(args.runs):
        seed = args.first_seed + i
        res, detail, wall = run_once(args.workload, seed, bench["run_seconds"], 0, bench["command"])
        walls.append(wall)
        rss_warm.append(detail["rss_after_warmup_mb"])
        rss_window.append(detail["rss_after_window_mb"])
        if not res["correct"] or res["failed"]:
            print(f"seed {seed}: INCORRECT {res}", file=sys.stderr)
        for m in bounds:
            values[m].append(res["metrics"][m]["value"])
        print(f"seed {seed}: {wall:.1f}s wall, {res['attempted']} ops, "
              + ", ".join(f"{m}={values[m][-1]:.4g}" for m in bounds)
              + f", peak RSS after warm-up {rss_warm[-1]:.0f} MB, after window {rss_window[-1]:.0f} MB", flush=True)

    runs_total = 4 + 22 * len(bench["workloads"])
    print(f"\n{args.workload}: {args.runs} runs, wall median {statistics.median(walls):.1f}s "
          f"(budget 3420s / {runs_total} runs = {3420 / runs_total:.1f}s)")
    print(f"{'metric':16} {'median':>10} {'spread':>8} {'bound':>6} {'median A':>10} {'median B':>10} {'B/A-1':>7}")
    for m, xs in values.items():
        a, b = statistics.median(xs[0::2]), statistics.median(xs[1::2])
        print(f"{m:16} {statistics.median(xs):10.4g} {measure.spread(xs):8.3f} {bounds[m]:6.2f} "
              f"{a:10.4g} {b:10.4g} {b / a - 1:+7.3f}")
    for name, xs in (("after warm-up", rss_warm), ("after window", rss_window)):
        print(f"peak RSS (JVM + driver) {name}: median {statistics.median(xs):.0f} MB, spread {measure.spread(xs):.3f}")
    if args.trace:
        res, _, _ = run_once(args.workload, args.first_seed, bench["run_seconds"], 1, bench["command"])
        traced = res["metrics"]["trace.op_p50_ms"]["value"]
        untraced = statistics.median(values["op_p50_ms"])
        print(f"tracing overhead: traced op_p50_ms {traced:.1f} vs untraced median {untraced:.1f} "
              f"({traced / untraced - 1:+.1%})")
    return 0


if __name__ == "__main__":
    sys.exit(main())
