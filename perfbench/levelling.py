#!/usr/bin/env python3
"""Record the per-op levelling curve of each workload: the latency of every
op from the first one on, with no warm-up, in a fresh JVM per seed.

    python3 perfbench/levelling.py --seconds 90 --seeds 1 2 [--workload search_mix]
    python3 perfbench/levelling.py --recompute   # only re-derive the suggestions

Run it from the root of a checkout.  It writes ``perfbench/levelling.json``
and prints the suggested warm-up: on each curve, the first op from which
the op latency, taken as the median of each window of one period of the
workload's op pattern, can
fall by at most ``TOLERANCE`` more (no later window is faster by more);
the maximum over the seeds' curves.  A level that drifts up later, as host
load changes, does not lengthen it.  ``WARMUP_OPS`` in run.py is set from
it, capped by the time budget of a run.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import tempfile

import workloads

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TOLERANCE = 0.15


def suggested_warmup(lat: list[float], period: int) -> int:
    windows = [statistics.median(lat[i : i + period]) for i in range(0, len(lat) - period + 1, period)]
    for i, w in enumerate(windows):
        if w <= (1 + TOLERANCE) * min(windows[i:]):
            return i * period
    return len(lat)


def record(wl: str, seed: int, seconds: int) -> dict:
    with tempfile.NamedTemporaryFile(suffix=".json") as tmp:
        subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", wl, "--seed", str(seed),
             "--seconds", str(seconds), "--warmup", "0", "--detail", tmp.name],
            cwd=ROOT, check=True, capture_output=True, timeout=seconds + 170,
        )
        with open(tmp.name) as f:
            detail = json.load(f)
    return {"seed": seed, "kinds": detail["kinds"], "latencies_ms": [round(x, 1) for x in detail["latencies_ms"]]}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seconds", type=int, default=90)
    ap.add_argument("--seeds", type=int, nargs="+", default=[1, 2])
    ap.add_argument("--workload", action="append", choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--recompute", action="store_true",
                    help="re-derive the suggestions from the recorded curves, running nothing")
    args = ap.parse_args()

    path = os.path.join(HERE, "levelling.json")
    out = {}
    if os.path.exists(path):
        with open(path) as f:
            out = json.load(f)
    for wl in args.workload or sorted(workloads.WORKLOADS):
        period = workloads.WORKLOADS[wl].period
        if args.recompute:
            curves = out[wl]["curves"]
        else:
            curves = [record(wl, seed, args.seconds) for seed in args.seeds]
        warm = max(suggested_warmup(c["latencies_ms"], period) for c in curves)
        out[wl] = {"period": period, "tolerance": TOLERANCE, "suggested_warmup_ops": warm, "curves": curves}
        print(f"{wl}: {[len(c['latencies_ms']) for c in curves]} ops, suggested warm-up {warm} ops")
    with open(path, "w") as f:  # one workload per line
        f.write("{\n" + ",\n".join(f"{json.dumps(k)}: {json.dumps(v)}" for k, v in out.items()) + "\n}\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
