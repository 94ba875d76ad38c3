"""Pure-Python helpers of the benchmark: percentiles with their support
rule, spreads, result comparison and memory readings.  Nothing here starts
Spark, so the tests of the benchmark's own code import it directly."""

from __future__ import annotations

import hashlib
import math
import re
import resource
import statistics

METRIC_NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
# a percentile is reported only when at least this many samples lie beyond it
MIN_TAIL_SAMPLES = 10
PERCENTILES = (50, 90, 95, 99, 99.9)


def percentile(values: list[float], p: float) -> float:
    """The ``p``-th percentile (0-100) by linear interpolation between the
    two nearest ranks of the sorted values."""
    if not values:
        raise ValueError("percentile of no values")
    xs = sorted(values)
    pos = (len(xs) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def supported(n: int, p: float) -> bool:
    """Whether ``n`` samples support the ``p``-th percentile: at least
    ``MIN_TAIL_SAMPLES`` of them lie beyond it."""
    return n * (100.0 - p) / 100.0 >= MIN_TAIL_SAMPLES


def highest_supported(n: int) -> float | None:
    """The highest of the reported percentiles that ``n`` samples support."""
    ok = [p for p in PERCENTILES if supported(n, p)]
    return max(ok) if ok else None


def spread(values: list[float]) -> float:
    """Distance between the first and third quartile as a share of the
    median, with quartiles as ``statistics.quantiles(values, n=4)`` gives
    them (the rule the benchmark's steadiness is judged by)."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med if med else math.inf


def topk_matches(got: list[tuple], ref: list[tuple], k: int, ndigits: int = 9) -> bool:
    """Compare a top-``k`` result ``got`` with the reference ranking ``ref``
    (both ``(id, score)`` lists, best first, ties broken by ascending id).

    Scores are compared rounded to ``ndigits``, so last-bit differences
    between engines do not count.  Within a group of equal scores the ids
    must match the reference exactly, except in the group cut by the k-th
    place, where any subset of the reference's tied ids is a right answer."""
    def key(score) -> float:
        return round(float(score), ndigits)

    want = ref[:k]
    if [key(s) for _, s in got] != [key(s) for _, s in want]:
        return False
    if not want:
        return True
    cut = key(want[-1][1])

    def ids(rows, score) -> set:
        return {i for i, s in rows if key(s) == score}

    return all(
        ids(got, s) <= ids(ref, s) if s == cut else ids(got, s) == ids(want, s)
        for s in {key(s) for _, s in want}
    )


def canon_hash(rows: list[dict], cols: list[str]) -> tuple[int, str]:
    """Row count and an order-free hash of a result: columns sorted by name,
    doubles printed with 6 decimals, rows sorted.  The same canonical form
    the project's oracle comparisons use."""
    names = sorted(cols)
    lines = []
    for r in rows:
        vals = []
        for c in names:
            v = r[c]
            vals.append(f"{v:.6f}" if isinstance(v, float) else str(v))
        lines.append("|".join(vals))
    lines.sort()
    return len(rows), hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]


def jvm_hwm_mb(pid: int) -> float:
    """Peak resident set (``VmHWM``) of process ``pid``, in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def self_hwm_mb() -> float:
    """Peak resident set of this Python process, in MB."""
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
