"""Summary statistics the benchmark reports."""

from __future__ import annotations

import math
import statistics

# candidate tail percentiles, highest last
TAIL_LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)


def _rank(p: float, n: int) -> int:
    # round first: 99.9 / 100 * 10000 is 9990.000000000002 in floats
    return max(1, math.ceil(round(p / 100.0 * n, 9)))


def percentile(values, p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least ``p``
    percent of the samples at or below it."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    return xs[_rank(p, len(xs)) - 1]


def tail_percentile(n: int) -> float:
    """The highest ladder percentile with at least ten of ``n`` samples
    strictly beyond its nearest rank; the median when ``n`` is too small
    for any (fewer than 20 samples)."""
    best = TAIL_LADDER[0]
    for p in TAIL_LADDER:
        if n - _rank(p, n) >= 10:
            best = p
    return best


def median(values) -> float:
    """The median, or 0 for no samples (an operation that never
    completed)."""
    xs = list(values)
    return float(statistics.median(xs)) if xs else 0.0


def summarize(values) -> dict:
    """Median, tail value, which percentile the tail is, and the count;
    all 0 for no samples."""
    xs = list(values)
    if not xs:
        return {"n": 0, "p50": 0.0, "tail": 0.0, "tail_pct": 0.0}
    p = tail_percentile(len(xs))
    med = statistics.median(xs)
    # with too few samples for any higher percentile the tail is the
    # median itself, not the lower of two middle samples
    tail = med if p == TAIL_LADDER[0] else percentile(xs, p)
    return {"n": len(xs), "p50": med, "tail": tail, "tail_pct": p}
