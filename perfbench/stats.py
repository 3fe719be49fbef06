"""Order statistics the benchmark reports (pure Python, no Spark)."""

from __future__ import annotations

import math
import statistics

#: percentiles tried for a tail, highest first
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 80.0, 75.0, 50.0)

#: a tail percentile must leave at least this many samples above it
TAIL_MIN_BEYOND = 10


def _rank(p: float, n: int) -> int:
    """1-based nearest rank of percentile p (to 0.1) among n samples, in
    integer arithmetic: ceil(p/100 * n) in floats rounds 99.9% of 10,000
    up to 9,991."""
    tenths = round(p * 10)
    return max(1, -(-tenths * n // 1000))


def tail(values) -> tuple[float, float, int]:
    """(percentile, value, n) for the highest percentile in TAIL_LADDER
    that leaves at least TAIL_MIN_BEYOND samples beyond it.

    Below 2 * TAIL_MIN_BEYOND samples no percentile qualifies; the
    maximum is reported as percentile 100 so the figure is still the
    worst sample seen, and the caller prints the percentile beside it."""
    v = sorted(values)
    n = len(v)
    if not n:
        raise ValueError("tail of no samples")
    for p in TAIL_LADDER:
        k = _rank(p, n)
        if n - k >= TAIL_MIN_BEYOND:
            return p, v[k - 1], n
    return 100.0, v[-1], n


def median(values) -> float:
    return statistics.median(values)


def quartile_spread(values) -> float:
    """(Q3 - Q1) / median, with quartiles as statistics.quantiles(n=4)
    gives them — the run-to-run spread the bounds are judged against."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else math.inf
