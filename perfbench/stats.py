"""Order statistics used by the benchmark's reports."""

from __future__ import annotations

import math
import statistics

#: a tail percentile is reported only with at least this many samples
#: beyond it
TAIL_MIN_BEYOND = 10


def median(values: list[float]) -> float:
    return float(statistics.median(values)) if values else 0.0


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least ``p``
    percent of the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    ordered = sorted(values)
    rank = max(1, math.ceil(p * len(ordered) / 100))
    return float(ordered[rank - 1])


def tail_percentile(n: int) -> int | None:
    """The highest whole percentile that leaves at least
    ``TAIL_MIN_BEYOND`` of ``n`` samples strictly above its rank, or
    None when not even the median does."""
    best = None
    for p in range(50, 100):
        if n - math.ceil(p * n / 100) >= TAIL_MIN_BEYOND:
            best = p
    return best


def quartile_spread(values: list[float]) -> float:
    """(Q3 - Q1) / median, the quartiles as ``statistics.quantiles``
    gives them."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else 0.0
