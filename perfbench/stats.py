"""Summary statistics the benchmark reports."""

from __future__ import annotations

import math
import statistics

TAIL_MIN_BEYOND = 10  # samples that must lie above a reported tail percentile


def median(values: list[float]) -> float:
    return float(statistics.median(values))


def tail(values: list[float], beyond: int = TAIL_MIN_BEYOND) -> tuple[float, int, int] | None:
    """The highest whole percentile that still has ``beyond`` samples above it.

    Uses the nearest-rank definition: the p-th percentile of n sorted samples
    is the sample at rank ceil(p * n / 100). Returns ``(value, p, n)``, or
    None when there are too few samples for any percentile to qualify.
    """
    n = len(values)
    if n <= beyond:
        return None
    p = (100 * (n - beyond)) // n
    rank = max(1, math.ceil(p * n / 100))
    return float(sorted(values)[rank - 1]), int(p), n


def quartile_spread(values: list[float]) -> float:
    """Interquartile distance over the median, as a share of the median."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2
