"""Summary statistics used by the benchmark report."""

from __future__ import annotations

import math


def geomean(values: list[float]) -> float:
    """Geometric mean of positive values."""
    if not values or min(values) <= 0:
        raise ValueError("geomean needs positive values")
    return math.exp(sum(math.log(v) for v in values) / len(values))


def tail(values: list[float], beyond: int = 10) -> tuple[float, float] | None:
    """The highest percentile that still has at least ``beyond`` samples
    above it, as (percentile, value); None when there are too few samples
    for that percentile to lie above the median."""
    n = len(values)
    k = n - beyond  # 1-based rank of the sample with ``beyond`` above it
    if k < (n + 1) / 2:
        return None
    return 100.0 * k / n, sorted(values)[k - 1]


def error_rate(attempted: int, failed: int) -> float:
    if attempted < 1:
        raise ValueError("no ops attempted")
    return failed / attempted
