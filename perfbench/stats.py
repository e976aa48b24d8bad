"""Order statistics for the benchmark's reports."""

from __future__ import annotations

import math

#: candidate tail percentiles, highest first
TAIL_PCTS = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def percentile(values, pct: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least ``pct``
    percent of the samples at or below it."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    return xs[_rank(pct, len(xs)) - 1]


def _rank(pct: float, n: int) -> int:
    # the epsilon keeps 99.9% of 10,000 at rank 9,990 despite float error
    return max(1, math.ceil(pct * n / 100.0 - 1e-9))


def median(values) -> float:
    xs = sorted(values)
    n = len(xs)
    if not n:
        raise ValueError("median of no samples")
    return xs[n // 2] if n % 2 else (xs[n // 2 - 1] + xs[n // 2]) / 2.0


def tail(values) -> tuple[float, float] | None:
    """(percentile, value) for the highest percentile in TAIL_PCTS that has
    at least ten samples strictly beyond its nearest rank; None when even
    the median has fewer than ten beyond it."""
    n = len(values)
    for pct in TAIL_PCTS:
        if n - _rank(pct, n) >= 10:
            return pct, percentile(values, pct)
    return None


def mean(values) -> float:
    xs = list(values)
    if not xs:
        raise ValueError("mean of no samples")
    return sum(xs) / len(xs)


def gmean(values) -> float:
    """Geometric mean: every op weighs by its share of the ops, in relative
    terms, so a mix of 5 ms and 500 ms ops is not ruled by its slowest few."""
    xs = list(values)
    if not xs or min(xs) <= 0:
        raise ValueError("geometric mean needs positive samples")
    return math.exp(sum(math.log(x) for x in xs) / len(xs))
