"""Summary statistics the benchmark reports."""

from __future__ import annotations

import math
import statistics
from fractions import Fraction

# Percentiles a timing may be reported at, besides its median.
PERCENTILES = (50, 75, 90, 95, 99, 99.9)


def _rank(p: float, n: int) -> int:
    """Nearest rank of percentile ``p`` among ``n`` samples (exact, so
    that 90% of 100 is rank 90, not 91)."""
    return max(math.ceil(Fraction(str(p)) * n / 100), 1)


def percentile(xs, p: float) -> float:
    """Nearest-rank percentile of a non-empty sample."""
    return sorted(xs)[_rank(p, len(xs)) - 1]


def highest_percentile(n: int) -> float | None:
    """The highest of PERCENTILES with at least ten of ``n`` samples beyond
    it, or None when even the median has fewer than ten beyond it."""
    best = None
    for p in PERCENTILES:
        if n - _rank(p, n) >= 10:
            best = p
    return best


def summarize(xs) -> dict:
    """Median, the highest percentile the sample count allows, and n."""
    out = {"n": len(xs), "p50": statistics.median(xs) if xs else None}
    p = highest_percentile(len(xs))
    if p is not None and p != 50:
        out[f"p{p:g}"] = percentile(xs, p)
    return out


def quartile_spread(values) -> float:
    """Distance between the first and third quartile, as a share of the
    median (``statistics.quantiles(values, n=4)``)."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)
