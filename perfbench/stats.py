"""Summary statistics the benchmark reports.

Timings are summarised as a median plus the highest standard percentile
that still has at least ten samples beyond it, with the sample count, so a
tail figure is never read off two or three samples. Ratios carry their
numerator and denominator.
"""

from __future__ import annotations

import math
import statistics
from fractions import Fraction

TAIL_PERCENTILES = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)
MIN_BEYOND = 10


def _rank(p: float, n: int) -> int:
    """ceil(p/100 · n) in exact arithmetic (p as its decimal literal), at
    least 1 — 99.9 % of 10 000 is rank 9 990, not 9 991."""
    return max(1, math.ceil(Fraction(str(p)) * n / 100))


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile: the value at rank ceil(p/100 · n) of the
    sorted samples (rank 1 for p = 0). Always an observed value."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    return xs[min(_rank(p, len(xs)), len(xs)) - 1]


def tail_percentile(n: int) -> float | None:
    """Highest of TAIL_PERCENTILES with at least MIN_BEYOND of ``n``
    samples ranked above it; None when even the median has fewer."""
    best = None
    for p in TAIL_PERCENTILES:
        if n - _rank(p, n) >= MIN_BEYOND:
            best = p
    return best


def timing_summary(values: list[float]) -> dict:
    """``{"n", "median", "tail_p", "tail"}``; tail_p is None (and tail
    the maximum) when there are too few samples for any percentile."""
    if not values:
        return {"n": 0, "median": None, "tail_p": None, "tail": None}
    p = tail_percentile(len(values))
    return {
        "n": len(values),
        "median": statistics.median(values),
        "tail_p": p,
        "tail": percentile(values, p) if p is not None else max(values),
    }


def ratio(num: float, den: float) -> dict:
    """A ratio with its base; value is None when the base is 0."""
    return {"value": (num / den) if den else None, "num": num, "den": den}

