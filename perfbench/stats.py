"""Order statistics for the benchmark's timings."""

from __future__ import annotations

from collections.abc import Sequence

# Percentiles a timing may be reported at, lowest first.
LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)
MIN_BEYOND = 10


def percentile(values: Sequence[float], p: float) -> float:
    """Linearly interpolated ``p``-th percentile (numpy's default method)."""
    if not values:
        raise ValueError("percentile of no values")
    xs = sorted(values)
    h = (len(xs) - 1) * p / 100.0
    lo = int(h)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (h - lo)


def supported(p: float, n: int, min_beyond: int = MIN_BEYOND) -> bool:
    """True when ``n`` samples leave at least ``min_beyond`` above the
    ``p``-th percentile."""
    return n * (100.0 - p) / 100.0 >= min_beyond - 1e-9


def tail_percentile(
    values: Sequence[float], min_beyond: int = MIN_BEYOND
) -> tuple[float, float] | None:
    """``(p, value)`` for the highest ladder percentile that has at least
    ``min_beyond`` samples beyond it, or None when not even the median
    does."""
    best = None
    for p in LADDER:
        if supported(p, len(values), min_beyond):
            best = (p, percentile(values, p))
    return best
