"""Order statistics used by the benchmark and its steadiness tool."""

from __future__ import annotations

import math
import statistics

# Percentiles considered for a tail metric, highest first.
TAIL_CANDIDATES = (99, 95, 90, 75)
MIN_BEYOND = 10


def percentile(values, q: float) -> float:
    """Linear interpolation between closest ranks (NumPy's default rule)."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(n: int) -> int | None:
    """Highest percentile with at least MIN_BEYOND of ``n`` samples above it,
    or None when even p75 has fewer."""
    for q in TAIL_CANDIDATES:
        if n * (100 - q) / 100.0 >= MIN_BEYOND:
            return q
    return None


def spread(values) -> dict:
    """Quartiles as ``statistics.quantiles(values, n=4)`` gives them, and the
    interquartile distance as a share of the median."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return {"q1": q1, "median": q2, "q3": q3,
            "spread": (q3 - q1) / abs(q2) if q2 else float("inf")}
