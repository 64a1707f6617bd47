"""Small numeric helpers shared by the benchmark and its spread check."""

from __future__ import annotations

import math
import statistics


def percentile(values: list[float], q: float) -> float:
    """q-th percentile (0..100) by linear interpolation between the two
    closest ranks (numpy's default method)."""
    if not values:
        raise ValueError("percentile of no values")
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def ratio(num: float, den: float) -> float:
    """num / den, or 0.0 when there is nothing to divide by."""
    return num / den if den else 0.0


def iqr_share(values: list[float]) -> float:
    """Distance between the first and third quartile as a share of the
    median (quartiles as `statistics.quantiles(values, n=4)` gives them)."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return ratio(q3 - q1, med)


def union_length(spans: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of `spans`, each clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in spans if b > lo and a < hi)
    total, end = 0.0, lo
    for a, b in clipped:
        if b > end:
            total += b - max(a, end)
            end = b
    return total
