"""Small statistics helpers with the benchmark's reporting rules."""

from __future__ import annotations

import statistics

# A tail percentile is reported beside the median only when at least
# this many samples lie beyond it: p90 needs 100 samples, p99 1000.
MIN_BEYOND = 10


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated q-th percentile (0 <= q <= 100)."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def reportable(n: int, q: float) -> bool:
    """The sample-count rule: q-th percentile needs MIN_BEYOND samples
    beyond it."""
    return n * (100.0 - q) / 100.0 >= MIN_BEYOND


def median(values: list[float]) -> float:
    return statistics.median(values)


def slope(values: list[float]) -> float:
    """Least-squares slope of values against their index (growth per
    step); 0.0 for fewer than two values."""
    n = len(values)
    if n < 2:
        return 0.0
    mx = (n - 1) / 2.0
    my = sum(values) / n
    num = sum((i - mx) * (v - my) for i, v in enumerate(values))
    den = sum((i - mx) ** 2 for i in range(n))
    return num / den
