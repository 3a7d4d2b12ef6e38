"""Order statistics for op latencies."""

from __future__ import annotations

import statistics

# A tail percentile is reported only with at least this many samples beyond
# it, so a p90 needs 100 samples and a p99 needs 1000.
MIN_TAIL_SAMPLES = 10


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated ``q``-th percentile (0 < q < 100) of ``values``."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_supported(n: int, q: float) -> bool:
    """Whether ``n`` samples leave MIN_TAIL_SAMPLES beyond percentile ``q``."""
    return n * (100.0 - q) / 100.0 >= MIN_TAIL_SAMPLES - 1e-9  # float slack


def highest_supported_percentile(n: int) -> float | None:
    """The highest of p90/p99/p99.9 that ``n`` samples support, else None."""
    best = None
    for q in (90.0, 99.0, 99.9):
        if tail_supported(n, q):
            best = q
    return best


def halves(values: list[float]) -> tuple[float, float]:
    """Medians of the first and second half of a time-ordered sample."""
    mid = len(values) // 2
    first, second = values[:mid] or values, values[mid:]
    return statistics.median(first), statistics.median(second)

