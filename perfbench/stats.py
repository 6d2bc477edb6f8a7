"""Summary statistics shared by the benchmark and its stability report."""

from __future__ import annotations

import statistics

TAIL_BEYOND = 10


def tail_percentile(samples: list[float], beyond: int = TAIL_BEYOND) -> tuple[float, float]:
    """The highest percentile that still has at least ``beyond`` samples
    above it, and the sample at that percentile (nearest rank).

    With n sorted samples the value at 0-based rank ``n - beyond - 1`` has
    exactly ``beyond`` samples beyond it; its percentile is that rank's
    share of n. Returns ``(percentile, value)``."""
    n = len(samples)
    if n <= beyond:
        raise ValueError(f"need more than {beyond} samples for a tail, got {n}")
    rank = n - beyond - 1
    return 100.0 * (rank + 1) / n, sorted(samples)[rank]


def spread(values: list[float]) -> float:
    """Distance between the first and third quartile as a share of the
    median (``statistics.quantiles(values, n=4)``)."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)
