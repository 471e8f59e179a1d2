"""Summary statistics for the benchmark's latency samples.

A warm run's calls cluster by query: each query's calls take about the
same time, and the gaps between queries are wide. A plain sample median
of a few dozen calls lands on whichever side of a gap the middle call
falls, and jumps by the width of the gap from run to run. The centre and
the tail are therefore taken as means over a band of calls: the
interquartile mean, and the mean of the calls beyond the tail
percentile.
"""

from __future__ import annotations

import statistics

TAIL_PCT = 90
MIN_BEYOND = 10


def median(values: list[float]) -> float:
    """Sample median (0 for no samples)."""
    return statistics.median(values) if values else 0.0


def percentile(values: list[float], pct: int) -> float:
    """Sample ``pct`` percentile, interpolated between order statistics
    (``statistics.quantiles``, inclusive method)."""
    if len(values) < 2:
        return median(values)
    return statistics.quantiles(values, n=100, method="inclusive")[pct - 1]


def iqm(values: list[float]) -> float:
    """Interquartile mean: the mean of the samples left after dropping a
    quarter (rounded down) from each end (0 for no samples)."""
    if not values:
        return 0.0
    xs = sorted(values)
    k = len(xs) // 4
    return statistics.fmean(xs[k : len(xs) - k])


def tail_pct(n: int) -> int:
    """The highest whole percentile, up to ``TAIL_PCT``, that leaves at
    least ``MIN_BEYOND`` of ``n`` samples above it; 50 (the median) when
    no percentile above the median does."""
    return max(50, min(TAIL_PCT, (100 * (n - MIN_BEYOND)) // n)) if n else 0


def tail(values: list[float]) -> tuple[float, int]:
    """The tail latency -- the mean of the samples above the tail
    percentile -- and the percentile it was taken beyond."""
    if not values:
        return 0.0, 0
    pct = tail_pct(len(values))
    cut = percentile(values, pct)
    beyond = [x for x in values if x > cut]
    return (statistics.fmean(beyond) if beyond else cut), pct
