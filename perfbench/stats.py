"""Summary statistics for latency samples."""

from __future__ import annotations

import statistics

TAIL_BEYOND = 10  # samples that must lie beyond the reported tail


def p50(samples: list[float]) -> float | None:
    return statistics.median(samples) if samples else None


def tail(samples: list[float]) -> tuple[float, float] | None:
    """The highest percentile with at least TAIL_BEYOND samples beyond
    it, as (percentile, value); None when fewer than TAIL_BEYOND + 1
    samples exist, because then no such percentile exists.

    With n sorted samples x[0..n-1], x[i] has n - 1 - i samples above
    it, so the tail is x[n - 1 - TAIL_BEYOND], the (i + 1) / n * 100-th
    percentile.
    """
    n = len(samples)
    i = n - 1 - TAIL_BEYOND
    if i < 0:
        return None
    return (100.0 * (i + 1) / n, sorted(samples)[i])
