"""Order statistics for benchmark samples."""

from __future__ import annotations

import math
import statistics

#: the percentiles a tail may be reported at, highest first
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
#: samples that must lie beyond a reported percentile
MIN_BEYOND = 10


def percentile(samples: list[float], p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least ``p``% of
    the samples at or below it."""
    if not samples:
        raise ValueError("percentile of no samples")
    ordered = sorted(samples)
    return ordered[_rank(len(ordered), p) - 1]


def beyond(n: int, p: float) -> int:
    """Samples strictly above the nearest-rank ``p`` percentile of ``n``."""
    return n - _rank(n, p)


def _rank(n: int, p: float) -> int:
    # round first: 99.9 / 100 * 10_000 is 9990.000000000002 in binary
    return max(1, math.ceil(round(p / 100.0 * n, 6)))


def tail_percentile(n: int) -> float | None:
    """The highest percentile of ``TAIL_LADDER`` with at least ``MIN_BEYOND``
    of ``n`` samples beyond it, or None when not even the median has."""
    for p in TAIL_LADDER:
        if beyond(n, p) >= MIN_BEYOND:
            return p
    return None


def median(samples: list[float]) -> float:
    return statistics.median(samples)


def spread(samples: list[float]) -> float:
    """Distance between the first and third quartile as a share of the
    median, as ``statistics.quantiles(values, n=4)`` gives the quartiles."""
    q1, _, q3 = statistics.quantiles(samples, n=4)
    return (q3 - q1) / statistics.median(samples)
