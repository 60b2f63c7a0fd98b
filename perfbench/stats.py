"""Summary statistics for benchmark samples."""

from __future__ import annotations

import math
import statistics

#: the tail percentile must leave at least this many samples beyond it
TAIL_MIN_BEYOND = 10
#: percentiles tried, highest first
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 80.0, 75.0, 70.0, 60.0, 50.0)
#: the share of the samples, slowest first, that ``tail_mean`` averages
TAIL_SHARE = 0.1


def median(values: list[float]) -> float:
    return float(statistics.median(values)) if values else 0.0


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least ``p``
    percent of the samples at or below it."""
    s = sorted(values)
    rank = max(1, math.ceil(p / 100.0 * len(s)))
    return float(s[rank - 1])


def tail(values: list[float]) -> dict:
    """The highest percentile of ``TAIL_LADDER`` with at least
    ``TAIL_MIN_BEYOND`` samples strictly beyond its nearest rank.

    Returns ``{"p": percentile, "value": ..., "n": sample count,
    "beyond": samples beyond}``; with too few samples for any rung the
    median is returned with ``p`` = 50 and ``beyond`` under
    ``TAIL_MIN_BEYOND``, so a reader sees the tail is unresolved."""
    n = len(values)
    if n == 0:
        return {"p": None, "value": 0.0, "n": 0, "beyond": 0}
    for p in TAIL_LADDER:
        rank = max(1, math.ceil(p / 100.0 * n))
        if n - rank >= TAIL_MIN_BEYOND:
            return {"p": p, "value": percentile(values, p), "n": n, "beyond": n - rank}
    return {"p": 50.0, "value": median(values), "n": n, "beyond": n // 2}



def tail_mean(values: list[float], share: float = TAIL_SHARE) -> dict:
    """The mean of the slowest ``share`` of the samples (at least one).

    A mean over the tail moves less from run to run than one order
    statistic, and does not step with the timer's resolution. Returns
    ``{"share": share, "value": ..., "n": sample count, "k": samples
    averaged}``."""
    n = len(values)
    if n == 0:
        return {"share": share, "value": 0.0, "n": 0, "k": 0}
    k = max(1, math.ceil(share * n))
    return {"share": share, "value": float(sum(sorted(values)[-k:]) / k), "n": n, "k": k}
