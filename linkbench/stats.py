"""Order statistics shared by the benchmark runner and the comparison
command. Pure Python, no Spark."""

from __future__ import annotations

import math
import statistics

# Candidate tail percentiles, lowest first. A timing reports its median
# plus the highest of these that has at least MIN_BEYOND samples above it.
PERCENTILES = (90.0, 95.0, 99.0, 99.9)
MIN_BEYOND = 10


def median(values: list[float]) -> float:
    return float(statistics.median(values))


def quartiles(values: list[float]) -> tuple[float, float, float]:
    """(q1, median, q3) as ``statistics.quantiles(values, n=4)`` gives
    them (the 'exclusive' method). A single value is its own quartiles."""
    if len(values) == 1:
        v = float(values[0])
        return v, v, v
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return float(q1), float(q2), float(q3)


def _rank(n: int, p: float) -> int:
    """Nearest rank of the p-th percentile among n samples (1-based),
    rounded first so 99.9 % of 10,000 is rank 9,990, not 9,991."""
    return max(1, math.ceil(round(n * p / 100.0, 9)))


def tail_percentile(n: int) -> float | None:
    """The highest percentile in PERCENTILES with at least MIN_BEYOND of
    ``n`` samples beyond it, or None when even the lowest has fewer."""
    best = None
    for p in PERCENTILES:
        if n - _rank(n, p) >= MIN_BEYOND:
            best = p
    return best


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile: the smallest value with at least p% of
    the samples at or below it."""
    s = sorted(values)
    return float(s[_rank(len(s), p) - 1])


def summarize(values: list[float]) -> dict:
    """Median, sample count and, when the sample count allows one, the
    tail percentile, of a list of timings."""
    out = {"median": median(values), "n": len(values)}
    p = tail_percentile(len(values))
    if p is not None:
        out["p"] = p
        out["tail"] = percentile(values, p)
    return out
