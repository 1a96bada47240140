"""Summaries of latency lists."""

from __future__ import annotations

import math


def percentile(values: list[float], p: float) -> float:
    """The p-th percentile, interpolating linearly between order statistics;
    NaN for no values. Failed operations enter as ``inf``."""
    if not values:
        return math.nan
    xs = sorted(values)
    k = (len(xs) - 1) * p / 100
    lo = math.floor(k)
    hi = min(lo + 1, len(xs) - 1)
    if xs[hi] == xs[lo]:
        return xs[lo]
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def tail(values: list[float]) -> dict | None:
    """The highest whole percentile with at least ten values beyond it,
    with that percentile and the number of values."""
    n = len(values)
    if n < 11:
        return None
    p = math.floor(100 * (n - 10) / n)
    return {"p": p, "n": n, "value": percentile(values, p)}


def interquartile_mean(values: list[float]) -> float:
    """The mean of the middle half of the values (a quarter of them, rounded
    down, dropped from each end); NaN for no values."""
    if not values:
        return math.nan
    xs = sorted(values)
    k = len(xs) // 4
    mid = xs[k:len(xs) - k]
    return sum(mid) / len(mid)
