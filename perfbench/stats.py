"""Summary statistics for op timings."""

from __future__ import annotations

import statistics

TAIL_PERCENTILES = (99.9, 99.0, 90.0)
MIN_BEYOND = 10


def tail_percentile(n: int) -> float | None:
    """Highest reported percentile with at least MIN_BEYOND of n samples
    beyond it, or None when n is too small for any tail above the median."""
    for p in TAIL_PERCENTILES:
        if round(n * (100.0 - p) / 100.0, 6) >= MIN_BEYOND:
            return p
    return None


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile (p in [0, 100])."""
    s = sorted(values)
    rank = max(1, -(-len(s) * p // 100))
    return s[int(rank) - 1]


def summarize(times: list[float]) -> dict:
    """Median plus the highest tail percentile the sample count supports."""
    out = {"n": len(times), "p50": statistics.median(times)}
    p = tail_percentile(len(times))
    if p is not None:
        out[f"p{p:g}"] = percentile(times, p)
    return out
