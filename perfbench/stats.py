"""Summaries of latency samples.

A percentile is reported only when at least ten samples lie beyond it,
so p90 needs 100 samples and p99 needs 1000; the median is always
reported, with the sample count beside it.
"""

from __future__ import annotations

import math
import statistics
from typing import Dict, Sequence

MIN_BEYOND = 10
TAIL_PERCENTILES = (90, 99)


def supported(p: float, n: int) -> bool:
    """True when at least ``MIN_BEYOND`` of ``n`` samples lie above the
    ``p``-th percentile."""
    return math.floor(n * (100 - p) / 100) >= MIN_BEYOND


def percentile(xs: Sequence[float], p: float) -> float:
    """Linear-interpolated ``p``-th percentile (numpy's default rule)."""
    s = sorted(xs)
    pos = (len(s) - 1) * p / 100
    lo = math.floor(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def summarize(xs: Sequence[float]) -> Dict[str, float]:
    """``n``, ``median`` and every tail percentile the sample supports."""
    out: Dict[str, float] = {"n": len(xs)}
    if not xs:
        return out
    out["median"] = statistics.median(xs)
    for p in TAIL_PERCENTILES:
        if supported(p, len(xs)):
            out[f"p{p}"] = percentile(xs, p)
    return out
