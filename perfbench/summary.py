"""Order statistics for the benchmark's records."""

from __future__ import annotations

import math
import statistics

#: percentiles the tail metric may report, highest first; the lowest is the
#: floor, so the reported percentile never drops as a run gets fewer samples
TAIL_LADDER = (99.9, 99.5, 99.0, 98.0, 95.0, 90.0)
TAIL_MIN_BEYOND = 10


def percentile(values, p: float) -> float:
    """Linear interpolation between closest ranks (numpy's default)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    k = (len(xs) - 1) * p / 100.0
    lo = math.floor(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def beyond(n: int, p: float) -> int:
    """How many of ``n`` samples lie above the ``p``-th percentile."""
    return math.floor(n * (100.0 - p) / 100.0 + 1e-9)


def tail_percentile(n: int) -> float:
    """The highest ladder percentile with at least ten samples beyond it.

    Below 100 samples no rung has ten beyond, and the floor (p90) is used;
    the record says how many samples lie beyond it, so a reader sees the
    rule was not met."""
    for p in TAIL_LADDER:
        if beyond(n, p) >= TAIL_MIN_BEYOND:
            return p
    return TAIL_LADDER[-1]


def tail(values) -> dict:
    n = len(values)
    p = tail_percentile(n)
    return {"value": percentile(values, p), "percentile": p, "samples": n, "beyond": beyond(n, p)}


def median(values) -> float:
    return statistics.median(values)

