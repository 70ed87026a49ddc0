"""Summary statistics for the benchmark's samples.

A timing is reported as a median with its sample count and the highest
percentile the sample supports: the largest p in ``PERCENTILES`` with at
least ``TAIL_MIN`` samples strictly beyond it.  Below that, the median is
the only percentile reported.
"""

from __future__ import annotations

import math
import statistics

PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0)
TAIL_MIN = 10


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no samples")
    return float(statistics.median(values))


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    if not 0 < p <= 100:
        raise ValueError(f"percentile {p} outside (0, 100]")
    ordered = sorted(values)
    rank = math.ceil(len(ordered) * p / 100 - 1e-9)
    return float(ordered[max(rank, 1) - 1])


def supported_percentile(n: int) -> float | None:
    """Highest percentile in ``PERCENTILES`` with at least ``TAIL_MIN`` of
    ``n`` samples beyond it, or None when even p75 lacks that tail."""
    for p in PERCENTILES:
        rank = math.ceil(n * p / 100 - 1e-9)  # nearest rank, robust to float error
        if n - rank >= TAIL_MIN:
            return p
    return None


def summarize(values: list[float]) -> dict:
    """{median, n, p<x>} for one metric's samples within a run."""
    out = {"median": median(values), "n": len(values)}
    p = supported_percentile(len(values))
    if p is not None:
        out[f"p{p:g}"] = percentile(values, p)
    return out

