"""Summary statistics with the benchmark's reporting rule.

A timing is reported as its median plus every upper percentile that has
at least ``MIN_TAIL`` samples beyond it; a percentile with fewer samples
behind it is noise and is left out rather than reported.
"""

from __future__ import annotations

import math
import statistics

MIN_TAIL = 10
TAIL_PERCENTILES = (90, 99)


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least ``p``
    percent of the samples at or below it."""
    if not values:
        raise ValueError("percentile of an empty sample")
    ordered = sorted(values)
    rank = max(1, math.ceil(p / 100.0 * len(ordered)))
    return ordered[rank - 1]


def reportable(n: int, p: float) -> bool:
    """True when ``n`` samples leave at least ``MIN_TAIL`` beyond the
    ``p``-th percentile."""
    return n * (100.0 - p) / 100.0 >= MIN_TAIL


def latency_summary(seconds: list[float], prefix: str = "latency") -> dict[str, float]:
    """``{prefix}_p50_ms`` and each reportable ``{prefix}_pNN_ms``."""
    if not seconds:
        return {}
    ms = [s * 1000.0 for s in seconds]
    out = {f"{prefix}_p50_ms": statistics.median(ms)}
    for p in TAIL_PERCENTILES:
        if reportable(len(ms), p):
            out[f"{prefix}_p{p}_ms"] = percentile(ms, p)
    return out


def quartile_spread(values: list[float]) -> float:
    """Distance between the first and third quartile as a share of the
    median — the steadiness measure the benchmark is tuned against."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med if med else float("inf")
