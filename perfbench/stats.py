"""Summary statistics of the benchmark.

A timing is reported as its median and its tail: the highest percentile of
`TAIL_LADDER` that has at least `TAIL_BEYOND` samples beyond it, stated with
that percentile and the sample count. Below 2 * TAIL_BEYOND samples no
percentile qualifies and the tail is reported as absent, never as the
maximum. Every sample is a first observation: nothing here retries,
drops or takes a minimum.
"""

from __future__ import annotations

import math
import statistics

TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
TAIL_BEYOND = 10


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile (the smallest sample with at least p % of
    the samples at or below it)."""
    xs = sorted(values)
    k = max(1, math.ceil(p / 100.0 * len(xs)))
    return xs[k - 1]


def tail(values: list[float]) -> dict | None:
    """{"p": percentile, "value": ..., "n": sample count}, or None when
    fewer than TAIL_BEYOND samples could lie beyond any ladder rung."""
    n = len(values)
    for p in TAIL_LADDER:
        k = max(1, math.ceil(p / 100.0 * n))
        if n - k >= TAIL_BEYOND:
            return {"p": p, "value": percentile(values, p), "n": n}
    return None


def median(values: list[float]) -> float | None:
    return statistics.median(values) if values else None


def summary(values: list[float]) -> dict:
    """Median, tail and count of a list of timings."""
    return {"p50": median(values), "tail": tail(values), "n": len(values)}


def trimmed_mean(values: list[float], cut: float = 0.1) -> float | None:
    """Mean of the fastest (1 - cut) share of the timings. Unlike the
    median, it does not jump between the modes of a two-mode
    distribution, and the slowest tenth it drops is reported as the
    tail."""
    xs = sorted(values)
    k = len(xs) - int(len(xs) * cut)
    return sum(xs[:k]) / k if k else None
