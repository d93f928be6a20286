"""Summary statistics shared by the workloads and the self-test."""

from __future__ import annotations

import math
import statistics

# Tail levels reported, highest first. A level is reported only when at
# least TAIL_MIN_BEYOND samples lie beyond it, so a tail is never read off
# one or two outliers.
TAIL_LEVELS = (99.9, 99.0, 95.0, 90.0, 75.0)
TAIL_MIN_BEYOND = 10


def median(values: list[float]) -> float:
    return float(statistics.median(values))


def nearest_rank(values: list[float], pct: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least pct% of
    the samples at or below it."""
    xs = sorted(values)
    return float(xs[_rank(pct, len(xs)) - 1])


def _rank(pct: float, n: int) -> int:
    # rounded first, so 99.9% of 10000 is rank 9990, not 9991
    return max(1, math.ceil(round(pct * n / 100.0, 9)))


def tail(values: list[float]) -> tuple[float, float] | None:
    """(level, value) for the highest level in TAIL_LEVELS that has at least
    TAIL_MIN_BEYOND samples beyond it, or None when there are too few
    samples for any level."""
    n = len(values)
    for level in TAIL_LEVELS:
        if n - _rank(level, n) >= TAIL_MIN_BEYOND:
            return level, nearest_rank(values, level)
    return None


def describe(values: list[float]) -> str:
    """'median (n=N; pXX=V)' — the sample count and tail, for the report."""
    t = tail(values)
    tail_txt = (f"p{t[0]:g}={t[1]:.4f}" if t else
                f"no tail level has {TAIL_MIN_BEYOND} samples beyond it")
    return f"n={len(values)}; {tail_txt}"
