"""Pure helpers for the benchmark: percentiles, spread, span self time
and the torn-read check. No Spark imports, so they are unit-tested
without a session (test_stats.py)."""

from __future__ import annotations

import math
import statistics
from itertools import accumulate


def nearest_rank(samples: list[float], pct: float) -> float:
    """The nearest-rank ``pct`` percentile: the smallest sample with at
    least ``pct`` percent of the samples at or below it."""
    if not samples:
        raise ValueError("no samples")
    ordered = sorted(samples)
    rank = max(math.ceil(pct / 100.0 * len(ordered)), 1)
    return ordered[rank - 1]


def samples_beyond(n: int, pct: float) -> int:
    """How many of ``n`` samples lie above the nearest-rank ``pct``
    percentile."""
    return n - max(math.ceil(pct / 100.0 * n), 1)


def tail_percentile(
    samples: list[float],
    candidates: tuple[float, ...] = (99, 95, 90, 80, 75, 50),
    min_beyond: int = 10,
) -> tuple[float, float] | None:
    """The highest candidate percentile that has at least ``min_beyond``
    samples beyond it, as ``(pct, value)``; None if none qualifies."""
    for pct in sorted(candidates, reverse=True):
        if samples_beyond(len(samples), pct) >= min_beyond:
            return pct, nearest_rank(samples, pct)
    return None


def quartile_spread(values: list[float]) -> float:
    """Distance between the first and third quartile as a share of the
    median, with quartiles as ``statistics.quantiles(values, n=4)``."""
    q1, median, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / median


def self_time(start: float, end: float, children: list[tuple[float, float]]) -> float:
    """A span's duration minus the part of ``[start, end]`` that its
    children cover. Overlapping children count once."""
    covered = 0.0
    cur_lo = cur_hi = None
    for lo, hi in sorted((max(lo, start), min(hi, end)) for lo, hi in children):
        if hi <= lo:
            continue
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        covered += cur_hi - cur_lo
    return (end - start) - covered


def torn_reads(totals: list[int], batch_sizes: list[int]) -> int:
    """Reads whose total row count is not a prefix sum of the batch
    sizes: each such read saw part of a fold, so it is torn."""
    prefixes = set(accumulate(batch_sizes))
    return sum(1 for t in totals if t not in prefixes)
