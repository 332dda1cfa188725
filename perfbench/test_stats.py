"""Tests for the benchmark's pure helpers (no Spark session needed).

    python3 -m pytest perfbench/test_stats.py -q
"""

from __future__ import annotations

import statistics

import pytest

from stats import nearest_rank, quartile_spread, samples_beyond, self_time, tail_percentile, torn_reads


def test_nearest_rank_picks_a_sample():
    samples = [5.0, 1.0, 4.0, 2.0, 3.0]
    assert nearest_rank(samples, 50) == 3.0
    assert nearest_rank(samples, 80) == 4.0
    assert nearest_rank(samples, 100) == 5.0
    assert nearest_rank(samples, 0) == 1.0


def test_nearest_rank_rejects_empty():
    with pytest.raises(ValueError):
        nearest_rank([], 50)


@pytest.mark.parametrize(
    "n, pct, beyond",
    [(100, 90, 10), (99, 90, 9), (50, 80, 10), (49, 80, 9), (25, 50, 12), (10, 50, 5)],
)
def test_samples_beyond(n, pct, beyond):
    assert samples_beyond(n, pct) == beyond


def test_tail_percentile_takes_highest_with_ten_beyond():
    samples = [float(i) for i in range(1, 101)]
    assert tail_percentile(samples) == (90, 90.0)
    assert tail_percentile(samples[:50]) == (80, 40.0)
    assert tail_percentile([float(i) for i in range(1, 201)]) == (95, 190.0)


def test_tail_percentile_none_when_too_few_samples():
    assert tail_percentile([1.0] * 19) is None
    assert tail_percentile([1.0] * 20) == (50, 1.0)


def test_quartile_spread_matches_statistics_quantiles():
    values = [10.0, 11.0, 9.5, 10.2, 10.8, 9.9, 10.1, 10.4, 9.7, 10.6]
    q1, median, q3 = statistics.quantiles(values, n=4)
    assert quartile_spread(values) == pytest.approx((q3 - q1) / median)
    assert quartile_spread([2.0] * 10) == 0.0


def test_self_time_subtracts_children():
    assert self_time(0.0, 10.0, []) == 10.0
    assert self_time(0.0, 10.0, [(1.0, 3.0), (5.0, 6.0)]) == pytest.approx(7.0)


def test_self_time_counts_overlapping_children_once():
    # two reader spans overlapping each other, as threads produce
    assert self_time(0.0, 10.0, [(1.0, 5.0), (4.0, 6.0), (5.5, 7.0)]) == pytest.approx(4.0)


def test_self_time_clips_children_to_the_parent():
    assert self_time(2.0, 4.0, [(0.0, 3.0), (3.5, 9.0)]) == pytest.approx(0.5)
    assert self_time(2.0, 4.0, [(5.0, 6.0)]) == pytest.approx(2.0)


def test_torn_reads_accepts_prefix_sums_only():
    sizes = [3, 4, 5]  # prefix sums 3, 7, 12
    assert torn_reads([3, 7, 12, 12, 3], sizes) == 0
    assert torn_reads([3, 5, 7, 11, 0], sizes) == 3


def test_torn_reads_across_repeated_passes():
    # every pass folds the same batches, so totals restart from the first
    sizes = [10, 10]
    assert torn_reads([10, 20, 10, 20, 20], sizes) == 0
    assert torn_reads([10, 15], sizes) == 1
