"""Unit tests for the benchmark's statistics helpers (no Spark)."""

import os
import statistics
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import stats  # noqa: E402


def test_tail_leaves_ten_samples_beyond_it():
    pool = [float(i) for i in range(40)]
    value, pct, fell_back = stats.tail(pool)
    assert not fell_back
    assert sum(1 for v in pool if v > value) == 10
    assert value == 29.0
    assert pct == 75.0


def test_tail_is_highest_rank_with_ten_beyond():
    pool = [float(i) for i in range(11)]
    value, pct, fell_back = stats.tail(pool)
    assert (value, fell_back) == (0.0, False)
    assert pct == pytest.approx(100 / 11)


def test_tail_falls_back_to_max_on_small_pool():
    assert stats.tail([3.0, 1.0, 2.0]) == (3.0, 100.0, True)
    assert stats.tail([float(i) for i in range(10)]) == (9.0, 100.0, True)
    with pytest.raises(ValueError):
        stats.tail([])


def test_tail_cluster_position():
    # 11th sample from the top of a pool of separated clusters
    assert stats.tail_cluster_position(3) == 2  # middle of a 3-cluster
    assert stats.tail_cluster_position(7) == 4  # middle of a 7-cluster
    assert stats.tail_cluster_position(5) == 1  # top edge
    assert stats.tail_cluster_position(11) == 11  # bottom edge
    assert [p for p in range(2, 14) if stats.tail_inside_cluster(p)] == [3, 4, 6, 7, 8, 9, 12, 13]


def test_tail_above_median():
    # the tail is the (n - 11)-th smallest; the median's upper middle is
    # the (n // 2 + 1)-th
    assert [n for n in range(11, 25) if stats.tail_above_median(n)] == [21, 22, 23, 24]
    for n in (21, 22, 36):
        pool = [float(i) for i in range(n)]
        assert stats.tail(pool)[0] >= statistics.median(pool)
    pool = [float(i) for i in range(16)]
    assert stats.tail(pool)[0] < statistics.median(pool)


def test_tail_owner_matches_cluster_arithmetic():
    # four well-separated queries, three passes each
    samples = {f"q{k}": [10.0 * k + d for d in (0.1, 0.2, 0.3)] for k in range(4)}
    pool = [v for vals in samples.values() for v in vals]
    value, _, _ = stats.tail(pool)
    name, pos, size = stats.tail_owner(samples, value)
    # 12 samples: the tail is the 11th from the top, inside q0's cluster
    assert (name, pos, size) == ("q0", stats.tail_cluster_position(3), 3)


def test_pass_seconds_is_sum_of_per_query_medians():
    samples = {"a": [1.0, 9.0, 2.0], "b": [5.0, 4.0, 100.0]}
    assert stats.pass_seconds(samples) == 2.0 + 5.0
    # the median of pass totals would differ: totals are 6, 13, 102
    totals = [sum(p) for p in zip(*samples.values())]
    assert statistics.median(totals) == 13.0
    # a query that raised in every timed pass has no samples
    assert stats.pass_seconds({**samples, "c": []}) == 2.0 + 5.0


def test_self_time_subtracts_union_of_overlapping_children():
    # span [0, 10]; children overlap on [2, 4] and one sticks out past 10
    children = [(1.0, 4.0), (2.0, 5.0), (8.0, 12.0)]
    assert stats.self_time(0.0, 10.0, children) == pytest.approx(10 - 4 - 2)


def test_self_time_ignores_children_outside_span():
    assert stats.self_time(5.0, 6.0, [(0.0, 1.0), (7.0, 8.0)]) == 1.0
    assert stats.self_time(0.0, 4.0, [(0.0, 4.0), (1.0, 2.0)]) == 0.0


def test_quartile_spread():
    values = [float(v) for v in range(1, 11)]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    assert stats.quartile_spread(values) == (q3 - q1) / q2
