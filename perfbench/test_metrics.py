"""Spark-free checks of the benchmark's metric arithmetic.

    python3 -m pytest perfbench/test_metrics.py -q
"""

from __future__ import annotations

import statistics

import pytest

import metrics
from metrics import Span


def test_quantile_matches_linear_interpolation():
    values = [5.0, 1.0, 4.0, 2.0, 3.0]
    assert metrics.quantile(values, 0.5) == 3.0
    assert metrics.quantile(values, 0.0) == 1.0
    assert metrics.quantile(values, 1.0) == 5.0
    assert metrics.quantile(values, 0.9) == pytest.approx(4.6)
    # the inclusive method of the statistics module is the same rule
    data = [0.3, 1.7, 0.9, 2.2, 1.1, 0.4, 5.0, 0.8]
    q1, q2, q3 = statistics.quantiles(data, n=4, method="inclusive")
    assert metrics.quantile(data, 0.25) == pytest.approx(q1)
    assert metrics.quantile(data, 0.5) == pytest.approx(q2)
    assert metrics.quantile(data, 0.75) == pytest.approx(q3)


def test_quantile_of_nothing_raises():
    with pytest.raises(ValueError):
        metrics.quantile([], 0.5)


def test_latency_summary_states_sample_count():
    lat = [float(i) for i in range(1, 21)]  # 1..20
    s = metrics.latency_summary(lat)
    assert s["n"] == 20
    assert s["p50"] == pytest.approx(10.5)
    assert s["p90"] == pytest.approx(18.1)
    assert s["above_p90"] == 2  # 19 and 20


def test_covered_merges_overlaps_and_clips():
    assert metrics.covered([], 0, 10) == 0
    assert metrics.covered([(1, 3), (2, 5), (7, 8)], 0, 10) == pytest.approx(5.0)
    # intervals sticking out of the window count only inside it
    assert metrics.covered([(-5, 2), (9, 20)], 0, 10) == pytest.approx(3.0)
    assert metrics.covered([(11, 12)], 0, 10) == 0


def test_self_time_subtracts_direct_children_only():
    spans = [
        Span(0, "query", 0.0, 10.0, None, 1),
        Span(1, "queries.build", 0.0, 6.0, 0, 1),
        Span(2, "catalog.load", 1.0, 2.0, 1, 1),
        Span(3, "stage.stage_frame", 3.0, 5.0, 1, 1),
        Span(4, "catalog.load", 4.0, 4.5, 3, 1),  # nested inside the stage span
        Span(5, "queries.exec", 6.0, 9.0, 0, 1),
    ]
    st = metrics.self_times(spans)
    assert st["query"] == pytest.approx(1.0)  # 10 - build 6 - exec 3
    assert st["queries.build"] == pytest.approx(3.0)  # 6 - load 1 - stage 2
    assert st["stage.stage_frame"] == pytest.approx(1.5)  # 2 - nested load 0.5
    assert st["catalog.load"] == pytest.approx(1.5)  # 1 + 0.5, summed by name
    assert st["queries.exec"] == pytest.approx(3.0)
    # self times of a span tree add up to the root's wall
    assert sum(st.values()) == pytest.approx(10.0)


def test_self_time_counts_overlapping_children_once():
    spans = [
        Span(0, "query", 0.0, 4.0, None, 7),
        Span(1, "a", 0.0, 3.0, 0, 7),
        Span(2, "b", 2.0, 4.0, 0, 7),
    ]
    assert metrics.self_times(spans)["query"] == pytest.approx(0.0)


def test_job_range_attribution():
    # jobs 5..8 were allocated while the query ran (batch jobs and the
    # stream's micro-batch jobs alike)
    assert list(metrics.job_ids_between(5, 9)) == [5, 6, 7, 8]
    assert list(metrics.job_ids_between(9, 9)) == []
    with pytest.raises(ValueError):
        metrics.job_ids_between(9, 5)


def test_core_busy_ratio():
    assert metrics.core_busy_ratio(task_run_s=8.0, wall_s=4.0, cores=4) == pytest.approx(0.5)
    with pytest.raises(ValueError):
        metrics.core_busy_ratio(1.0, 0.0, 4)


def test_block_rate_is_the_median_block():
    # blocks of two after start=10 end at 12 (2/2 s), 16 (2/4 s) and
    # 17 (2/1 s); 19.0 is a partial block and is dropped
    ends = [17.0, 11.0, 19.0, 12.0, 14.0, 16.0, 16.5]
    assert metrics.block_rate(ends, 10.0, 2) == pytest.approx(1.0)
    assert metrics.block_rate([12.0], 10.0, 1) == pytest.approx(0.5)
    with pytest.raises(ValueError):
        metrics.block_rate([11.0], 10.0, 2)


def test_overhead_ratio_matches_queries_by_name():
    traced = [("a", 1.1), ("a", 1.3), ("a", 1.2), ("b", 4.0), ("c", 9.0)]
    untraced = [("a", 1.0), ("b", 2.0), ("b", 5.0)]
    # a: 1.2 / 1.0, b: 4.0 / 3.5; c has no untraced sample
    assert metrics.overhead_ratio(traced, untraced) == pytest.approx((1.2 + 4.0 / 3.5) / 2 - 1)
    assert metrics.overhead_ratio([("a", 1.0)], [("b", 1.0)]) == 0.0
