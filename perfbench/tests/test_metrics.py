"""The benchmark's own metric code on synthetic inputs (no Spark):

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import statistics

import pytest

from perfbench.metrics import (
    OpLog,
    Span,
    StageStat,
    covered,
    error_rate,
    interval_union,
    layer_metrics,
    percentile,
    repeat_share,
    reportable,
    self_sum_error,
    self_times,
    spark_metrics,
)


def _stage(job, start, end, run_s=1.0):
    return StageStat(job, 4, run_s, run_s / 2, 0.1, 1 << 20, 0, start, end)


def test_percentile_rule_needs_ten_samples_beyond():
    assert not reportable(99, 90)
    assert reportable(100, 90)
    assert not reportable(999, 99)
    assert reportable(1000, 99)
    assert reportable(20, 50)
    assert not reportable(19, 50)
    assert reportable(40, 75)


def test_percentile_matches_statistics_inclusive_quantiles():
    xs = [0.3, 0.1, 0.9, 0.5, 0.7, 0.2, 0.8, 0.4, 0.6, 1.0, 0.05]
    q = statistics.quantiles(xs, n=10, method="inclusive")
    assert percentile(xs, 90) == pytest.approx(q[8])
    assert percentile(xs, 50) == pytest.approx(statistics.median(xs))
    assert percentile([2.0], 90) == 2.0


def test_interval_union_merges_overlap_and_touching():
    assert interval_union([(5, 6), (0, 2), (1, 3), (3, 4), (7, 7)]) == [(0, 4), (5, 6)]
    assert interval_union([]) == []


def test_covered_clips_to_window():
    ivs = [(0, 2), (1, 3), (8, 12)]
    assert covered((0, 10), ivs) == pytest.approx(5.0)
    assert covered((2.5, 9), ivs) == pytest.approx(1.5)
    assert covered((4, 7), ivs) == 0.0


def test_self_time_subtracts_union_of_children():
    spans = [
        Span(1, "bench", 0.0, 10.0, None, 1),
        Span(2, "catalog", 1.0, 2.0, 1, 1),
        Span(3, "functions.dedup", 3.0, 7.0, 1, 1),
        Span(4, "action", 4.0, 6.0, 3, 1),
        Span(5, "operators", 4.5, 5.0, 4, 1),
    ]
    st = self_times(spans)
    assert st == pytest.approx({1: 5.0, 2: 1.0, 3: 2.0, 4: 1.5, 5: 0.5})
    assert sum(st.values()) == pytest.approx(10.0)
    assert self_sum_error(spans) == pytest.approx(0.0, abs=1e-12)


def test_error_rate_counts_raised_and_wrong_alike():
    log = OpLog()
    log.record(0.5, None)
    log.record(0.7, "Traceback ...: ValueError")
    log.record(0.6, "3 rows differ")
    log.record(0.4, None)
    assert (log.attempted, log.failed) == (4, 2)
    assert error_rate(log.attempted, log.failed) == 0.5
    assert error_rate(3, 0) == 0.0
    with pytest.raises(ValueError):
        error_rate(0, 0)
    with pytest.raises(ValueError):
        error_rate(2, 3)


def test_layer_metrics_attribute_jobs_to_innermost_span():
    spans = [
        Span(1, "bench", 0.0, 4.0, None, 1),
        Span(2, "ordering", 0.0, 1.0, 1, 1),
        Span(3, "action", 1.0, 4.0, 1, 1),
        Span(4, "bench", 0.0, 2.0, None, 2),
        Span(5, "action", 0.5, 2.0, 4, 2),
        Span(6, "session", -5.0, -3.0, None, None),
    ]
    span_jobs = {2: [10, 11], 3: [12], 5: [13]}
    stages = {
        100: _stage(10, 0.1, 0.4),
        101: _stage(11, 0.5, 0.9),
        102: _stage(12, 1.5, 3.0, run_s=2.0),
        103: _stage(13, 1.0, 1.5),
    }
    m = layer_metrics(spans, span_jobs, stages, n_ops=2)
    assert m["ordering.calls"] == 0.5
    assert m["ordering.jobs"] == 1.0
    assert m["ordering.task_s"] == pytest.approx(1.0)
    assert m["action.jobs"] == 1.0
    assert m["action.task_s"] == pytest.approx(1.5)
    assert m["bench.self_s"] == pytest.approx((0.0 + 0.5) / 2)
    assert m["session.calls"] == 1.0
    assert m["session.self_s"] == pytest.approx(2.0)
    total_self = sum(v for k, v in m.items() if k.endswith(".self_s") and not k.startswith("session"))
    assert total_self == pytest.approx((4.0 + 2.0) / 2)

    s = spark_metrics(spans, span_jobs, stages, window_s=4.0, nproc=4)
    assert s["spark.jobs_per_op"] == 2.0
    assert s["spark.stages_per_op"] == 2.0
    assert s["spark.core_util"] == pytest.approx(5.0 / 16.0)
    # op 1 runs stages over [0.1,0.4]+[0.5,0.9]+[1.5,3.0], 2.2 s of its
    # 4 s; op 2 over [1.0,1.5], 0.5 s of its 2 s. Idle 1.8 + 1.5 of 6 s.
    assert s["spark.uncovered_share"] == pytest.approx((1.8 + 1.5) / 6.0)


def test_uncovered_share_ignores_other_operations_stages():
    spans = [Span(1, "bench", 0.0, 2.0, None, 1), Span(2, "bench", 0.0, 2.0, None, 2)]
    stages = {1: _stage(7, 0.0, 2.0)}
    s = spark_metrics(spans, {1: [7]}, stages, window_s=2.0, nproc=4)
    assert s["spark.uncovered_share"] == pytest.approx(0.5)


def test_repeat_share_counts_only_requests_completed_before_sending():
    events = [
        (0.0, 2.0, "a"),  # first a
        (1.0, 3.0, "a"),  # a is still running: not a repeat
        (2.0, 4.0, "a"),  # the first a completed at 2.0: a repeat
        (0.5, 1.0, "w"),  # completed in the warm-up: a repeat
        (0.0, 1.0, "b"),
    ]
    assert repeat_share(events, prior={"w"}) == pytest.approx(2 / 5)
    assert repeat_share(events[:1], prior=()) == 0.0
    with pytest.raises(ValueError):
        repeat_share([], prior=())
