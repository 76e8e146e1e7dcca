"""Spread and drift arithmetic of the steadiness check, and the trace's
interval arithmetic, job attribution and attribute wrapping."""

from __future__ import annotations

import pytest

from perfbench import steady, trace


def test_spread_is_interquartile_range_over_median():
    assert steady.spread([10, 10, 10, 10]) == 0
    assert steady.spread([8, 9, 10, 11, 12]) == pytest.approx((11.5 - 8.5) / 10)


def test_worsening_follows_the_better_direction():
    assert steady.worsening(10, 12, "lower") == pytest.approx(0.2)
    assert steady.worsening(10, 12, "higher") == pytest.approx(-0.2)


def test_assess_flags_spread_and_drift_but_exempts_setup_spread():
    spec = [
        {"name": "wall_s", "better": "lower", "bound": 0.1},
        {"name": "setup_s", "better": "lower", "bound": 0.25},
    ]
    steady_set = {"wall_s": [10, 10, 10.1, 10, 9.9], "setup_s": [1, 2, 3, 1, 2]}
    rows = {r["metric"]: r for r in steady.assess([steady_set], spec)}
    assert rows["wall_s"]["ok"] and rows["setup_s"]["ok"]
    noisy = {"wall_s": [5, 10, 15, 20, 25], "setup_s": [1, 2, 3, 1, 2]}
    assert not {r["metric"]: r for r in steady.assess([noisy], spec)}["wall_s"]["ok"]
    slower = {"wall_s": [12, 12, 12.1, 12, 11.9], "setup_s": [1, 2, 3, 1, 2]}
    assert not {r["metric"]: r for r in steady.assess([steady_set, slower], spec)}["wall_s"]["ok"]


def test_interval_arithmetic():
    assert trace._union([(3, 4), (0, 1), (0.5, 2)]) == [(0, 2), (3, 4)]
    assert trace._minus([(0, 10)], [(2, 3), (5, 6)]) == [(0, 2), (3, 5), (6, 10)]
    assert trace._length([(0, 2), (3, 5)]) == 4


def test_span_metrics_attribute_jobs_and_self_time():
    spans = [
        trace.Span(0, "query.q", 0.0, 10.0, None, "r"),
        trace.Span(1, "operators.graph.pagerank", 1.0, 9.0, 0, "r"),
        trace.Span(2, "operators.closure.closure_roots", 2.0, 4.0, 1, "r"),
    ]
    job = dict(tasks=2, cpu=1.0, gc=0.1, run=1.5, delay=0.0, fetch=0.0, shuffle=100, spill=0)
    jobs = {
        0: dict(job, group="1", start=5.0, end=7.0),
        1: dict(job, group="2", start=2.5, end=3.0),
    }
    out = trace.span_metrics(spans, jobs)
    graph, closure = out["operators.graph"], out["operators.closure"]
    assert graph["self_s"] == pytest.approx(6.0)
    assert graph["jobs"] == 1 and graph["tasks"] == 2 and graph["shuffle_bytes"] == 100
    assert graph["driver_gap_s"] == pytest.approx(4.0)
    assert closure["self_s"] == pytest.approx(2.0) and closure["driver_gap_s"] == pytest.approx(1.5)
    assert "query" not in out
    assert trace.uncovered_share(spans, 0.0, 10.0) == pytest.approx(0.2)


def test_install_wraps_the_name_each_module_calls_and_uninstall_restores():
    from convoy_spark.operators import pq
    from convoy_spark.queries import similarity

    original = similarity.exact_l2_topk
    tracer = trace.Tracer("t")
    tracer.install({})
    try:
        assert similarity.exact_l2_topk is not original
        assert similarity.exact_l2_topk.__wrapped__ is original
        assert pq.exact_l2_topk is similarity.exact_l2_topk
    finally:
        tracer.uninstall()
    assert similarity.exact_l2_topk is original and pq.exact_l2_topk is original
