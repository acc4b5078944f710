"""Tests for the benchmark's own arithmetic; no Spark session needed.

Run from the repository root: ``python -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

import stats  # noqa: E402


def span(sid, parent, start, end, job_lo=0, job_hi=0, layer="x"):
    return {
        "id": sid, "parent": parent, "layer": layer, "start": start,
        "end": end, "job_lo": job_lo, "job_hi": job_hi,
    }


# -- percentiles -------------------------------------------------------------


def test_percentile_is_nearest_rank():
    values = [float(v) for v in range(1, 101)]
    assert stats.percentile(values, 50) == 50.0
    assert stats.percentile(values, 90) == 90.0
    assert stats.percentile(values, 100) == 100.0
    assert stats.percentile([3.0, 1.0, 2.0], 50) == 2.0


def test_percentile_of_nothing_raises():
    with pytest.raises(ValueError):
        stats.percentile([], 50)


def test_tail_percentile_needs_ten_samples_beyond_it():
    assert stats.tail_percentile(99) is None
    assert stats.tail_percentile(100) == 90.0
    # exactly ten of 100 samples lie above the 90th by nearest rank
    values = list(range(100))
    p90 = stats.percentile(values, 90)
    assert sum(v > p90 for v in values) == 10
    assert stats.tail_percentile(999) == 90.0
    assert stats.tail_percentile(1000) == 99.0
    assert stats.tail_percentile(10_000) == 99.9


def test_quartile_spread_matches_statistics_quantiles():
    values = [10.0, 11.0, 12.0, 13.0, 14.0, 15.0, 16.0, 17.0, 18.0, 19.0]
    q1, q2, q3 = 11.75, 14.5, 17.25  # the 'exclusive' method
    assert stats.quartile_spread(values) == pytest.approx((q3 - q1) / q2)


# -- spans -------------------------------------------------------------------


def test_self_time_subtracts_children():
    spans = [
        span(1, None, 0.0, 10.0),
        span(2, 1, 1.0, 3.0),
        span(3, 1, 5.0, 6.0),
        span(4, 2, 1.5, 2.0),
    ]
    got = stats.self_times(spans)
    assert got[1] == pytest.approx(7.0)
    assert got[2] == pytest.approx(1.5)
    assert got[3] == pytest.approx(1.0)
    assert got[4] == pytest.approx(0.5)


def test_self_time_counts_overlapping_children_once():
    # two children on different threads overlap in [2, 3]
    spans = [span(1, None, 0.0, 10.0), span(2, 1, 1.0, 3.0), span(3, 1, 2.0, 4.0)]
    assert stats.self_times(spans)[1] == pytest.approx(7.0)


def test_self_time_clips_children_to_the_parent():
    spans = [span(1, None, 0.0, 2.0), span(2, 1, 1.0, 5.0)]
    assert stats.self_times(spans)[1] == pytest.approx(1.0)


# -- job attribution ---------------------------------------------------------


def test_jobs_go_to_the_innermost_span_by_id_range():
    spans = [
        span(1, None, 0, 10, job_lo=0, job_hi=10),   # builder
        span(2, 1, 1, 2, job_lo=0, job_hi=2),        # load_table
        span(3, 1, 3, 6, job_lo=4, job_hi=9),        # gate-and-fold
        span(4, 3, 4, 5, job_lo=5, job_hi=7),        # fs call inside it
        span(5, None, 10, 11, job_lo=10, job_hi=12),  # noop write
    ]
    got = stats.attribute_jobs(spans, list(range(13)))
    assert got == {2: [0, 1], 1: [2, 3, 9], 3: [4, 7, 8], 4: [5, 6], 5: [10, 11]}


def test_a_span_that_launched_no_job_takes_none():
    # an empty child range [3, 3) holds no job; the parent keeps job 3
    spans = [span(1, None, 0, 5, 2, 5), span(2, 1, 1, 2, 3, 3)]
    assert stats.attribute_jobs(spans, [2, 3, 4]) == {1: [2, 3, 4]}


def test_equal_ranges_go_to_the_deeper_span():
    spans = [span(1, None, 0, 5, 0, 3), span(2, 1, 1, 4, 0, 3)]
    assert stats.attribute_jobs(spans, [0, 1, 2]) == {2: [0, 1, 2]}


# -- failures ----------------------------------------------------------------


def test_failed_ratio():
    assert stats.failed_ratio(0, 32) == 0.0
    assert stats.failed_ratio(4, 16) == 0.25
    with pytest.raises(ValueError):
        stats.failed_ratio(0, 0)
    with pytest.raises(ValueError):
        stats.failed_ratio(5, 4)


# -- suspect rule ------------------------------------------------------------


def test_clean_run_is_not_suspect():
    assert stats.suspect_reasons(1.0, 3.9, 4, [0.40, 0.55, 0.30], 0.05) == []


def test_load_above_core_count_is_suspect():
    assert len(stats.suspect_reasons(4.5, 1.0, 4, [0.4, 0.4, 0.4], 0.0)) == 1
    assert len(stats.suspect_reasons(1.0, 4.01, 4, [0.4, 0.4, 0.4], 0.0)) == 1


def test_control_drift_beyond_one_and_a_half_is_suspect():
    assert stats.suspect_reasons(1.0, 1.0, 4, [0.4, 0.6, 0.4], 0.0) == []
    assert len(stats.suspect_reasons(1.0, 1.0, 4, [0.4, 0.61, 0.4], 0.0)) == 1
    # faster by more than 1.5x is drift too
    assert len(stats.suspect_reasons(1.0, 1.0, 4, [0.4, 0.4, 0.26], 0.0)) == 1


def test_host_steal_above_five_percent_is_suspect():
    assert len(stats.suspect_reasons(1.0, 1.0, 4, [0.4, 0.4, 0.4], 0.051)) == 1


# -- per-layer sums ----------------------------------------------------------


def _stage(run_ms, tasks=1):
    return {
        "run_ms": run_ms, "cpu_ms": run_ms / 2, "gc_ms": 1, "shuffle_read": 0,
        "shuffle_write": 0, "spill": 0, "input": 100, "failed_tasks": 0,
        "tasks": tasks, "executed": True,
    }


def test_pass_layers_split_a_call_into_its_layers():
    call = {
        "spans": [
            span(1, None, 0.0, 3.0, 0, 3, layer="queries.build"),
            span(2, 1, 0.0, 1.0, 0, 1, layer="tables"),
            span(3, 1, 1.0, 2.0, 1, 2, layer="queries.cut"),
            span(4, None, 3.0, 3.1, 3, 3, layer="action.plan"),
            span(5, None, 3.1, 4.0, 3, 4, layer="action.write"),
        ],
        "jobs": [
            {"id": i, "submit_ms": 1000 * i, "end_ms": 1000 * i + 500, "stages": [i]}
            for i in range(4)
        ],
        "stages": {0: _stage(100), 1: _stage(200), 2: _stage(300), 3: _stage(400, tasks=4)},
        "triggers": [],
    }
    got = stats.pass_layers([call, call], cores=4)
    assert got["tables.load_calls"] == 2
    assert got["tables.load_s"] == pytest.approx(2.0)
    assert got["tables.load_jobs"] == 2
    assert got["queries.build_s"] == pytest.approx(4.0)  # 2 x (3 s - 1 s of loads)
    assert got["queries.build_jobs"] == 4
    assert got["queries.cut_calls"] == 2
    assert got["action.jobs"] == 2
    assert got["action.tasks"] == 8
    assert got["spark.executor_run_ms"] == 2000
    # 2000 ms of executor time over 8 jobs x 500 ms of wall on 4 cores
    assert got["spark.busy_ratio"] == pytest.approx(2000 / (4000 * 4))
    assert got["streaming.triggers"] == 0
    assert got["streaming.jobs_per_trigger"] == 0.0


def test_benchmark_json_lists_the_metrics_a_traced_run_prints():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    listed = {m["name"]: m["unit"] for m in bench["per_layer"]}
    printed = {"session.start_s": "s", "session.warm_s": "s"}
    printed.update(stats.LAYER_METRICS)
    printed.update({"trace.pass_s": "s", "trace.overhead": "ratio",
                    "trace.jobs_per_call_delta": "count"})
    assert listed == printed
