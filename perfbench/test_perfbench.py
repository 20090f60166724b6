"""Tests of the benchmark's own arithmetic and of what it prints.

    python3 -m pytest perfbench -q

None of them starts Spark.
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import stats  # noqa: E402
from run import END_TO_END_UNITS, PER_LAYER_UNITS, report_lines  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as _f:
    BENCHMARK = json.load(_f)


# ------------------------------------------------------------------ tail rule

def test_tail_has_exactly_ten_samples_beyond_it():
    values = [float(v) for v in range(1, 41)]  # 1..40, shuffled below
    values = values[::3] + values[1::3] + values[2::3]
    value, pct, n = stats.tail(values)
    assert value == 30.0
    assert sum(1 for v in values if v > value) == 10
    assert pct == 75.0 and n == 40


def test_tail_with_eleven_samples_is_the_minimum():
    value, pct, n = stats.tail([5.0, 1.0, 9.0, 2.0, 8.0, 3.0, 7.0, 4.0, 6.0, 10.0, 11.0])
    assert (value, n) == (1.0, 11)
    assert pct == pytest.approx(100.0 / 11)


def test_tail_needs_more_samples_than_it_leaves_beyond():
    with pytest.raises(ValueError):
        stats.tail([1.0] * 10)


def test_tail_counts_ties_as_samples():
    value, _, _ = stats.tail([1.0] * 15 + [2.0] * 10)
    assert value == 1.0


# ------------------------------------------------------------------ self time

def _span(i, parent, layer, start, end):
    return {"id": i, "parent": parent, "layer": layer, "start": start, "end": end}


def test_self_time_subtracts_direct_children_only():
    spans = [
        _span(0, None, "bench", 0.0, 10.0),
        _span(1, 0, "queries", 1.0, 4.0),
        _span(2, 1, "streaming", 2.0, 3.0),
        _span(3, 0, "operators", 5.0, 9.0),
    ]
    st = stats.self_times(spans)
    assert st["bench"] == pytest.approx(10.0 - 3.0 - 4.0)
    assert st["queries"] == pytest.approx(3.0 - 1.0)
    assert st["streaming"] == pytest.approx(1.0)
    assert st["operators"] == pytest.approx(4.0)
    assert sum(st.values()) == pytest.approx(10.0)


def test_self_time_counts_overlapping_children_once_and_clips_them():
    spans = [
        _span(0, None, "bench", 0.0, 10.0),
        _span(1, 0, "a", 2.0, 6.0),
        _span(2, 0, "b", 4.0, 8.0),  # overlaps a by 2 s
        _span(3, 0, "c", 9.0, 12.0),  # runs past its parent's end
    ]
    st = stats.self_times(spans)
    assert st["bench"] == pytest.approx(10.0 - 6.0 - 1.0)


def test_self_time_sums_per_layer():
    spans = [
        _span(0, None, "bench", 0.0, 4.0),
        _span(1, 0, "plans", 0.0, 1.0),
        _span(2, 0, "plans", 2.0, 3.0),
    ]
    assert stats.self_times(spans) == {"bench": pytest.approx(2.0), "plans": pytest.approx(2.0)}


# --------------------------------------------------- output vs BENCHMARK.json

def _declared(kind):
    return {m["name"]: m["unit"] for m in BENCHMARK[kind]}


def test_metric_tables_match_benchmark_json():
    assert _declared("end_to_end") == END_TO_END_UNITS
    assert _declared("per_layer") == PER_LAYER_UNITS
    assert [w["name"] for w in BENCHMARK["workloads"]] == list(WORKLOADS)


def _fake_outputs():
    metrics = {name: 1.5 for name in END_TO_END_UNITS}
    env = {"query_tail": {"percentile": 80.0, "samples": 50}}
    report = {"layers": {name: 2.5 for name in PER_LAYER_UNITS}}
    return metrics, env, report


@pytest.mark.parametrize("trace", [False, True])
def test_every_printed_metric_is_declared(trace):
    metrics, env, report = _fake_outputs()
    lines = report_lines(metrics, env, report, [], 7, trace)
    declared = _declared("end_to_end") | _declared("per_layer")
    printed = [ln.split(" = ")[0] for ln in lines[:-1] if " = " in ln]
    assert printed and set(printed) <= set(declared)
    for ln in lines[:-1]:
        if " = " in ln:
            name, rest = ln.split(" = ")
            assert rest.split()[1] == declared[name]
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    want = _declared("per_layer" if trace else "end_to_end")
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want


def test_failures_are_reported_by_query_name():
    metrics, env, report = _fake_outputs()
    failures = [("cold", "agg_q1", "result differs from oracle")]
    lines = report_lines(metrics, env, report, failures, 3, False)
    assert "FAILED agg_q1 (cold): result differs from oracle" in lines
    result = json.loads(lines[-1])
    assert result["correct"] is False and result["failed"] == 1 and result["attempted"] == 3
