"""Spark-free tests of the benchmark's own arithmetic.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import harness  # noqa: E402


def test_tail_keeps_ten_samples_beyond():
    values = [float(i) for i in range(1, 101)]      # 1..100
    tail = harness.tail_percentile(values)
    assert (tail.pct, tail.value, tail.samples, tail.beyond) == (90, 90.0, 100, 10)


def test_tail_with_few_samples_falls_to_a_low_percentile():
    values = [float(i) for i in range(1, 31)]       # 30 samples
    tail = harness.tail_percentile(values)
    assert tail.beyond >= harness.TAIL_MIN_BEYOND
    assert tail.samples == 30
    # one percentile higher would leave fewer than ten beyond
    _, beyond = harness.nearest_rank(sorted(values), tail.pct + 1)
    assert beyond < harness.TAIL_MIN_BEYOND
    assert tail.value == 20.0


def test_tail_ignores_input_order():
    values = [5.0, 1.0, 9.0, 3.0, 7.0, 2.0, 8.0, 4.0, 6.0, 10.0, 11.0, 12.0]
    assert harness.tail_percentile(values) == harness.tail_percentile(sorted(values))


def test_tail_refuses_ten_or_fewer_samples():
    with pytest.raises(ValueError):
        harness.tail_percentile([1.0] * 10)
    assert harness.tail_percentile([1.0] * 11).beyond == 10


def test_median_of_passes():
    assert harness.median([3.0, 1.0, 2.0]) == 2.0
    assert harness.median([4.0, 1.0, 3.0, 2.0]) == 2.5
    assert harness.median([7.25]) == 7.25
    with pytest.raises(ValueError):
        harness.median([])


def test_failure_counting():
    t = harness.Tally(keep=2)
    t.ok()
    t.fail("a: raised")
    t.ok()
    t.fail("b: wrong output")
    t.fail("c: raised")
    assert (t.attempted, t.failed) == (5, 3)
    assert t.reasons == ["a: raised", "b: wrong output"]


@pytest.mark.parametrize("name", ["setup_s", "pass_s", "spark.jobs",
                                  "shuffle.read_mb", "a-b_c.9", "9lives",
                                  "x" * 64])
def test_valid_metric_names(name):
    assert harness.valid_metric_name(name)


@pytest.mark.parametrize("name", ["", "_setup", ".jobs", "-x", "pass s",
                                  "p/s", "lat(ms)", "x" * 65, "naïve"])
def test_invalid_metric_names(name):
    assert not harness.valid_metric_name(name)


def test_result_line_shape():
    t = harness.Tally()
    t.ok()
    t.ok()
    t.fail("q: raised")
    line = json.loads(harness.result_line(t, {"pass_s": (1.5, "s"),
                                              "spark.jobs": (12, "count")}))
    assert line == {"correct": False, "attempted": 3, "failed": 1,
                    "metrics": {"pass_s": {"value": 1.5, "unit": "s"},
                                "spark.jobs": {"value": 12, "unit": "count"}}}


def test_result_line_rejects_bad_input():
    t = harness.Tally()
    with pytest.raises(ValueError):
        harness.result_line(t, {"pass_s": (1.0, "s")})       # nothing attempted
    t.ok()
    with pytest.raises(ValueError):
        harness.result_line(t, {"pass s": (1.0, "s")})
    with pytest.raises(ValueError):
        harness.result_line(t, {"pass_s": (float("nan"), "s")})
    with pytest.raises(ValueError):
        harness.result_line(t, {"pass_s": (1.0, "seconds and more")})


def test_declared_metrics_match_what_the_run_prints():
    import run

    root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        declared = json.load(f)
    for group in ("end_to_end", "per_layer"):
        for m in declared[group]:
            assert harness.valid_metric_name(m["name"]), m
            assert harness.valid_unit(m["unit"]), m
            assert run.METRIC_UNITS[m["name"]] == m["unit"], m
    names = {m["name"] for g in ("end_to_end", "per_layer") for m in declared[g]}
    assert names == set(run.METRIC_UNITS)
    assert {w["name"] for w in declared["workloads"]} <= set(run.workloads.WORKLOADS)
