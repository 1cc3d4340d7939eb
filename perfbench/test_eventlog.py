"""Unit tests for the event-log roll-up and the BENCHMARK.json metric list.

Run from the repository root: ``python3 -m pytest perfbench -q``.
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import eventlog  # noqa: E402
import run  # noqa: E402

FIXTURE = os.path.join(HERE, "fixtures", "small_eventlog.jsonl")
SPANS = [
    {"label": "a", "t0": 100.0, "t1": 110.0},
    {"label": "b", "t0": 110.0, "t1": 114.0},
]


def test_rollup_totals_of_the_fixture():
    r = eventlog.rollup_file(FIXTURE, SPANS, cores=4)
    a, b = r.spans["a"], r.spans["b"]
    # span a: jobs 0 and 1 overlap on [103, 104]; stage 1 never ran
    assert (a.jobs, a.exec_run_s, a.shuffle_write_bytes, a.bytes_written) == (2, 5.0, 1000, 500)
    assert a.driver_gap_s == pytest.approx(10.0 - 5.0)
    assert a.util == pytest.approx(5.0 / (10.0 * 4))
    assert (b.jobs, b.exec_run_s, b.shuffle_write_bytes, b.bytes_written) == (1, 1.2, 300, 0)
    assert b.driver_gap_s == pytest.approx(4.0 - 1.5)
    assert b.util == pytest.approx(1.2 / (4.0 * 4))
    # the group-less job 3 is counted but attributed to no span
    assert (r.failed_tasks, r.jobs_total) == (1, 4)


def test_span_with_no_jobs_is_all_driver_gap():
    r = eventlog.rollup_file(FIXTURE, [{"label": "idle", "t0": 0.0, "t1": 2.0}], cores=4)
    idle = r.spans["idle"]
    assert (idle.s, idle.jobs, idle.exec_run_s, idle.driver_gap_s, idle.util) == (2.0, 0, 0.0, 2.0, 0.0)


def test_benchmark_json_lists_exactly_the_metrics_run_py_prints():
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert [m["name"] for m in bench["per_layer"]] == [m["name"] for m in run.per_layer_metrics()]
    assert [m["name"] for m in bench["end_to_end"]] == [name for name, _, _ in run.END_TO_END]
    assert [w["name"] for w in bench["workloads"]] == list(run.WORKLOADS)
