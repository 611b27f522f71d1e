"""The benchmark's event-log reader, on a tiny committed log.

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
The log (data/eventlog.json) and its Python-measured iteration window
(data/window.json) come from make_eventlog.py.
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from eventlog import JOIN_NODE, Log, union_ms, window_summary  # noqa: E402


@pytest.fixture(scope="module")
def log():
    return Log(os.path.join(HERE, "data", "eventlog.json"))


@pytest.fixture(scope="module")
def window():
    with open(os.path.join(HERE, "data", "window.json")) as f:
        return json.load(f)


def test_union_of_spans():
    assert union_ms([]) == 0
    assert union_ms([(0, 10), (5, 15), (20, 30)]) == 25
    assert union_ms([(20, 30), (0, 40)]) == 40


def test_stage_spans_plus_driver_gap_match_wall(log, window):
    s = window_summary(log, window["tag"], window["start"], window["end"])
    wall = window["end"] - window["start"]
    assert s["jobs"] >= 2 and s["stages"] >= 3 and s["tasks"] >= s["stages"]
    assert s["span_s"] > 0 and s["log_gap_s"] >= 0
    # the driver gap read from the log alone (SQL execution and job
    # times), plus the stage spans, accounts for the Python-measured
    # wall within 5%, and by the same clock never exceeds it
    assert abs(s["span_s"] + s["log_gap_s"] - wall) <= 0.05 * wall
    assert s["span_s"] + s["log_gap_s"] <= wall


def test_window_catches_jobs_from_untagged_threads(log, window):
    tagged = [j for j in log.jobs.values() if window["tag"] in j.tags]
    in_window = log.jobs_for(window["tag"], [(window["start"], window["end"])])
    assert tagged and len(in_window) > len(tagged)


def test_join_rows_from_sql_metrics(log, window):
    jobs = log.jobs_for(window["tag"], [(window["start"], window["end"])])
    assert log.plan_metric(jobs, "number of output rows", JOIN_NODE) == [window["join_rows"]]


def test_task_metrics_are_read(log, window):
    s = window_summary(log, window["tag"], window["start"], window["end"])
    assert s["shuffle_write_bytes"] > 0 and s["shuffle_read_bytes"] > 0
    assert s["executor_run_s"] >= 0 and s["task_skew"] >= 1.0
