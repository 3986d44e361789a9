"""The event-log parser on a small recorded log (see record_eventlog.py):
a JVM aggregate written to parquet, a pandas UDF, and a driver-side
sleep between two tiny jobs, each under its own job group.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os

import pytest

from perfbench import eventlog

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")


@pytest.fixture(scope="module")
def log() -> eventlog.EventLog:
    return eventlog.parse(os.path.join(DATA, "eventlog.jsonl"))


@pytest.fixture(scope="module")
def spans() -> dict:
    with open(os.path.join(DATA, "spans.json")) as f:
        return json.load(f)


def _span(log, spans, group):
    jobs = [j for j in log.jobs.values() if j.group == group]
    return jobs, eventlog.summarize(jobs, spans["walls_s"][group])


def test_jvm_aggregate(log, spans):
    jobs, s = _span(log, spans, "jvm_agg")
    # map stage, then the reduce stage that writes, as two AQE jobs
    assert s["jobs"] == 2
    assert s["tasks"] == 3
    assert s["python_jobs"] == 0
    assert s["shuffle_bytes"] > 0
    assert {log.output_of(j) for j in jobs} == {"agg"}


def test_pandas_udf(log, spans):
    jobs, s = _span(log, spans, "pandas_udf")
    assert s["jobs"] == 1
    assert s["tasks"] == 2
    assert s["python_jobs"] == 1
    assert s["shuffle_bytes"] == 0
    assert [log.output_of(j) for j in jobs] == [None]


def test_driver_sleep_is_driver_time(log, spans):
    jobs, s = _span(log, spans, "sleep")
    assert s["jobs"] == 2
    assert s["python_jobs"] == 0
    # the sleep ran between the two jobs, so no job covers it
    assert s["driver_s"] >= spans["sleep_s"]
    assert s["driver_s"] <= spans["walls_s"]["sleep"]
    assert eventlog.covered_ms(jobs) / 1e3 + s["driver_s"] == pytest.approx(
        spans["walls_s"]["sleep"]
    )


def test_every_task_is_counted_once(log):
    assert sum(j.tasks for j in log.jobs.values()) == 7
    assert all(j.end_ms is not None and j.end_ms >= j.start_ms for j in log.jobs.values())


def test_covered_ms_merges_overlaps():
    jobs = [
        eventlog.Job(0, "g", None, start_ms=0, end_ms=10),
        eventlog.Job(1, "g", None, start_ms=5, end_ms=20),
        eventlog.Job(2, "g", None, start_ms=30, end_ms=35),
    ]
    assert eventlog.covered_ms(jobs) == 25
