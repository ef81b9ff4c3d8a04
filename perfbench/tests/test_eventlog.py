"""The event-log folder on a small recorded Spark 4.1 log: two jobs under
job group ``grpA`` (a two-stage aggregate; the second job reuses the
first one's shuffle stage) and one streaming micro-batch job whose group
is the query's run id. Bulky fields were trimmed from the recording."""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import tracing  # noqa: E402

LOG = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "events_small.jsonl")
STREAM_RUN = "6b6c9f0c-04ce-4840-a221-a0a8ef3c3e08"


def _lines():
    with open(LOG) as f:
        return f.read().splitlines()


def _task_sum(stage_ids, key):
    total = 0
    for line in _lines():
        e = json.loads(line)
        if e["Event"] == "SparkListenerTaskEnd" and e["Stage ID"] in stage_ids:
            total += e["Task Metrics"][key]
    return total


def test_jobs_groups_and_task_metrics():
    jobs = tracing.fold_event_log(_lines())
    assert [j["job"] for j in jobs] == [0, 1, 2]
    assert [j["group"] for j in jobs] == ["grpA", "grpA", STREAM_RUN]
    assert all(j["ok"] for j in jobs)
    # job 1 lists stages 1 and 2, but stage 1 was skipped: only stage 2 ran
    assert [j["stages"] for j in jobs] == [1, 1, 1]
    assert [j["tasks"] for j in jobs] == [4, 1, 8]
    assert jobs[0]["exec_run_s"] == pytest.approx(_task_sum({0}, "Executor Run Time") / 1e3)
    assert jobs[0]["exec_cpu_s"] == pytest.approx(_task_sum({0}, "Executor CPU Time") / 1e9)
    assert jobs[2]["exec_run_s"] == pytest.approx(_task_sum({3, 4}, "Executor Run Time") / 1e3)
    # job 0 writes the shuffle that job 1 reads
    assert jobs[0]["shuffle_write_mb"] > 0
    assert jobs[1]["shuffle_read_mb"] == pytest.approx(jobs[0]["shuffle_write_mb"])
    assert sum(j["task_failures"] for j in jobs) == 0
    for j in jobs:
        assert 0 <= j["sched_wait_s"] < j["end"] - j["submit"] + 1


def test_failed_and_retried_attempts_count():
    lines = _lines()
    task = next(json.loads(x) for x in lines if '"SparkListenerTaskEnd"' in x)
    failed = dict(task, **{"Task End Reason": {"Reason": "ExceptionFailure"}})
    retried = json.loads(json.dumps(task))
    retried["Task Info"]["Attempt"] = 1
    jobs = tracing.fold_event_log(lines + [json.dumps(failed), json.dumps(retried)])
    assert jobs[0]["task_failures"] == 2
    assert jobs[0]["tasks"] == 6


def test_spans_claim_jobs_by_group_then_by_time():
    jobs = tracing.fold_event_log(_lines())
    t0 = jobs[0]["submit"]
    span_a = {"name": "a", "group": "grpA", "start": t0 + 100, "end": t0 + 101}
    assert [j["job"] for j in tracing.jobs_in(jobs, [span_a])] == [0, 1]
    stream_span = {"name": "s", "group": "p0:s",
                   "start": jobs[2]["submit"] - 0.5, "end": jobs[2]["end"] + 0.5}
    assert [j["job"] for j in tracing.jobs_in(jobs, [stream_span])] == [2]


def test_busy_time_and_driver_time():
    jobs = [{"submit": 0.0, "end": 2.0}, {"submit": 1.0, "end": 3.0},
            {"submit": 5.0, "end": 6.0}]
    assert tracing.busy_s(jobs, 0.0, 10.0) == pytest.approx(4.0)
    assert tracing.busy_s(jobs, 2.5, 5.5) == pytest.approx(1.0)
    real = tracing.fold_event_log(_lines())
    start, end = real[0]["submit"] - 1.0, real[-1]["end"] + 1.0
    m = tracing.engine_metrics(real, start, end)
    assert m["engine.jobs"] == 3 and m["engine.tasks"] == 13
    busy = sum(j["end"] - j["submit"] for j in real)  # the three jobs do not overlap
    assert m["engine.driver_s"] == pytest.approx(end - start - busy)


def test_event_log_files_reads_a_rolling_directory(tmp_path):
    d = tmp_path / "eventlog_v2_local-1"
    d.mkdir()
    lines = _lines()
    (d / "events_2_local-1").write_text("\n".join(lines[10:]) + "\n")
    (d / "events_1_local-1").write_text("\n".join(lines[:10]) + "\n")
    jobs = tracing.read_event_log(str(tmp_path))
    assert [j["tasks"] for j in jobs] == [4, 1, 8]


def test_self_times_subtract_direct_children():
    spans = [
        {"name": "outer", "start": 0.0, "end": 10.0},
        {"name": "child", "start": 1.0, "end": 4.0},
        {"name": "grandchild", "start": 2.0, "end": 3.0},
        {"name": "child", "start": 5.0, "end": 6.0},
    ]
    st = tracing.self_times(spans)
    assert st == pytest.approx({"outer": 6.0, "child": 3.0, "grandchild": 1.0})
