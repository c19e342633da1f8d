"""Unit tests of the event-log parser and the layer rollup.

``data/recorded_eventlog.jsonl`` is cut from the event log of a traced
``stream_ingest`` run: every record of one timed ``events_cms_streamed``
call (its jobs, their tasks and its stream's listener events).
``data/recorded_spans.json`` holds that call's span and its build and exec
children.
"""

from __future__ import annotations

import json
from pathlib import Path

import pytest

from perfbench.eventlog import (
    EV_JOB_START,
    EV_QUERY_PROGRESS,
    EV_QUERY_STARTED,
    EV_TASK_END,
    Span,
    attribute,
    call_record,
    covered,
    read_events,
    rollup,
)

DATA = Path(__file__).parent / "data"


@pytest.fixture(scope="module")
def recorded():
    with open(DATA / "recorded_eventlog.jsonl") as f:
        events = list(read_events(f))
    spans = [Span(**s) for s in json.loads((DATA / "recorded_spans.json").read_text())]
    return events, spans


def test_covered_merges_overlaps_and_clips():
    assert covered([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert covered([(0, 2), (1, 3), (5, 6)], 2.5, 5.5) == 1
    assert covered([], 0, 1) == 0
    assert covered([(3, 4)], 0, 1) == 0


def test_every_recorded_job_and_task_is_attributed(recorded):
    events, spans = recorded
    usage = attribute(events, spans)
    n_jobs = sum(1 for e in events if e["Event"] == EV_JOB_START)
    n_tasks = sum(1 for e in events if e["Event"] == EV_TASK_END)
    assert n_jobs > 0 and n_tasks > 0
    assert sum(u.jobs for u in usage.values()) == n_jobs
    assert sum(u.tasks for u in usage.values()) == n_tasks
    assert set(usage) <= {s.sid for s in spans}


def test_stream_jobs_follow_the_span_that_started_the_stream(recorded):
    events, spans = recorded
    usage = attribute(events, spans)
    run_ids = {e["runId"] for e in events if e["Event"] == EV_QUERY_STARTED}
    stream_jobs = sum(
        1
        for e in events
        if e["Event"] == EV_JOB_START and (e.get("Properties") or {}).get("spark.jobGroup.id") in run_ids
    )
    assert run_ids and stream_jobs > 0
    # the stream runs inside the builder call, so its jobs and progress land there
    build = next(s for s in spans if s.name == "build")
    assert usage[build.sid].jobs >= stream_jobs
    n_progress = sum(1 for e in events if e["Event"] == EV_QUERY_PROGRESS)
    assert len(usage[build.sid].progress) == n_progress > 0


def test_call_record_of_recorded_call(recorded):
    events, spans = recorded
    usage = attribute(events, spans)
    op = next(s for s in spans if s.parent is None)
    rec = call_record(op, [s for s in spans if s.parent == op.sid], usage)
    assert 0.0 <= rec["driver_s"] <= rec["wall_s"]
    assert rec["build_s"] + rec["exec_s"] <= rec["wall_s"]
    assert rec["batches"] == sum(1 for e in events if e["Event"] == EV_QUERY_PROGRESS)
    assert rec["shuffle_write_mb"] == pytest.approx(
        sum(
            (e["Task Metrics"].get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            for e in events
            if e["Event"] == EV_TASK_END
        )
        / 1e6
    )


def test_unattributed_work_is_dropped(recorded):
    events, spans = recorded
    later = max(s.end for s in spans) + 100.0
    moved = [Span(s.sid + "-x", s.name, later, later + 1.0, None) for s in spans]
    assert attribute(events, moved) == {}


def test_rollup_is_per_pass():
    rec = dict.fromkeys(
        ("wall_s", "build_s", "exec_s", "driver_s", "jobs", "tasks", "task_cpu_s", "task_wait_s",
         "gc_s", "shuffle_write_mb", "shuffle_read_mb", "batches", "planning_ms", "add_batch_ms",
         "wal_commit_ms", "commit_offsets_ms", "state_commit_ms", "state_rows"),
        1.0,
    )
    calls = {
        "a": [dict(rec, jobs=3.0, batch_ms=[10.0]), dict(rec, jobs=5.0, batch_ms=[30.0])],
        "b": [dict(rec, jobs=2.0, batch_ms=[20.0])],
    }
    out = rollup(calls, {"a": "operators", "b": "streaming"}, ("operators", "streaming", "algos"))
    assert out["operators.jobs"] == 4.0  # median of 3 and 5
    assert out["streaming.jobs"] == 2.0
    assert out["algos.jobs"] == 0.0
    assert out["streaming.batches"] == 2.0  # every stream counts, whatever the op's layer
    assert out["streaming.batch_p50_ms"] == 20.0
