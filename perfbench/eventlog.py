"""Spans, the Spark event-log parser and the per-layer rollup (stdlib only).

The traced run wraps every call into the engine in a ``Span`` and tags the
call's Spark jobs with the span's id as job group. Spark's own event log
(``spark.eventLog.enabled``, uncompressed JSON lines) then carries, per job,
its group, submit/complete times and stages, per task the run/CPU/GC time and
shuffle bytes, and per streaming micro-batch the ``QueryProgressEvent``.
Stream jobs carry the stream's runId as their job group, so a stream is
attributed to the innermost span that contains its ``QueryStartedEvent``.
"""

from __future__ import annotations

import json
import statistics
from collections import defaultdict
from collections.abc import Iterable, Iterator
from dataclasses import dataclass, field

EV_JOB_START = "SparkListenerJobStart"
EV_JOB_END = "SparkListenerJobEnd"
EV_TASK_END = "SparkListenerTaskEnd"
EV_QUERY_STARTED = "org.apache.spark.sql.streaming.StreamingQueryListener$QueryStartedEvent"
EV_QUERY_PROGRESS = "org.apache.spark.sql.streaming.StreamingQueryListener$QueryProgressEvent"


@dataclass
class Span:
    """One timed call: epoch-second bounds and the span that caused it."""

    sid: str
    name: str
    start: float
    end: float
    parent: str | None = None

    @property
    def seconds(self) -> float:
        return self.end - self.start


@dataclass
class Job:
    job_id: int
    group: str | None
    submit: float  # epoch seconds
    complete: float | None = None
    stages: list[int] = field(default_factory=list)


@dataclass
class Usage:
    """Counters summed over the jobs and tasks attributed to one span."""

    jobs: int = 0
    tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_b: int = 0
    shuffle_read_b: int = 0
    job_intervals: list[tuple[float, float]] = field(default_factory=list)
    progress: list[dict] = field(default_factory=list)

    @property
    def wait_s(self) -> float:
        """Task run time not spent on a CPU: Python-worker and IO wait."""
        return max(0.0, self.run_s - self.cpu_s)


def read_events(lines: Iterable[str]) -> Iterator[dict]:
    for line in lines:
        line = line.strip()
        if line:
            yield json.loads(line)


def _epoch(ts: str) -> float:
    """Parse a StreamingQueryListener timestamp (``2026-10-16T22:07:12.123Z``)."""
    from datetime import datetime, timezone

    return datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ").replace(tzinfo=timezone.utc).timestamp()


def innermost(spans: list[Span], t: float) -> Span | None:
    """The shortest span whose interval holds ``t``."""
    best = None
    for s in spans:
        if s.start <= t <= s.end and (best is None or s.seconds < best.seconds):
            best = s
    return best


def attribute(events: Iterable[dict], spans: list[Span]) -> dict[str, Usage]:
    """Attribute jobs, tasks and stream progress in ``events`` to ``spans``.

    A job belongs to the span whose id is its job group; a stream's jobs
    (group = runId) and progress events belong to the innermost span holding
    the stream's start; a job with neither belongs to the innermost span
    holding its submission. Work outside every span is dropped.
    """
    by_id = {s.sid: s for s in spans}
    run_span: dict[str, str] = {}
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    usage: dict[str, Usage] = defaultdict(Usage)

    def span_of_job(job: Job) -> str | None:
        if job.group in by_id:
            return job.group
        if job.group in run_span:
            return run_span[job.group]
        s = innermost(spans, job.submit)
        return s.sid if s else None

    for ev in events:
        kind = ev.get("Event")
        if kind == EV_QUERY_STARTED:
            s = innermost(spans, _epoch(ev["timestamp"]))
            if s is not None:
                run_span[ev["runId"]] = s.sid
        elif kind == EV_QUERY_PROGRESS:
            prog = ev["progress"]
            sid = run_span.get(prog["runId"])
            if sid is not None:
                usage[sid].progress.append(prog)
        elif kind == EV_JOB_START:
            props = ev.get("Properties") or {}
            job = Job(ev["Job ID"], props.get("spark.jobGroup.id"), ev["Submission Time"] / 1e3)
            job.stages = list(ev.get("Stage IDs", []))
            jobs[job.job_id] = job
            for st in job.stages:
                stage_job.setdefault(st, job.job_id)
        elif kind == EV_JOB_END:
            job = jobs.get(ev["Job ID"])
            if job is None:
                continue
            job.complete = ev["Completion Time"] / 1e3
            sid = span_of_job(job)
            if sid is not None:
                u = usage[sid]
                u.jobs += 1
                u.job_intervals.append((job.submit, job.complete))
        elif kind == EV_TASK_END:
            job = jobs.get(stage_job.get(ev["Stage ID"], -1))
            m = ev.get("Task Metrics")
            if job is None or not m:
                continue
            sid = span_of_job(job)
            if sid is None:
                continue
            u = usage[sid]
            u.tasks += 1
            u.run_s += m.get("Executor Run Time", 0) / 1e3
            u.cpu_s += m.get("Executor CPU Time", 0) / 1e9
            u.gc_s += m.get("JVM GC Time", 0) / 1e3
            sw = m.get("Shuffle Write Metrics") or {}
            u.shuffle_write_b += sw.get("Shuffle Bytes Written", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            u.shuffle_read_b += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
    return dict(usage)


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


LAYER_FIELDS = (
    "build_s", "exec_s", "driver_s", "jobs", "tasks", "task_cpu_s",
    "task_wait_s", "gc_s", "shuffle_write_mb", "shuffle_read_mb",
)
STREAM_FIELDS = (
    "batches", "batch_p50_ms", "planning_ms", "add_batch_ms",
    "wal_commit_ms", "commit_offsets_ms", "state_commit_ms", "state_rows",
)


def call_record(op: Span, children: list[Span], usage: dict[str, Usage]) -> dict[str, float]:
    """Per-call figures for one op span and its build/exec children."""
    sids = [op.sid] + [c.sid for c in children]
    us = [usage[s] for s in sids if s in usage]
    intervals = [iv for u in us for iv in u.job_intervals]
    rec = {
        "wall_s": op.seconds,
        "build_s": sum(c.seconds for c in children if c.name == "build"),
        "exec_s": sum(c.seconds for c in children if c.name == "exec"),
        "driver_s": op.seconds - covered(intervals, op.start, op.end),
        "jobs": sum(u.jobs for u in us),
        "tasks": sum(u.tasks for u in us),
        "task_cpu_s": sum(u.cpu_s for u in us),
        "task_wait_s": sum(u.wait_s for u in us),
        "gc_s": sum(u.gc_s for u in us),
        "shuffle_write_mb": sum(u.shuffle_write_b for u in us) / 1e6,
        "shuffle_read_mb": sum(u.shuffle_read_b for u in us) / 1e6,
    }
    progress = [p for u in us for p in u.progress]
    rec.update(stream_record(progress))
    rec["batch_ms"] = [p.get("durationMs", {}).get("triggerExecution", 0) for p in progress]
    return rec


def stream_record(progress: list[dict]) -> dict[str, float]:
    """Micro-batch counters of one call from its QueryProgress records."""

    def dur(p: dict, key: str) -> float:
        return float(p.get("durationMs", {}).get(key, 0))

    last: dict[str, dict] = {}
    for p in progress:
        last[p["runId"]] = p
    return {
        "batches": len(progress),
        "planning_ms": sum(dur(p, "queryPlanning") for p in progress),
        "add_batch_ms": sum(dur(p, "addBatch") for p in progress),
        "wal_commit_ms": sum(dur(p, "walCommit") for p in progress),
        "commit_offsets_ms": sum(dur(p, "commitOffsets") for p in progress),
        "state_commit_ms": sum(
            float(so.get("commitTimeMs", 0)) for p in progress for so in p.get("stateOperators", [])
        ),
        "state_rows": sum(
            float(so.get("numRowsTotal", 0)) for p in last.values() for so in p.get("stateOperators", [])
        ),
    }


def rollup(calls: dict[str, list[dict]], layer_of: dict[str, str], layers: Iterable[str]) -> dict[str, float]:
    """Per-pass layer totals: each op's median per-call figure (one call per
    pass), summed over the ops of a layer."""
    out: dict[str, float] = {}
    for layer in layers:
        for f in LAYER_FIELDS:
            out[f"{layer}.{f}"] = 0.0
    batch_ms: list[float] = []
    stream = dict.fromkeys(STREAM_FIELDS, 0.0)
    for op, recs in calls.items():
        if not recs:
            continue
        for f in LAYER_FIELDS:
            out[f"{layer_of[op]}.{f}"] += statistics.median(r[f] for r in recs)
        for f in STREAM_FIELDS:
            if f != "batch_p50_ms":
                stream[f] += statistics.median(r[f] for r in recs)
        batch_ms += [b for r in recs for b in r["batch_ms"]]
    stream["batch_p50_ms"] = statistics.median(batch_ms) if batch_ms else 0.0
    out.update({f"streaming.{k}": v for k, v in stream.items()})
    return out
