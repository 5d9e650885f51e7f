"""Spans recorded around the engine's entry points, and the Spark job
counters read back from the traced session's event log.

A span has a name, start, end, parent span and invocation id. Spans stay
in memory until the run ends. Job counters come from the event log that
only the traced session writes; each job is attributed to an invocation
and phase through the job description `bench:<invocation>:<phase>` that
the traced code sets before calling into the engine. Spark copies that
description into each SQL execution it starts, and the event log stamps
the execution's start before Catalyst plans it; the time from there to
the execution's first job is the planning time of the QueryExecution
that actually runs.
"""

from __future__ import annotations

import glob
import itertools
import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

_MB = 1024 * 1024


@dataclass
class Span:
    id: int
    name: str
    inv: int
    parent: int | None
    start: float
    end: float = 0.0

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span store; safe to use from HTTP handler threads."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    def new_invocation(self) -> int:
        with self._lock:
            return next(self._ids)

    @property
    def current(self) -> Span | None:
        return getattr(self._local, "span", None)

    @contextmanager
    def span(self, name: str, inv: int | None = None):
        parent = self.current
        if inv is None:
            inv = parent.inv if parent is not None else 0
        with self._lock:
            s = Span(next(self._ids), name, inv, parent.id if parent else None, time.perf_counter())
        self._local.span = s
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._local.span = parent
            with self._lock:
                self.spans.append(s)

    def self_time(self, s: Span) -> float:
        """Span duration minus the part its direct children cover."""
        kids = sorted((c.start, c.end) for c in self.spans if c.parent == s.id)
        return s.dur - union_seconds(kids)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


def union_seconds(intervals) -> float:
    """Total length covered by possibly overlapping (start, end) pairs."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def job_description(inv: int, phase: str) -> str:
    return f"bench:{inv}:{phase}"


@dataclass
class Job:
    start: float
    end: float = 0.0
    stages: set = field(default_factory=set)
    tasks: int = 0
    failed_tasks: int = 0
    task_run_s: float = 0.0
    input_mb: float = 0.0
    shuffle_read_mb: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0
    fetch_wait_s: float = 0.0


COUNTERS = (
    "tasks", "failed_tasks", "task_run_s", "input_mb", "shuffle_read_mb",
    "shuffle_write_mb", "spill_mb", "fetch_wait_s",
)


@dataclass
class EventLog:
    """What the traced session's event log says about each
    (invocation, phase): its jobs, and the planning seconds of its root
    SQL executions (execution start to first job, or to the execution's
    end when it ran no job)."""

    jobs: dict[tuple[int, str], list[Job]]
    planning_s: dict[tuple[int, str], float]


def _label(desc: str | None) -> tuple[int, str] | None:
    parts = (desc or "").split(":")
    if len(parts) == 3 and parts[0] == "bench":
        return int(parts[1]), parts[2]
    return None


def read_event_log(log_dir: str) -> EventLog:
    jobs: dict[int, Job] = {}
    labels: dict[int, tuple[int, str]] = {}
    stage_job: dict[int, int] = {}
    # root SQL executions: id -> [label, start, end, first job start]
    execs: dict[int, list] = {}
    for path in sorted(glob.glob(os.path.join(log_dir, "**"), recursive=True)):
        if not os.path.isfile(path):
            continue
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event", "")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    jobs[jid] = Job(start=ev["Submission Time"] / 1000)
                    for sid in ev.get("Stage IDs", ()):
                        stage_job.setdefault(sid, jid)
                    props = ev.get("Properties") or {}
                    label = _label(props.get("spark.job.description"))
                    if label is not None:
                        labels[jid] = label
                    root = props.get("spark.sql.execution.root.id", props.get("spark.sql.execution.id"))
                    ex = execs.get(int(root)) if root is not None else None
                    if ex is not None and ex[3] is None:
                        ex[3] = jobs[jid].start
                elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000
                elif kind == "SparkListenerTaskEnd":
                    job = jobs.get(stage_job.get(ev["Stage ID"], -1))
                    if job is not None:
                        _add_task(job, ev)
                elif kind.endswith("SQLExecutionStart"):
                    label = _label(ev.get("description"))
                    if label is not None and ev.get("rootExecutionId", ev["executionId"]) == ev["executionId"]:
                        execs[ev["executionId"]] = [label, ev["time"] / 1000, None, None]
                elif kind.endswith("SQLExecutionEnd") and ev["executionId"] in execs:
                    execs[ev["executionId"]][2] = ev["time"] / 1000
    by_key: dict[tuple[int, str], list[Job]] = {}
    for jid, key in labels.items():
        by_key.setdefault(key, []).append(jobs[jid])
    planning: dict[tuple[int, str], float] = {}
    for label, start, end, first_job in execs.values():
        stop = first_job if first_job is not None else end
        if stop is not None:
            planning[label] = planning.get(label, 0.0) + max(0.0, stop - start)
    return EventLog(by_key, planning)


def _add_task(job: Job, ev: dict) -> None:
    job.stages.add(ev["Stage ID"])
    job.tasks += 1
    if (ev.get("Task Info") or {}).get("Failed"):
        job.failed_tasks += 1
    m = ev.get("Task Metrics") or {}
    job.task_run_s += m.get("Executor Run Time", 0) / 1000
    job.input_mb += (m.get("Input Metrics") or {}).get("Bytes Read", 0) / _MB
    sr = m.get("Shuffle Read Metrics") or {}
    job.shuffle_read_mb += (
        sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
    ) / _MB
    job.fetch_wait_s += sr.get("Fetch Wait Time", 0) / 1000
    sw = m.get("Shuffle Write Metrics") or {}
    job.shuffle_write_mb += sw.get("Shuffle Bytes Written", 0) / _MB
    job.spill_mb += (m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)) / _MB


def job_seconds(jobs: list[Job]) -> float:
    return union_seconds((j.start, j.end) for j in jobs if j.end)
