"""Spans, call counters and Spark event-log folding for the traced run.

A :class:`Tracer` keeps spans in memory: name, wall-clock start and end
(epoch seconds, the clock Spark's event log uses) and the enclosing
span.  :meth:`Tracer.wrap` replaces a function in the module that calls
it with a spanned version, so the engine is timed from outside and its
code is not changed; :meth:`Tracer.restore` puts every original back.

:func:`read_jobs` parses an uncompressed Spark event log into per-job
intervals and task-metric totals; :func:`fold` adds up the jobs that
started inside a span and measures the span's driver-only time, the
part of its wall time that no job interval covers.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from collections.abc import Callable, Iterable
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Any

#: task-metric totals kept per job (event-log field -> metric name)
EXEC_METRICS = (
    "run_s", "cpu_s", "gc_s", "shuffle_write_bytes", "shuffle_read_bytes",
    "spill_bytes", "input_records",
)


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    attrs: dict[str, Any] = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory spans plus monkeypatched wrappers around engine calls."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, Callable]] = []
        self.enabled = True

    @contextmanager
    def span(self, name: str, **attrs: Any):
        if not self.enabled:
            yield None
            return
        s = Span(name, time.time(), parent=self._stack[-1] if self._stack else None,
                 attrs=dict(attrs))
        self.spans.append(s)
        self._stack.append(len(self.spans) - 1)
        try:
            yield s
        finally:
            self._stack.pop()
            s.end = time.time()

    def wrap(self, owner: object, attr: str, name: str) -> None:
        """Replace `owner.attr` with a version that records a span named
        `name` per call."""
        original = getattr(owner, attr)

        def spanned(*args, **kwargs):
            with self.span(name):
                return original(*args, **kwargs)

        self.patch(owner, attr, spanned)

    def patch(self, owner: object, attr: str, replacement: Callable) -> None:
        """Set `owner.attr` to `replacement` until :meth:`restore`."""
        self._patched.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, replacement)

    def restore(self) -> None:
        for owner, attr, original in reversed(self._patched):
            setattr(owner, attr, original)
        self._patched.clear()

    def children(self, index: int) -> Iterable[int]:
        return (i for i, s in enumerate(self.spans) if s.parent == index)

    def within(self, index: int) -> list[Span]:
        """Every span nested (at any depth) under span `index`."""
        out, todo = [], [index]
        while todo:
            for c in self.children(todo.pop()):
                out.append(self.spans[c])
                todo.append(c)
        return out

    def totals(self, index: int) -> dict[str, tuple[int, float]]:
        """Per span name under span `index`: (calls, summed wall s)."""
        acc: dict[str, list] = defaultdict(lambda: [0, 0.0])
        for s in self.within(index):
            acc[s.name][0] += 1
            acc[s.name][1] += s.wall
        return {k: (v[0], v[1]) for k, v in acc.items()}


@dataclass
class Job:
    job_id: int
    start: float  # epoch seconds
    end: float
    stages: set[int] = field(default_factory=set)
    tasks: int = 0
    metrics: dict[str, float] = field(
        default_factory=lambda: dict.fromkeys(EXEC_METRICS, 0.0))


def read_jobs(lines: Iterable[str]) -> list[Job]:
    """Jobs of one application from its event-log lines, with the
    metrics of every task of every stage the job ran folded in.

    A stage shared by two jobs (a reused shuffle) counts under the job
    that ran its tasks; tasks are attributed by stage id to the latest
    job that listed the stage before the task ended."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            j = Job(ev["Job ID"], ev["Submission Time"] / 1000.0, 0.0)
            j.stages = set(ev.get("Stage IDs", []))
            for sid in j.stages:
                stage_job[sid] = j.job_id
            jobs[j.job_id] = j
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerTaskEnd":
            job = jobs.get(stage_job.get(ev.get("Stage ID"), -1))
            tm = ev.get("Task Metrics")
            if job is None or tm is None:
                continue
            job.tasks += 1
            m = job.metrics
            m["run_s"] += tm.get("Executor Run Time", 0) / 1000.0
            m["cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
            m["gc_s"] += tm.get("JVM GC Time", 0) / 1000.0
            sw = tm.get("Shuffle Write Metrics", {})
            m["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            sr = tm.get("Shuffle Read Metrics", {})
            m["shuffle_read_bytes"] += (sr.get("Remote Bytes Read", 0)
                                        + sr.get("Local Bytes Read", 0))
            m["spill_bytes"] += (tm.get("Memory Bytes Spilled", 0)
                                 + tm.get("Disk Bytes Spilled", 0))
            # parquet scans on a local file system report only footer
            # bytes under "Bytes Read"; the record count is reliable
            m["input_records"] += tm.get("Input Metrics", {}).get("Records Read", 0)
    return [j for j in jobs.values() if j.end > 0.0]


def union_length(intervals: Iterable[tuple[float, float]]) -> float:
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


def fold(span: Span, jobs: list[Job]) -> dict[str, float]:
    """Totals of the jobs submitted inside `span`, and the span's time
    split into job time (the union of job intervals, clipped to the
    span) and driver-only time (the rest)."""
    inside = [j for j in jobs if span.start <= j.start < span.end]
    out: dict[str, float] = {
        "exec.jobs": len(inside),
        "exec.stages": len(set().union(*(j.stages for j in inside))),
        "exec.tasks": sum(j.tasks for j in inside),
    }
    for m in EXEC_METRICS:
        out[f"exec.{m}"] = sum(j.metrics[m] for j in inside)
    job_s = union_length((j.start, min(j.end, span.end)) for j in inside)
    out["exec.job_s"] = job_s
    out["driver_only_s"] = span.wall - job_s
    return out
