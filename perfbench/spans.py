"""Spans recorded around public engine calls, and the Spark event-log
parser that attributes jobs, stages and task metrics to them.

A span is one call into a layer: name, start, end, parent and an
operation id.  With tracing on, each span sets its own Spark job group
(the operation id), so every job the call submits carries the id into
the status tracker and the event log; the innermost open span owns a job.
With tracing off a span only reads the clock.  Spans stay in memory and
are written once, at the end of a run.
"""

from __future__ import annotations

import glob
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    name: str
    op_id: str
    parent: str | None
    start: float  # epoch seconds, comparable with event-log millis / 1e3
    end: float = 0.0
    jobs: list[int] = field(default_factory=list)  # from the status tracker
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, sc=None, enabled: bool = False):
        self.sc = sc
        self.enabled = enabled and sc is not None
        self.spans: list[Span] = []
        self._open: list[Span] = []

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._open[-1] if self._open else None
        s = Span(name, f"op{len(self.spans)}", parent.op_id if parent else None,
                 time.time(), attrs=attrs)
        self.spans.append(s)
        self._open.append(s)
        if self.enabled:
            self.sc.setJobGroup(s.op_id, name)
        try:
            yield s
        finally:
            s.end = time.time()
            self._open.pop()
            if self.enabled:
                if parent is not None:
                    self.sc.setJobGroup(parent.op_id, parent.name)
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)
                s.jobs = sorted(self.sc.statusTracker().getJobIdsForGroup(s.op_id))

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


# -- interval arithmetic ----------------------------------------------------


def covered(intervals, lo: float | None = None, hi: float | None = None) -> float:
    """Length of the union of ``(start, end)`` intervals, clipped to
    ``[lo, hi]`` when given."""
    clipped = []
    for a, b in intervals:
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            clipped.append((a, b))
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted(clipped):
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def children(spans: list[Span]) -> dict[str, list[Span]]:
    out: dict[str, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            out[s.parent].append(s)
    return out


def self_time(span: Span, kids: dict[str, list[Span]]) -> float:
    """The span's duration minus the part of it its child spans cover."""
    return span.seconds - covered(
        [(c.start, c.end) for c in kids.get(span.op_id, [])], span.start, span.end
    )


def subtree(span: Span, kids: dict[str, list[Span]]) -> list[Span]:
    out, todo = [], [span]
    while todo:
        s = todo.pop()
        out.append(s)
        todo.extend(kids.get(s.op_id, []))
    return out


# -- event log --------------------------------------------------------------


@dataclass
class JobStats:
    group: str | None
    start: float  # epoch seconds
    end: float = 0.0
    stages: int = 0  # stages that ran (skipped stages excluded)
    tasks: int = 0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    max_task_s: float = 0.0


def parse_event_log(path: str) -> dict[int, JobStats]:
    """Job id -> ``JobStats`` from an uncompressed Spark event log: a
    single JSON-lines file, or a rolling ``eventlog_v2_*`` directory whose
    ``events_<n>_*`` parts are read in order."""
    if os.path.isdir(path):
        parts = glob.glob(os.path.join(path, "events_*"))
        files = sorted(parts, key=lambda p: int(os.path.basename(p).split("_")[1]))
    else:
        files = [path]
    jobs: dict[int, JobStats] = {}
    stage_job: dict[int, int] = {}
    for name in files:
        with open(name) as f:
            for line in f:
                e = json.loads(line)
                kind = e.get("Event")
                if kind == "SparkListenerJobStart":
                    job = JobStats(
                        (e.get("Properties") or {}).get("spark.jobGroup.id"),
                        e["Submission Time"] / 1e3,
                    )
                    jobs[e["Job ID"]] = job
                    for sid in e.get("Stage IDs", []):
                        stage_job.setdefault(sid, e["Job ID"])
                elif kind == "SparkListenerJobEnd":
                    if e["Job ID"] in jobs:
                        jobs[e["Job ID"]].end = e["Completion Time"] / 1e3
                elif kind == "SparkListenerStageCompleted":
                    job = jobs.get(stage_job.get(e["Stage Info"]["Stage ID"]))
                    if job is not None:
                        job.stages += 1
                elif kind == "SparkListenerTaskEnd":
                    job = jobs.get(stage_job.get(e["Stage ID"]))
                    if job is None:
                        continue
                    info, m = e.get("Task Info") or {}, e.get("Task Metrics") or {}
                    sr, sw = m.get("Shuffle Read Metrics") or {}, m.get("Shuffle Write Metrics") or {}
                    job.tasks += 1
                    job.executor_run_s += m.get("Executor Run Time", 0) / 1e3
                    job.executor_cpu_s += m.get("Executor CPU Time", 0) / 1e9
                    job.gc_s += m.get("JVM GC Time", 0) / 1e3
                    job.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    job.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
                    job.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    if info.get("Finish Time") and info.get("Launch Time"):
                        job.max_task_s = max(
                            job.max_task_s, (info["Finish Time"] - info["Launch Time"]) / 1e3
                        )
    return jobs


def find_event_log(directory: str) -> str | None:
    found = sorted(glob.glob(os.path.join(directory, "*")))
    return found[0] if found else None


def by_group(jobs: dict[int, JobStats]) -> dict[str, list[JobStats]]:
    out: dict[str, list[JobStats]] = defaultdict(list)
    for j in jobs.values():
        if j.group is not None:
            out[j.group].append(j)
    return out


def rollup(job_list: list[JobStats], lo: float, hi: float) -> dict:
    """Sums over a span's jobs, plus the time they kept the executors
    busy inside ``[lo, hi]`` and the driver gap (the rest of it)."""
    busy = covered([(j.start, j.end) for j in job_list], lo, hi)
    return {
        "jobs": len(job_list),
        "stages": sum(j.stages for j in job_list),
        "tasks": sum(j.tasks for j in job_list),
        "exec_s": busy,
        "driver_gap_s": (hi - lo) - busy,
        "executor_cpu_s": sum(j.executor_cpu_s for j in job_list),
        "gc_s": sum(j.gc_s for j in job_list),
        "shuffle_read_bytes": sum(j.shuffle_read_bytes for j in job_list),
        "shuffle_write_bytes": sum(j.shuffle_write_bytes for j in job_list),
        "spill_bytes": sum(j.spill_bytes for j in job_list),
        "max_task_s": max((j.max_task_s for j in job_list), default=0.0),
    }
