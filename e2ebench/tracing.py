"""Spans, Spark counters and memory readings for the traced run.

Spans are opened only around calls the benchmark makes into the engine
and stay in memory until the run ends. Spark work is attributed to a
span afterwards, from the event log the traced session writes: a job
belongs to every span whose wall-clock interval contains its submission
time. Job ids are cross-checked against ``statusTracker``.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float  # epoch seconds, comparable with the event log's ms stamps
    parent: int | None
    sid: int
    end: float = 0.0

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder; every method is a no-op when disabled, so
    the untraced run executes the same code path without the records."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.self_s = 0.0  # time spent inside the tracer's own bookkeeping
        self._lock = threading.Lock()
        self._local = threading.local()

    @contextmanager
    def span(self, name: str):
        """Record ``name`` around the block; the enclosing span of the same
        thread is its parent."""
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        with self._lock:
            s = Span(name, time.time(), parent.sid if parent else None, len(self.spans))
            self.spans.append(s)
        stack.append(s)
        self.self_s += time.perf_counter() - t0
        try:
            yield s
        finally:
            t1 = time.perf_counter()
            s.end = time.time()
            stack.pop()
            self.self_s += time.perf_counter() - t1

    def find(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def self_time(self, s: Span) -> float:
        """Span duration minus the part of it its child spans cover."""
        kids = sorted((c.start, c.end) for c in self.spans if c.parent == s.sid)
        return s.dur - _union_len(kids, s.start, s.end)


def _union_len(intervals, lo: float, hi: float) -> float:
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted(intervals):
        a, b = max(a, lo), min(b, hi)
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def _lines(paths: list[str]):
    for path in paths:
        with open(path) as fh:
            yield from fh


@dataclass
class Job:
    jid: int
    submit: float
    end: float = 0.0
    stages: list[int] = field(default_factory=list)


class EventLog:
    """Jobs, stages and task metrics parsed from one application's
    Spark event log (JSON lines)."""

    def __init__(self, log_dir: str):
        self.jobs: dict[int, Job] = {}
        self.stage_tasks: dict[int, int] = {}
        self.stage_task_time: dict[int, float] = {}
        self.stage_shuffle: dict[int, int] = {}
        # one file per application, or a directory of rolled event files
        paths = sorted(p for p in glob.glob(os.path.join(log_dir, "**"), recursive=True)
                       if os.path.isfile(p) and not os.path.basename(p).startswith("appstatus"))
        if not paths:
            raise RuntimeError(f"no Spark event log under {log_dir}")
        for line in _lines(paths):
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                self.jobs[ev["Job ID"]] = Job(
                    ev["Job ID"], ev["Submission Time"] / 1000.0, stages=list(ev["Stage IDs"])
                )
            elif kind == "SparkListenerJobEnd":
                job = self.jobs.get(ev["Job ID"])
                if job:
                    job.end = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                sid = ev["Stage ID"]
                m = ev.get("Task Metrics") or {}
                rd = m.get("Shuffle Read Metrics") or {}
                wr = m.get("Shuffle Write Metrics") or {}
                self.stage_tasks[sid] = self.stage_tasks.get(sid, 0) + 1
                self.stage_task_time[sid] = (
                    self.stage_task_time.get(sid, 0.0) + m.get("Executor Run Time", 0) / 1000.0
                )
                self.stage_shuffle[sid] = (
                    self.stage_shuffle.get(sid, 0)
                    + rd.get("Remote Bytes Read", 0)
                    + rd.get("Local Bytes Read", 0)
                    + wr.get("Shuffle Bytes Written", 0)
                )

    def counters(self, start: float, end: float) -> dict[str, float]:
        """Spark counters of the jobs submitted inside [start, end]."""
        jobs = [j for j in self.jobs.values() if start <= j.submit <= end]
        ran = [s for j in jobs for s in j.stages if s in self.stage_tasks]
        busy = _union_len([(j.submit, j.end or end) for j in jobs], start, end)
        return {
            "jobs": len(jobs),
            "stages": len(set(ran)),
            "tasks": sum(self.stage_tasks[s] for s in set(ran)),
            "task_time_s": sum(self.stage_task_time[s] for s in set(ran)),
            "shuffle_bytes": sum(self.stage_shuffle[s] for s in set(ran)),
            "driver_gap_s": (end - start) - busy,
        }


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set size of a process (Linux /proc), in MiB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")
