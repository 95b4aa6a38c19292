"""Traced mode: spans around public calls, and engine counters from the
Spark event log.

Spans are kept in memory and summarised when the run ends. Each span
carries the op it ran under; ops run one at a time, so the benchmark
sets the current op before each one and every span opened meanwhile --
also on the orchestrator's pool threads -- belongs to it. Spark jobs are
attributed the same way, by the time window they were submitted in,
because a job group set on the benchmark thread is not inherited by the
pool threads.
"""

from __future__ import annotations

import functools
import glob
import json
import threading
import time
from collections import defaultdict
from dataclasses import dataclass


@dataclass
class Span:
    name: str
    op: int
    start: float
    end: float
    parent: int | None  # index of the enclosing span on the same thread


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.op = -1
        self.root: int | None = None  # the current op's span
        self.enabled = False
        self._lock = threading.Lock()
        self._local = threading.local()

    def span(self, name: str, root: bool = False):
        """Context manager recording one span; a ``root`` span becomes the
        parent of spans opened on threads that have no open span."""
        return _SpanCtx(self, name, root)

    def wrap(self, owner, attr: str, name: str, label=None) -> None:
        """Replace ``owner.attr`` by a wrapper recording a span named
        ``name`` (or ``label(*args)`` when given) around each call."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            with self.span(label(*args, **kwargs) if label else name):
                return fn(*args, **kwargs)

        setattr(owner, attr, traced)

    def by_op(self) -> dict[int, list[int]]:
        """Span indices grouped by op."""
        out: dict[int, list[int]] = defaultdict(list)
        for i, s in enumerate(self.spans):
            out[s.op].append(i)
        return out


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str, root: bool):
        self.tracer, self.name, self.root = tracer, name, root

    def __enter__(self):
        tr = self.tracer
        stack = tr._local.__dict__.setdefault("stack", [])
        start = time.time()
        with tr._lock:
            self.index = len(tr.spans)
            tr.spans.append(Span(self.name, tr.op, start, start, stack[-1] if stack else tr.root))
        if self.root:
            tr.root = self.index
        stack.append(self.index)
        return self

    def __exit__(self, *exc):
        tr = self.tracer
        tr._local.stack.pop()
        tr.spans[self.index].end = time.time()
        if self.root:
            tr.root = None
        return False


def self_time(spans: list[Span], index: int) -> float:
    """A span's duration minus the part of its interval that its child
    spans cover (children may overlap each other)."""
    s = spans[index]
    kids = sorted((c.start, c.end) for c in spans if c.parent == index)
    covered, cur_start, cur_end = 0.0, None, None
    for a, b in kids:
        a, b = max(a, s.start), min(b, s.end)
        if b <= a:
            continue
        if cur_end is None or a > cur_end:
            if cur_end is not None:
                covered += cur_end - cur_start
            cur_start, cur_end = a, b
        else:
            cur_end = max(cur_end, b)
    if cur_end is not None:
        covered += cur_end - cur_start
    return (s.end - s.start) - covered


# -- event log ------------------------------------------------------------


@dataclass
class Job:
    job_id: int
    submitted: float  # epoch seconds
    stages: list[int]


@dataclass
class StageTotals:
    tasks: int = 0
    run_s: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    completed: bool = False


def parse_event_log(lines) -> tuple[list[Job], dict[int, StageTotals]]:
    """Jobs (with submission time and stage ids) and per-stage task
    totals from the JSON lines of a Spark event log."""
    jobs: list[Job] = []
    stages: dict[int, StageTotals] = defaultdict(StageTotals)
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jobs.append(
                Job(ev["Job ID"], ev["Submission Time"] / 1000.0, list(ev.get("Stage IDs", [])))
            )
        elif kind == "SparkListenerStageCompleted":
            stages[ev["Stage Info"]["Stage ID"]].completed = True
        elif kind == "SparkListenerTaskEnd":
            st = stages[ev["Stage ID"]]
            st.tasks += 1
            m = ev.get("Task Metrics") or {}
            st.run_s += m.get("Executor Run Time", 0) / 1000.0
            st.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            st.spill_bytes += m.get("Disk Bytes Spilled", 0)
    return jobs, dict(stages)


def read_event_logs(log_dir: str) -> tuple[list[Job], dict[int, StageTotals]]:
    lines: list[str] = []
    for path in sorted(glob.glob(f"{log_dir}/*")):
        with open(path) as f:
            lines.extend(f)
    return parse_event_log(lines)


def jobs_in(jobs: list[Job], start: float, end: float) -> list[Job]:
    """Jobs submitted inside [start, end] (event-log times are whole
    milliseconds, so the window is widened by one on each side)."""
    return [j for j in jobs if start - 0.001 <= j.submitted <= end + 0.001]


def job_totals(jobs: list[Job], stages: dict[int, StageTotals]) -> dict[str, float]:
    """Counters of a set of jobs; skipped stages (reused shuffle output)
    never complete and are not counted."""
    out = {"jobs": len(jobs), "stages": 0, "tasks": 0, "run_s": 0.0,
           "shuffle_write_bytes": 0, "spill_bytes": 0}
    for sid in {s for j in jobs for s in j.stages}:
        st = stages.get(sid)
        if st is None or not st.completed:
            continue
        out["stages"] += 1
        out["tasks"] += st.tasks
        out["run_s"] += st.run_s
        out["shuffle_write_bytes"] += st.shuffle_write_bytes
        out["spill_bytes"] += st.spill_bytes
    return out
