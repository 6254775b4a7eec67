"""Traced-run tooling: an in-memory span recorder that wraps the engine's
public entry points from outside, each layer's self time, and a reader
for Spark's uncompressed single-file event log.

Spans are kept in memory and written out once, when the run ends.
Wrapping is reversible (``Patcher.restore``) and records nothing while
``SpanRecorder.enabled`` is false, so one process can alternate traced
and untraced rounds.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import json
import math
import threading
import time
from collections import defaultdict
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op: int | None = None
    id: int = 0
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class SpanRecorder:
    """Spans of one process. A span's parent is the innermost open span of
    its own thread; a span opened on a thread with no open span (a
    streaming ``foreachBatch`` callback, a driver worker thread) gets the
    current op's root span as parent, so every span of an op nests under
    the op."""

    def __init__(self):
        self.spans: list[Span] = []
        self.enabled = False
        self._local = threading.local()
        self._lock = threading.Lock()
        self._op: int | None = None
        self._op_root: int | None = None

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def open(self, name: str, **attrs) -> Span | None:
        if not self.enabled:
            return None
        stack = self._stack()
        parent = stack[-1] if stack else self._op_root
        with self._lock:
            sp = Span(name, time.perf_counter(), parent=parent, op=self._op,
                      id=len(self.spans), attrs=attrs)
            self.spans.append(sp)
        stack.append(sp.id)
        return sp

    def close(self, sp: Span | None) -> None:
        if sp is None:
            return
        sp.end = time.perf_counter()
        stack = self._stack()
        if stack and stack[-1] == sp.id:
            stack.pop()

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        sp = self.open(name, **attrs)
        try:
            yield sp
        finally:
            self.close(sp)

    def begin_op(self, op_id: int, name: str) -> Span | None:
        self._op = op_id
        sp = self.open(name)
        self._op_root = sp.id if sp else None
        return sp

    def end_op(self, sp: Span | None) -> None:
        self.close(sp)
        self._op = self._op_root = None

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({
                    "id": s.id, "name": s.name, "start": s.start, "end": s.end,
                    "parent": s.parent, "op": s.op, **s.attrs,
                }) + "\n")


def union_length(intervals) -> float:
    """Total length covered by possibly overlapping ``(start, end)``."""
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


def self_times(spans: list[Span]) -> dict[int, float]:
    """Per span: its duration minus the part of its interval that its
    child spans cover (children clipped to the parent; overlapping
    children, e.g. from concurrent threads, counted once)."""
    kids: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            kids[s.parent].append((s.start, s.end))
    out = {}
    for s in spans:
        clipped = [
            (max(a, s.start), min(b, s.end)) for a, b in kids.get(s.id, ())
            if min(b, s.end) > max(a, s.start)
        ]
        out[s.id] = s.dur - union_length(clipped)
    return out


class Patcher:
    """Wraps attributes (class methods or module functions) so each call
    opens a span named after the wrapped entry point. ``hooks`` maps a
    span name to ``fn(span, args, kwargs, result)`` run after the call,
    for counts taken where the work happens. Spans named in
    ``count_jobs`` get ``attrs["jobs"]``: the rise of ``jobs_fn()`` (the
    next Spark job id) across the call."""

    def __init__(self, rec: SpanRecorder, hooks: dict | None = None,
                 jobs_fn=None, count_jobs=()):
        self.rec = rec
        self.hooks = hooks or {}
        self.jobs_fn = jobs_fn
        self.count_jobs = frozenset(count_jobs)
        self._saved: list[tuple[object, str, object]] = []

    def wrap(self, owner, attr: str, name: str) -> None:
        orig = getattr(owner, attr)
        rec, hook = self.rec, self.hooks.get(name)
        jobs_fn = self.jobs_fn if name in self.count_jobs else None

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            sp = rec.open(name)
            j0 = jobs_fn() if sp is not None and jobs_fn is not None else None
            try:
                result = orig(*args, **kwargs)
            finally:
                if j0 is not None:
                    sp.attrs["jobs"] = jobs_fn() - j0
                rec.close(sp)
            if sp is not None and hook is not None:
                hook(sp, args, kwargs, result)
            return result

        self._saved.append((owner, attr, orig))
        setattr(owner, attr, traced)

    def wrap_all(self, targets) -> None:
        """``targets``: ``(module path, attribute path, span name)``; the
        attribute path is ``Class.method`` or ``function``."""
        for mod_path, attr_path, name in targets:
            owner = importlib.import_module(mod_path)
            *outer, attr = attr_path.split(".")
            for part in outer:
                owner = getattr(owner, part)
            self.wrap(owner, attr, name)

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._saved):
            setattr(owner, attr, orig)
        self._saved.clear()


# -- Spark event log ----------------------------------------------------------


@dataclass
class JobRecord:
    job_id: int
    submit_ms: int
    end_ms: int | None
    stage_ids: list[int]


@dataclass
class EventLog:
    jobs: dict[int, JobRecord] = field(default_factory=dict)
    #: stage id -> summed task metrics of the tasks that ended in it
    stage_tasks: dict[int, dict] = field(default_factory=dict)

    def op_totals(self, job_ids) -> dict:
        """Jobs, stages, tasks and summed task metrics of ``job_ids``."""
        jobs = [self.jobs[j] for j in job_ids if j in self.jobs]
        stages = {s for j in jobs for s in j.stage_ids if s in self.stage_tasks}
        tot = defaultdict(float)
        for s in stages:
            for k, v in self.stage_tasks[s].items():
                tot[k] += v
        tot["jobs"] = len(jobs)
        tot["stages"] = len(stages)
        return dict(tot)

    def jobs_submitted(self, start: float, end: float) -> list[int]:
        """Ids of the jobs whose submission time lies in ``[start, end]``
        (epoch seconds; the log keeps whole milliseconds)."""
        lo, hi = math.floor(start * 1000), math.ceil(end * 1000)
        return sorted(j for j, r in self.jobs.items() if lo <= r.submit_ms <= hi)

    def job_intervals(self, job_ids) -> list[tuple[float, float]]:
        """``(start, end)`` of each finished job, in epoch seconds."""
        return [
            (self.jobs[j].submit_ms / 1000.0, self.jobs[j].end_ms / 1000.0)
            for j in job_ids
            if j in self.jobs and self.jobs[j].end_ms is not None
        ]


_TASK_FIELDS = (
    ("executor_run_s", ("Executor Run Time",), 1e-3),
    ("executor_cpu_s", ("Executor CPU Time",), 1e-9),
    ("input_bytes", ("Input Metrics", "Bytes Read"), 1),
    ("shuffle_write_bytes", ("Shuffle Write Metrics", "Shuffle Bytes Written"), 1),
    ("shuffle_read_bytes", ("Shuffle Read Metrics", "Remote Bytes Read"), 1),
    ("shuffle_read_bytes", ("Shuffle Read Metrics", "Local Bytes Read"), 1),
)


def parse_event_log(path: str) -> EventLog:
    """Jobs and per-stage task metrics from an uncompressed, non-rolling
    Spark event log (one JSON event per line)."""
    log = EventLog()
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                log.jobs[ev["Job ID"]] = JobRecord(
                    ev["Job ID"], ev["Submission Time"], None, list(ev["Stage IDs"])
                )
            elif kind == "SparkListenerJobEnd":
                job = log.jobs.get(ev["Job ID"])
                if job is not None:
                    job.end_ms = ev["Completion Time"]
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                agg = log.stage_tasks.setdefault(ev["Stage ID"], defaultdict(float))
                agg["tasks"] += 1
                for name, keys, scale in _TASK_FIELDS:
                    v = m
                    for k in keys:
                        v = v.get(k, {}) if isinstance(v, dict) else {}
                    if isinstance(v, (int, float)):
                        agg[name] += v * scale
    return log
