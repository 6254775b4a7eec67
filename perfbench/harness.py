"""Closed-loop op timing and outside-in accounting shared by the workloads.

One client runs ops back to back (a closed loop); each op is timed with
``perf_counter``. In a traced run the harness also takes, per op, the
range of Spark job ids submitted during the op and the job, stage and
task counts that ``SparkContext.statusTracker()`` shows for it, and
opens the op's root span.
"""

from __future__ import annotations

import contextlib
import json
import math
import os
import resource
import statistics
import time
import traceback
from dataclasses import dataclass, field

#: percentile ladder for tails: the highest rung with >= 10 samples beyond
TAIL_LADDER = (0.5, 0.9, 0.99, 0.999)


def percentile(values, q: float) -> float:
    """Nearest-rank percentile (``q`` in [0, 1])."""
    xs = sorted(values)
    return xs[max(0, math.ceil(q * len(xs)) - 1)]


def tail(values) -> tuple[float, float] | None:
    """``(q, value)`` for the highest ladder percentile that leaves at
    least 10 samples above it, or None when there are fewer than 20."""
    n = len(values)
    best = None
    for q in TAIL_LADDER:
        if n - math.ceil(q * n) >= 10:
            best = (q, percentile(values, q))
    return best


def tree_files(path: str) -> dict[str, int]:
    """Relative path -> size of every regular file under ``path``."""
    out = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            try:
                out[os.path.relpath(p, path)] = os.path.getsize(p)
            except FileNotFoundError:  # vacuumed between listing and stat
                pass
    return out


def _is_commit(rel: str) -> bool:
    head, name = os.path.split(rel)
    return head == "_txlog" and name.endswith(".json") and name[:-5].isdigit()


def write_diff(path: str, before: dict[str, int], after: dict[str, int]) -> dict:
    """What the commits between two listings of one table wrote: data and
    deletion-vector files, bytes (log included), commits, and the
    compactions among them with the bytes they rewrote (read from the
    new commit files themselves)."""
    added = {p: s for p, s in after.items() if p not in before}
    out = {
        "files": sum(1 for p in added if p.endswith(".parquet") and not p.startswith("_txlog")),
        "bytes": sum(added.values()),
        "commits": 0,
        "compactions": 0,
        "bytes_rewritten": 0,
    }
    for rel in added:
        if not _is_commit(rel):
            continue
        out["commits"] += 1
        try:
            with open(os.path.join(path, rel)) as f:
                entry = json.load(f)
        except (OSError, ValueError):
            continue
        if entry.get("op") == "compact":
            out["compactions"] += 1
            out["bytes_rewritten"] += sum(added.get(p, 0) for p in entry.get("added", ()))
    return out


def jvm_pid(spark) -> int | None:
    """Pid of the local driver JVM (pyspark launches it as a child)."""
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def peak_rss_mb(spark) -> tuple[float, float]:
    """(Python max RSS, JVM ``VmHWM``) in MiB."""
    py = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
    jvm = 0.0
    pid = jvm_pid(spark)
    if pid is not None:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        jvm = int(line.split()[1]) / 1024.0
        except OSError:
            pass
    return py, jvm


@dataclass
class OpRecord:
    kind: str
    round: int
    traced: bool
    start: float  # epoch seconds
    wall: float
    ok: bool
    jobs: list[int] = field(default_factory=list)
    extra: dict = field(default_factory=dict)


class Harness:
    def __init__(self, spark, accounting: bool = False):
        self.spark = spark
        #: the traced pass's SpanRecorder, None when not tracing
        self.rec = None
        self.accounting = accounting
        self.ops: list[OpRecord] = []
        self.errors: list[str] = []
        self.traced_round = False
        self.round = -1
        #: called with each OpRecord after the op, outside its timing
        self.after_op = None

    def span(self, name: str):
        """A span around benchmark-side work inside an op (e.g. the
        ``collect`` that executes a plan); a no-op when not tracing."""
        return self.rec.span(name) if self.rec is not None else contextlib.nullcontext()

    # -- job accounting ------------------------------------------------------
    def next_job_id(self) -> int:
        """The id the scheduler gives the next job, whatever its job group
        (streaming micro-batches run under their query's group). Ids are
        taken when a job is submitted, in the submitting thread, so the
        jobs of an op are exactly the ids taken while it ran."""
        return self.spark.sparkContext._jsc.sc().dagScheduler().nextJobId()

    def job_counts(self, job_ids) -> dict:
        """Jobs, stages that ran, and tasks, from the status tracker."""
        st = self.spark.sparkContext.statusTracker()
        stages, tasks = set(), 0
        for j in job_ids:
            info = st.getJobInfo(j)
            for s in info.stageIds if info else ():
                si = st.getStageInfo(s)
                if si is not None and si.numCompletedTasks + si.numFailedTasks > 0:
                    if s not in stages:
                        stages.add(s)
                        tasks += si.numCompletedTasks + si.numFailedTasks
        return {"jobs": len(job_ids), "stages": len(stages), "tasks": tasks}

    # -- the timed op --------------------------------------------------------
    def op(self, kind: str, fn, tables=(), **extra):
        """Run ``fn()`` as one timed op; returns its result, or None when it
        raised (the failure is counted and its traceback kept). The
        ``tables`` directories are listed before and after, untimed, and
        the op record gets what was written to them."""
        before = {t: tree_files(t) for t in tables}
        first = self.next_job_id() if self.accounting else 0
        root = None
        if self.rec is not None:
            self.rec.enabled = self.traced_round
            root = self.rec.begin_op(len(self.ops), kind)
        start = time.time()
        t0 = time.perf_counter()
        ok, result = True, None
        try:
            result = fn()
        except Exception:  # an op failure is data: count it, keep going
            ok = False
            self.errors.append(f"{kind} (round {self.round}): {traceback.format_exc()}")
        wall = time.perf_counter() - t0
        if self.rec is not None:
            self.rec.end_op(root)
            self.rec.enabled = False
        rec = OpRecord(kind, self.round, self.traced_round, start, wall, ok, extra=dict(extra))
        if self.accounting:
            rec.jobs = list(range(first, self.next_job_id()))
            rec.extra.update(self.job_counts(rec.jobs))
        if tables:
            diffs = [write_diff(t, before[t], tree_files(t)) for t in tables]
            rec.extra["written"] = {k: sum(d[k] for d in diffs) for k in diffs[0]}
        self.ops.append(rec)
        if self.after_op is not None:
            self.after_op(rec)
        return result

    def walls(self, kind: str) -> list[float]:
        return [o.wall for o in self.ops if o.kind == kind and o.ok]

    def rounds(self) -> list[tuple[int, bool, float]]:
        """``(round, traced, wall)`` per round whose ops all succeeded; the
        wall is the sum of its ops' walls."""
        per: dict[int, list[OpRecord]] = {}
        for o in self.ops:
            per.setdefault(o.round, []).append(o)
        return [
            (r, ops[0].traced, sum(o.wall for o in ops))
            for r, ops in per.items() if all(o.ok for o in ops)
        ]


def summary(values) -> dict:
    """Median and tail of a list of samples, with the sample count."""
    if not values:
        return {"n": 0}
    out = {"n": len(values), "p50": statistics.median(values)}
    t = tail(values)
    if t is not None:
        out["tail_q"], out["tail"] = t
    return out
