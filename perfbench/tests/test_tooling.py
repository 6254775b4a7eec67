"""Span recorder, self time, event-log parser, tail ladder, and the
agreement between BENCHMARK.json and the metric tables."""

from __future__ import annotations

import json
import os
import types

from perfbench import metrics
from perfbench.harness import OpRecord, percentile, tail, write_diff
from perfbench.spans import (
    EventLog, JobRecord, Patcher, Span, SpanRecorder, parse_event_log, self_times, union_length,
)

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def test_union_length_merges_overlaps():
    assert union_length([]) == 0
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert union_length([(0, 10), (2, 3)]) == 10


def test_self_time_subtracts_children_once():
    spans = [
        Span("op", 0.0, 10.0, parent=None, id=0),
        Span("a", 1.0, 4.0, parent=0, id=1),
        Span("b", 3.0, 6.0, parent=0, id=2),  # overlaps a (another thread)
        Span("c", 2.0, 3.0, parent=1, id=3),
        Span("d", 9.0, 12.0, parent=0, id=4),  # runs past its parent
    ]
    st = self_times(spans)
    assert st[0] == 10.0 - (5.0 + 1.0)  # [1,6] and [9,10] covered
    assert st[1] == 3.0 - 1.0
    assert st[2] == 3.0 and st[3] == 1.0 and st[4] == 3.0


def test_patcher_records_nested_spans_and_restores():
    mod = types.SimpleNamespace()
    mod.inner = lambda x: x + 1
    mod.outer = lambda x: mod.inner(x) * 2
    rec = SpanRecorder()
    seen = []
    p = Patcher(rec, hooks={"inner": lambda sp, a, k, r: seen.append((a, r))})
    orig_outer = mod.outer
    p.wrap(mod, "inner", "inner")
    p.wrap(mod, "outer", "outer")
    assert mod.outer(1) == 4 and rec.spans == []  # disabled: nothing kept
    rec.enabled = True
    root = rec.begin_op(0, "op")
    assert mod.outer(1) == 4
    rec.end_op(root)
    names = {s.name: s for s in rec.spans}
    assert names["outer"].parent == names["op"].id
    assert names["inner"].parent == names["outer"].id
    assert all(s.op == 0 for s in rec.spans)
    assert seen == [((1,), 2)]
    p.restore()
    assert mod.outer is orig_outer


def test_parse_event_log(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 3, "Submission Time": 1000, "Stage IDs": [5, 6]},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 5, "Task Metrics": {
            "Executor Run Time": 200, "Executor CPU Time": 150_000_000,
            "Input Metrics": {"Bytes Read": 10},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 7},
            "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": 0}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 5, "Task Metrics": {
            "Executor Run Time": 100, "Executor CPU Time": 50_000_000,
            "Shuffle Read Metrics": {"Remote Bytes Read": 1, "Local Bytes Read": 2}}},
        {"Event": "SparkListenerJobEnd", "Job ID": 3, "Completion Time": 1500},
    ]
    path = tmp_path / "app"
    path.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    log = parse_event_log(str(path))
    tot = log.op_totals([3, 4])
    assert tot["jobs"] == 1 and tot["stages"] == 1 and tot["tasks"] == 2  # stage 6 skipped
    assert abs(tot["executor_run_s"] - 0.3) < 1e-12
    assert abs(tot["executor_cpu_s"] - 0.2) < 1e-12
    assert tot["input_bytes"] == 10 and tot["shuffle_write_bytes"] == 7
    assert tot["shuffle_read_bytes"] == 3
    assert log.job_intervals([3]) == [(1.0, 1.5)]


def test_accounting_check_sees_a_job_counted_under_the_wrong_op():
    # jobs 3 and 4 were submitted while the op ran (t = 100.0 .. 102.0 s);
    # job 5 one millisecond after it ended
    elog = EventLog(
        jobs={j: JobRecord(j, ms, ms + 5, [j]) for j, ms in
              ((2, 99_990), (3, 100_000), (4, 101_500), (5, 102_001))},
        stage_tasks={j: {"tasks": 2.0} for j in (2, 3, 4, 5)},
    )
    op = OpRecord("ingest", 0, True, start=100.0, wall=2.0, ok=True, jobs=[3, 4],
                  extra={"stages": 2, "tasks": 4})
    assert elog.jobs_submitted(100.0, 102.0) == [3, 4]
    assert not metrics.accounting_differs(op, elog)
    # the tracker range lost job 4 (e.g. a job of another job group)
    lost = OpRecord("ingest", 0, True, 100.0, 2.0, True, jobs=[3],
                    extra={"stages": 1, "tasks": 2})
    assert metrics.accounting_differs(lost, elog)
    # the range took in job 5, which the next op submitted
    extra = OpRecord("ingest", 0, True, 100.0, 2.0, True, jobs=[3, 4, 5],
                     extra={"stages": 3, "tasks": 6})
    assert metrics.accounting_differs(extra, elog)
    # same jobs, but the tracker missed tasks
    short = OpRecord("ingest", 0, True, 100.0, 2.0, True, jobs=[3, 4],
                     extra={"stages": 2, "tasks": 3})
    assert metrics.accounting_differs(short, elog)


def test_tail_needs_ten_samples_beyond():
    assert tail(list(range(19))) is None
    assert tail(list(range(1, 21))) == (0.5, 10)
    xs = list(range(1, 101))
    assert tail(xs) == (0.9, 90) and percentile(xs, 0.5) == 50


def test_write_diff_reads_compactions_from_new_commits(tmp_path):
    t = tmp_path / "t"
    (t / "_txlog").mkdir(parents=True)
    (t / "a.parquet").write_bytes(b"x" * 10)
    before = {"a.parquet": 10}
    (t / "b.parquet").write_bytes(b"x" * 30)
    (t / "_txlog" / "00000000000000000001.json").write_text(
        json.dumps({"op": "compact", "added": ["b.parquet"]})
    )
    after = {"a.parquet": 10, "b.parquet": 30, "_txlog/00000000000000000001.json": 40}
    d = write_diff(str(t), before, after)
    assert d == {"files": 1, "bytes": 70, "commits": 1, "compactions": 1, "bytes_rewritten": 30}


def test_benchmark_json_matches_metric_tables():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == list(metrics.E2E)
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == list(metrics.PER_LAYER)
    assert [w["name"] for w in spec["workloads"]] == list(metrics.OPS)


def test_overhead_ratio_compares_rounds_of_equal_parity():
    # odd rounds cost 10 untraced, even rounds 20; tracing adds 10%
    rounds = [(0, False, 99.0), (1, True, 11.0), (2, True, 22.0), (3, False, 10.0),
              (4, False, 20.0)]
    assert abs(metrics.overhead_ratio(rounds) - 1.1) < 1e-12
    assert metrics.overhead_ratio([(0, False, 1.0), (1, True, 1.0)]) == 0.0
