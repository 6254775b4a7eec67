"""Metric names, units and how each is computed from one run's op records.

``E2E`` is what every untraced run reports (``BENCHMARK.json``'s
``end_to_end``); ``PER_LAYER`` is what every traced run reports
(``per_layer``), with 0 for a layer the workload does not reach.
``REPORT`` lists the end-to-end metrics the human-readable report prints
per workload, each with its sample count and percentile.
"""

from __future__ import annotations

import statistics
from collections import defaultdict

from .harness import summary
from .spans import self_times, union_length

#: (name, unit); the gate's direction and bound live in BENCHMARK.json
E2E = (
    ("setup_s", "s"),
    ("round_p50_s", "s"),
)

OPS = {
    "cdc_ingest": ("ingest", "raw_scan", "table_query"),
    "index_refresh": ("commit", "fold", "search"),
}
ALL_OPS = OPS["cdc_ingest"] + OPS["index_refresh"]

#: metric -> (span names, op kind): mean over traced ops of that kind of
#: the summed self time of those spans
SPAN_SELF = {
    "txlog.merge_into_s.ingest": (("txlog.merge_into",), "ingest"),
    "txlog.merge_into_s.commit": (("txlog.merge_into",), "commit"),
    "txlog.compact_s.ingest": (("txlog.compact", "txlog.compact_layout"), "ingest"),
    "txlog.compact_s.fold": (("txlog.compact", "txlog.compact_layout"), "fold"),
    "txlog.read_s.table_query": (("txlog.read",), "table_query"),
    "txlog.read_s.fold": (("txlog.read",), "fold"),
    "txlog.read_s.search": (("txlog.read",), "search"),
    "txlog.read_changes_s": (("txlog.read_changes",), "fold"),
    "sources.raw_lines_s": (("sources.raw_lines",), "raw_scan"),
    "operators.cdc.flagship_exec_s": (("operators.cdc.flagship", "exec"), "raw_scan"),
    "engine.sql_tx_register_s": (("engine.sql_tx",), "table_query"),
    "engine.sql_tx_exec_s": (("exec",), "table_query"),
    "bm25.catchup_s": (("bm25.catchup",), "fold"),
    "bm25.apply_changes_s": (("bm25.apply_changes",), "fold"),
    "bm25.compact_s": (("bm25.compact",), "fold"),
    "ann.catchup_s": (("ann.catchup",), "fold"),
    "search.bm25_topk_s": (("search.bm25_topk",), "search"),
    "search.hamming_topk_s": (("search.hamming_topk",), "search"),
    "search.rrf_s": (("search.rrf",), "search"),
    "search.exec_s": (("exec",), "search"),
}
#: metric -> (span name, op kind): Spark jobs started inside the span
SPAN_JOBS = {
    "bm25.jobs_per_fold": ("bm25.catchup", "fold"),
    "ann.jobs_per_fold": ("ann.catchup", "fold"),
}

SPARK_FIELDS = (
    ("jobs", "count"),
    ("stages", "count"),
    ("tasks", "count"),
    ("in_job_s", "s"),
    ("outside_job_s", "s"),
    ("executor_run_s", "s"),
    ("executor_cpu_s", "s"),
    ("shuffle_read_bytes", "bytes"),
    ("shuffle_write_bytes", "bytes"),
    ("input_bytes", "bytes"),
)

_OTHER = (
    ("streaming.trigger_s", "s"),
    ("streaming.add_batch_s", "s"),
    ("streaming.source_s", "s"),
    ("streaming.start_stop_s", "s"),
    ("txlog.files_added_per_commit.ingest", "count"),
    ("txlog.files_added_per_commit.commit", "count"),
    ("txlog.bytes_added_per_commit.ingest", "bytes"),
    ("txlog.bytes_added_per_commit.commit", "bytes"),
    ("txlog.compactions.ingest", "count"),
    ("txlog.compactions.fold", "count"),
    ("txlog.bytes_rewritten.ingest", "bytes"),
    ("txlog.bytes_rewritten.fold", "bytes"),
    ("txlog.active_files", "count"),
    ("txlog.dv_files", "count"),
    ("txlog.snapshot_cold_s.table_query", "s"),
    ("txlog.snapshot_cold_s.fold", "s"),
    ("txlog.snapshot_cold_s.search", "s"),
    ("txlog.log_bytes", "bytes"),
    ("txlog.files_read_ratio.table_query", "ratio"),
    ("txlog.files_read_ratio.search", "ratio"),
    ("sources.rows_scanned_per_result", "count"),
    ("index.active_files", "count"),
    ("search.jobs_per_query", "count"),
    ("search.postings_files_read_ratio", "ratio"),
    ("spark.accounting_mismatches", "count"),
    ("driver.python_maxrss_mb", "MiB"),
    ("driver.jvm_hwm_mb", "MiB"),
    ("trace.overhead_ratio", "ratio"),
)

#: (name, unit) of every per-layer metric
PER_LAYER = (
    tuple((m, "s") for m in SPAN_SELF)
    + tuple((m, "count") for m in SPAN_JOBS)
    + _OTHER
    + tuple((f"spark.{f}.{op}", unit) for f, unit in SPARK_FIELDS for op in ALL_OPS)
)

#: end-to-end metrics the report prints per workload: (name, unit)
REPORT = {
    "cdc_ingest": (
        ("setup_s", "s"), ("commit_p50_s", "s"), ("commit_tail_s", "s"),
        ("ingest_events_per_s", "1/s"), ("write_amp", "ratio"), ("space_amp", "ratio"),
        ("raw_scan_p50_s", "s"), ("raw_scan_tail_s", "s"),
        ("table_query_p50_s", "s"), ("table_query_tail_s", "s"),
        ("round_p50_s", "s"), ("driver_peak_rss_mb", "MiB"), ("ops_failed_ratio", "ratio"),
    ),
    "index_refresh": (
        ("setup_s", "s"), ("commit_p50_s", "s"), ("commit_tail_s", "s"),
        ("fold_p50_s", "s"), ("fold_tail_s", "s"),
        ("search_p50_s", "s"), ("search_tail_s", "s"),
        ("round_p50_s", "s"), ("driver_peak_rss_mb", "MiB"), ("ops_failed_ratio", "ratio"),
    ),
}


def _mean(xs) -> float:
    xs = list(xs)
    return statistics.fmean(xs) if xs else 0.0


def commit_latencies(h) -> list[float]:
    """Batch landing to commit visible: the ingest op without its
    maintenance call, or the whole ``commit`` op."""
    return [
        o.extra["commit_s"] if o.kind == "ingest" else o.wall
        for o in h.ops
        if o.ok and o.kind in ("ingest", "commit")
    ]


def report(workload: str, h, setup_s: float, rss: tuple[float, float], cdc=None) -> dict:
    """name -> {"value", "unit", "n", "pct"} for the workload's report."""
    ok = [o for o in h.ops if o.ok]
    vals: dict[str, tuple[float | None, int, str]] = {}

    def timing(prefix: str, samples: list[float]) -> None:
        s = summary(samples)
        vals[f"{prefix}_p50_s"] = (s.get("p50"), s["n"], "p50")
        if "tail" in s:
            vals[f"{prefix}_tail_s"] = (s["tail"], s["n"], f"p{s['tail_q'] * 100:g}")
        else:
            vals[f"{prefix}_tail_s"] = (None, s["n"], "none: tail needs n >= 20")

    vals["setup_s"] = (setup_s, 1, "single")
    timing("commit", commit_latencies(h))
    timing("round", [wall for _r, _t, wall in h.rounds()])
    for kind in ("raw_scan", "table_query", "fold", "search"):
        timing(kind, h.walls(kind))
    vals["driver_peak_rss_mb"] = (rss[0] + rss[1], 1, "peak")
    attempted = len(h.ops)
    vals["ops_failed_ratio"] = ((attempted - len(ok)) / attempted if attempted else 0.0,
                                attempted, "ratio")
    ingests = [o for o in ok if o.kind == "ingest"]
    if ingests:
        events = sum(o.extra["events"] for o in ingests)
        vals["ingest_events_per_s"] = (events / sum(o.wall for o in ingests), len(ingests), "mean")
        written = sum(o.extra["written"]["bytes"] for o in ingests)
        landed = sum(o.extra["landed_bytes"] for o in ingests)
        vals["write_amp"] = (written / landed, len(ingests), "ratio")
    if cdc is not None:
        vals["space_amp"] = (cdc["table_bytes"] / cdc["live_json_bytes"], 1, "end of run")
    units = dict(REPORT[workload])
    return {
        name: {"value": vals[name][0], "unit": units[name], "n": vals[name][1], "pct": vals[name][2]}
        for name, _u in REPORT[workload]
        if name in vals
    }


def e2e(rep: dict) -> dict:
    """The ``BENCHMARK.json`` end-to-end subset of a report."""
    return {name: {"value": rep[name]["value"], "unit": unit} for name, unit in E2E}


def layers(h, rec, elog, extras: dict) -> dict:
    """Every per-layer metric; ``elog`` is the parsed event log and
    ``extras`` holds run-level values (RSS, log bytes)."""
    out = {name: 0.0 for name, _u in PER_LAYER}
    by_kind: dict[str, list] = {}
    for o in h.ops:
        if o.ok:
            by_kind.setdefault(o.kind, []).append(o)

    # spans: self time per op, by span name
    selfs = self_times(rec.spans)
    per_op: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    jobs_per_op: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for s in rec.spans:
        if s.op is not None:
            per_op[s.op][s.name] += selfs[s.id]
            jobs_per_op[s.op][s.name] += s.attrs.get("jobs", 0)

    def traced_ops(kind):
        return [i for i, o in enumerate(h.ops) if o.ok and o.traced and o.kind == kind]

    for name, (spans, kind) in SPAN_SELF.items():
        out[name] = _mean(sum(per_op[i][s] for s in spans) for i in traced_ops(kind))
    for name, (span, kind) in SPAN_JOBS.items():
        out[name] = _mean(jobs_per_op[i][span] for i in traced_ops(kind))

    ingests = by_kind.get("ingest", [])
    for key in ("trigger_s", "add_batch_s", "source_s"):
        out[f"streaming.{key}"] = _mean(o.extra["progress"][key] for o in ingests)
    out["streaming.start_stop_s"] = _mean(
        o.extra["commit_s"] - o.extra["progress"]["trigger_s"] for o in ingests
    )
    for kind in ("ingest", "commit"):
        ws = [o.extra["written"] for o in by_kind.get(kind, ())]
        commits = sum(w["commits"] for w in ws)
        if commits:
            out[f"txlog.files_added_per_commit.{kind}"] = sum(w["files"] for w in ws) / commits
            out[f"txlog.bytes_added_per_commit.{kind}"] = sum(w["bytes"] for w in ws) / commits
    for kind in ("ingest", "fold"):
        ws = [o.extra["written"] for o in by_kind.get(kind, ())]
        out[f"txlog.compactions.{kind}"] = sum(w["compactions"] for w in ws)
        out[f"txlog.bytes_rewritten.{kind}"] = sum(w["bytes_rewritten"] for w in ws)
    writes = by_kind.get("ingest", []) + by_kind.get("commit", [])
    out["txlog.active_files"] = _mean(o.extra["active_files"] for o in writes)
    out["txlog.dv_files"] = _mean(o.extra["dv_files"] for o in writes)
    out["index.active_files"] = _mean(o.extra["active_files"] for o in by_kind.get("fold", ()))
    for kind in ("table_query", "fold", "search"):
        out[f"txlog.snapshot_cold_s.{kind}"] = _mean(
            o.extra["snapshot_cold_s"] for o in by_kind.get(kind, ())
        )
    for kind in ("table_query", "search"):
        ops = [o for o in by_kind.get(kind, ()) if o.traced]
        active = sum(o.extra.get("files_active", 0) for o in ops)
        if active:
            out[f"txlog.files_read_ratio.{kind}"] = (
                sum(o.extra["files_read"] for o in ops) / active
            )
    searches = [o for o in by_kind.get("search", ()) if o.traced]
    post_active = sum(o.extra.get("postings_active", 0) for o in searches)
    if post_active:
        out["search.postings_files_read_ratio"] = (
            sum(o.extra["postings_read"] for o in searches) / post_active
        )
    scans = by_kind.get("raw_scan", [])
    out["sources.rows_scanned_per_result"] = _mean(
        o.extra["lines"] / o.extra["result_rows"] for o in scans if o.extra.get("result_rows")
    )
    out["search.jobs_per_query"] = _mean(o.extra["jobs"] for o in by_kind.get("search", ()))

    # Spark accounting: status tracker counts, event-log metrics and times
    mismatches = 0
    for kind, ops in by_kind.items():
        rows = []
        for o in ops:
            tot = elog.op_totals(o.jobs)
            end = o.start + o.wall
            in_job = union_length(
                (max(a, o.start), min(b, end))
                for a, b in elog.job_intervals(o.jobs)
                if min(b, end) > max(a, o.start)
            )
            if accounting_differs(o, elog):
                mismatches += 1
            rows.append({
                "jobs": o.extra["jobs"], "stages": o.extra["stages"], "tasks": o.extra["tasks"],
                "in_job_s": in_job, "outside_job_s": o.wall - in_job,
                **{k: tot.get(k, 0.0) for k in (
                    "executor_run_s", "executor_cpu_s", "shuffle_read_bytes",
                    "shuffle_write_bytes", "input_bytes")},
            })
        for f, _unit in SPARK_FIELDS:
            out[f"spark.{f}.{kind}"] = _mean(r[f] for r in rows)
    out["spark.accounting_mismatches"] = mismatches

    out["driver.python_maxrss_mb"], out["driver.jvm_hwm_mb"] = extras["rss"]
    out["txlog.log_bytes"] = extras["log_bytes"]
    out["trace.overhead_ratio"] = overhead_ratio(h.rounds())
    return out


def accounting_differs(o, elog) -> bool:
    """Whether the event log disagrees with the status-tracker accounting
    of op ``o``: the jobs submitted while the op ran, picked by their
    logged submission time, must be the op's job-id range, and the
    stages and tasks the log shows for them the tracker's counts."""
    if elog.jobs_submitted(o.start, o.start + o.wall) != o.jobs:
        return True
    tot = elog.op_totals(o.jobs)
    return (tot["stages"], tot.get("tasks", 0)) != (o.extra["stages"], o.extra["tasks"])


def overhead_ratio(rounds) -> float:
    """Mean traced round over mean untraced round, compared within each
    round parity that has both kinds (consecutive folds alternate between
    two code paths) and averaged over those parities; round 0 pays
    first-use costs and is left out. 0 when no parity has both."""
    ratios = []
    for parity in (0, 1):
        t = [w for r, traced, w in rounds if r > 0 and r % 2 == parity and traced]
        u = [w for r, traced, w in rounds if r > 0 and r % 2 == parity and not traced]
        if t and u:
            ratios.append(_mean(t) / _mean(u))
    return _mean(ratios)
