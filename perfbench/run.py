#!/usr/bin/env python3
"""Pipeline benchmark for the CDC -> lake -> index engine.

Usage (from the repository root):

    python3 perfbench/run.py --workload cdc_ingest --seed 1 --seconds 8 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 8 --trace 0

``--trace 0`` times a closed loop of one client and prints the
end-to-end metrics; ``--trace 1`` is the separate traced pass (Spark
event log on, engine entry points wrapped in spans) that prints the
per-layer metrics. Either way the outputs are checked against the
generator's golden answers after the loop, untimed. Human-readable lines
come first; the last stdout line is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``. ``--workload all`` runs every
workload in its own process and exits non-zero if any check failed.
Everything the run writes lives under ``.perfbench_work/`` in the
checkout and is removed at the end, except the span dumps of traced runs
in ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import platform
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "mb_crdb_cdc_dlgen2_synapse_spark"
WORKLOAD_NAMES = ("cdc_ingest", "index_refresh")
#: driver JVM maximum heap; the heap starts small and the collector grows
#: it as the program's allocation needs
DRIVER_MEMORY = "2g"
#: a traced pass starts no new step once the run's wall time, set-up
#: included, plus a mean step would pass this, even before its fourth
#: round: the correctness check and shutdown that follow must still end
#: well inside the 180 s a run may take, also on a slow host
TRACE_WALL_LIMIT_S = 80.0

#: (module, attribute, span name) wrapped in a traced run. Engine methods
#: import the operator modules at call time, so patched module attributes
#: take effect inside them.
TRACE_TARGETS = tuple(
    (f"{PKG}{mod}", attr, name)
    for mod, attr, name in (
        (".engine", "Engine.start_dv_ingestion", "streaming.ingest"),
        (".engine", "Engine.maintain", "engine.maintain"),
        (".engine", "Engine.raw_lines", "sources.raw_lines"),
        (".engine", "Engine.flagship_revenue", "operators.cdc.flagship"),
        (".engine", "Engine.sql_tx", "engine.sql_tx"),
        (".engine", "Engine.build_bm25_index", "engine.build_bm25_index"),
        (".engine", "Engine.build_ann_index", "engine.build_ann_index"),
        (".engine", "Engine.hybrid_search", "engine.hybrid_search"),
        (".txlog", "TxTable.merge_into", "txlog.merge_into"),
        (".txlog", "TxTable.append", "txlog.append"),
        (".txlog", "TxTable.compact", "txlog.compact"),
        (".txlog", "TxTable.compact_layout", "txlog.compact_layout"),
        (".txlog", "TxTable.read", "txlog.read"),
        (".txlog", "TxTable.read_changes", "txlog.read_changes"),
        (".txlog", "TxTable.vacuum", "txlog.vacuum"),
        (".operators.bm25_index", "catchup_bm25_index", "bm25.catchup"),
        (".operators.bm25_index", "bm25_apply_changes", "bm25.apply_changes"),
        (".operators.bm25_index", "maybe_compact_index", "bm25.compact"),
        (".operators.bm25_index", "bm25_index_topk", "search.bm25_topk"),
        (".operators.ann_index", "catchup_ann_index", "ann.catchup"),
        (".operators.similarity", "probed_hamming_topk", "search.hamming_topk"),
        (".operators.retrieval", "rrf_fuse", "search.rrf"),
    )
)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES + ("all",))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=8.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def _spark_conf(work: str, trace: bool) -> dict[str, str]:
    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        # Spark 4.1's default event log is zstd-compressed and rolling,
        # which the stdlib cannot read
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def start_spark(work: str, trace: bool):
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    for d in ("tmp", "spark-local", "eventlog"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    from mb_crdb_cdc_dlgen2_synapse_spark.session import get_spark

    return get_spark(app_name="perfbench", extra_conf=_spark_conf(work, trace))


def stop_spark(spark) -> None:
    """Stop the session and the driver JVM, and wait for the JVM to exit
    (it exits when its stdin closes), also when stopping the session
    fails."""
    from pyspark import SparkContext

    proc = getattr(spark.sparkContext._gateway, "proc", None)
    try:
        spark.stop()
    finally:
        if proc is not None:
            with contextlib.suppress(OSError):
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = SparkContext._jvm = None


def cpu_calibration_s() -> float:
    """Seconds for a fixed single-threaded integer loop, taken before the
    session starts: how fast this host ran (time stolen by co-tenants of
    a shared host shows here), for comparing runs from different
    windows."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(2_000_000):
        acc += i * i
    return time.perf_counter() - t0


def environment(spark, seed: int, workload: str, calibration_s: float) -> dict:
    import pyspark

    return {
        "workload": workload,
        "seed": seed,
        "nproc": nproc(),
        "master": spark.sparkContext.master,
        "spark": spark.version,
        "pyspark": pyspark.__version__,
        "python": platform.python_version(),
        "driver_memory": DRIVER_MEMORY,
        "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
        "cpu_calibration_s": round(calibration_s, 4),
    }


class _Tracer:
    """Everything a traced run adds: spans through the wrapped entry
    points, and per-op reads of table state taken after each op."""

    def __init__(self, spark, h, wl):
        from perfbench.spans import Patcher, SpanRecorder

        self.spark, self.wl = spark, wl
        self.rec = SpanRecorder()
        self.captured: list[tuple[str, object]] = []
        self.patcher = Patcher(
            self.rec,
            hooks={"txlog.read": self._capture_read},
            jobs_fn=h.next_job_id,
            count_jobs=("bm25.catchup", "ann.catchup"),
        )

    def _capture_read(self, _sp, args, _kwargs, result) -> None:
        self.captured.append((args[0].path, result))

    def install(self) -> None:
        self.patcher.wrap_all(TRACE_TARGETS)

    def after_op(self, rec) -> None:
        from mb_crdb_cdc_dlgen2_synapse_spark.txlog import TxTable

        captured, self.captured = self.captured, []
        if not rec.ok:
            return
        active, times = {}, []
        for path in self.wl.op_tables(rec.kind):
            t0 = time.perf_counter()
            active[path] = len(TxTable(self.spark, path).snapshot()[1])
            times.append(time.perf_counter() - t0)
        if times:
            rec.extra["snapshot_cold_s"] = sum(times) / len(times)
        rec.extra["active_files"] = sum(active.values())
        rec.extra["dv_files"] = sum(
            len(os.listdir(os.path.join(p, "_dv")))
            for p in active if os.path.isdir(os.path.join(p, "_dv"))
        )
        if rec.traced and rec.kind in ("table_query", "search"):
            read = total = post_read = post_total = 0
            for path, df in captured:
                n = len(df.inputFiles())
                a = active.get(path)
                if a is None:
                    a = active[path] = len(TxTable(self.spark, path).snapshot()[1])
                read, total = read + n, total + a
                if path == getattr(self.wl, "bm25", None):
                    post_read, post_total = post_read + n, post_total + a
            rec.extra.update(files_read=read, files_active=total,
                             postings_read=post_read, postings_active=post_total)


def _log_bytes(tables) -> int:
    from perfbench.harness import tree_files

    return sum(sum(tree_files(os.path.join(t, "_txlog")).values()) for t in tables)


def run_workload(name: str, seed: int, seconds: float, trace: bool) -> tuple[dict, int]:
    """One workload in this process; returns (result line, exit code)."""
    calibration_s = cpu_calibration_s()
    t_start = time.perf_counter()
    work = os.path.join(ROOT, ".perfbench_work", f"{name}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        return _run(name, seed, seconds, trace, work, t_start, calibration_s)
    finally:
        from perfbench import procs

        # the Python worker daemon may outlive the JVM by a moment
        procs.reap_children()
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # other runs may share the parent
            os.rmdir(os.path.dirname(work))


def _run(name, seed, seconds, trace, work, t_start, calibration_s) -> tuple[dict, int]:
    from perfbench import metrics
    from perfbench.harness import Harness, peak_rss_mb, tree_files
    from perfbench.spans import parse_event_log
    from perfbench.workloads import WORKLOADS

    spark = start_spark(work, trace)
    try:
        from mb_crdb_cdc_dlgen2_synapse_spark.engine import Engine

        print("env " + json.dumps(environment(spark, seed, name, calibration_s)), flush=True)
        h = Harness(spark, accounting=trace)
        wl = WORKLOADS[name](h, Engine(spark), work, seed)
        tracer = None
        if trace:
            tracer = _Tracer(spark, h, wl)
            h.rec = tracer.rec
            h.after_op = tracer.after_op
        wl.setup()
        if tracer is not None:
            tracer.install()
        setup_s = time.perf_counter() - t_start

        # closed loop, one client: rounds back to back in steps of
        # ``wl.STEP_ROUNDS`` rounds (a cycle the workload repeats), a new
        # step only while the time left covers a mean step, so a run
        # measures about ``seconds`` whatever the round length and always
        # whole cycles. A traced pass traces rounds in pairs (1-2 traced,
        # 3-4 not, 5-6 traced, ...) so that traced and untraced rounds of
        # the same parity exist: consecutive ANN folds alternate between
        # two code paths. It runs at least four rounds unless that would
        # take it past TRACE_WALL_LIMIT_S.
        t0 = time.perf_counter()
        rnd = 0
        while True:
            for _ in range(wl.STEP_ROUNDS):
                h.round, h.traced_round = rnd, trace and rnd > 0 and (rnd - 1) // 2 % 2 == 0
                wl.run_round()
                rnd += 1
            loop_s = time.perf_counter() - t0
            step_s = loop_s * wl.STEP_ROUNDS / rnd
            if loop_s + step_s > seconds and not (trace and rnd < 4):
                break
            if trace and time.perf_counter() - t_start + step_s > TRACE_WALL_LIMIT_S:
                break

        errors = h.errors + wl.check()
        rss = peak_rss_mb(spark)
        cdc = None
        if name == "cdc_ingest":
            cdc = {"table_bytes": sum(tree_files(wl.table).values()),
                   "live_json_bytes": wl.live_json_bytes()}
        log_bytes = _log_bytes(wl.tables())
        app_id = spark.sparkContext.applicationId
    finally:
        stop_spark(spark)

    rep = metrics.report(name, h, setup_s, rss, cdc)
    print(f"loop {loop_s:.3f} s, {rnd} rounds, {len(h.ops)} ops", flush=True)
    for m, v in rep.items():
        val = "n/a" if v["value"] is None else f"{v['value']:.6g}"
        print(f"metric {name} {m} = {val} {v['unit']} (n={v['n']}, {v['pct']})")
    if trace:
        elog = parse_event_log(os.path.join(work, "eventlog", app_id))
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        tracer.rec.dump(os.path.join(out_dir, f"spans-{name}-seed{seed}.jsonl"))
        values = metrics.layers(h, tracer.rec, elog, {"rss": rss, "log_bytes": log_bytes})
        out_metrics = {n: {"value": values[n], "unit": u} for n, u in metrics.PER_LAYER}
    else:
        out_metrics = metrics.e2e(rep)
    for e in errors:
        print(f"CHECK FAILED: {e}", file=sys.stderr)
    result = {
        "correct": not errors,
        "attempted": len(h.ops),
        "failed": sum(1 for o in h.ops if not o.ok),
        "metrics": out_metrics,
    }
    return result, (0 if not errors else 1)


def run_all(args) -> int:
    """Every workload, each in its own process; prints their lines and
    one combined result with metrics keyed ``<workload>.<metric>``."""
    combined = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    code = 0
    for name in WORKLOAD_NAMES:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        lines = proc.stdout.strip().splitlines()
        for line in lines[:-1]:
            print(line)
        try:
            res = json.loads(lines[-1])
        except (IndexError, ValueError):
            print(f"{name}: no result line (exit {proc.returncode})", file=sys.stderr)
            return proc.returncode or 1
        code = code or proc.returncode
        combined["correct"] &= res["correct"]
        combined["attempted"] += res["attempted"]
        combined["failed"] += res["failed"]
        for m, v in res["metrics"].items():
            combined["metrics"][f"{name}.{m}"] = v
    print(json.dumps(combined), flush=True)
    return code


def main(argv=None) -> int:
    args = parse_args(argv)
    # measure the checkout's own engine, never an installed copy
    if not os.path.isfile(os.path.join(ROOT, PKG, "__init__.py")):
        print(f"perfbench: package {PKG!r} not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import procs

    procs.exit_on_signals()
    procs.adopt_orphans()
    if args.workload == "all":
        try:
            return run_all(args)
        finally:
            procs.reap_children()
    result, code = run_workload(args.workload, args.seed, args.seconds, bool(args.trace))
    print(json.dumps(result), flush=True)
    return code


if __name__ == "__main__":
    sys.exit(main())
