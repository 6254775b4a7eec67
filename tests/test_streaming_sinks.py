"""One streaming-sink starter: every ``foreachBatch`` writer of the package
starts through ``txlog._foreach_batch``, which keys each batch's
exactly-once txn marker by the query's checkpoint."""

from __future__ import annotations

import ast
import json
import os

from pyspark.sql import types as T

import mb_crdb_cdc_dlgen2_synapse_spark as pkg
from mb_crdb_cdc_dlgen2_synapse_spark.streaming.ingest import stream_with_dlq
from mb_crdb_cdc_dlgen2_synapse_spark.txlog import TxTable, stream_to_tx_table

from test_cdc_replay import AFTER_SCHEMA, _env_line

PKG_DIR = os.path.dirname(pkg.__file__)


def _package_calls():
    for dirpath, _dirs, files in os.walk(PKG_DIR):
        for name in files:
            if name.endswith(".py"):
                path = os.path.join(dirpath, name)
                with open(path) as f:
                    tree = ast.parse(f.read(), path)
                for node in ast.walk(tree):
                    if isinstance(node, ast.Call):
                        yield os.path.relpath(path, PKG_DIR), node


def test_one_foreach_batch_call_site():
    """One sink starter: ``.foreachBatch(`` is called once in the package,
    and a txn app id is derived from a checkpoint path in one place."""
    calls = [
        (p, c) for p, c in _package_calls() if isinstance(c.func, ast.Attribute)
    ]
    starts = [p for p, c in calls if c.func.attr == "foreachBatch"]
    assert starts == ["txlog.py"]
    keyed = [
        p for p, c in calls
        if c.func.attr == "abspath"
        and any(
            isinstance(a, ast.Name) and a.id == "checkpoint_dir" for a in c.args
        )
    ]
    assert keyed == ["txlog.py"]


def _text_stream(spark, src):
    return (
        spark.readStream.format("text")
        .load(src)
        .withColumnRenamed("value", "line")
    )


def _write_lines(d, lines):
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, "part.ndjson"), "w") as f:
        f.write("\n".join(lines) + "\n")


def test_dlq_markers_are_keyed_by_checkpoint(spark, tmp_path):
    """Two queries on their own checkpoints land 3 and then 2 well-formed
    envelopes into the same good table: all 5 land (markers keyed by the
    table directory dropped the second query's batch 0), a restart of the
    first query re-lands nothing, and the malformed line is quarantined."""
    good, dlq = str(tmp_path / "good"), str(tmp_path / "dlq")
    ts = "1000000000000000000.0000000000"
    _write_lines(
        str(tmp_path / "src0"),
        [_env_line(f"a{i}", float(i), ts) for i in range(3)] + ['{"after": '],
    )
    _write_lines(
        str(tmp_path / "src1"), [_env_line(f"b{i}", float(i), ts) for i in range(2)]
    )
    runs = [("src0", "ckpt0"), ("src1", "ckpt1"), ("src0", "ckpt0")]
    for src, ckpt in runs:
        stream_with_dlq(
            _text_stream(spark, str(tmp_path / src)),
            AFTER_SCHEMA,
            good,
            dlq,
            str(tmp_path / ckpt),
        ).awaitTermination()
    ids = sorted(r["after"]["id"] for r in TxTable(spark, good).read().collect())
    assert ids == ["a0", "a1", "a2", "b0", "b1"]
    assert TxTable(spark, dlq).read().count() == 1
    apps = {c["txn"]["app"] for c in TxTable(spark, good).history() if c.get("txn")}
    assert apps == {
        f"dlq-good:{os.path.abspath(str(tmp_path / c))}" for c in ("ckpt0", "ckpt1")
    }


def test_untagged_marker_is_the_checkpoint_path(spark, tmp_path):
    """Tables written before the shared starter resume without re-committing:
    an untagged marker is still the bare absolute checkpoint path."""
    src = str(tmp_path / "src")
    _write_lines(src, [json.dumps({"k": i}) for i in range(2)])
    stream = spark.readStream.schema(T.StructType([T.StructField("k", T.LongType())]))
    table_dir, ckpt = str(tmp_path / "t"), str(tmp_path / "ckpt")
    stream_to_tx_table(stream.json(src), table_dir, ckpt).awaitTermination()
    markers = [c["txn"] for c in TxTable(spark, table_dir).history() if c.get("txn")]
    assert markers == [{"app": os.path.abspath(ckpt), "batch": 0}]
