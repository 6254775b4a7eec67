"""replace_where (txlog): Delta's replaceWhere contract — atomic
single-commit region replacement, the incoming-rows-inside-region
constraint, stats-pruned rewrites, DV interaction, and txn idempotence."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from mb_crdb_cdc_dlgen2_synapse_spark.txlog import TxTable


def _df(spark, rows):
    return spark.createDataFrame(rows, "k int, region string, v string")


def _mk(spark, path):
    t = TxTable(spark, path)
    t.append(
        _df(
            spark,
            [(i, "a" if i < 50 else "b", f"v{i}") for i in range(100)],
        ),
        partition_by=["region"],
    )
    return t


def test_replace_region_is_one_atomic_commit(spark, tmp_path):
    t = _mk(spark, str(tmp_path / "t"))
    v0 = t.version()
    old_reader = t.read()
    untouched = [
        (f, os.stat(os.path.join(t.path, f)).st_mtime_ns)
        for f in t.snapshot()[1]
        if "region=b" in f
    ]
    res = t.replace_where(
        _df(spark, [(200 + i, "a", f"new{i}") for i in range(5)]),
        [("region", "==", "a")],
    )
    assert t.version() == v0 + 1  # ONE commit
    got = {(r.k, r.region, r.v) for r in t.read().collect()}
    want = {(200 + i, "a", f"new{i}") for i in range(5)} | {
        (i, "b", f"v{i}") for i in range(50, 100)
    }
    assert got == want
    # snapshot isolation: the pre-replace reader still sees 100 rows
    assert old_reader.count() == 100
    # region=b files byte-identical (stats pruning kept them out)
    assert untouched and all(
        os.stat(os.path.join(t.path, f)).st_mtime_ns == m for f, m in untouched
    )
    assert res["files_rewritten"] >= 1
    assert t.history()[-1]["op"] == "replace_where"


def test_rows_outside_region_are_refused(spark, tmp_path):
    t = _mk(spark, str(tmp_path / "t"))
    v0 = t.version()
    with pytest.raises(ValueError, match="outside the replaced region"):
        t.replace_where(
            _df(spark, [(1, "a", "x"), (2, "b", "leak")]),
            [("region", "==", "a")],
        )
    assert t.version() == v0
    assert t.read().count() == 100


def test_no_overlap_degenerates_to_append(spark, tmp_path):
    t = _mk(spark, str(tmp_path / "t"))
    v0 = t.version()
    t.replace_where(
        _df(spark, [(300, "c", "x")]), [("region", "==", "c")],
        partition_by=["region"],
    )
    assert t.version() == v0 + 1
    assert t.read().count() == 101


def test_txn_marker_makes_backfill_idempotent(spark, tmp_path):
    t = _mk(spark, str(tmp_path / "t"))
    txn = {"app": "backfill-a", "batch": 7}
    t.replace_where(
        _df(spark, [(400, "a", "x")]), [("region", "==", "a")], txn=txn
    )
    v1 = t.version()
    t.replace_where(  # re-delivered
        _df(spark, [(400, "a", "x")]), [("region", "==", "a")], txn=txn
    )
    assert t.version() == v1
    assert t.read().filter(F.col("region") == "a").count() == 1


def test_carried_rows_respect_deletion_vectors(spark, tmp_path):
    """DV-deleted rows in a candidate file must not be resurrected by the
    region rewrite (the carried, non-matching rows have DVs applied)."""
    t = TxTable(spark, str(tmp_path / "t"))
    # one file holding BOTH regions: region=a replacement makes it a
    # candidate, and its region=b rows are carried through the rewrite
    t.append(_df(spark, [(i, "a" if i < 5 else "b", f"v{i}") for i in range(10)]))
    t.delete_where([("k", "==", 7)], mode="dv")  # DV on a carried region-b row
    t.replace_where(_df(spark, [(100, "a", "new")]), [("region", "==", "a")])
    got = sorted(r.k for r in t.read().collect())
    assert got == [5, 6, 8, 9, 100]  # 7 stays deleted; region=a replaced


def test_failed_incoming_stage_leaves_no_orphan(spark, tmp_path, monkeypatch):
    """The rewritten carried rows are staged before the incoming rows: when
    the incoming rows' write fails, the already-staged rewrite is removed
    again — no version added, nothing left for the orphan sweep."""
    from pyspark.sql.readwriter import DataFrameWriter

    t = TxTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, [(i, "a", f"v{i}") for i in range(100)]))
    v0 = t.version()
    real = DataFrameWriter.parquet
    writes = []

    def parquet(self, path, *a, **kw):
        real(self, path, *a, **kw)
        writes.append(path)
        if len(writes) == 2:
            raise RuntimeError("injected incoming-rows write failure")

    with monkeypatch.context() as m:
        m.setattr(DataFrameWriter, "parquet", parquet)
        with pytest.raises(RuntimeError, match="injected incoming-rows"):
            t.replace_where(
                _df(spark, [(i, "a", "new") for i in range(25)]), [("k", "<", 25)]
            )
    assert len(writes) == 2
    assert t.version() == v0
    assert t.orphan_sweep(dry_run=True, grace_seconds=0)["would_remove"] == []
    assert sorted(r.k for r in t.read().collect()) == list(range(100))
