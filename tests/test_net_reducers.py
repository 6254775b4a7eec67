"""r12 optimization: the CDF net-change reducers were rewritten from
row_number windows (+ a full-outer join for the doc twin) into single
min_by/max_by hash aggregates. These tests pin the rewrite to the
original window-based semantics on a crafted batch covering every case:
multi-version keys, update rendered as delete+insert at one version,
insert-then-delete inside the range (must vanish from the doc-image
relation), delete-only keys, insert-only keys, and NULL payloads.

Carried pairs (a copy-on-write rewrite's delete+insert of an unchanged
row, at one version or spread over the range, NULL payload included)
cancel in both reducers: the references exclude every key whose
earliest image is a delete and latest an insert of a null-safe-equal
payload."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from mb_crdb_cdc_dlgen2_synapse_spark.operators.ann_index import _net_changes
from mb_crdb_cdc_dlgen2_synapse_spark.operators.bm25_index import _doc_net_images

ROWS = [
    # (key, payload, _change_type, _commit_version)
    (1, "v1", "insert", 1),              # plain insert
    (2, "v1", "insert", 1),              # update at v3: delete+insert
    (2, "v1", "delete", 3),
    (2, "v3", "insert", 3),
    (3, "old", "delete", 2),             # true delete of pre-range state
    (4, "born", "insert", 2),            # insert-then-delete inside range
    (4, "born", "delete", 4),
    (5, None, "delete", 1),              # NULL payload delete
    (5, "v5", "insert", 6),
    (6, "a", "insert", 1),               # multi-update chain
    (6, "a", "delete", 2),
    (6, "b", "insert", 2),
    (6, "b", "delete", 5),
    (6, "c", "insert", 5),
    (7, "same", "delete", 3),            # carried by a rewrite at v3
    (7, "same", "insert", 3),
    (8, None, "delete", 3),              # carried NULL payload
    (8, None, "insert", 3),
    (9, "x", "delete", 2),               # deleted at v2, same row back at v4
    (9, "x", "insert", 4),
]

CARRIED = {7, 8, 9}


def _changes(spark, key_col, payload_col):
    return spark.createDataFrame(
        ROWS,
        f"{key_col} long, {payload_col} string, _change_type string, "
        "_commit_version long",
    )


def test_net_changes_equals_window_reference(spark):
    changes = _changes(spark, "vec_id", "embedding")
    w = W.partitionBy("vec_id").orderBy(
        F.col("_commit_version").desc(),
        (F.col("_change_type") == "insert").cast("int").desc(),
    )
    first = W.partitionBy("vec_id").orderBy(
        F.col("_commit_version").asc(),
        (F.col("_change_type") == "insert").cast("int").asc(),
    )
    ref = (
        changes.withColumn("__rn", F.row_number().over(w))
        .withColumn("__first", F.first(F.struct("_change_type", "embedding")).over(
            first.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
        ))
        .filter(F.col("__rn") == 1)
        .filter(
            ~(
                (F.col("__first._change_type") == "delete")
                & (F.col("_change_type") == "insert")
                & F.col("__first.embedding").eqNullSafe(F.col("embedding"))
            )
        )
        .drop("__rn", "__first")
    )
    got = _net_changes(changes)
    assert got.columns == changes.columns
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, ref.collect())
    )


def test_doc_net_images_equals_window_join_reference(spark):
    changes = _changes(spark, "doc_id", "text")
    wp = W.partitionBy("doc_id")
    first = (
        changes.withColumn(
            "rn",
            F.row_number().over(
                wp.orderBy(
                    F.col("_commit_version").asc(), F.col("_change_type").asc()
                )
            ),
        )
        .filter((F.col("rn") == 1) & (F.col("_change_type") == "delete"))
        .select("doc_id", F.col("text").alias("old_text"), F.lit(True).alias("had"))
    )
    last = (
        changes.withColumn(
            "rn",
            F.row_number().over(
                wp.orderBy(
                    F.col("_commit_version").desc(), F.col("_change_type").desc()
                )
            ),
        )
        .filter((F.col("rn") == 1) & (F.col("_change_type") == "insert"))
        .select("doc_id", F.col("text").alias("new_text"), F.lit(True).alias("has"))
    )
    ref = (
        first.join(last, "doc_id", "full_outer")
        .filter(
            ~(
                F.coalesce("had", F.lit(False))
                & F.coalesce("has", F.lit(False))
                & F.col("old_text").eqNullSafe(F.col("new_text"))
            )
        )
        .select("doc_id", "old_text", "new_text")
    )
    got = _doc_net_images(changes, "text")
    assert got.columns == ["doc_id", "old_text", "new_text"]
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, ref.collect())
    )
    # the lived-and-died-inside-the-range doc must not appear at all
    assert got.filter(F.col("doc_id") == 4).count() == 0


def test_carried_pairs_cancel_in_both_reducers(spark):
    for reduce, key, payload in (
        (_net_changes, "vec_id", "embedding"),
        (lambda c: _doc_net_images(c, "text"), "doc_id", "text"),
    ):
        got = {r[0] for r in reduce(_changes(spark, key, payload)).collect()}
        assert got & CARRIED == set(), (key, got)
        assert {1, 2, 3, 5, 6} <= got, (key, got)


def test_doc_net_images_single_exchange(spark):
    """The rewrite's point: one exchange, no window sort, no join."""
    plan = _doc_net_images(
        _changes(spark, "doc_id", "text"), "text"
    )._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan and "Window" not in plan
