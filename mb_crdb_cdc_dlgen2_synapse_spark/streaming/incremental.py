"""A6: incrementally-maintained aggregate — the reference's flagship query
(revenue per city, /root/reference/README.md:173-192) kept continuously
fresh instead of recomputed over the ever-growing file set each run.

Exactly-once without a transactional table format: each micro-batch writes
its *partial* aggregate to a partition keyed by the query's checkpoint and
the batch id (``batch=<checkpoint key>-N``), and a batch replay after
failure overwrites the same partition — idempotent by construction — while
a second query on a fresh checkpoint lands its partials beside the first's.
Readers merge partials with an exact decimal sum, so the merged result is
independent of batch boundaries.  The journal doubles as
an audit log; a compaction pass (operators/lake.py) folds old partials.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..txlog import TxTable, _foreach_batch


def maintain_city_revenue(
    stream: DataFrame,
    journal_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """foreachBatch journal-writer: per-batch partial revenue by city.

    Input: the (deduplicated) typed envelope stream. Tombstones contribute
    nothing (their ``after`` is NULL).
    """

    def write_partial(batch: DataFrame, txn) -> None:
        partial = (
            batch.filter(F.col("after").isNotNull())
            .groupBy(F.col("after.city").alias("city"))
            .agg(
                F.sum(F.col("after.revenue").cast("decimal(18,6)")).alias("partial_rev"),
                F.count(F.lit(1)).alias("partial_n"),
            )
        )
        # idempotent under replay: the txn marker (checkpoint, batch id)
        # names the directory, so a replay overwrites its own partial and
        # another query's batch of the same id lands beside it
        t = txn()
        query = hashlib.sha1(t["app"].encode()).hexdigest()[:16]
        partial.write.mode("overwrite").parquet(
            f"{journal_dir}/batch={query}-{t['batch']}"
        )

    return _foreach_batch(
        stream, checkpoint_dir, write_partial, available_now, "update"
    )


def read_city_revenue(spark: SparkSession, journal_dir: str) -> DataFrame:
    """Merge the partial-aggregate journal into current totals (exact
    decimal merge — result independent of how events split into batches)."""
    return (
        spark.read.parquet(journal_dir)
        .groupBy("city")
        .agg(
            F.sum("partial_rev").cast("double").alias("total_revenue"),
            F.sum("partial_n").alias("n_events"),
        )
    )


def maintain_distinct_sketches(
    stream: DataFrame,
    table_path: str,
    key_cols: list[str],
    value_col: str,
    checkpoint_dir: str,
    app_id: str = "sketch_state",
    lg_k: int = 12,
    available_now: bool = True,
):
    """Streaming approximate-distinct maintenance: per micro-batch, build
    batch-level HLL sketches per key and union-merge them into a persisted
    sketch table (txlog — exactly-once via per-batch txn markers).

    The scale point: streaming ``countDistinct`` needs state proportional
    to the VALUE set (unbounded); this keeps ONE few-KB sketch per key —
    state tracks group count, never cardinality. Sketch build and
    register-max union are deterministic, so the final estimates equal a
    one-shot batch sketch over the same data exactly (asserted in
    tests/test_sketches.py), and the persisted sketch table stays
    re-mergeable by later rollups (operators/sketches.py). ``app_id``
    tags the checkpoint-keyed txn marker.
    """

    def merge_batch(batch: DataFrame, txn) -> None:
        spark = batch.sparkSession
        t = TxTable(spark, table_path)
        batch_sk = batch.groupBy(*key_cols).agg(
            F.hll_sketch_agg(value_col, F.lit(lg_k)).alias("sketch")
        )
        if t.version() >= 0:
            cur = t.read()
            merged = (
                cur.alias("s")
                .join(batch_sk.alias("b"), key_cols, "full_outer")
                .select(
                    *[
                        F.coalesce(F.col(f"s.{k}"), F.col(f"b.{k}")).alias(k)
                        for k in key_cols
                    ],
                    F.when(
                        F.col("s.sketch").isNotNull()
                        & F.col("b.sketch").isNotNull(),
                        F.hll_union("s.sketch", "b.sketch"),
                    )
                    .otherwise(F.coalesce(F.col("b.sketch"), F.col("s.sketch")))
                    .alias("sketch"),
                )
            )
        else:
            merged = batch_sk
        # staging writes BEFORE the commit swaps the snapshot, so reading
        # `cur` while overwriting is safe; txn marker makes replays no-ops
        t.overwrite(merged, txn=txn(app_id))

    return _foreach_batch(
        stream, checkpoint_dir, merge_batch, available_now, "update"
    )


def read_distinct_estimates(
    spark: SparkSession, table_path: str, key_cols: list[str]
) -> DataFrame:
    """Current approximate-distinct counts from the persisted sketch table
    (no base-data access; further rollups may union the sketches again)."""
    t = TxTable(spark, table_path)
    return t.read().select(
        *key_cols, F.hll_sketch_estimate("sketch").alias("approx_distinct")
    )
