"""Structured Streaming ingestion — the reference pipeline's CDC half
(/root/reference/README.md:131-138): unbounded changefeed consumption,
at-least-once dedup, lake materialization, and keyed latest-state merge.

Mapping to reference semantics (SURVEY.md §2.7):
  T1 unbounded file-arrival micro-batches  -> ``readStream`` file source
     (tests use ``Trigger.AvailableNow`` for bounded replay)
  T2 event time (``updated``) vs arrival date (dir name) -> both kept
  T3 watermark / late data                 -> ``withWatermark``
  T6 stateful latest-state                 -> ``materialize_latest_state``:
     one deletion-vector merge commit per micro-batch
  T8 exactly-once                          -> checkpoint + idempotent sink
     (at-least-once input x idempotent sink = effectively-once); every
     ``foreachBatch`` writer starts through ``txlog._foreach_batch``, which
     keys txn markers by the query's checkpoint
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..sources.ndjson import cdc_envelope_schema
from ..operators.cdc import latest_state
from ..txlog import TxTable, _foreach_batch


def changefeed_stream(
    spark: SparkSession,
    landing_dir: str,
    after_schema: T.StructType,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """T1/T2: unbounded typed envelope stream from the NDJSON landing zone.

    Adds ``updated_ts`` (event time, from the changefeed's decimal-nanos
    string) and ``ingest_date`` (arrival partition, from the date dir name —
    README.md:182's layout).
    """
    reader = (
        spark.readStream.schema(cdc_envelope_schema(after_schema))
        .option("pathGlobFilter", "*.ndjson")
        .option("recursiveFileLookup", "false")
    )
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    df = reader.json(f"{landing_dir}/*")
    return (
        df.withColumn(
            "updated_ts",
            F.timestamp_micros(
                (F.col("updated").cast("decimal(38,10)") / F.lit(1000)).cast("long")
            ),
        )
        .withColumn(
            "ingest_date",
            F.to_date(F.element_at(F.split(F.input_file_name(), "/"), -2)),
        )
    )


def dedup_stream(stream: DataFrame, watermark_delay: str = "1 day") -> DataFrame:
    """Q4 streaming: drop at-least-once duplicate emissions within the
    watermark horizon. State is bounded by the watermark — duplicates are
    only possible within a changefeed's retry window, so '1 day' is ample."""
    return stream.withWatermark("updated_ts", watermark_delay).dropDuplicatesWithinWatermark(
        ["key", "updated"]
    )


def stream_to_lake(
    stream: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    fmt: str = "parquet",
    available_now: bool = True,
):
    """S3: bronze materialization — append the (deduped) envelope stream to a
    date-partitioned lake, exactly the reference's landing layout but typed
    and columnar. Checkpointing makes the sink restartable (T8)."""
    writer = (
        stream.writeStream.format(fmt)
        .option("checkpointLocation", checkpoint_dir)
        .partitionBy("ingest_date")
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start(out_dir)


#: ``updated`` is the changefeed's decimal-nanos string (README.md:137-138).
#: Ordering it AS A STRING is only correct while every value has the same
#: digit count; this cast gives true numeric "latest" across producers whose
#: timestamps differ in width or padding.
_UPDATED_NUMERIC = "cast(updated as decimal(38,10))"


def read_latest_state(spark: SparkSession, table_dir: str) -> DataFrame:
    """Live rows of a ``materialize_latest_state`` table: its tombstone
    markers (``after IS NULL``) filtered out, the ``bucket`` column
    dropped."""
    return (
        TxTable(spark, table_dir)
        .read()
        .filter(F.col("after").isNotNull())
        .drop("bucket")
    )


def materialize_latest_state(
    stream: DataFrame,
    table_dir: str,
    checkpoint_dir: str,
    key_expr: str = "cast(key as string)",
    available_now: bool = True,
    n_buckets: int = 32,
):
    """T6/T7/T8: maintain the current-state txlog table (one latest row
    per ``row_key``, bucketed by ``pmod(xxhash64(row_key), n_buckets)``)
    with a ``foreachBatch`` keyed merge whose per-batch cost tracks the
    BATCH, not total state. Per batch: reduce the batch to latest-per-key,
    keep only rows NEWER than the current state (numeric-timestamp compare
    against a column-pruned scan of the touched buckets' ``row_key``/
    ``updated``), and land them as ONE merge-on-read commit
    (``merge_into(mode="dv")``); the first batch is a plain append.

    The cost profile this buys at 100 TB state: a bucket overwrite would
    rewrite every touched bucket's FULL rows each trigger; this reads only
    two thin columns of the touched buckets and writes only the CHANGED
    rows plus kilobytes of deletion vector. Tombstones stay as marker rows
    (after NULL), exactly how a Delta MERGE target retains delete markers
    until VACUUM, so a late out-of-order update for a deleted key cannot
    resurrect it; readers filter them out (``read_latest_state``). A
    re-delivered batch is stale against the state it already landed, so
    replays are no-ops (effectively-once, T8). Run ``compact()`` on a
    maintenance cadence to fold vectors into data files."""

    def merge_batch(batch: DataFrame, txn) -> None:
        table = TxTable(batch.sparkSession, table_dir)
        incoming = batch.select(
            F.expr(key_expr).alias("row_key"),
            F.col("updated"),
            F.col("after"),
        ).withColumn(
            "bucket", F.pmod(F.xxhash64("row_key"), F.lit(n_buckets)).cast("int")
        )
        incoming = latest_state(
            incoming.withColumn("__ts", F.expr(_UPDATED_NUMERIC)),
            ["row_key"],
            "__ts",
        ).drop("__ts")
        touched = [r.bucket for r in incoming.select("bucket").distinct().collect()]
        if not touched:
            return
        if table.version() >= 0:
            cur = (
                table.read(predicates=[("bucket", "in", touched)])
                .select(
                    "row_key",
                    F.expr(_UPDATED_NUMERIC).alias("__cur_ts"),
                )
            )
            newer = (
                incoming.join(cur, "row_key", "left")
                .filter(
                    F.col("__cur_ts").isNull()
                    | (F.expr(_UPDATED_NUMERIC) > F.col("__cur_ts"))
                )
                .drop("__cur_ts")
            ).localCheckpoint(eager=True)
            if newer.limit(1).count() == 0:
                # every incoming row is stale (steady replay / out-of-order
                # redelivery): merging an EMPTY source would produce empty
                # key bounds, making every active file a merge candidate —
                # a full-table scan for a no-op. Mirror the 'not touched'
                # guard and skip the commit entirely.
                return
            table.merge_into(
                newer,
                on=["row_key"],
                mode="dv",
                partition_by=["bucket"],
                source_materialized=True,
            )
        else:
            table.append(
                incoming.localCheckpoint(eager=True), partition_by=["bucket"]
            )

    return _foreach_batch(
        stream, checkpoint_dir, merge_batch, available_now, "update"
    )


def materialize_silver_tx(
    stream: DataFrame,
    table_dir: str,
    checkpoint_dir: str,
    key_col: str,
    columns: dict[str, str],
    available_now: bool = True,
    mode: str = "dv",
    ordering: str = "error",
):
    """Typed SILVER terminal of the changefeed ingestion family: per
    micro-batch, reduce the envelope stream to its net latest-per-key
    image, project the typed domain columns, and land ONE keyed merge —
    upserts for live images, PHYSICAL deletes for tombstones (``after IS
    NULL``). Unlike the latest-state tables above, no envelope wrapper
    and no tombstone marker rows survive: the result is a plain domain
    table — ``(doc_id, text)``, ``(vec_id, embedding)`` — whose OWN
    change feed downstream CDF-maintained indexes (BM25 / ANN / LSH)
    consume directly. This is the lake shape the reference pipeline
    queries (README.md:173-192), typed once at ingest instead of
    re-parsed per query.

    ``columns`` maps output column name -> SQL expression over the
    envelope (``key``/``after``/``updated``); ``key_col`` names the merge
    key among them and must derive from the envelope ``key`` (tombstones
    have no ``after``). Exactly-once under at-least-once delivery:
    a re-delivered batch re-merges the same net rows (the content no-op
    of keyed merges) and re-deletes already-absent keys (no-op). Requires
    the changefeed per-key ordering contract — strictly increasing
    ``updated`` per key across batches (the CockroachDB changefeed
    guarantee the envelope format models, FIXTURES.md §B); out-of-order
    producers should land through ``materialize_latest_state``, which
    keeps the timestamp compare.

    The ordering contract is ENFORCED, not just documented: each row
    carries its commit timestamp in a ``_updated`` column, and every
    batch's net rows are checked against the stored timestamps of the
    keys they touch (a key-pruned read — span/bloom skipping, the same
    O(batch) cost shape as the merge itself). ``ordering`` selects the
    policy on an incoming image OLDER than the stored row for its key:

    - ``"error"`` (default): fail the batch with the offending keys
      named — a contract-violating producer becomes a loud error
      instead of a silent last-write-wrong. An EQUAL timestamp is the
      exactly-once replay no-op and passes. Note a fresh-checkpoint
      FULL backfill over an existing table that splits into several
      micro-batches legitimately re-delivers old images — run backfills
      with ``"skip"``.
    - ``"skip"``: drop the stale rows and merge the rest — the
      order-insensitive safe merge (the ``materialize_latest_state``
      compare, minus its tombstone markers), for producers known to
      re-order within a horizon and for backfills.
    - ``"trust"``: no check (the pre-r12 behavior; the column is still
      written, so modes switch freely).

    Residual blind spot (all modes, documented): a late update for a
    PHYSICALLY DELETED key cannot be detected because silver drops
    tombstone markers by design — producers that re-order across
    deletes belong on ``materialize_latest_state``. Tables created
    before r12 (no ``_updated`` column) keep their legacy layout and the
    guard auto-disables.

    Scale layout (the virgin-bootstrap convention of the index family):
    the first data commit lands key-CLUSTERED files with a declared
    clustering + key bloom, so every later batch's keyed merge prunes
    its candidate files by key span/bloom — per-batch merge cost tracks
    the BATCH, not the table — and the relative-threshold compaction
    cadence restores the layout as trickle batches fragment it."""
    from ..txlog import maybe_compact_index

    if ordering not in ("error", "skip", "trust"):
        raise ValueError(
            f"ordering must be 'error', 'skip' or 'trust', got {ordering!r}"
        )
    if "_updated" in columns:
        raise ValueError(
            "'_updated' is the reserved per-row commit-timestamp column "
            "of materialize_silver_tx; rename the output column"
        )
    rows_per_file = 65536

    def merge_batch(batch: DataFrame, txn) -> None:
        table = TxTable(batch.sparkSession, table_dir)
        net = latest_state(
            batch.withColumn("__ts", F.expr(_UPDATED_NUMERIC)),
            ["key"],
            "__ts",
        )
        typed = net.select(
            *[F.expr(e).alias(c) for c, e in columns.items()],
            F.col("__ts").alias("_updated"),
            F.col("after").isNull().alias("_tombstone"),
        ).localCheckpoint(eager=True)
        if not typed.take(1):
            return
        if table.version() < 0:
            # virgin table: tombstones target rows that never existed —
            # provable no-ops, dropped (the index-bootstrap convention)
            live = typed.filter(~F.col("_tombstone")).drop("_tombstone")
            if live.take(1):
                table.append(
                    live.localCheckpoint(eager=True),
                    cluster_by=[key_col],
                    max_records_per_file=rows_per_file,
                )
                table.set_clustering([key_col])
                key_type = typed.schema[key_col].dataType
                if isinstance(
                    key_type,
                    (
                        T.StringType, T.IntegerType, T.LongType,
                        T.ShortType, T.ByteType,
                    ),
                ):
                    table.set_bloom_index([key_col], auto_size=True)
            return
        # column presence from the LOGGED schema — no scan-plan build
        _schema_json = table.snapshot()[2]
        legacy = "_updated" not in (
            [f["name"] for f in json.loads(_schema_json)["fields"]]
            if _schema_json
            else table.read().columns
        )
        if ordering != "trust" and not legacy:
            # per-key regression check: fetch the stored timestamps of
            # ONLY the touched keys (``read_keys``: span/bloom-pruned)
            cur = table.read_keys(typed, key_col)
            stale = (
                typed.select(key_col, "_updated")
                .join(
                    cur.select(
                        key_col, F.col("_updated").alias("__stored")
                    ),
                    key_col,
                )
                .filter(F.col("_updated") < F.col("__stored"))
            )
            if ordering == "error":
                bad = stale.limit(3).collect()
                if bad:
                    names = ", ".join(f"{r[0]}@{r[1]}<{r[2]}" for r in bad)
                    raise RuntimeError(
                        f"silver ordering violation at {table_dir!r} batch "
                        f"{txn()['batch']}: incoming image(s) OLDER than the "
                        f"stored row for the same key ({names}, first 3 "
                        "shown) — the producer broke the strictly-"
                        "increasing-updated-per-key changefeed contract. "
                        "Re-order the feed, run backfills with "
                        "ordering='skip', or land this producer through "
                        "materialize_latest_state (keeps the per-key "
                        "timestamp compare and tombstone markers)."
                    )
            else:  # "skip": the order-insensitive safe merge
                typed = typed.join(
                    stale.select(key_col), key_col, "left_anti"
                ).localCheckpoint(eager=True)
                if not typed.take(1):
                    return  # every net row was stale: provable no-op
        src = typed.drop("_updated") if legacy else typed
        table.merge_into(
            src, on=[key_col], delete_when="_tombstone", mode=mode,
            source_materialized=True,
        )
        maybe_compact_index(table, rows_per_file)

    return _foreach_batch(
        stream, checkpoint_dir, merge_batch, available_now, "update"
    )


def stream_with_dlq(
    stream_lines: DataFrame,
    after_schema: T.StructType,
    good_table_dir: str,
    dlq_table_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """Streaming landing with dead-letter routing (T1/T8 + the corrupt-line
    contract): each micro-batch of raw changefeed lines is classified by
    ``operators.cdc.route_dead_letters``; well-formed envelopes append to
    the good txlog table, everything else appends — raw line + reason +
    whatever partial envelope parsed — to the DLQ table for replay. Both
    appends carry the batch's checkpoint-keyed txn marker, so a
    re-delivered batch is a no-op on BOTH tables while another query
    landing into the same tables keeps its own markers: nothing lost,
    nothing doubled, the at-least-once-in / exactly-once-out contract with
    an explicit quarantine instead of silent drops."""
    from ..operators.cdc import route_dead_letters

    def land(batch: DataFrame, txn) -> None:
        spark = batch.sparkSession
        routed = route_dead_letters(batch, after_schema).localCheckpoint(eager=True)
        good = routed.filter(F.col("dlq_reason").isNull()).select(
            "envelope.after", "envelope.key", "envelope.updated"
        )
        bad = routed.filter(F.col("dlq_reason").isNotNull()).select(
            "line", "dlq_reason", "envelope"
        )
        TxTable(spark, good_table_dir).append(good, txn=txn("dlq-good"))
        TxTable(spark, dlq_table_dir).append(bad, txn=txn("dlq-bad"))

    return _foreach_batch(stream_lines, checkpoint_dir, land, available_now)
