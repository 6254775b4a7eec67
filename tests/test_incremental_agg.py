"""A6 incremental aggregate: the journal-maintained revenue-by-city equals
the batch recompute regardless of batch boundaries; replay is idempotent;
compaction preserves results while collapsing files."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from mb_crdb_cdc_dlgen2_synapse_spark.operators.cdc import dedup_events
from mb_crdb_cdc_dlgen2_synapse_spark.operators.lake import compact
from mb_crdb_cdc_dlgen2_synapse_spark.sources.changegen import generate_changefeed
from mb_crdb_cdc_dlgen2_synapse_spark.sources.ndjson import read_typed_envelopes
from mb_crdb_cdc_dlgen2_synapse_spark.streaming.incremental import (
    maintain_city_revenue,
    read_city_revenue,
)
from mb_crdb_cdc_dlgen2_synapse_spark.streaming.ingest import (
    changefeed_stream,
    dedup_stream,
)

AFTER_SCHEMA = T.StructType(
    [
        T.StructField("city", T.StringType()),
        T.StructField("id", T.StringType()),
        T.StructField("rider_id", T.StringType()),
        T.StructField("revenue", T.DoubleType()),
    ]
)


@pytest.fixture(scope="module")
def fixture(tmp_path_factory):
    landing = str(tmp_path_factory.mktemp("incr") / "landing")
    return generate_changefeed(landing, n_rows=250, seed=11)


def _batch_truth(spark, fixture):
    env = read_typed_envelopes(spark, f"{fixture.landing_dir}/*", AFTER_SCHEMA)
    return (
        dedup_events(env, ["key"], "updated")
        .filter(F.col("after").isNotNull())
        .groupBy(F.col("after.city").alias("city"))
        .agg(
            F.sum(F.col("after.revenue").cast("decimal(18,6)"))
            .cast("double")
            .alias("total_revenue"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


def test_incremental_equals_batch_and_replay_idempotent(spark, fixture, tmp_path):
    journal = str(tmp_path / "journal")
    ckpt = str(tmp_path / "ckpt")
    for _ in range(2):  # second run must be a no-op (checkpoint + idempotent)
        stream = dedup_stream(changefeed_stream(spark, fixture.landing_dir, AFTER_SCHEMA))
        q = maintain_city_revenue(stream, journal, ckpt)
        q.awaitTermination()
    got = {r["city"]: (r["total_revenue"], r["n_events"])
           for r in read_city_revenue(spark, journal).collect()}
    exp = {r["city"]: (r["total_revenue"], r["n_events"])
           for r in _batch_truth(spark, fixture).collect()}
    assert got == exp


def test_compaction_preserves_results(spark, fixture, tmp_path):
    journal = str(tmp_path / "journal")
    stream = dedup_stream(changefeed_stream(spark, fixture.landing_dir, AFTER_SCHEMA))
    q = maintain_city_revenue(stream, journal, str(tmp_path / "ckpt"))
    q.awaitTermination()
    before = {r["city"]: r["total_revenue"]
              for r in read_city_revenue(spark, journal).collect()}
    n_before, n_after = compact(spark, journal, target_rows_per_file=10_000)
    assert n_after <= n_before
    after = {r["city"]: r["total_revenue"]
             for r in read_city_revenue(spark, journal).collect()}
    assert before == after


def test_queries_on_fresh_checkpoints_keep_each_others_partials(spark, tmp_path):
    """Two queries on fresh checkpoints into one journal: their partials of
    the same batch ids are keyed by checkpoint, so neither overwrites the
    other's (3 events, then 2, read back as 5)."""
    schema = "after struct<city: string, revenue: double>"
    journal = str(tmp_path / "journal")
    for name, n in (("c0", 3), ("c1", 2)):
        src = tmp_path / f"src_{name}"
        src.mkdir()
        (src / "part.json").write_text(
            "".join(f'{{"after": {{"city": "nyc", "revenue": {i}.5}}}}\n' for i in range(n))
        )
        stream = spark.readStream.schema(schema).json(str(src))
        maintain_city_revenue(stream, journal, str(tmp_path / name)).awaitTermination()
    got = read_city_revenue(spark, journal).collect()
    assert [(r["city"], r["n_events"]) for r in got] == [("nyc", 5)]
    assert got[0]["total_revenue"] == 0.5 + 1.5 + 2.5 + 0.5 + 1.5
