"""Golden CDC replay (SURVEY.md §5.2 #2): the seeded changefeed fixture has
an independently-computed expected final state; the engine's dedup + merge +
tombstone pipeline must reproduce it exactly — batch and streaming forms.

This covers the semantics the DuckDB oracle can't: at-least-once duplicates,
out-of-order/late files, per-key ordering, DELETE tombstones, availableNow
streaming with checkpoint restart.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from mb_crdb_cdc_dlgen2_synapse_spark.operators.cdc import (
    dedup_events,
    merge_full_image,
    revenue_by_city_from_lines,
)
from mb_crdb_cdc_dlgen2_synapse_spark.sources.changegen import generate_changefeed
from mb_crdb_cdc_dlgen2_synapse_spark.sources.ndjson import (
    read_raw_lines,
    read_typed_envelopes,
)
from mb_crdb_cdc_dlgen2_synapse_spark.streaming.ingest import (
    changefeed_stream,
    compact_state,
    dedup_stream,
    materialize_latest_state,
    read_latest_state,
    stream_to_lake,
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
    landing = str(tmp_path_factory.mktemp("cdc") / "landing")
    return generate_changefeed(landing, n_rows=400, seed=42)


def _expected_df(spark, fixture):
    return spark.createDataFrame(fixture.expected_state)


def test_fixture_has_failure_modes(fixture):
    assert fixture.n_duplicates > 0
    assert fixture.n_deletes > 0
    assert fixture.n_updates > 0
    assert len(fixture.files) > 1
    assert len(fixture.expected_state) == 400 - fixture.n_deletes


def test_batch_merge_reproduces_expected_state(spark, fixture):
    env = read_typed_envelopes(spark, f"{fixture.landing_dir}/*", AFTER_SCHEMA)
    deduped = dedup_events(env, ["key"], "updated")
    state = merge_full_image(deduped, ["key"], "updated")
    got = (
        state.select(
            F.col("after.id").alias("id"),
            F.col("after.city").alias("city"),
            F.col("after.rider_id").alias("rider_id"),
            F.col("after.revenue").alias("revenue"),
        )
        .orderBy("id")
        .collect()
    )
    exp = sorted(fixture.expected_state, key=lambda r: r["id"])
    assert len(got) == len(exp)
    for g, e in zip(got, exp):
        assert g["id"] == e["id"]
        assert g["city"] == e["city"]
        assert g["rider_id"] == e["rider_id"]
        assert g["revenue"] == pytest.approx(e["revenue"])


def test_dedup_collapses_exact_duplicates(spark, fixture):
    env = read_typed_envelopes(spark, f"{fixture.landing_dir}/*", AFTER_SCHEMA)
    n_raw = env.count()
    n_dedup = dedup_events(env, ["key"], "updated").count()
    assert n_raw == fixture.n_events
    assert n_raw - n_dedup == fixture.n_duplicates


def test_streaming_merge_matches_batch(spark, fixture, tmp_path):
    stream = changefeed_stream(spark, fixture.landing_dir, AFTER_SCHEMA)
    assert stream.isStreaming
    state_dir = str(tmp_path / "state")
    q = materialize_latest_state(
        stream, state_dir, str(tmp_path / "ckpt")
    )
    q.awaitTermination()
    got = (
        read_latest_state(spark, state_dir)
        .select(F.col("after.id").alias("id"), F.col("after.revenue").alias("revenue"))
        .orderBy("id")
        .collect()
    )
    exp = sorted(fixture.expected_state, key=lambda r: r["id"])
    assert [g["id"] for g in got] == [e["id"] for e in exp]
    assert [g["revenue"] for g in got] == pytest.approx([e["revenue"] for e in exp])


def test_streaming_restart_is_idempotent(spark, fixture, tmp_path):
    """T8: re-running with the same checkpoint must not change the state."""
    state_dir = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    for _ in range(2):
        stream = changefeed_stream(spark, fixture.landing_dir, AFTER_SCHEMA)
        q = materialize_latest_state(stream, state_dir, ckpt)
        q.awaitTermination()
    got = read_latest_state(spark, state_dir)
    assert got.count() == len(fixture.expected_state)


def _write_envelope_lines(landing: str, date: str, lines: list[str]) -> None:
    d = os.path.join(landing, date)
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, "batch.ndjson"), "w") as f:
        f.write("\n".join(lines) + "\n")


def _env_line(key: str, revenue, updated: str, delete: bool = False) -> str:
    import json

    after = None if delete else {
        "city": "amsterdam", "id": key, "rider_id": "r1", "revenue": revenue,
    }
    return json.dumps({"after": after, "key": ["amsterdam", key], "updated": updated})


def _bucket_snapshot(state_dir: str) -> dict[str, tuple[str, ...]]:
    """Per-bucket (file name, mtime) signature of the state table."""
    snap = {}
    for d in os.listdir(state_dir):
        if not d.startswith("bucket="):
            continue
        full = os.path.join(state_dir, d)
        snap[d] = tuple(
            sorted(f"{f}:{os.path.getmtime(os.path.join(full, f))}" for f in os.listdir(full))
        )
    return snap


def test_incremental_merge_touches_only_batch_buckets(spark, fixture, tmp_path):
    """The scale property of the partitioned merge: a micro-batch rewrites
    ONLY the state buckets its keys hash into; all other bucket directories
    are byte-identical afterwards (same files, same mtimes)."""
    state_dir = str(tmp_path / "state")
    q = materialize_latest_state(
        changefeed_stream(spark, fixture.landing_dir, AFTER_SCHEMA),
        state_dir,
        str(tmp_path / "ckpt1"),
    )
    q.awaitTermination()
    before = _bucket_snapshot(state_dir)
    assert len(before) > 4  # 400 keys spread over many of the 32 buckets

    landing2 = str(tmp_path / "landing2")
    _write_envelope_lines(
        landing2, "2023-01-01", [_env_line("zz-solo-key", 42.0, "1700000000000000000.0000000000")]
    )
    q = materialize_latest_state(
        changefeed_stream(spark, landing2, AFTER_SCHEMA),
        state_dir,
        str(tmp_path / "ckpt2"),
    )
    q.awaitTermination()
    after = _bucket_snapshot(state_dir)

    changed = {b for b in before if after.get(b) != before[b]}
    new = set(after) - set(before)
    assert len(changed | new) == 1  # exactly the solo key's bucket
    got = read_latest_state(spark, state_dir)
    assert got.filter(F.col("row_key").contains("zz-solo-key")).count() == 1
    assert got.count() == len(fixture.expected_state) + 1


def test_latest_state_orders_updated_numerically(spark, tmp_path):
    """ADVICE fix: 'latest' must be numeric on the decimal-nanos string, not
    lexicographic — '99...' sorts after '100...' as a string but is older."""
    landing = str(tmp_path / "landing")
    _write_envelope_lines(
        landing,
        "2023-01-01",
        [
            _env_line("k1", 1.0, "99000000000.0000000000"),
            _env_line("k1", 2.0, "100000000000.0000000000"),  # numerically later
        ],
    )
    state_dir = str(tmp_path / "state")
    q = materialize_latest_state(
        changefeed_stream(spark, landing, AFTER_SCHEMA), state_dir, str(tmp_path / "ckpt")
    )
    q.awaitTermination()
    rows = read_latest_state(spark, state_dir).collect()
    assert len(rows) == 1
    assert rows[0]["after"]["revenue"] == 2.0


def test_compact_state_purges_tombstones(spark, tmp_path):
    landing = str(tmp_path / "landing")
    _write_envelope_lines(
        landing,
        "2023-01-01",
        [
            _env_line("k1", 1.0, "1000000000000000000.0000000000"),
            _env_line("k2", 2.0, "1000000000000000001.0000000000"),
            _env_line("k1", None, "1000000000000000002.0000000000", delete=True),
        ],
    )
    state_dir = str(tmp_path / "state")
    q = materialize_latest_state(
        changefeed_stream(spark, landing, AFTER_SCHEMA), state_dir, str(tmp_path / "ckpt")
    )
    q.awaitTermination()
    # tombstone retained as a delete marker, hidden from readers
    assert spark.read.parquet(state_dir).count() == 2
    assert read_latest_state(spark, state_dir).count() == 1
    compact_state(spark, state_dir)
    assert spark.read.parquet(state_dir).count() == 1
    assert read_latest_state(spark, state_dir).count() == 1


def test_stream_to_lake_preserves_rows_and_partitions(spark, fixture, tmp_path):
    stream = dedup_stream(changefeed_stream(spark, fixture.landing_dir, AFTER_SCHEMA))
    out = str(tmp_path / "bronze")
    q = stream_to_lake(stream, out, str(tmp_path / "ckpt"))
    q.awaitTermination()
    bronze = spark.read.parquet(out)
    # dedup within watermark collapsed the duplicate re-emissions
    assert bronze.count() == fixture.n_events - fixture.n_duplicates
    # date-partitioned layout (ingest_date=... dirs), mirroring README.md:182
    assert any(d.startswith("ingest_date=") for d in os.listdir(out))


def test_flagship_rawline_equals_merged_state_revenue(spark, fixture):
    """The reference's query over raw lines counts every version of a row;
    over the merged state it matches the golden totals exactly."""
    lines = read_raw_lines(spark, [fixture.landing_dir + "/*/*.ndjson"])
    raw_totals = revenue_by_city_from_lines(lines)
    assert raw_totals.count() == 9  # all 9 movr cities present
    # a list of two or more date dirs reads every one of them (each path
    # must be a path, not the reader's next positional option)
    date_dirs = [
        os.path.join(fixture.landing_dir, d)
        for d in sorted(os.listdir(fixture.landing_dir))
    ]
    assert len(date_dirs) >= 2
    per_dir = [read_raw_lines(spark, d + "/*.ndjson").count() for d in date_dirs]
    assert read_raw_lines(spark, date_dirs[:2]).count() == sum(per_dir[:2])
    assert read_raw_lines(spark, date_dirs).count() == lines.count()
    assert (
        read_typed_envelopes(spark, date_dirs, AFTER_SCHEMA).count()
        == lines.count()
    )
    exp_by_city = {}
    for r in fixture.expected_state:
        exp_by_city[r["city"]] = exp_by_city.get(r["city"], 0.0) + r["revenue"]
    env = read_typed_envelopes(spark, f"{fixture.landing_dir}/*", AFTER_SCHEMA)
    state = merge_full_image(dedup_events(env, ["key"], "updated"), ["key"], "updated")
    got = {
        r["city"]: r["total"]
        for r in state.groupBy(F.col("after.city").alias("city"))
        .agg(F.sum("after.revenue").alias("total"))
        .collect()
    }
    assert set(got) == set(exp_by_city)
    for c in got:
        assert got[c] == pytest.approx(exp_by_city[c])


def test_csv_compat_reader_equals_text_reader(spark, fixture):
    """The OPENROWSET FORMAT='csv' 0x0b trick (README.md:183-190) and the
    plain text source must produce identical line relations."""
    from mb_crdb_cdc_dlgen2_synapse_spark.sources.ndjson import (
        read_raw_lines_csv_compat,
    )

    glob = f"{fixture.landing_dir}/*/*.ndjson"
    a = read_raw_lines(spark, glob)
    b = read_raw_lines_csv_compat(spark, glob)
    assert a.count() == b.count()
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    # and the flagship query agrees over both
    ra = {t["city"]: t["total_revenue"] for t in revenue_by_city_from_lines(a).collect()}
    rb = {t["city"]: t["total_revenue"] for t in revenue_by_city_from_lines(b).collect()}
    assert ra == rb


def test_key_resurrection_after_tombstone(spark, tmp_path):
    """Insert -> delete -> later re-insert: the key must come back live with
    the newest image (ordering is numeric on the commit timestamp), in both
    the plain and transactional merges."""
    landing = str(tmp_path / "landing")
    _write_envelope_lines(
        landing,
        "2023-01-01",
        [
            _env_line("k1", 1.0, "1000000000000000000.0000000000"),
            _env_line("k1", None, "1000000000000000001.0000000000", delete=True),
            _env_line("k1", 7.5, "1000000000000000002.0000000000"),
        ],
    )
    state_dir = str(tmp_path / "state")
    q = materialize_latest_state(
        changefeed_stream(spark, landing, AFTER_SCHEMA), state_dir, str(tmp_path / "ckpt")
    )
    q.awaitTermination()
    rows = read_latest_state(spark, state_dir).collect()
    assert len(rows) == 1 and rows[0]["after"]["revenue"] == 7.5


def test_envelope_schema_drift_ignores_new_fields(spark, tmp_path):
    """A producer that starts emitting EXTRA envelope/after fields must not
    break ingestion with a pinned schema: unknown fields are ignored (the
    documented behavior of an explicit-schema json source), known fields
    keep parsing, and the merge result is unchanged."""
    landing = str(tmp_path / "landing")
    _write_envelope_lines(
        landing,
        "2023-01-01",
        [_env_line("k1", 1.0, "1000000000000000000.0000000000")],
    )
    # second file: same envelope plus surplus fields a pinned schema ignores
    import json as _json
    import os as _os

    day = _os.path.join(landing, "2023-01-02")
    _os.makedirs(day, exist_ok=True)
    line = _json.loads(_env_line("k2", 2.0, "1000000000000000001.0000000000"))
    line["resolved"] = "1000000000000000002.0000000000"   # new top-level field
    line["after"]["surge_multiplier"] = 1.5               # new nested field
    with open(_os.path.join(day, "drift.ndjson"), "w") as f:
        f.write(_json.dumps(line) + "\n")
    state_dir = str(tmp_path / "state")
    q = materialize_latest_state(
        changefeed_stream(spark, landing, AFTER_SCHEMA),
        state_dir,
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination()
    got = {
        r["after"]["id"]: r["after"]["revenue"]
        for r in read_latest_state(spark, state_dir).collect()
    }
    assert got == {"k1": 1.0, "k2": 2.0}


def test_materialize_silver_tx_upserts_deletes_and_replays(spark, tmp_path):
    """Typed-silver terminal (streaming/ingest.materialize_silver_tx):
    dated changefeed drops become a plain (doc_id, text) tx table —
    upserts for live images, PHYSICAL deletes for tombstones, net
    latest-per-key within a batch, exactly-once across a checkpointed
    re-run, and a virgin table drops orphan tombstones."""
    import json as _json
    import os as _os

    from pyspark.sql import types as T

    from mb_crdb_cdc_dlgen2_synapse_spark.streaming.ingest import (
        changefeed_stream,
        materialize_silver_tx,
    )
    from mb_crdb_cdc_dlgen2_synapse_spark.txlog import TxTable

    landing = str(tmp_path / "landing")
    after = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )

    def drop(date, rows):
        d = _os.path.join(landing, date)
        _os.makedirs(d, exist_ok=True)
        with open(_os.path.join(d, "feed.ndjson"), "w") as f:
            for key, img, upd in rows:
                f.write(
                    _json.dumps(
                        {"after": img, "key": [str(key)], "updated": upd}
                    )
                    + "\n"
                )

    cols = {
        "doc_id": "cast(element_at(key, 1) as bigint)",
        "text": "after.text",
    }
    tdir, ckpt = str(tmp_path / "silver"), str(tmp_path / "ckpt")

    def ingest():
        materialize_silver_tx(
            changefeed_stream(spark, landing, after), tdir, ckpt,
            "doc_id", cols,
        ).awaitTermination()

    # drop 1: two inserts, an in-batch update (net reduce keeps latest),
    # and an orphan tombstone for a never-seen key (virgin drop)
    drop("2022-12-12", [
        (1, {"doc_id": 1, "text": "alpha"}, "1.0000000000"),
        (2, {"doc_id": 2, "text": "beta"}, "1.0000000000"),
        (1, {"doc_id": 1, "text": "alpha two"}, "2.0000000000"),
        (9, None, "1.0000000000"),
    ])
    ingest()
    state = lambda: sorted(
        (r.doc_id, r.text) for r in TxTable(spark, tdir).read().collect()
    )
    assert state() == [(1, "alpha two"), (2, "beta")]
    # virgin bootstrap lays the scale layout down: declared key
    # clustering + key bloom (merge candidate pruning from batch 2 on)
    assert TxTable(spark, tdir).clustering() == ["doc_id"]
    assert "doc_id" in TxTable(spark, tdir).bloom_index()
    # drop 2: update one, tombstone the other, insert a third
    drop("2022-12-13", [
        (2, {"doc_id": 2, "text": "beta two"}, "2.0000000000"),
        (1, None, "3.0000000000"),
        (3, {"doc_id": 3, "text": "gamma"}, "1.0000000000"),
    ])
    ingest()
    assert state() == [(2, "beta two"), (3, "gamma")]
    v = TxTable(spark, tdir).version()
    # replay with no new files: checkpoint makes it a no-op
    ingest()
    assert TxTable(spark, tdir).version() == v
    # FRESH checkpoint replays all files; keyed merges make the content
    # converge to the same state (effectively-once)
    import shutil as _shutil

    _shutil.rmtree(ckpt)
    ingest()
    assert state() == [(2, "beta two"), (3, "gamma")]


def test_materialize_silver_tx_ordering_guard(spark, tmp_path):
    """VERDICT r11 item 5 (crash-injection): a producer that violates the
    strictly-increasing-updated-per-key changefeed contract fails the
    batch with an actionable error instead of silently overwriting a
    newer image with an older one; ordering='skip' instead drops the
    stale rows (the order-insensitive safe merge); equal-timestamp
    replays stay exactly-once no-ops; legacy tables (no _updated column)
    auto-disable the guard and keep merging."""
    import json as _json
    import os as _os

    from pyspark.sql import types as T

    from mb_crdb_cdc_dlgen2_synapse_spark.streaming.ingest import (
        changefeed_stream,
        materialize_silver_tx,
    )
    from mb_crdb_cdc_dlgen2_synapse_spark.txlog import TxTable

    after = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )
    cols = {
        "doc_id": "cast(element_at(key, 1) as bigint)",
        "text": "after.text",
    }

    def drop(landing, date, rows):
        d = _os.path.join(landing, date)
        _os.makedirs(d, exist_ok=True)
        with open(_os.path.join(d, "feed.ndjson"), "w") as f:
            for key, img, upd in rows:
                f.write(
                    _json.dumps(
                        {"after": img, "key": [str(key)], "updated": upd}
                    )
                    + "\n"
                )

    def ingest(landing, tdir, ckpt, **kw):
        materialize_silver_tx(
            changefeed_stream(spark, landing, after), tdir, ckpt,
            "doc_id", cols, **kw,
        ).awaitTermination()

    def state(tdir):
        return sorted(
            (r.doc_id, r.text)
            for r in TxTable(spark, tdir).read().select("doc_id", "text").collect()
        )

    # --- error mode (default): out-of-order drop fails the batch loudly
    land, tdir, ckpt = (str(tmp_path / n) for n in ("l1", "t1", "c1"))
    drop(land, "2022-12-12", [
        (1, {"doc_id": 1, "text": "newer"}, "5.0000000000"),
        (2, {"doc_id": 2, "text": "two"}, "5.0000000000"),
    ])
    ingest(land, tdir, ckpt)
    assert state(tdir) == [(1, "newer"), (2, "two")]
    drop(land, "2022-12-13", [
        (1, {"doc_id": 1, "text": "stale"}, "3.0000000000"),  # REGRESSION
        (3, {"doc_id": 3, "text": "three"}, "1.0000000000"),
    ])
    with pytest.raises(Exception, match="silver ordering violation"):
        ingest(land, tdir, ckpt)
    assert state(tdir) == [(1, "newer"), (2, "two")]  # batch rolled back
    # a fresh-checkpoint FULL replay reads every drop in one availableNow
    # batch: the stale 3.0 image nets away INSIDE the batch (latest-per-
    # key), the equal-timestamp rows are replay no-ops, and the fresh key
    # lands — the guard only fires on net CROSS-batch regressions, so
    # whole-history backfills converge instead of erroring
    ingest(land, tdir, str(tmp_path / "c1b"))
    assert state(tdir) == [(1, "newer"), (2, "two"), (3, "three")]

    # --- skip mode: stale rows dropped, fresh rows in the same batch land
    land2, tdir2, ckpt2 = (str(tmp_path / n) for n in ("l2", "t2", "c2"))
    drop(land2, "2022-12-12", [
        (1, {"doc_id": 1, "text": "newer"}, "5.0000000000"),
    ])
    ingest(land2, tdir2, ckpt2)
    drop(land2, "2022-12-13", [
        (1, {"doc_id": 1, "text": "stale"}, "3.0000000000"),  # skipped
        (1, None, "4.0000000000"),  # stale tombstone: also skipped
        (3, {"doc_id": 3, "text": "three"}, "1.0000000000"),  # lands
    ])
    ingest(land2, tdir2, ckpt2, ordering="skip")
    assert state(tdir2) == [(1, "newer"), (3, "three")]
    # an all-stale batch commits nothing
    v = TxTable(spark, tdir2).version()
    drop(land2, "2022-12-14", [
        (1, {"doc_id": 1, "text": "older still"}, "2.0000000000"),
    ])
    ingest(land2, tdir2, ckpt2, ordering="skip")
    assert TxTable(spark, tdir2).version() == v
    assert state(tdir2) == [(1, "newer"), (3, "three")]

    # --- legacy table (pre-r12 layout, no _updated): guard auto-disables
    land3, tdir3, ckpt3 = (str(tmp_path / n) for n in ("l3", "t3", "c3"))
    legacy = TxTable(spark, tdir3)
    legacy.append(
        spark.createDataFrame([(7, "seven")], "doc_id long, text string"),
        cluster_by=["doc_id"],
    )
    drop(land3, "2022-12-12", [
        (7, {"doc_id": 7, "text": "seven two"}, "1.0000000000"),
        (8, {"doc_id": 8, "text": "eight"}, "1.0000000000"),
    ])
    ingest(land3, tdir3, ckpt3)
    assert state(tdir3) == [(7, "seven two"), (8, "eight")]
    assert "_updated" not in TxTable(spark, tdir3).read().columns

    # --- reserved column name refused
    with pytest.raises(ValueError, match="_updated"):
        materialize_silver_tx(
            changefeed_stream(spark, land3, after), tdir3, ckpt3,
            "doc_id", {"doc_id": "1", "_updated": "updated"},
        )
    with pytest.raises(ValueError, match="ordering"):
        materialize_silver_tx(
            changefeed_stream(spark, land3, after), tdir3, ckpt3,
            "doc_id", cols, ordering="bogus",
        )
