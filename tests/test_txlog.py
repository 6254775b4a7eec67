"""Transaction-log table format (txlog.py): atomicity, snapshot isolation,
optimistic concurrency, exactly-once streaming appends, and the transactional
CDC state merge built on it."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from mb_crdb_cdc_dlgen2_synapse_spark.txlog import TxTable, stream_to_tx_table
from mb_crdb_cdc_dlgen2_synapse_spark.streaming.ingest import (
    changefeed_stream,
    materialize_latest_state,
    read_latest_state,
)

from test_cdc_replay import AFTER_SCHEMA, _env_line, _write_envelope_lines


def _df(spark, rows):
    return spark.createDataFrame(rows, "k int, v string")


def test_append_read_roundtrip(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "t"))
    assert t.version() == -1
    t.append(_df(spark, [(1, "a"), (2, "b")]))
    t.append(_df(spark, [(3, "c")]))
    assert t.version() == 1
    got = sorted((r.k, r.v) for r in t.read().collect())
    assert got == [(1, "a"), (2, "b"), (3, "c")]
    assert [c["op"] for c in t.history()] == ["append", "append"]


def test_overwrite_is_atomic_and_snapshot_isolated(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, [(1, "old")]))
    old_reader = t.read()  # snapshot resolved now
    t.overwrite(_df(spark, [(2, "new"), (3, "new")]))
    # new reader sees only the new content...
    assert sorted(r.k for r in t.read().collect()) == [2, 3]
    # ...while the in-flight reader keeps its consistent pre-overwrite view
    # (removed files are retained until vacuum)
    assert [r.k for r in old_reader.collect()] == [1]


def test_incomplete_commit_is_invisible(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, [(1, "a")]))
    # crash simulation: stray staged data + a tmp commit file that never linked
    os.makedirs(os.path.join(t.path, "_staging", "deadbeef"), exist_ok=True)
    with open(os.path.join(t.path, "_txlog", ".tmp-crashed.json"), "w") as f:
        json.dump({"version": 99, "added": ["ghost.parquet"]}, f)
    assert t.version() == 0
    assert [r.k for r in t.read().collect()] == [1]


def test_commit_race_retries_to_next_version(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, [(1, "a")]))
    # another writer claims version 1 between our snapshot and link
    rival = {"version": 1, "op": "append", "added": [], "removed": [],
             "schema": None, "txn": None, "utc": ""}
    with open(t._log_path(1), "w") as f:
        json.dump(rival, f)
    v = t.append(_df(spark, [(2, "b")]))
    assert v == 2  # lost the race for v1, landed at v2
    assert sorted(r.k for r in t.read().collect()) == [1, 2]


def test_append_aborts_on_racing_ddl_commit(spark, tmp_path, monkeypatch):
    """A writer that loses a commit race to a DDL (rename_column) must ABORT,
    not retry: its schema/colmap were computed pre-race, and retrying would
    silently revert the rename with stale metadata (Delta's metadata
    ConcurrentModificationException contract)."""
    from mb_crdb_cdc_dlgen2_synapse_spark.txlog import TxConflictError

    t = TxTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, [(1, "a")]))
    orig = t.log_store.write_if_absent
    fired = []

    def race(target, payload):
        if not fired:
            fired.append(1)
            TxTable(spark, t.path).rename_column("v", "label")  # rival DDL
        return orig(target, payload)

    monkeypatch.setattr(t.log_store, "write_if_absent", race)
    with pytest.raises(TxConflictError, match="metadata conflict"):
        t.append(_df(spark, [(2, "b")]))
    # the rename survived; the aborted append changed nothing
    t2 = TxTable(spark, t.path)
    assert "label" in t2.read().columns
    assert sorted(r.k for r in t2.read().collect()) == [1]


def test_evolving_append_survives_benign_append_race(spark, tmp_path, monkeypatch):
    """The conflict check compares the TABLE's schema at the base snapshot,
    not the loser's own (possibly intentionally evolved) schema: a
    merge_schema append racing a plain same-schema append retries and lands."""
    t = TxTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, [(1, "a")]))
    orig = t.log_store.write_if_absent
    fired = []

    def race(target, payload):
        if not fired:
            fired.append(1)
            TxTable(spark, t.path).append(_df(spark, [(9, "z")]))  # benign rival
        return orig(target, payload)

    monkeypatch.setattr(t.log_store, "write_if_absent", race)
    wide = spark.createDataFrame([(2, "b", 1.5)], "k int, v string, score double")
    t.append(wide, merge_schema=True)  # must NOT raise
    t2 = TxTable(spark, t.path)
    assert "score" in t2.read().columns
    assert sorted(r.k for r in t2.read().collect()) == [1, 2, 9]


def test_txn_marker_makes_append_idempotent(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "t"))
    txn = {"app": "job-1", "batch": 7}
    t.append(_df(spark, [(1, "a")]), txn=txn)
    t.append(_df(spark, [(1, "a")]), txn=txn)  # re-delivered batch
    assert t.read().count() == 1
    assert len(t.history()) == 1


def test_vacuum_deletes_only_unreferenced(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, [(1, "a")]))
    t.overwrite(_df(spark, [(2, "b")]))
    n = t.vacuum()
    assert n >= 1  # the overwritten file(s)
    assert [r.k for r in t.read().collect()] == [2]
    assert t.vacuum() == 0  # idempotent


def test_compact_single_commit(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "t"))
    for i in range(4):
        t.append(_df(spark, [(i, "x")]).repartition(2))
    _, files_before, _ = t.snapshot()
    t.compact(target_files=1)
    _, files_after, _ = t.snapshot()
    assert len(files_after) < len(files_before)
    assert t.read().count() == 4


def test_partitioned_overwrite_touches_only_named_partitions(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "t"))
    t.append(
        spark.createDataFrame([(1, "p1"), (2, "p2")], "k int, p string"),
        partition_by=["p"],
    )
    _, before, _ = t.snapshot()
    p2_files = [f for f in before if f.startswith("p=p2")]
    t.overwrite_partitions(
        spark.createDataFrame([(10, "p1")], "k int, p string"), ["p"]
    )
    _, after, _ = t.snapshot()
    # p2's files survive untouched; p1's were replaced
    assert all(f in after for f in p2_files)
    got = sorted((r.k, r.p) for r in t.read().collect())
    assert got == [(2, "p2"), (10, "p1")]


def test_stream_append_exactly_once_across_restart(spark, tmp_path):
    """T8 upgrade: restart with the same checkpoint re-delivers nothing new;
    the txn markers in the log keep the table exactly-once."""
    landing = str(tmp_path / "landing")
    _write_envelope_lines(
        landing, "2023-01-01",
        [_env_line("k1", 1.0, "1000000000000000000.0000000000"),
         _env_line("k2", 2.0, "1000000000000000001.0000000000")],
    )
    table_dir = str(tmp_path / "table")
    ckpt = str(tmp_path / "ckpt")
    for _ in range(2):
        stream = changefeed_stream(spark, landing, AFTER_SCHEMA)
        q = stream_to_tx_table(stream, table_dir, ckpt)
        q.awaitTermination()
    t = TxTable(spark, table_dir)
    assert t.read().count() == 2
    # every commit carries its batch marker exactly once
    markers = [(c["txn"]["app"], c["txn"]["batch"]) for c in t.history() if c.get("txn")]
    assert len(markers) == len(set(markers))


def test_tx_state_merge_matches_plain_merge(spark, fixture_dir_tx, tmp_path):
    landing, expected = fixture_dir_tx
    table_dir = str(tmp_path / "state_tx")
    q = materialize_latest_state(
        changefeed_stream(spark, landing, AFTER_SCHEMA), table_dir, str(tmp_path / "ckpt")
    )
    q.awaitTermination()
    got = {
        r["after"]["id"]: r["after"]["revenue"]
        for r in read_latest_state(spark, table_dir).collect()
    }
    assert got == expected
    # the bootstrap batch appends, later batches land as DV merges
    ops = {c["op"] for c in TxTable(spark, table_dir).history()}
    assert ops <= {"append", "merge_dv"}


@pytest.fixture()
def fixture_dir_tx(spark, tmp_path):
    landing = str(tmp_path / "landing")
    _write_envelope_lines(
        landing, "2023-01-01",
        [
            _env_line("k1", 1.0, "1000000000000000000.0000000000"),
            _env_line("k1", 5.0, "1000000000000000009.0000000000"),  # update wins
            _env_line("k2", 2.0, "1000000000000000001.0000000000"),
            _env_line("k3", 3.0, "1000000000000000002.0000000000"),
            _env_line("k3", None, "1000000000000000003.0000000000", delete=True),
        ],
    )
    return landing, {"k1": 5.0, "k2": 2.0}


def test_randomized_ops_match_model(spark, tmp_path):
    """Seeded randomized sequence of append/overwrite/compact/vacuum ops vs
    an in-memory model of table content — the model-based check that the
    commit protocol never loses or duplicates rows."""
    import random

    rng = random.Random(1234)
    t = TxTable(spark, str(tmp_path / "t"))
    model: list[tuple[int, str]] = []
    next_id = 0
    for step in range(12):
        op = rng.choice(["append", "append", "append", "overwrite", "compact", "vacuum"])
        if op == "append":
            rows = [(next_id + i, f"v{step}") for i in range(rng.randint(1, 4))]
            next_id += len(rows)
            t.append(_df(spark, rows))
            model.extend(rows)
        elif op == "overwrite":
            rows = [(next_id, f"ow{step}")]
            next_id += 1
            t.overwrite(_df(spark, rows))
            model = list(rows)
        elif op == "compact" and model:
            t.compact(target_files=1)
        elif op == "vacuum":
            t.vacuum()
        got = sorted((r.k, r.v) for r in t.read().collect())
        assert got == sorted(model), f"diverged at step {step} ({op})"


def test_schema_enforcement_and_evolution(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, [(1, "a")]))
    wider = spark.createDataFrame([(2, "b", 9.5)], "k int, v string, w double")
    with pytest.raises(ValueError, match="schema mismatch"):
        t.append(wider)
    t.append(wider, merge_schema=True)  # explicit evolution
    got = t.read()
    assert set(got.columns) == {"k", "v", "w"}
    rows = {r.k: (r.v, r.w) for r in got.collect()}
    assert rows == {1: ("a", None), 2: ("b", 9.5)}
    # overwrite resets the schema lineage: no more footer merging needed
    t.overwrite(_df(spark, [(3, "c")]))
    assert t.read().columns == ["k", "v"]


def test_add_column_is_metadata_only(spark, tmp_path):
    """ALTER TABLE ADD COLUMN: one O(1) log commit, zero data I/O — no
    existing data file is touched; readers project typed NULLs."""
    t = TxTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, [(1, "a"), (2, "b")]))
    _v, active, _s = t.snapshot()
    mtimes = {f: os.path.getmtime(os.path.join(t.path, f)) for f in active}
    t.add_column("score", "double")
    last = t.history()[-1]
    assert last["op"] == "add_column"
    assert last["added"] == [] and last["removed"] == []
    for f, m in mtimes.items():
        assert os.path.getmtime(os.path.join(t.path, f)) == m
    got = t.read()
    assert got.columns == ["k", "v", "score"]
    assert got.schema["score"].dataType.typeName() == "double"
    assert all(r.score is None for r in got.collect())
    with pytest.raises(ValueError, match="already exists"):
        t.add_column("score", "int")


def test_add_column_old_and_new_producers_coexist(spark, tmp_path):
    """After evolution: evolved producers write the new column, pre-evolution
    producers keep appending the old schema (subset-compatible — Delta's
    missing-nullable-column contract), and the logged schema never narrows.
    Time travel to a pre-evolution version restores the old column set."""
    t = TxTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, [(1, "a")]))                                   # v0
    t.add_column("score", "double")                                    # v1
    t.append(
        spark.createDataFrame([(2, "b", 1.5)], "k int, v string, score double")
    )                                                                  # v2
    t.append(_df(spark, [(3, "c")]))                                   # v3 subset
    rows = {r.k: (r.v, r.score) for r in t.read().collect()}
    assert rows == {1: ("a", None), 2: ("b", 1.5), 3: ("c", None)}
    # the subset append did not narrow the logged schema
    assert t.read().columns == ["k", "v", "score"]
    # time travel: the pre-evolution snapshot has the pre-evolution schema
    assert t.read(as_of=0).columns == ["k", "v"]
    # a write with a WRONG type for an existing column is still refused
    with pytest.raises(ValueError, match="schema mismatch"):
        t.append(spark.createDataFrame([(4, 4)], "k int, score int"))


def test_drop_column_is_metadata_only(spark, tmp_path):
    """DROP COLUMN: one log commit, zero data I/O; readers project the
    column away; time travel to a pre-drop version restores it."""
    t = TxTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, [(1, "a"), (2, "b")]))                         # v0
    _v, active, _s = t.snapshot()
    mtimes = {f: os.path.getmtime(os.path.join(t.path, f)) for f in active}
    t.drop_column("v")                                                 # v1
    assert t.history()[-1]["op"] == "drop_column"
    for f, m in mtimes.items():
        assert os.path.getmtime(os.path.join(t.path, f)) == m
    assert t.read().columns == ["k"]
    assert sorted(r.k for r in t.read().collect()) == [1, 2]
    # pre-drop snapshot still shows the column (files were never rewritten)
    assert t.read(as_of=0).columns == ["k", "v"]
    # appends now use the narrowed schema; the OLD two-column producer is
    # refused (unknown column)
    t.append(spark.createDataFrame([(3,)], "k int"))
    with pytest.raises(ValueError, match="schema mismatch"):
        t.append(_df(spark, [(4, "d")]))
    assert sorted(r.k for r in t.read().collect()) == [1, 2, 3]
    with pytest.raises(ValueError, match="does not exist"):
        t.drop_column("v")
    with pytest.raises(ValueError, match="only column"):
        t.drop_column("k")


def test_add_column_predicate_on_new_column(spark, tmp_path):
    """Filters on a just-added column must not drop pre-evolution rows via
    stale stats pruning (their files have no stats for the column)."""
    t = TxTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, [(1, "a"), (2, "b")]))
    t.add_column("score", "double")
    t.append(
        spark.createDataFrame([(3, "c", 9.0)], "k int, v string, score double")
    )
    got = t.read(predicates=[("score", ">=", 5.0)])
    assert [(r.k, r.score) for r in got.collect()] == [(3, 9.0)]
    # IS NULL semantics over the evolved rows
    assert sorted(r.k for r in t.read().filter("score IS NULL").collect()) == [1, 2]


def test_time_travel_reads_historical_versions(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, [(1, "a")]))                       # v0
    t.append(_df(spark, [(2, "b")]))                       # v1
    t.overwrite(_df(spark, [(9, "z")]))                    # v2
    assert sorted(r.k for r in t.read(as_of=0).collect()) == [1]
    assert sorted(r.k for r in t.read(as_of=1).collect()) == [1, 2]
    assert sorted(r.k for r in t.read(as_of=2).collect()) == [9]
    assert sorted(r.k for r in t.read().collect()) == [9]
    with pytest.raises(ValueError):
        t.read(as_of=7)


def test_time_travel_snapshot_survives_later_writes_until_vacuum(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, [(1, "a")]))                       # v0
    t.overwrite(_df(spark, [(2, "b")]))                    # v1
    # pre-vacuum: v0's files still on disk -> historical read works
    assert [r.k for r in t.read(as_of=0).collect()] == [1]
    t.vacuum(prune_log=False)  # data-only vacuum: the log keeps the commit
    # post-vacuum the v0 files are gone; the log still has the commit, so
    # snapshot() resolves but the scan fails — same contract as Delta after
    # VACUUM passes the retention window (log cleanup is separate)
    _v, active, _s = t.snapshot(as_of=0)
    assert all(not os.path.exists(os.path.join(t.path, f)) for f in active)


def test_commit_records_footer_stats(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "t"))
    t.append(spark.createDataFrame([(5, "x"), (17, "y")], "k int, v string").coalesce(1))
    stats = t.file_stats()
    assert len(stats) == 1
    (s,) = stats.values()
    assert s["rows"] == 2
    assert s["min"]["k"] == 5 and s["max"]["k"] == 17
    assert s["min"]["v"] == "x" and s["max"]["v"] == "y"


def test_data_skipping_prunes_files_and_matches_full_filter(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "t"))
    # three appends with disjoint key ranges -> three files with disjoint stats
    for lo in (0, 100, 200):
        t.append(
            spark.createDataFrame(
                [(lo + i, f"v{lo + i}") for i in range(10)], "k int, v string"
            ).coalesce(1)
        )
    # the pruned read opens only files that may contain k >= 200
    _v, active, _s = t.snapshot()
    stats = t.file_stats()
    from mb_crdb_cdc_dlgen2_synapse_spark.txlog import _file_may_match, _partition_values

    kept = [
        f
        for f in active
        if _file_may_match(stats.get(f), _partition_values(f), [("k", ">=", 200)])
    ]
    assert len(active) == 3 and len(kept) == 1
    got = sorted(r.k for r in t.read(predicates=[("k", ">=", 200)]).collect())
    want = sorted(r.k for r in t.read().filter(F.col("k") >= 200).collect())
    assert got == want == list(range(200, 210))
    # range predicate across two files
    got2 = sorted(r.k for r in t.read(predicates=[("k", ">", 95), ("k", "<", 205)]).collect())
    assert got2 == list(range(100, 110)) + list(range(200, 205))


def test_data_skipping_on_hive_partition_values(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "t"))
    df = spark.createDataFrame(
        [(i, "d1" if i < 5 else "d2") for i in range(10)], "k int, day string"
    )
    t.append(df, partition_by=["day"])
    _v, active, _s = t.snapshot()
    from mb_crdb_cdc_dlgen2_synapse_spark.txlog import _file_may_match, _partition_values

    kept = [
        f
        for f in active
        if _file_may_match(t.file_stats().get(f), _partition_values(f), [("day", "==", "d2")])
    ]
    assert all("day=d2" in f for f in kept) and kept
    got = sorted(r.k for r in t.read(predicates=[("day", "==", "d2")]).collect())
    assert got == list(range(5, 10))


def test_data_skipping_never_drops_rows_randomized(spark, tmp_path):
    """Property: for random predicates, pruned read == full read + filter.
    The table declares a BLOOM index on both columns, so every random ==
    predicate also exercises bloom skipping (false negatives would show
    up as dropped rows here)."""
    import random

    rng = random.Random(7)
    t = TxTable(spark, str(tmp_path / "t"))
    rows0 = [(rng.randrange(1000), rng.choice("abcde")) for _ in range(50)]
    t.append(spark.createDataFrame(rows0, "k int, v string").coalesce(1))
    t.set_bloom_index(["k", "v"], bits=256, hashes=2)
    for _ in range(3):
        rows = [(rng.randrange(1000), rng.choice("abcde")) for _ in range(50)]
        t.append(spark.createDataFrame(rows, "k int, v string").coalesce(1))
    full = t.read()
    for _ in range(8):
        col, op = rng.choice([("k", ">="), ("k", "<"), ("k", "=="), ("v", "==")])
        val = rng.randrange(1000) if col == "k" else rng.choice("abcde")
        ops = {"==": "__eq__", ">=": "__ge__", "<": "__lt__"}
        want = sorted(
            (r.k, r.v)
            for r in full.filter(getattr(F.col(col), ops[op])(F.lit(val))).collect()
        )
        got = sorted((r.k, r.v) for r in t.read(predicates=[(col, op, val)]).collect())
        assert got == want, (col, op, val)


def test_zorder_compact_prunes_on_both_columns(spark, tmp_path):
    """After OPTIMIZE ZORDER BY (x, y), point predicates on EITHER column
    must skip files (a linear sort clusters only its leading column), and
    pruned reads stay exact."""
    import random

    rng = random.Random(13)
    t = TxTable(spark, str(tmp_path / "t"))
    rows = [(rng.randrange(256), rng.randrange(256)) for _ in range(4000)]
    t.append(spark.createDataFrame(rows, "x int, y int"))
    t.compact(target_files=4, z_order=["x", "y"])
    _v, active, _s = t.snapshot()
    assert len(active) == 4
    stats = t.file_stats()
    from mb_crdb_cdc_dlgen2_synapse_spark.txlog import _file_may_match, _partition_values

    def kept(preds):
        return [
            f
            for f in active
            if _file_may_match(stats.get(f), _partition_values(f), preds)
        ]

    assert len(kept([("x", "<", 64)])) < 4
    assert len(kept([("y", "<", 64)])) < 4
    # exactness under pruning
    got = sorted(
        (r.x, r.y) for r in t.read(predicates=[("x", "<", 64), ("y", "<", 64)]).collect()
    )
    want = sorted((x, y) for x, y in rows if x < 64 and y < 64)
    assert got == want


def test_stream_dedup_ingest_drops_cross_batch_duplicates(spark, tmp_path):
    """Dedup-on-ingest: duplicates are dropped within a batch, across
    batches, and across a stream restart (txn markers make re-delivered
    batches no-ops)."""
    import json as _json

    from mb_crdb_cdc_dlgen2_synapse_spark.txlog import stream_dedup_to_tx_table

    land = tmp_path / "land"
    land.mkdir()
    docs_schema = "doc_id long, text string"

    def write_batch(name, rows):
        with open(land / name, "w") as f:
            for doc_id, text in rows:
                f.write(_json.dumps({"doc_id": doc_id, "text": text}) + "\n")

    write_batch("b1.ndjson", [(1, "alpha beta"), (2, "Alpha  Beta"), (3, "gamma")])
    table_dir, ckpt = str(tmp_path / "t"), str(tmp_path / "ckpt")

    def run():
        stream = spark.readStream.schema(docs_schema).json(str(land))
        q = stream_dedup_to_tx_table(stream, table_dir, ckpt)
        q.awaitTermination()

    run()
    t = TxTable(spark, table_dir)
    got = {r.doc_id for r in t.read().collect()}
    assert got == {1, 3}  # doc 2 is doc 1 after normalization (case+spaces)
    # second batch arrives: one new doc, one duplicate of an OLD batch
    write_batch("b2.ndjson", [(4, "alpha beta"), (5, "delta")])
    run()
    got = {r.doc_id: r.content_hash for r in t.read().collect()}
    assert set(got) == {1, 3, 5}
    assert len(set(got.values())) == 3
    # restart with no new data: no growth, no duplicate commits
    v = t.version()
    run()
    assert t.version() == v and {r.doc_id for r in t.read().collect()} == {1, 3, 5}


def test_ivf_materialized_probe_reads_only_probed_partitions(spark, tmp_path, sf_dir):
    """Operator x storage composition: the IVF corpus materialized as a
    txlog table partitioned by list id; an nprobe read with an `in`
    predicate must open only the probed partitions' files and return
    exactly those lists' vectors."""
    from mb_crdb_cdc_dlgen2_synapse_spark.operators.clustering import kmeans
    from mb_crdb_cdc_dlgen2_synapse_spark.sources.tables import load_table
    from mb_crdb_cdc_dlgen2_synapse_spark.txlog import _file_may_match, _partition_values

    emb = load_table(spark, sf_dir, "embeddings")
    _centroids, assigned = kmeans(emb, k=4, n_iter=1)
    t = TxTable(spark, str(tmp_path / "ivf"))
    t.append(
        assigned.select("vec_id", F.col("cid").alias("list_id"), "embedding"),
        partition_by=["list_id"],
    )
    probe = [0, 2]
    _v, active, _s = t.snapshot()
    stats = t.file_stats()
    kept = [
        f
        for f in active
        if _file_may_match(stats.get(f), _partition_values(f), [("list_id", "in", probe)])
    ]
    assert kept and all(
        _partition_values(f)["list_id"] in {"0", "2"} for f in kept
    )
    assert len(kept) < len(active)
    got = t.read(predicates=[("list_id", "in", probe)])
    want = t.read().filter(F.col("list_id").isin(probe))
    assert got.count() == want.count() > 0
    assert {r.list_id for r in got.select("list_id").distinct().collect()} <= {0, 2}


def test_autocompact_bounds_file_count_across_batches(spark, tmp_path):
    """Streaming appends with auto-compaction: after many per-batch commits
    the active file count stays bounded and content is exactly the union of
    all batches."""
    import json as _json

    from mb_crdb_cdc_dlgen2_synapse_spark.txlog import stream_to_tx_table

    land = tmp_path / "land"
    land.mkdir()
    table_dir, ckpt = str(tmp_path / "t"), str(tmp_path / "ckpt")
    written = []
    for b in range(6):
        with open(land / f"b{b}.ndjson", "w") as f:
            for i in range(5):
                written.append(b * 10 + i)
                f.write(_json.dumps({"k": b * 10 + i, "v": f"x{b}"}) + "\n")
        stream = spark.readStream.schema("k long, v string").json(str(land))
        q = stream_to_tx_table(
            stream, table_dir, ckpt, available_now=True, autocompact_max_files=4
        )
        q.awaitTermination()
    t = TxTable(spark, table_dir)
    _v, active, _s = t.snapshot()
    assert len(active) <= 8  # bounded (append spikes above 4, compact pulls back)
    got = sorted(r.k for r in t.read().collect())
    assert got == sorted(written)
    assert any(c["op"] == "compact" for c in t.history())


# -- copy-on-write DELETE / UPDATE -------------------------------------------


def _range_table(spark, tmp_path, name="dml"):
    """Three appends with disjoint k ranges -> three file groups whose
    logged min/max make pruning observable."""
    t = TxTable(spark, str(tmp_path / name))
    for lo in (0, 100, 200):
        df = spark.range(lo, lo + 100).select(
            F.col("id").alias("k"), (F.col("id") * 2).cast("double").alias("v")
        ).coalesce(1)
        t.append(df)
    return t


def test_delete_where_rewrites_only_pruned_candidates(spark, tmp_path):
    t = _range_table(spark, tmp_path)
    files_before = dict.fromkeys(t.snapshot()[1])
    for f in files_before:
        files_before[f] = os.path.getmtime(os.path.join(t.path, f))
    res = t.delete_where([("k", ">=", 100), ("k", "<", 110)])
    assert res["files_rewritten"] == 1  # only the 100-199 file overlaps
    got = sorted(r.k for r in t.read().collect())
    assert got == list(range(0, 100)) + list(range(110, 300))
    # untouched files keep byte identity (same path, same mtime)
    survivors = set(t.snapshot()[1])
    untouched = [f for f in files_before if f in survivors]
    assert len(untouched) == 2
    for f in untouched:
        assert os.path.getmtime(os.path.join(t.path, f)) == files_before[f]
    assert t.history()[-1]["op"] == "rewrite"


def test_delete_where_outside_range_is_commit_free(spark, tmp_path):
    t = _range_table(spark, tmp_path)
    v = t.version()
    res = t.delete_where([("k", ">=", 10_000)])
    assert res == {"files_rewritten": 0, "version": v}
    assert t.version() == v  # no empty commit


def test_delete_where_matches_filter_semantics(spark, tmp_path):
    t = _range_table(spark, tmp_path)
    expected = sorted(
        r.k for r in t.read().filter(~((F.col("k") % 2 == 0) & (F.col("k") < 120))).collect()
    )
    # conjunctive triples can't express k%2: delete a plain range instead and
    # additionally verify the predicate-vocabulary parity with read()
    t2 = _range_table(spark, tmp_path, "dml2")
    dead = [("k", ">=", 40), ("k", "<", 220)]
    want = sorted(r.k for r in t2.read().collect() if not (40 <= r.k < 220))
    t2.delete_where(dead)
    assert sorted(r.k for r in t2.read().collect()) == want
    assert expected is not None  # silence unused-var lint


def test_update_where_rewrites_matching_rows_only(spark, tmp_path):
    t = _range_table(spark, tmp_path)
    res = t.update_where([("k", ">=", 200)], {"v": F.col("v") + 0.5})
    assert res["files_rewritten"] == 1
    rows = {r.k: r.v for r in t.read().collect()}
    assert rows[205] == 410.5
    assert rows[100] == 200.0  # candidate-external rows untouched
    assert rows[199] == 398.0


def test_update_where_accepts_sql_expression(spark, tmp_path):
    t = _range_table(spark, tmp_path)
    t.update_where([("k", "<", 10)], {"v": "v * 10"})
    rows = {r.k: r.v for r in t.read().collect()}
    assert rows[3] == 60.0 and rows[10] == 20.0


def test_rewrite_conflict_aborts_instead_of_resurrecting_rows(spark, tmp_path, monkeypatch):
    from mb_crdb_cdc_dlgen2_synapse_spark.txlog import TxConflictError

    t = _range_table(spark, tmp_path)
    # interleave: stage the delete's rewrite, then have a concurrent compact
    # replace every file before the delete commits
    orig_stage = t._stage

    def stage_then_compact(df, partition_by):
        out = orig_stage(df, partition_by)
        t2 = TxTable(spark, t.path)  # separate writer handle
        t2.compact(target_files=1)
        return out

    monkeypatch.setattr(t, "_stage", stage_then_compact)
    with pytest.raises(TxConflictError, match="rewrite conflict"):
        t.delete_where([("k", ">=", 100), ("k", "<", 110)])
    # the table still reflects the compact, with no rows lost or duplicated
    assert sorted(r.k for r in t.read().collect()) == list(range(0, 300))


def test_delete_preserves_partition_layout(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "part"))
    df = spark.range(0, 100).select(
        F.col("id").alias("k"),
        (F.col("id") % 4).alias("bucket"),
        F.col("id").cast("double").alias("v"),
    )
    t.append(df, partition_by=["bucket"])
    t.delete_where([("bucket", "==", 2), ("k", "<", 50)])
    # partition dirs survive the rewrite; bucket=2 keeps only k>=50
    got = t.read()
    assert sorted(r.k for r in got.filter("bucket = 2").collect()) == [
        k for k in range(50, 100) if k % 4 == 2
    ]
    assert got.filter("bucket = 1").count() == 25
    assert any("bucket=2" in f for f in t.snapshot()[1])


# -- MERGE INTO ---------------------------------------------------------------


def _kv(spark, rows):
    return spark.createDataFrame(rows, "k long, bucket long, v string")


def _merge_table(spark, tmp_path, name="m"):
    t = TxTable(spark, str(tmp_path / name))
    t.append(
        spark.range(0, 100).select(
            F.col("id").alias("k"),
            (F.col("id") % 4).alias("bucket"),
            F.concat(F.lit("v"), F.col("id")).alias("v"),
        ),
        partition_by=["bucket"],
    )
    return t


def test_merge_into_upsert(spark, tmp_path):
    t = _merge_table(spark, tmp_path)
    src = _kv(spark, [(5, 1, "NEW5"), (42, 2, "NEW42"), (500, 0, "INS500")])
    t.merge_into(src, on=["k"])
    rows = {r.k: r.v for r in t.read().collect()}
    assert len(rows) == 101
    assert rows[5] == "NEW5" and rows[42] == "NEW42" and rows[500] == "INS500"
    assert rows[6] == "v6"


def test_merge_into_tombstone_delete(spark, tmp_path):
    t = _merge_table(spark, tmp_path)
    src = spark.createDataFrame(
        [(7, 3, None), (8, 0, "NEW8"), (999, 3, None)],
        "k long, bucket long, v string",
    )
    t.merge_into(src, on=["k"], delete_when="v IS NULL")
    rows = {r.k: r.v for r in t.read().collect()}
    assert 7 not in rows  # matched delete
    assert rows[8] == "NEW8"
    assert 999 not in rows  # unmatched delete never inserts
    assert len(rows) == 99


def test_merge_insert_only_keeps_matched_target_rows(spark, tmp_path):
    t = _merge_table(spark, tmp_path)
    src = _kv(spark, [(5, 1, "CLOBBER"), (300, 0, "INS300")])
    t.merge_into(src, on=["k"], update=False)
    rows = {r.k: r.v for r in t.read().collect()}
    assert rows[5] == "v5"  # match NOT updated
    assert rows[300] == "INS300"


def test_merge_into_empty_table_bootstraps(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "empty"))
    src = _kv(spark, [(1, 1, "a"), (2, 2, None)])
    t.merge_into(src, on=["k"], delete_when="v IS NULL", partition_by=["bucket"])
    assert {r.k for r in t.read().collect()} == {1}
    assert any("bucket=1" in f for f in t.snapshot()[1])


def test_merge_prunes_untouched_partitions(spark, tmp_path):
    t = _merge_table(spark, tmp_path)
    files_before = {
        f: os.path.getmtime(os.path.join(t.path, f)) for f in t.snapshot()[1]
    }
    # keys 2 and 6: both bucket 2 — but pruning here is via k-span overlap
    # PLUS hive partition equality can't apply (k isn't a partition col), so
    # assert the span-prune keeps low/high files when keys are clustered.
    # Rewrite only what overlaps [2, 6].
    src = _kv(spark, [(2, 2, "N2"), (6, 2, "N6")])
    res = t.merge_into(src, on=["k"])
    assert res["files_rewritten"] < len(files_before)
    survivors = set(t.snapshot()[1])
    untouched = [f for f in files_before if f in survivors]
    assert untouched, "expected files outside the key span to survive as-is"
    for f in untouched:
        assert os.path.getmtime(os.path.join(t.path, f)) == files_before[f]
    rows = {r.k: r.v for r in t.read().collect()}
    assert rows[2] == "N2" and rows[6] == "N6" and len(rows) == 100


def test_merge_all_new_keys_appends_without_rewrite(spark, tmp_path):
    t = _merge_table(spark, tmp_path)
    files_before = set(t.snapshot()[1])
    src = _kv(spark, [(1000, 0, "a"), (1001, 1, "b")])
    res = t.merge_into(src, on=["k"])
    assert res["files_rewritten"] == 0
    assert files_before <= set(t.snapshot()[1])  # nothing removed
    assert t.read().count() == 102
    assert t.history()[-1]["op"] == "append"


def test_merge_randomized_matches_dict_model(spark, tmp_path):
    import random

    rng = random.Random(7)
    t = TxTable(spark, str(tmp_path / "rand"))
    model: dict[int, str] = {}
    for round_i in range(5):
        batch = {}
        for _ in range(rng.randint(1, 30)):
            k = rng.randint(0, 60)
            batch[k] = None if rng.random() < 0.25 else f"r{round_i}k{k}"
        src = spark.createDataFrame(
            [(k, k % 3, v) for k, v in batch.items()], "k long, bucket long, v string"
        )
        t.merge_into(src, on=["k"], delete_when="v IS NULL", partition_by=["bucket"])
        for k, v in batch.items():
            if v is None:
                model.pop(k, None)
            else:
                model[k] = v
        got = {r.k: r.v for r in t.read().collect()}
        assert got == model, f"round {round_i}"


# -- Change Data Feed ---------------------------------------------------------


def test_read_changes_tags_inserts_and_deletes(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "cdf"))
    t.append(_df(spark, [(1, "a"), (2, "b")]).coalesce(1))  # v0: ONE file
    t.append(_df(spark, [(3, "c")]).coalesce(1))            # v1
    t.delete_where([("k", "==", 2)])                        # v2: rewrite v0's file
    ch = t.read_changes(0).collect()
    by_ver = {}
    for r in ch:
        by_ver.setdefault(r._commit_version, []).append((r._change_type, r.k))
    assert sorted(by_ver[1]) == [("insert", 3)]
    # the delete rewrites v0's file: old rows out, survivors back in
    assert sorted(by_ver[2]) == [("delete", 1), ("delete", 2), ("insert", 1)]


def test_read_changes_compact_emits_nothing_by_default(spark, tmp_path):
    """ONE CDF contract across batch and stream (Delta parity): a
    dataChange=false relayout (compact / Z-order / REORG PURGE) emits NO
    change images by default; include_carried=True restores the carried
    delete+insert pairs at the compact version for file-delta consumers."""
    t = TxTable(spark, str(tmp_path / "cdfc"))
    t.append(_df(spark, [(1, "a"), (2, "b")]).coalesce(1))  # v0
    t.append(_df(spark, [(3, "c")]).coalesce(1))            # v1
    t.compact(target_files=1)                               # v2: relayout
    t.append(_df(spark, [(4, "d")]).coalesce(1))            # v3
    feed = t.read_changes(1).collect()
    assert {r._commit_version for r in feed} == {3}
    assert sorted((r._change_type, r.k) for r in feed) == [("insert", 4)]
    # the flag restores the physical rewrite's carried pairs, which cancel
    carried = [
        r for r in t.read_changes(1, include_carried=True).collect()
        if r._commit_version == 2
    ]
    assert sorted((r._change_type, r.k) for r in carried) == [
        ("delete", 1), ("delete", 2), ("delete", 3),
        ("insert", 1), ("insert", 2), ("insert", 3),
    ]
    # update-pair surface follows the same default: no compact-step pairs
    t.enable_row_tracking()
    v0 = t.version()
    t.update_where([("k", "==", 1)], {"v": F.lit("A")})
    t.compact(target_files=1)
    pairs = t.read_update_pairs(v0).collect()
    assert {r._commit_version for r in pairs} == {v0 + 1}
    carried_pairs = t.read_update_pairs(v0, include_carried=True).collect()
    assert {r._commit_version for r in carried_pairs} == {v0 + 1, v0 + 2}
    assert all(
        r._change_unchanged
        for r in carried_pairs
        if r._commit_version == v0 + 2
    )


def test_hard_delete_leaves_no_bytes_on_storage(spark, tmp_path):
    """The GDPR hard-delete recipe (Delta's documented DELETE + VACUUM
    flow): a copy-on-write delete followed by vacuum leaves NO parquet
    file under the table containing the forgotten rows — merge-on-read
    (DV) alone would keep the bytes, and a lost DV was the advisory's
    resurrection hazard. Also proves the change feed refuses ranges
    whose evidence was reclaimed rather than serving partial history."""
    t = TxTable(spark, str(tmp_path / "gdpr"))
    t.append(
        _df(spark, [(i, f"secret-{i}" if i == 7 else f"v{i}") for i in range(10)]).coalesce(2)
    )
    t.delete_where([("k", "==", 7)], mode="cow")
    t.vacuum(retain_versions=1, prune_log=False)
    import pyarrow.parquet as pq

    for dirpath, _d, files in os.walk(t.path):
        for f in files:
            if not f.endswith(".parquet"):
                continue
            tbl = pq.read_table(os.path.join(dirpath, f))
            for col in tbl.column_names:
                vals = [str(v) for v in tbl.column(col).to_pylist()]
                assert not any("secret-7" in v for v in vals), (dirpath, f)
    assert sorted(r.k for r in t.read().collect()) == [i for i in range(10) if i != 7]
    # history before the reclaim is gone WITH an explicit error, not
    # silently partial
    with pytest.raises(FileNotFoundError, match="vacuum"):
        t.read_changes(-1).collect()


def test_feed_survives_vacuum_of_compacted_inputs(spark, tmp_path):
    """A concrete benefit of the Delta-parity default: a consumer at the
    pre-compact watermark survives vacuum reclaiming the compaction's
    INPUT files (the compact emits nothing, so its removed files are
    never opened), while include_carried=True over the same range
    correctly refuses with the consume-before-vacuum error."""
    t = TxTable(spark, str(tmp_path / "vc"))
    t.append(_df(spark, [(1, "a"), (2, "b")]).coalesce(1))  # v0
    pre = set(t.snapshot()[1])
    t.compact(target_files=1)                               # v1 rewrites v0's file
    t.append(_df(spark, [(3, "c")]).coalesce(1))            # v2
    t.vacuum(retain_versions=1, prune_log=False)            # reclaims v0's file
    assert not any(
        os.path.exists(os.path.join(t.path, f)) for f in pre
    )
    got = sorted(
        (r._commit_version, r._change_type, r.k)
        for r in t.read_changes(0).collect()
    )
    assert got == [(2, "insert", 3)]
    with pytest.raises(FileNotFoundError, match="vacuum"):
        t.read_changes(0, include_carried=True).collect()


def test_carried_pairs_never_change_the_net_feed(spark, tmp_path):
    """include_carried is INVISIBLE to net-style consumers by
    construction: across random histories (appends, CoW/DV deletes,
    updates, compactions) the per-image net of the feed is identical
    with and without carried pairs — they always null-safe-cancel."""
    import random

    rng = random.Random(23)
    t = TxTable(spark, str(tmp_path / "nc"))
    t.append(_df(spark, [(i, f"v{i}") for i in range(24)]).coalesce(2))
    for _ in range(7):
        op = rng.choice(["append", "delete_cow", "delete_dv", "update", "compact"])
        if op == "append":
            lo = rng.randint(100, 900)
            t.append(_df(spark, [(lo + j, f"a{j}") for j in range(4)]).coalesce(1))
        elif op == "delete_cow":
            lo = rng.randint(0, 20)
            t.delete_where([("k", ">=", lo), ("k", "<", lo + 3)])
        elif op == "delete_dv":
            lo = rng.randint(0, 20)
            t.delete_where([("k", "==", lo)], mode="dv")
        elif op == "update":
            lo = rng.randint(0, 20)
            t.update_where([("k", "==", lo)], {"v": F.lit("u")})
        else:
            t.compact(target_files=2)
    assert _feed_net(t, -1) == {
        (r.k, r.v): 1 for r in t.read().collect()
    }
    full = t.read_changes(-1, include_carried=True)
    net_carried = {
        (r.k, r.v): r.net
        for r in full.groupBy("k", "v")
        .agg(
            F.sum(
                F.when(F.col("_change_type") == "insert", 1).otherwise(-1)
            ).alias("net")
        )
        .collect()
        if r.net != 0
    }
    assert net_carried == _feed_net(t, -1)


def test_change_feed_replay_reconstructs_any_snapshot(spark, tmp_path):
    import random

    rng = random.Random(11)
    t = TxTable(spark, str(tmp_path / "cdfr"))
    t.append(
        spark.range(0, 40).select(
            F.col("id").alias("k"), (F.col("id") % 3).alias("bucket")
        ),
        partition_by=["bucket"],
    )
    for _ in range(4):
        op = rng.choice(["append", "delete", "merge"])
        if op == "append":
            lo = rng.randint(100, 900)
            t.append(
                spark.range(lo, lo + 10).select(
                    F.col("id").alias("k"), (F.col("id") % 3).alias("bucket")
                ),
                partition_by=["bucket"],
            )
        elif op == "delete":
            lo = rng.randint(0, 30)
            t.delete_where([("k", ">=", lo), ("k", "<", lo + 8)])
        else:
            rows = [(rng.randint(0, 50), rng.randint(0, 2)) for _ in range(6)]
            src = spark.createDataFrame(rows, "k long, bucket long").dropDuplicates(["k"])
            t.merge_into(src, on=["k"])
    head = t.version()
    for base_v in range(head):
        base = {r.k for r in t.read(as_of=base_v).collect()}
        changes = t.read_changes(base_v, head).collect()
        # apply per version in order: deletes then inserts within a commit
        state = dict.fromkeys(base)
        for v in sorted({r._commit_version for r in changes}):
            for r in changes:
                if r._commit_version == v and r._change_type == "delete":
                    state.pop(r.k, None)
            for r in changes:
                if r._commit_version == v and r._change_type == "insert":
                    state[r.k] = None
        want = {r.k for r in t.read(as_of=head).collect()}
        assert set(state) == want, f"replay from v{base_v}"


def test_read_changes_empty_range_returns_typed_empty(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "cdfe"))
    t.append(_df(spark, [(1, "a")]))
    ch = t.read_changes(t.version())
    assert ch.count() == 0
    assert "_change_type" in ch.columns and "k" in ch.columns


# -- CHECK constraints --------------------------------------------------------


def test_check_constraint_blocks_bad_writes_atomically(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "chk"))
    t.append(_df(spark, [(1, "a"), (2, "b")]))
    t.add_check("k_positive", "k > 0")
    v = t.version()
    n_files = len(t.snapshot()[1])
    with pytest.raises(ValueError, match="k_positive"):
        t.append(_df(spark, [(3, "c"), (-1, "bad")]))
    # atomic refusal: version unchanged, no stray staged files
    assert t.version() == v
    assert len(t.snapshot()[1]) == n_files
    assert sorted(r.k for r in t.read().collect()) == [1, 2]
    t.append(_df(spark, [(3, "c")]))  # clean write passes
    assert sorted(r.k for r in t.read().collect()) == [1, 2, 3]


def test_add_check_refuses_existing_violations(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "chk2"))
    t.append(_df(spark, [(0, "zero")]))
    with pytest.raises(ValueError, match="existing rows violate"):
        t.add_check("k_positive", "k > 0")
    assert "k_positive" not in t.checks()


def test_checks_persist_across_handles_and_gate_dml(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "chk3"))
    t.append(
        spark.range(1, 50).select(F.col("id").alias("k"), F.col("id").cast("double").alias("v"))
    )
    t.add_check("v_nonneg", "v >= 0")
    t2 = TxTable(spark, t.path)  # fresh handle, same log
    assert t2.checks() == {"v_nonneg": "v >= 0"}
    with pytest.raises(ValueError, match="v_nonneg"):
        t2.update_where([("k", "<", 5)], {"v": F.lit(-1.0)})
    assert t2.read().filter("v < 0").count() == 0
    t2.drop_check("v_nonneg")
    t2.update_where([("k", "<", 5)], {"v": F.lit(-1.0)})
    assert t2.read().filter("v < 0").count() == 4


def test_check_null_passes_sql_semantics(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "chk4"))
    t.append(_df(spark, [(1, "a")]))
    t.add_check("v_short", "length(v) < 10")
    t.append(_df(spark, [(2, None)]))  # NULL check -> pass, per SQL CHECK
    assert t.read().count() == 2


# -- incremental bronze->silver sync ------------------------------------------


def test_sync_changes_incremental_replication(spark, tmp_path):
    from mb_crdb_cdc_dlgen2_synapse_spark.txlog import sync_changes

    bronze = TxTable(spark, str(tmp_path / "bronze"))
    silver = TxTable(spark, str(tmp_path / "silver"))
    mk = lambda rows: spark.createDataFrame(rows, "k long, v double")  # noqa: E731

    bronze.append(mk([(1, 10.0), (2, 20.0), (3, 990.0)]).coalesce(1))
    r1 = sync_changes(bronze, silver, on=["k"], predicate="v < 100")
    assert {r.k: r.v for r in silver.read().collect()} == {1: 10.0, 2: 20.0}

    # update 1 out of range (-> silver delete), update 3 INTO range,
    # delete 2, insert 4
    src = spark.createDataFrame(
        [(1, 500.0), (3, 30.0), (2, None), (4, 40.0)], "k long, v double"
    )
    bronze.merge_into(src, on=["k"], delete_when="v IS NULL")
    r2 = sync_changes(bronze, silver, on=["k"], predicate="v < 100")
    assert r2["from_version"] == r1["to_version"]
    assert {r.k: r.v for r in silver.read().collect()} == {3: 30.0, 4: 40.0}

    # idempotent re-run: no new commits on silver
    n_commits = len(silver.history())
    r3 = sync_changes(bronze, silver, on=["k"], predicate="v < 100")
    assert r3["rows"] == 0 and len(silver.history()) == n_commits


def test_sync_changes_equals_full_recompute_randomized(spark, tmp_path):
    import random

    from mb_crdb_cdc_dlgen2_synapse_spark.txlog import sync_changes

    rng = random.Random(23)
    bronze = TxTable(spark, str(tmp_path / "b"))
    silver = TxTable(spark, str(tmp_path / "s"))
    for step in range(4):
        rows = [
            (rng.randint(0, 30), None if rng.random() < 0.2 else float(rng.randint(0, 200)))
            for _ in range(10)
        ]
        src = spark.createDataFrame(rows, "k long, v double").dropDuplicates(["k"])
        if bronze.version() < 0:
            bronze.append(src.filter("v IS NOT NULL").coalesce(1))
        else:
            bronze.merge_into(src, on=["k"], delete_when="v IS NULL")
        sync_changes(bronze, silver, on=["k"], predicate="v < 150")
        want = {
            (r.k, r.v) for r in bronze.read().filter("v < 150").collect()
        }
        got = {(r.k, r.v) for r in silver.read().collect()}
        assert got == want, f"step {step}"


# -- RESTORE and retention vacuum ---------------------------------------------


def test_restore_rolls_back_in_one_commit(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "rst"))
    t.append(_df(spark, [(1, "a"), (2, "b")]).coalesce(1))      # v0
    t.overwrite(_df(spark, [(9, "z")]).coalesce(1))             # v1
    t.append(_df(spark, [(10, "y")]).coalesce(1))               # v2
    v = t.restore(0)
    assert v == 3 and t.history()[-1]["op"] == "restore"
    assert sorted(r.k for r in t.read().collect()) == [1, 2]
    # the rollback itself is time-travelable: v2 still readable pre-vacuum
    assert sorted(r.k for r in t.read(as_of=2).collect()) == [9, 10]
    # restoring the restore works too
    t.restore(2)
    assert sorted(r.k for r in t.read().collect()) == [9, 10]


def test_restore_after_vacuum_fails_loudly(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "rstv"))
    t.append(_df(spark, [(1, "a")]).coalesce(1))
    t.overwrite(_df(spark, [(2, "b")]).coalesce(1))
    t.vacuum()
    with pytest.raises(FileNotFoundError, match="restore"):
        t.restore(0)


def test_vacuum_retention_keeps_time_travel_window(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "ret"))
    for i in range(4):
        t.overwrite(_df(spark, [(i, f"v{i}")]).coalesce(1))
    t.vacuum(retain_versions=2)
    # last two snapshots readable, older ones gone
    assert [r.k for r in t.read(as_of=3).collect()] == [3]
    assert [r.k for r in t.read(as_of=2).collect()] == [2]
    with pytest.raises(Exception):
        t.read(as_of=1).collect()
    # default retention still tightest
    t.vacuum()
    with pytest.raises(Exception):
        t.read(as_of=2).collect()
    assert [r.k for r in t.read().collect()] == [3]


# -- metadata COUNT and multi-writer stress -----------------------------------


def test_count_rows_metadata_only_and_exact(spark, tmp_path, monkeypatch):
    t = TxTable(spark, str(tmp_path / "cnt"))
    df = spark.range(0, 1000).select(
        F.col("id").alias("k"),
        (F.col("id") % 4).alias("bucket"),
        F.col("id").cast("double").alias("v"),
    )
    t.append(df, partition_by=["bucket"])
    # metadata-only proofs: blind the handle's SparkSession — any file I/O
    # attempt would AttributeError on spark.read
    monkeypatch.setattr(t, "spark", None)
    assert t.count_rows() == 1000
    # partition-equality predicate: decidable for every file, still no I/O
    assert t.count_rows([("bucket", "==", 2)]) == 250
    monkeypatch.setattr(t, "spark", spark)
    # range predicate spanning files: falls back to reading only ambiguous
    assert t.count_rows([("k", ">=", 123)]) == t.read().filter("k >= 123").count()


def test_count_rows_randomized_equals_filter_count(spark, tmp_path):
    import random

    rng = random.Random(31)
    t = TxTable(spark, str(tmp_path / "cntr"))
    for lo in (0, 300, 600):
        t.append(
            spark.range(lo, lo + 300).select(
                F.col("id").alias("k"), (F.col("id") % 3).alias("bucket")
            ),
            partition_by=["bucket"],
        )
    for _ in range(10):
        preds = []
        if rng.random() < 0.7:
            preds.append(("k", rng.choice([">=", ">", "<=", "<"]), rng.randint(-50, 950)))
        if rng.random() < 0.5:
            preds.append(("bucket", "==", rng.randint(0, 3)))
        want = t.read(predicates=preds).count()
        assert t.count_rows(preds) == want, preds


def test_concurrent_writers_all_commits_land(spark, tmp_path):
    """Optimistic concurrency under real thread interleaving: N threads x M
    appends race for versions; every append must land exactly once."""
    import threading

    t_path = str(tmp_path / "mw")
    TxTable(spark, t_path)  # init log dir
    errors = []

    def writer(wid: int):
        try:
            t = TxTable(spark, t_path)
            for i in range(4):
                t.append(
                    spark.createDataFrame([(wid, i)], "w int, i int").coalesce(1)
                )
        except Exception as e:  # pragma: no cover
            errors.append(e)

    threads = [threading.Thread(target=writer, args=(w,)) for w in range(4)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errors
    t = TxTable(spark, t_path)
    assert t.version() == 15  # 16 commits, contiguous versions 0..15
    rows = {(r.w, r.i) for r in t.read().collect()}
    assert rows == {(w, i) for w in range(4) for i in range(4)}


def test_scoped_compact_rewrites_only_matching_partition(spark, tmp_path):
    """OPTIMIZE ... WHERE: only the predicate's files are rewritten; other
    partitions keep byte identity and the table content is unchanged."""
    t = TxTable(spark, str(tmp_path / "optw"))
    df = spark.range(0, 400).select(
        F.col("id").alias("k"), (F.col("id") % 4).alias("bucket")
    )
    # many small files per partition
    for _ in range(3):
        t.append(df.repartition(6), partition_by=["bucket"])
    before = {f: os.path.getmtime(os.path.join(t.path, f)) for f in t.snapshot()[1]}
    n_b2_before = sum(1 for f in before if "bucket=2" in f)
    t.compact(predicates=[("bucket", "==", 2)])
    after = set(t.snapshot()[1])
    n_b2_after = sum(1 for f in after if "bucket=2" in f)
    assert n_b2_after < n_b2_before  # compacted
    untouched = [f for f in before if f in after]
    # every NEW file lands in the compacted partition; every surviving old
    # file is outside it and keeps byte identity
    assert all("bucket=2" in f for f in after - set(before))
    for f in untouched:
        assert "bucket=2" not in f
        assert os.path.getmtime(os.path.join(t.path, f)) == before[f]
    assert t.read().count() == 1200
    assert t.history()[-1]["op"] == "compact"


def test_scd2_history_tracks_intervals_and_reinsert(spark, tmp_path):
    """SCD2 from the change feed: update closes and reopens, delete closes,
    and an identical image deleted then re-inserted later pairs with the
    RIGHT delete (min-version pairing; intervals never overlap)."""
    from mb_crdb_cdc_dlgen2_synapse_spark.txlog import scd2_history

    t = TxTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, [(1, "a"), (2, "b")]))          # v0
    t.delete_where([("k", "==", 1)])                    # v1: close (1,a)
    t.append(_df(spark, [(1, "a")]))                    # v2: reopen same image
    t.update_where([("k", "==", 2)], {"v": F.lit("c")})  # v3: (2,b)->(2,c)
    hist = {
        (r.k, r.v, r.valid_from): r.valid_to
        for r in scd2_history(t).collect()
    }
    assert hist == {
        (1, "a", 0): 1,
        (1, "a", 2): None,
        (2, "b", 0): 3,
        (2, "c", 3): None,
    }


def test_scd2_history_randomized_matches_model(spark, tmp_path):
    """Seeded random op sequence (append/update/delete/compact) vs a pure
    Python interval model: scd2_history must reproduce the model's
    (image, valid_from, valid_to) set exactly — compaction commits rewrite
    files but net to zero change and must leave the history untouched."""
    import random

    from mb_crdb_cdc_dlgen2_synapse_spark.txlog import scd2_history

    rng = random.Random(77)
    t = TxTable(spark, str(tmp_path / "t"))
    live: dict[int, str] = {}          # k -> v currently live
    intervals: list[list] = []         # [k, v, from, to|None]

    def close(k, ver):
        for iv in intervals:
            if iv[0] == k and iv[3] is None:
                iv[3] = ver

    next_k = 0
    for _step in range(10):
        op = rng.choice(["append", "append", "update", "delete", "compact"])
        if op == "append":
            rows = [(next_k + i, f"s{_step}") for i in range(rng.randint(1, 3))]
            next_k += len(rows)
            ver = t.append(_df(spark, rows))
            for k, v in rows:
                live[k] = v
                intervals.append([k, v, ver, None])
        elif op == "update" and live:
            k = rng.choice(sorted(live))
            nv = f"u{_step}"
            ver = t.update_where([("k", "==", k)], {"v": F.lit(nv)})["version"]
            close(k, ver)
            live[k] = nv
            intervals.append([k, nv, ver, None])
        elif op == "delete" and live:
            k = rng.choice(sorted(live))
            ver = t.delete_where([("k", "==", k)])["version"]
            close(k, ver)
            del live[k]
        elif op == "compact" and t.version() >= 0:
            t.compact(target_files=1)  # rewrite: must net out of the feed
    got = sorted(
        (r.k, r.v, r.valid_from, r.valid_to) for r in scd2_history(t).collect()
    )
    exp = sorted((k, v, f, to) for k, v, f, to in intervals)
    assert got == exp


def test_dml_and_merge_on_evolved_table(spark, tmp_path):
    """DML/MERGE over files written BEFORE an add_column: candidate reads
    conform to the logged schema (typed NULLs for the missing field), so
    rewrites neither fail nor drop the column."""
    t = TxTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, [(1, "a"), (2, "b")]))
    t.add_column("score", "double")
    t.merge_into(
        spark.createDataFrame(
            [(2, "B", 9.0), (3, "c", 1.0)], "k int, v string, score double"
        ),
        on=["k"],
    )
    rows = {r.k: (r.v, r.score) for r in t.read().collect()}
    assert rows == {1: ("a", None), 2: ("B", 9.0), 3: ("c", 1.0)}
    # update_where across old and new generations
    t.update_where([("k", "==", 1)], {"score": F.lit(5.0)})
    rows = {r.k: r.score for r in t.read().collect()}
    assert rows == {1: 5.0, 2: 9.0, 3: 1.0}
    # delete_where on the evolved column (pre-evolution rows have NULL)
    t.delete_where([("score", ">=", 6.0)])
    assert sorted(r.k for r in t.read().collect()) == [1, 3]


def test_schema_evolution_randomized_matches_model(spark, tmp_path):
    """Seeded random DDL/append/DML sequence vs a dict model: reads always
    conform to the logged schema regardless of file generations."""
    import random

    rng = random.Random(4242)
    t = TxTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, [(0, "v0")]))
    cols: list[str] = []          # evolved extra columns, in order
    rows: dict[int, dict] = {0: {"v": "v0"}}
    next_k = 1
    n_added = 0
    for step in range(8):
        op = rng.choice(["add", "drop", "append", "update"])
        if op == "add" and len(cols) < 3:
            name = f"c{n_added}"
            n_added += 1
            t.add_column(name, "int")
            cols.append(name)
        elif op == "drop" and cols:
            name = cols.pop(rng.randrange(len(cols)))
            t.drop_column(name)
            for r in rows.values():
                r.pop(name, None)
        elif op == "append":
            payload = {"v": f"s{step}", **{c: step for c in cols}}
            schema = "k int, v string" + "".join(f", {c} int" for c in cols)
            data = [(next_k, payload["v"], *[payload[c] for c in cols])]
            t.append(spark.createDataFrame(data, schema))
            rows[next_k] = dict(payload)
            next_k += 1
        elif op == "update" and cols:
            c = rng.choice(cols)
            t.update_where([("k", "==", 0)], {c: F.lit(99)})
            rows[0][c] = 99
    got = {
        r["k"]: {c: r[c] for c in (["v"] + cols)} for r in t.read().collect()
    }
    exp = {
        k: {c: v.get(c) for c in (["v"] + cols)} for k, v in rows.items()
    }
    assert got == exp
    assert t.read().columns == ["k", "v"] + cols


def test_scd2_and_change_feed_across_evolution(spark, tmp_path):
    """Change feed and SCD2 keep working across an add_column boundary:
    pre-evolution images net with NULL for the new field, post-evolution
    updates open intervals carrying it."""
    from mb_crdb_cdc_dlgen2_synapse_spark.txlog import scd2_history

    t = TxTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, [(1, "a")]))                       # v0
    t.add_column("score", "double")                        # v1 (no row change)
    t.update_where([("k", "==", 1)], {"score": F.lit(7.0)})  # v2
    hist = sorted(
        ((r.k, r.v, r.score, r.valid_from, r.valid_to)
         for r in scd2_history(t).collect()),
        key=lambda x: (x[0], x[3]),
    )
    assert hist == [(1, "a", None, 0, 2), (1, "a", 7.0, 2, None)]
    # the metadata-only DDL commit itself contributes no feed rows
    versions = {
        r["_commit_version"] for r in t.read_changes(-1).collect()
    }
    assert versions == {0, 2}


def test_dv_delete_is_merge_on_read(spark, tmp_path):
    """DV delete: no data file rewritten (mtimes identical), rows hidden by
    the reader's anti-join, metadata COUNT subtracts the logged DV counts,
    and overlapping re-deletes never double-count."""
    t = TxTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, [(i, f"v{i}") for i in range(10)]))
    _v, active, _s = t.snapshot()
    mtimes = {f: os.path.getmtime(os.path.join(t.path, f)) for f in active}
    res = t.delete_where([("k", ">=", 7)], mode="dv")
    assert res["dv_rows"] == 3
    for f, m in mtimes.items():
        assert os.path.getmtime(os.path.join(t.path, f)) == m
    assert sorted(r.k for r in t.read().collect()) == list(range(7))
    assert t.count_rows() == 7  # metadata path, DV counts subtracted
    # overlapping delete marks only still-visible rows
    res2 = t.delete_where([("k", ">=", 5)], mode="dv")
    assert res2["dv_rows"] == 2
    assert t.count_rows() == 5
    assert sorted(r.k for r in t.read().collect()) == list(range(5))


def test_dv_then_compact_is_physical_and_equal(spark, tmp_path):
    """compact() after DV deletes drops the rows physically and retires the
    DVs; the visible content is unchanged."""
    t = TxTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, [(i, "x") for i in range(8)]))
    t.delete_where([("k", "==", 3)], mode="dv")
    before = sorted(r.k for r in t.read().collect())
    t.compact(target_files=1)
    assert sorted(r.k for r in t.read().collect()) == before
    assert t._active_dvs() == []
    assert t.count_rows() == 7


def test_dv_rows_do_not_resurrect_in_cow_rewrites(spark, tmp_path):
    """A copy-on-write UPDATE touching a file with DV'd rows must not bring
    the deleted rows back."""
    t = TxTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, [(1, "a"), (2, "b"), (3, "c")]))
    t.delete_where([("k", "==", 2)], mode="dv")
    t.update_where([("k", "==", 1)], {"v": F.lit("A")})
    rows = {r.k: r.v for r in t.read().collect()}
    assert rows == {1: "A", 3: "c"}


def test_dv_time_travel_and_restore(spark, tmp_path):
    """Pre-DV snapshots show the rows; RESTORE to a pre-DV version clears
    the vectors (dv_reset), and the restore itself is time-travelable."""
    t = TxTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, [(1, "a"), (2, "b")]))          # v0
    t.delete_where([("k", "==", 2)], mode="dv")         # v1
    assert sorted(r.k for r in t.read(as_of=0).collect()) == [1, 2]
    assert [r.k for r in t.read(as_of=1).collect()] == [1]
    t.restore(0)                                        # v2
    assert sorted(r.k for r in t.read().collect()) == [1, 2]
    assert t.count_rows() == 2
    assert [r.k for r in t.read(as_of=1).collect()] == [1]


def test_dv_change_feed_emits_deleted_images(spark, tmp_path):
    """The change feed renders a DV delete as delete-typed rows carrying the
    deleted row images, and SCD2 closes their intervals."""
    from mb_crdb_cdc_dlgen2_synapse_spark.txlog import scd2_history

    t = TxTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, [(1, "a"), (2, "b")]))          # v0
    t.delete_where([("k", "==", 1)], mode="dv")         # v1
    feed = t.read_changes(0).collect()
    assert [(r.k, r.v, r._change_type, r._commit_version) for r in feed] == [
        (1, "a", "delete", 1)
    ]
    hist = {(r.k, r.v): (r.valid_from, r.valid_to) for r in scd2_history(t).collect()}
    assert hist == {(1, "a"): (0, 1), (2, "b"): (0, None)}


def test_dv_vacuum_keeps_retained_and_reclaims_rest(spark, tmp_path):
    """vacuum keeps DV files the retained snapshots reference; compaction
    retires them and a later vacuum reclaims the dv parquet."""
    t = TxTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, [(1, "a"), (2, "b")]))
    t.delete_where([("k", "==", 2)], mode="dv")
    dvs = t._active_dvs()
    assert dvs
    t.vacuum()  # current snapshot still references the DV
    assert all(os.path.exists(os.path.join(t.path, f)) for f in dvs)
    assert [r.k for r in t.read().collect()] == [1]
    t.compact(target_files=1)
    t.vacuum()
    assert not any(os.path.exists(os.path.join(t.path, f)) for f in dvs)
    assert [r.k for r in t.read().collect()] == [1]


def test_dv_update_marks_old_and_appends_new(spark, tmp_path):
    """Merge-on-read UPDATE: old positions DV'd and updated copies appended
    in ONE commit; original data files untouched; equals the CoW result."""
    t = TxTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, [(1, "a"), (2, "b"), (3, "c")]))
    _v, active, _s = t.snapshot()
    mtimes = {f: os.path.getmtime(os.path.join(t.path, f)) for f in active}
    res = t.update_where([("k", "<=", 2)], {"v": F.expr("upper(v)")}, mode="dv")
    assert res["dv_rows"] == 2
    assert t.history()[-1]["op"] == "update_dv"
    for f, m in mtimes.items():
        assert os.path.getmtime(os.path.join(t.path, f)) == m
    rows = {r.k: r.v for r in t.read().collect()}
    assert rows == {1: "A", 2: "B", 3: "c"}
    assert t.count_rows() == 3  # metadata: +2 appended, -2 DV'd
    # the change feed shows delete(old image) + insert(new image) at one version
    feed = t.read_changes(0).collect()
    got = sorted((r.k, r.v, r._change_type) for r in feed)
    assert got == [
        (1, "A", "insert"), (1, "a", "delete"),
        (2, "B", "insert"), (2, "b", "delete"),
    ]
    # a later DV update on an already-updated row touches the APPENDED copy
    t.update_where([("k", "==", 1)], {"v": F.lit("z")}, mode="dv")
    rows = {r.k: r.v for r in t.read().collect()}
    assert rows == {1: "z", 2: "B", 3: "c"}
    # compaction collapses everything physically
    t.compact(target_files=1)
    assert {r.k: r.v for r in t.read().collect()} == {1: "z", 2: "B", 3: "c"}
    assert t._active_dvs() == []


def test_dv_merge_matches_cow_merge(spark, tmp_path):
    """merge_into(mode="dv") lands on the same visible content as the CoW
    merge for the same source (upsert + tombstone + insert), without
    touching candidate data files."""
    src_rows = spark.createDataFrame(
        [(2, "B2"), (3, None), (9, "new")], "k int, v string"
    )

    def build(mode):
        t = TxTable(spark, str(tmp_path / mode))
        t.append(_df(spark, [(1, "a"), (2, "b"), (3, "c")]))
        t.merge_into(
            src_rows, on=["k"], delete_when="v IS NULL", mode=mode
        )
        return t

    cow = build("cow")
    dv = build("dv")
    assert sorted((r.k, r.v) for r in dv.read().collect()) == sorted(
        (r.k, r.v) for r in cow.read().collect()
    ) == [(1, "a"), (2, "B2"), (9, "new")]
    assert dv.history()[-1]["op"] == "merge_dv"
    assert dv.count_rows() == 3
    # the DV merge did not rewrite the original file(s)
    first_commit_files = set(dv.history()[0]["added"])
    _v, active, _s = dv.snapshot()
    assert first_commit_files <= set(active)
    # chained DV merge over the merged state
    dv.merge_into(
        spark.createDataFrame([(9, None), (1, "A")], "k int, v string"),
        on=["k"], delete_when="v IS NULL", mode="dv",
    )
    assert sorted((r.k, r.v) for r in dv.read().collect()) == [(1, "A"), (2, "B2")]
    # compaction folds vectors away with identical content
    dv.compact(target_files=1)
    assert sorted((r.k, r.v) for r in dv.read().collect()) == [(1, "A"), (2, "B2")]
    assert dv._active_dvs() == []


def test_partition_layout_evolution(spark, tmp_path):
    """Appends under DIFFERENT partition layouts coexist: per-layout scan
    groups are unioned, so no generation's rows vanish (the single-read
    mixed-layout silent-drop bug), predicates still prune, and DV deletes
    span generations."""
    t = TxTable(spark, str(tmp_path / "t"))
    part = spark.createDataFrame(
        [(1, "x", "p1"), (2, "y", "p2")], "k int, v string, p string"
    )
    t.append(part, partition_by=["p"])                  # hive layout
    t.append(
        spark.createDataFrame([(3, "z", "p1")], "k int, v string, p string")
    )                                                   # flat layout
    got = sorted((r.k, r.v, r.p) for r in t.read().collect())
    assert got == [(1, "x", "p1"), (2, "y", "p2"), (3, "z", "p1")]
    assert t.count_rows() == 3
    # partition-value pruning still correct across layouts
    assert sorted(
        r.k for r in t.read(predicates=[("p", "==", "p1")]).collect()
    ) == [1, 3]
    # DV delete spanning both generations
    t.delete_where([("p", "==", "p1")], mode="dv")
    assert sorted(r.k for r in t.read().collect()) == [2]
    # compact unifies the layout physically, content unchanged
    t.compact(target_files=1)
    assert sorted((r.k, r.p) for r in t.read().collect()) == [(2, "p2")]


def test_randomized_dv_ops_match_model(spark, tmp_path):
    """Seeded random mix of appends, CoW and DV deletes/updates, DV merges,
    compaction, and vacuum vs a dict model — the protocol-level check that
    merge-on-read and copy-on-write compose without losing, duplicating,
    or resurrecting rows."""
    import random

    rng = random.Random(20260813)
    t = TxTable(spark, str(tmp_path / "t"))
    model: dict[int, str] = {}
    next_id = 0
    for step in range(14):
        op = rng.choice(
            ["append", "append", "dv_delete", "cow_delete", "dv_update",
             "dv_merge", "compact", "vacuum"]
        )
        if op == "append":
            rows = [(next_id + i, f"v{step}") for i in range(rng.randint(1, 3))]
            next_id += len(rows)
            t.append(_df(spark, rows))
            model.update(dict(rows))
        elif op == "dv_delete" and model:
            k = rng.choice(sorted(model))
            t.delete_where([("k", "==", k)], mode="dv")
            del model[k]
        elif op == "cow_delete" and model:
            k = rng.choice(sorted(model))
            t.delete_where([("k", "==", k)], mode="cow")
            del model[k]
        elif op == "dv_update" and model:
            k = rng.choice(sorted(model))
            t.update_where([("k", "==", k)], {"v": F.lit(f"u{step}")}, mode="dv")
            model[k] = f"u{step}"
        elif op == "dv_merge" and model:
            ks = sorted(model)
            upd = ks[: len(ks) // 2]
            new_k = next_id
            next_id += 1
            src = [(k, f"m{step}") for k in upd] + [(new_k, f"m{step}")]
            if upd:
                src.append((upd[0], None))  # tombstone wins over its update
                src = [r for r in src if r[0] != upd[0] or r[1] is None]
            t.merge_into(
                _df(spark, src), on=["k"], delete_when="v IS NULL", mode="dv"
            )
            for k, v in src:
                if v is None:
                    model.pop(k, None)
                else:
                    model[k] = v
        elif op == "compact" and model:
            t.compact(target_files=1)
        elif op == "vacuum":
            t.vacuum()
        got = sorted((r.k, r.v) for r in t.read().collect())
        assert got == sorted(model.items()), f"diverged at step {step} ({op})"
        assert t.count_rows() == len(model), f"count diverged at {step} ({op})"


def test_set_clustering_drives_compaction_layout(spark, tmp_path):
    """Declared clustering columns are applied by plain compact() (and thus
    auto-compaction): after OPTIMIZE, predicates on BOTH clustered columns
    prune files — the liquid-clustering-lite contract."""
    import random

    from mb_crdb_cdc_dlgen2_synapse_spark.txlog import (
        _file_may_match,
        _partition_values,
    )

    rng = random.Random(9)
    t = TxTable(spark, str(tmp_path / "t"))
    rows = [(rng.randrange(1000), rng.randrange(1000)) for _ in range(4000)]
    df = spark.createDataFrame(rows, "a int, b int")
    t.append(df.repartition(8))
    with pytest.raises(ValueError, match="not in schema"):
        t.set_clustering(["nope"])
    t.set_clustering(["a", "b"])
    assert t.clustering() == ["a", "b"]
    t.compact(target_files=8)  # no explicit z_order — policy applies
    stats = t.file_stats()
    _v, active, _s = t.snapshot()
    for col in ("a", "b"):
        pruned = [
            f
            for f in active
            if not _file_may_match(
                stats.get(f), _partition_values(f), [(col, "<=", 50)]
            )
        ]
        assert pruned, f"no file pruned on {col} — compaction ignored clustering"
    # content unchanged
    assert t.read().count() == 4000


def test_dv_state_merge_matches_plain_merge(spark, fixture_dir_tx, tmp_path):
    """The deletion-vector latest-state sink lands on the same final state
    as the batch dedup (golden fixture: duplicates, out-of-order update,
    tombstone), with merge-on-read commits instead of bucket rewrites."""
    landing, expected = fixture_dir_tx
    table_dir = str(tmp_path / "state_dv")
    q = materialize_latest_state(
        changefeed_stream(spark, landing, AFTER_SCHEMA),
        table_dir,
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination()
    got = {
        r["after"]["id"]: r["after"]["revenue"]
        for r in read_latest_state(spark, table_dir).collect()
    }
    assert got == expected
    ops = {c["op"] for c in TxTable(spark, table_dir).history()}
    assert "append" in ops  # bootstrap batch
    # tombstoned key k3 persists as a marker row, invisible to readers
    raw = TxTable(spark, table_dir).read()
    markers = [r["row_key"] for r in raw.filter(F.col("after").isNull()).collect()]
    assert any("k3" in m for m in markers)
    # compaction folds any vectors; state unchanged
    TxTable(spark, table_dir).compact(target_files=1)
    got2 = {
        r["after"]["id"]: r["after"]["revenue"]
        for r in read_latest_state(spark, table_dir).collect()
    }
    assert got2 == expected


def test_dv_state_merge_ignores_late_older_updates(spark, tmp_path):
    """A LATER batch carrying OLDER versions (late-arriving files) must not
    regress live state nor resurrect a tombstoned key — the newer-filter +
    marker-row design."""
    landing = str(tmp_path / "landing")
    table_dir = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")

    def run():
        q = materialize_latest_state(
            changefeed_stream(spark, landing, AFTER_SCHEMA), table_dir, ckpt
        )
        q.awaitTermination()

    _write_envelope_lines(
        landing, "2023-01-01",
        [
            _env_line("k1", 9.0, "1000000000000000005.0000000000"),
            _env_line("k2", 2.0, "1000000000000000004.0000000000"),
            _env_line("k2", None, "1000000000000000006.0000000000", delete=True),
        ],
    )
    run()
    # batch 2: stale update for k1, stale pre-delete update for k2
    _write_envelope_lines(
        landing, "2023-01-02",
        [
            _env_line("k1", 1.0, "1000000000000000001.0000000000"),
            _env_line("k2", 3.0, "1000000000000000002.0000000000"),
        ],
    )
    run()
    got = {
        r["after"]["id"]: r["after"]["revenue"]
        for r in read_latest_state(spark, table_dir).collect()
    }
    assert got == {"k1": 9.0}  # k1 keeps the newer value; k2 stays deleted


def _feed_net(t, from_version=-1):
    """{(k, v): net +insert/-delete count} over the change feed."""
    feed = t.read_changes(from_version)
    rows = (
        feed.groupBy("k", "v")
        .agg(
            F.sum(
                F.when(F.col("_change_type") == "insert", 1).otherwise(-1)
            ).alias("net")
        )
        .collect()
    )
    return {(r.k, r.v): r.net for r in rows if r.net != 0}


def test_change_feed_nets_dv_delete_then_compact(spark, tmp_path):
    """A compact() that removes DV'd files must not re-emit the DV-deleted
    rows as a second delete: net over the feed equals (final - initial)
    state exactly (the contract net-style CDF consumers rely on)."""
    t = TxTable(spark, str(tmp_path / "t"))
    rows = [(i, chr(ord("a") + i)) for i in range(10)]
    t.append(_df(spark, rows))                      # v0: insert 0..9
    t.delete_where([("k", ">=", 5)], mode="dv")     # v1: dv-delete 5..9
    t.compact(target_files=1)                       # v2: physical rewrite
    # net of changes AFTER v0: exactly one delete each for 5..9, zero for
    # the carried rows 0..4 (compact's delete+insert pair cancels)
    assert _feed_net(t, 0) == {
        (k, v): -1 for k, v in rows if k >= 5
    }
    # full-history net reconstructs the final state
    assert _feed_net(t, -1) == {(k, v): 1 for k, v in rows if k < 5}


def test_change_feed_nets_dv_update_then_rewrite(spark, tmp_path):
    """Same netting contract for update_dv followed by a CoW rewrite."""
    t = TxTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, [(1, "a"), (2, "b"), (3, "c")]))
    t.update_where([("k", "==", 2)], {"v": F.lit("B")}, mode="dv")
    # CoW delete of an unrelated row rewrites the original file, which
    # still physically contains the old (2, "b") image under a DV
    t.delete_where([("k", "==", 3)], mode="cow")
    assert _feed_net(t, -1) == {(1, "a"): 1, (2, "B"): 1}


def test_change_feed_restore_applies_restored_dvs(spark, tmp_path):
    """RESTORE re-adds historical files together with their DV set: rows the
    restored snapshot had deleted must not reappear as phantom inserts."""
    t = TxTable(spark, str(tmp_path / "t"))
    rows = [(i, chr(ord("a") + i)) for i in range(6)]
    t.append(_df(spark, rows))                      # v0
    t.delete_where([("k", ">=", 3)], mode="dv")     # v1: dv-delete 3..5
    t.compact(target_files=1)                       # v2: physical
    t.restore(1)                                    # v3: back to v1 state
    assert _feed_net(t, -1) == {(k, v): 1 for k, v in rows if k < 3}
    # state equivalence: feed-net membership == actual table content
    assert sorted((r.k, r.v) for r in t.read().collect()) == sorted(
        (k, v) for k, v in rows if k < 3
    )


def test_dv_commit_aborts_when_referenced_file_rewritten(spark, tmp_path, monkeypatch):
    """A DV commit racing a compact that replaced its referenced data files
    must abort (the vector would be silently inert), mirroring the CoW
    rewrite's conflict check."""
    from mb_crdb_cdc_dlgen2_synapse_spark.txlog import TxConflictError

    t = TxTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, [(i, "x") for i in range(10)]))
    orig_commit = t._commit

    def commit_with_race(added, removed_fn, schema, txn, op, *a, **kw):
        if op == "delete_dv":
            TxTable(spark, t.path).compact(target_files=1)  # concurrent writer
        return orig_commit(added, removed_fn, schema, txn, op, *a, **kw)

    monkeypatch.setattr(t, "_commit", commit_with_race)
    with pytest.raises(TxConflictError, match="dv commit conflict"):
        t.delete_where([("k", "==", 3)], mode="dv")
    # the table reflects the compact; the aborted delete changed nothing
    assert sorted(r.k for r in t.read().collect()) == list(range(10))


def test_compact_aborts_on_concurrent_dv_commit(spark, tmp_path, monkeypatch):
    """compact() resets the DV set; a DV committed between its scan and its
    commit must make it abort instead of resurrecting the deleted rows."""
    from mb_crdb_cdc_dlgen2_synapse_spark.txlog import TxConflictError

    t = TxTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, [(i, "x") for i in range(10)]))
    orig_stage = t._stage
    fired = []

    def stage_with_race(df, partition_by):
        if not fired:
            fired.append(1)
            TxTable(spark, t.path).delete_where([("k", "==", 7)], mode="dv")
        return orig_stage(df, partition_by)

    monkeypatch.setattr(t, "_stage", stage_with_race)
    with pytest.raises(TxConflictError, match="compact conflict"):
        t.compact(target_files=1)
    # the concurrent delete survived; nothing resurrected
    assert sorted(r.k for r in t.read().collect()) == [i for i in range(10) if i != 7]


def test_cow_rewrite_aborts_on_concurrent_dv_commit(spark, tmp_path, monkeypatch):
    """A CoW rewrite whose candidate file received a DV between scan and
    commit aborts; a DV on a NON-candidate file does not conflict."""
    from mb_crdb_cdc_dlgen2_synapse_spark.txlog import TxConflictError

    t = TxTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, [(i, "lo") for i in range(5)]).repartition(1))
    t.append(_df(spark, [(i, "hi") for i in range(100, 105)]).repartition(1))
    orig_stage = t._stage
    fired = []

    def stage_with_race(df, partition_by):
        if not fired:
            fired.append(1)
            # concurrent DV delete inside the SAME low-key candidate file
            TxTable(spark, t.path).delete_where([("k", "==", 2)], mode="dv")
        return orig_stage(df, partition_by)

    monkeypatch.setattr(t, "_stage", stage_with_race)
    with pytest.raises(TxConflictError, match="deletion vector committed"):
        t.update_where([("k", "==", 1)], {"v": F.lit("LO")})
    assert sorted(r.k for r in t.read().collect()) == [0, 1, 3, 4, 100, 101, 102, 103, 104]

    # non-candidate DV: delete k=103 (hi file) while rewriting the lo file
    fired2 = []

    def stage_with_disjoint_race(df, partition_by):
        if not fired2:
            fired2.append(1)
            TxTable(spark, t.path).delete_where([("k", "==", 103)], mode="dv")
        return orig_stage(df, partition_by)

    monkeypatch.setattr(t, "_stage", stage_with_disjoint_race)
    t.update_where([("k", "==", 1)], {"v": F.lit("LO")})
    rows = {r.k: r.v for r in t.read().collect()}
    assert rows[1] == "LO" and 103 not in rows and 2 not in rows


def test_dv_guardrail_routes_large_dml_to_cow(spark, tmp_path):
    """mode="dv" DML marking more rows than DV_MAX_ROWS auto-routes to the
    copy-on-write rewrite: no deletion vector is written, no single-task
    vector write serializes the marked positions."""
    t = TxTable(spark, str(tmp_path / "t"))
    t.DV_MAX_ROWS = 5
    t.append(_df(spark, [(i, f"v{i}") for i in range(20)]))
    res = t.delete_where([("k", ">=", 10)], mode="dv")   # 10 > 5 marked
    assert "files_rewritten" in res and res["files_rewritten"] >= 1
    assert t._active_dvs() == []
    assert sorted(r.k for r in t.read().collect()) == list(range(10))
    assert t.history()[-1]["op"] == "rewrite"

    # small delete still takes the merge-on-read path
    res2 = t.delete_where([("k", "==", 0)], mode="dv")
    assert res2.get("dv_rows") == 1 and t._active_dvs()

    # large update also falls back
    res3 = t.update_where([("k", ">=", 1)], {"v": F.lit("U")}, mode="dv")
    assert "files_rewritten" in res3
    rows = {r.k: r.v for r in t.read().collect()}
    assert all(v == "U" for v in rows.values()) and len(rows) == 9

    # large merge falls back to the CoW transform with identical semantics
    t2 = TxTable(spark, str(tmp_path / "t2"))
    t2.DV_MAX_ROWS = 3
    t2.append(_df(spark, [(i, "old") for i in range(10)]))
    src = _df(spark, [(i, "new") for i in range(8)])
    res4 = t2.merge_into(src, on=["k"], mode="dv")
    assert "files_rewritten" in res4
    rows2 = {r.k: r.v for r in t2.read().collect()}
    assert rows2 == {**{i: "new" for i in range(8)}, 8: "old", 9: "old"}
    assert t2._active_dvs() == []


#: op name each mode="dv" statement commits under
_DV_OPS = {"delete": "delete_dv", "update": "update_dv", "merge": "merge_dv"}


def _dv_table(spark, path, rows=2000, files=4):
    t = TxTable(spark, path)
    t.append(
        spark.range(rows)
        .selectExpr("cast(id as int) k", "concat('v', id) v")
        .repartition(files)
    )
    return t


def _dv_statement(spark, t, op, lo):
    """A 50-row mode="dv" statement on keys [lo, lo + 50)."""
    where = [("k", ">=", lo), ("k", "<", lo + 50)]
    if op == "delete":
        return t.delete_where(where, mode="dv")
    if op == "update":
        return t.update_where(where, {"v": F.lit("u")}, mode="dv")
    src = spark.createDataFrame(
        [(lo + i, "m") for i in range(25)] + [(-1 - lo - i, "n") for i in range(25)],
        "k int, v string",
    )
    return t.merge_into(src, on=["k"], mode="dv")


def _inject_write_failure(monkeypatch, leg):
    """Make every parquet write of one leg fail AFTER its files landed:
    ``"vector"`` is the deletion-vector write (rel_file, row_index), and
    ``"stage"`` every other write (the data-file stage)."""
    from pyspark.sql.readwriter import DataFrameWriter

    real = DataFrameWriter.parquet

    def parquet(self, path, *a, **kw):
        real(self, path, *a, **kw)
        if (self._df.columns == ["rel_file", "row_index"]) == (leg == "vector"):
            raise RuntimeError(f"injected {leg} write failure")

    monkeypatch.setattr(DataFrameWriter, "parquet", parquet)


@pytest.mark.parametrize("op", sorted(_DV_OPS))
def test_dv_dml_shares_one_commit_protocol(spark, tmp_path, monkeypatch, op):
    """DELETE, UPDATE and MERGE in mode="dv" commit through one protocol:
    a failure in either leg (the vector write, the new-row stage) adds no
    version and leaves nothing uncommitted behind — no staging residue,
    no orphaned data or vector file; a successful statement lands exactly
    one commit whose vectors' blast radius covers every vector it adds."""
    t = _dv_table(spark, str(tmp_path / "t"))
    v0 = t.version()
    staging = os.path.join(t.path, "_staging")
    for leg in ("vector", "stage") if op != "delete" else ("vector",):
        with monkeypatch.context() as m:
            _inject_write_failure(m, leg)
            with pytest.raises(Exception, match=f"injected {leg} write failure"):
                _dv_statement(spark, t, op, 100)
        assert t.version() == v0, leg
        assert not os.path.isdir(staging) or os.listdir(staging) == [], leg
        assert t.orphan_sweep(dry_run=True, grace_seconds=0)["would_remove"] == [], leg

    res = _dv_statement(spark, t, op, 100)
    assert res["dv_rows"] == (25 if op == "merge" else 50)
    assert t.version() == v0 + 1
    last = t.history()[-1]
    assert last["op"] == _DV_OPS[op]
    assert last["dv_added"] and set(last["dv_covers"]) == set(last["dv_added"])
    assert t.orphan_sweep(dry_run=True, grace_seconds=0)["would_remove"] == []
    got = {r.k: r.v for r in t.read().collect()}
    want = {i: f"v{i}" for i in range(2000)}
    if op == "delete":
        for i in range(100, 150):
            del want[i]
    elif op == "update":
        want.update({i: "u" for i in range(100, 150)})
    else:
        want.update({100 + i: "m" for i in range(25)})
        want.update({-101 - i: "n" for i in range(25)})
    assert got == want


def test_dv_delete_and_update_job_counts(spark, tmp_path):
    """A 50-row DV delete or update pays no eager checkpoint and no
    groupBy().collect() for its per-file counts (harvested from the
    written vector): fewer jobs than the 4 (delete) and 7 (update) the
    separate writers took."""
    jsc = spark.sparkContext._jsc.sc()
    t = _dv_table(spark, str(tmp_path / "t"), rows=20000, files=8)
    jobs = {}
    for rep, op in enumerate(["delete", "update"] * 2):
        first = jsc.dagScheduler().nextJobId()
        _dv_statement(spark, t, op, 1000 * rep)
        jobs[op] = jsc.dagScheduler().nextJobId() - first  # second (warm) run wins
    assert jobs["delete"] < 4 and jobs["update"] < 7, jobs


def test_dv_upsert_job_count(spark, tmp_path):
    """A 50-row DV upsert (25 updates, 25 inserts) reads the target once:
    its new rows are the key-unique source's rows and its marked rows the
    candidates passing the key ``in`` list — no eager checkpoint of the
    candidate rows, no insert anti-join, one key collect. At most 6 jobs
    warm (13 with those joins)."""
    t = _dv_table(spark, str(tmp_path / "t"), rows=20000, files=8)
    for rep in range(2):
        jobs, res = _jobs(spark, lambda: _dv_statement(spark, t, "merge", 1000 * rep))
        assert res["dv_rows"] == 25
    assert jobs <= 6, jobs  # the second (warm) run
    got = {r.k: r.v for r in t.read().collect()}
    assert len(got) == 20050
    assert got[1000] == got[1024] == "m" and got[-1001] == got[-1025] == "n"
    assert got[1025] == "v1025"


def test_dv_upsert_joins_past_the_in_filter_cap(spark, tmp_path, monkeypatch):
    """Past ``_IN_FILTER_CAP`` keys the DV upsert semi-joins its candidate
    rows to the source keys instead of filtering them by the ``in`` list:
    the same rows are marked and landed."""
    from mb_crdb_cdc_dlgen2_synapse_spark import txlog

    monkeypatch.setattr(txlog, "_IN_FILTER_CAP", 0)
    t = _dv_table(spark, str(tmp_path / "t"))
    res = _dv_statement(spark, t, "merge", 100)
    assert res["dv_rows"] == 25
    got = {r.k: r.v for r in t.read().collect()}
    want = {i: f"v{i}" for i in range(2000)}
    want.update({100 + i: "m" for i in range(25)})
    want.update({-101 - i: "n" for i in range(25)})
    assert got == want


def test_dv_merge_jobs_keep_the_callers_job_group(spark, tmp_path):
    """Both concurrent legs of a DV merge submit their jobs under the
    caller's job group, like the jobs it runs on the calling thread."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    t = _dv_table(spark, str(tmp_path / "t"))
    sc.setJobGroup("dv-merge-group", "dv merge")
    try:
        first = jsc.dagScheduler().nextJobId()
        _dv_statement(spark, t, "merge", 100)
        ids = set(range(first, jsc.dagScheduler().nextJobId()))
    finally:
        for k in ("spark.jobGroup.id", "spark.job.description",
                  "spark.job.interruptOnCancel"):
            sc.setLocalProperty(k, None)
    jsc.listenerBus().waitUntilEmpty()
    grouped = set(sc.statusTracker().getJobIdsForGroup("dv-merge-group"))
    assert ids and ids <= grouped, sorted(ids - grouped)


def test_dv_broadcast_gated_on_logged_counts(spark, tmp_path):
    """Above DV_BROADCAST_MAX_ROWS logged deleted rows, the reader's DV
    anti-join stops broadcasting (shuffle join instead) — and the result is
    unchanged."""
    from mb_crdb_cdc_dlgen2_synapse_spark.plans import explain_str

    t = TxTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, [(i, f"v{i}") for i in range(30)]))
    t.delete_where([("k", ">=", 20)], mode="dv")
    # isolate OUR hint from Catalyst's size-based auto-broadcast (which
    # would kick in for any tiny test fixture regardless of the gate)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan_small = explain_str(t.read())
        assert "BroadcastHashJoin" in plan_small  # forced by the hint

        t.DV_BROADCAST_MAX_ROWS = 0
        plan_big = explain_str(t.read())
        assert "BroadcastHashJoin" not in plan_big  # hint gated off
        assert sorted(r.k for r in t.read().collect()) == list(range(20))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_dv_state_merge_all_stale_batch_skips_merge_entirely(spark, tmp_path, monkeypatch):
    """When every incoming row is stale, the sink must short-circuit BEFORE
    merge_into: an empty merge source yields empty key bounds, every active
    file becomes a candidate, and the 'no-op' costs a full-table scan —
    exactly the steady replay case this sink exists for."""
    landing = str(tmp_path / "landing")
    table_dir = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")

    def run():
        q = materialize_latest_state(
            changefeed_stream(spark, landing, AFTER_SCHEMA), table_dir, ckpt
        )
        q.awaitTermination()

    _write_envelope_lines(
        landing, "2023-01-01",
        [
            _env_line("k1", 9.0, "1000000000000000005.0000000000"),
            _env_line("k2", 2.0, "1000000000000000004.0000000000"),
        ],
    )
    run()
    v_before = TxTable(spark, table_dir).version()

    def boom(self, *a, **kw):
        raise AssertionError("merge_into called for an all-stale batch")

    monkeypatch.setattr(TxTable, "merge_into", boom)
    _write_envelope_lines(
        landing, "2023-01-02",
        [
            _env_line("k1", 1.0, "1000000000000000001.0000000000"),
            _env_line("k2", 1.5, "1000000000000000002.0000000000"),
        ],
    )
    run()  # would raise through foreachBatch if merge_into were called
    assert TxTable(spark, table_dir).version() == v_before
    got = {
        r["after"]["id"]: r["after"]["revenue"]
        for r in read_latest_state(spark, table_dir).collect()
    }
    assert got == {"k1": 9.0, "k2": 2.0}


def test_disjoint_cow_rewrites_commute(spark, tmp_path, monkeypatch):
    """Two copy-on-write DMLs whose candidate sets are DISJOINT files both
    land (the loser's retry re-reads the active list, finds its candidates
    intact, and commits) — Delta's file-granular conflict rule: only
    overlapping rewrites abort."""
    t = TxTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, [(i, "lo") for i in range(5)]).repartition(1))
    t.append(_df(spark, [(i, "hi") for i in range(100, 105)]).repartition(1))
    orig_stage = t._stage
    fired = []

    def stage_with_race(df, partition_by):
        if not fired:
            fired.append(1)
            # concurrent CoW delete confined to the OTHER (hi-key) file
            TxTable(spark, t.path).delete_where([("k", "==", 103)], mode="cow")
        return orig_stage(df, partition_by)

    monkeypatch.setattr(t, "_stage", stage_with_race)
    t.update_where([("k", "==", 1)], {"v": F.lit("LO")})  # lo file only
    rows = {r.k: r.v for r in t.read().collect()}
    assert rows[1] == "LO"          # this writer's update landed
    assert 103 not in rows          # the racer's delete survived
    assert len(rows) == 9


def test_overlapping_cow_rewrites_abort(spark, tmp_path, monkeypatch):
    """Two CoW DMLs rewriting the SAME file: the loser aborts instead of
    resurrecting the racer's deleted rows."""
    from mb_crdb_cdc_dlgen2_synapse_spark.txlog import TxConflictError

    t = TxTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, [(i, "x") for i in range(10)]).repartition(1))
    orig_stage = t._stage
    fired = []

    def stage_with_race(df, partition_by):
        if not fired:
            fired.append(1)
            TxTable(spark, t.path).delete_where([("k", "==", 7)], mode="cow")
        return orig_stage(df, partition_by)

    monkeypatch.setattr(t, "_stage", stage_with_race)
    with pytest.raises(TxConflictError, match="rewrite conflict"):
        t.update_where([("k", "==", 1)], {"v": F.lit("X")})
    # the racer's delete survived; the aborted update changed nothing
    rows = {r.k: r.v for r in t.read().collect()}
    assert 7 not in rows and rows[1] == "x"


def test_cluster_by_append_tightens_file_spans(spark, tmp_path):
    """append(cluster_by=...): staged files carry tight per-file key
    spans inside each partition (range shuffle + in-task sort), and the
    layout changes nothing about content."""
    t = TxTable(spark, str(tmp_path / "clus"))
    rows = [(i, i % 4, f"v{i}") for i in range(400)]
    df = spark.createDataFrame(rows, "k long, bucket long, v string").repartition(8)
    t.append(df, partition_by=["bucket"], cluster_by=["k"])
    assert sorted((r.k, r.v) for r in t.read().collect()) == sorted(
        (k, v) for k, _, v in rows
    )
    stats = t.file_stats()
    spans = []
    for f in t.snapshot()[1]:
        st = stats.get(f) or {}
        lo, hi = st.get("min", {}).get("k"), st.get("max", {}).get("k")
        assert lo is not None and hi is not None
        spans.append((f, lo, hi))
    # clustered files must not all span the whole domain; and files of the
    # SAME partition must cover disjoint key ranges
    assert any(hi - lo < 399 for _, lo, hi in spans)
    from collections import defaultdict
    by_part = defaultdict(list)
    for f, lo, hi in spans:
        by_part[os.path.dirname(f)].append((lo, hi))
    for part, ss in by_part.items():
        ss.sort()
        for (al, ah), (bl, bh) in zip(ss, ss[1:]):
            assert ah <= bl, f"overlapping clustered spans in {part}: {ss}"


def test_merge_keyset_pruning_bounds_candidates_on_clustered_table(
    spark, tmp_path
):
    """A small scattered-key DV merge on a vec-clustered table: the
    batch's global span covers the whole domain (span pruning keeps
    everything), but the key-set refinement prunes candidates to the
    files actually holding a key — and the result is still exact."""
    t = TxTable(spark, str(tmp_path / "keyset"))
    rows = [(i, i % 4, f"v{i}") for i in range(2000)]
    df = spark.createDataFrame(rows, "k long, bucket long, v string").repartition(8)
    t.append(
        df, partition_by=["bucket"], cluster_by=["k"], max_records_per_file=100
    )
    n_files = len(t.snapshot()[1])
    assert n_files >= 8
    # 3 scattered keys spanning the whole domain + 1 brand-new key
    src = spark.createDataFrame(
        [(1, 1, "N1"), (999, 3, "N999"), (1998, 2, "N1998"), (5000, 0, "NEW")],
        "k long, bucket long, v string",
    )
    res = t.merge_into(src, on=["k"], mode="dv")
    assert res["candidates"] < n_files, (res, n_files)
    got = {r.k: r.v for r in t.read().collect()}
    assert got[1] == "N1" and got[999] == "N999" and got[1998] == "N1998"
    assert got[5000] == "NEW" and len(got) == 2001
    # tombstone through the same path: key-set pruned, still exact
    gone = spark.createDataFrame(
        [(999, 3, None)], "k long, bucket long, v string"
    )
    res2 = t.merge_into(gone, on=["k"], delete_when="v IS NULL", mode="dv")
    assert res2["candidates"] <= res["candidates"]
    assert t.read().filter("k = 999").count() == 0


def _key_clustered(spark, path, files=16):
    """``files`` key-clustered files of 100 rows with disjoint key spans."""
    t = TxTable(spark, path)
    t.append(
        spark.range(files * 100).selectExpr("id k", "concat('v', id) v"),
        cluster_by=["k"],
        max_records_per_file=100,
    )
    spans = sorted(
        (st["min"]["k"], st["max"]["k"]) for st in t.file_stats().values()
    )
    assert len(spans) == files
    assert all(a[1] < b[0] for a, b in zip(spans, spans[1:])), spans
    return t


def _jobs(spark, thunk):
    """(Spark jobs ``thunk`` started, its result)."""
    jsc = spark.sparkContext._jsc.sc()
    first = jsc.dagScheduler().nextJobId()
    out = thunk()
    return jsc.dagScheduler().nextJobId() - first, out


def test_merge_keyset_pruning_survives_a_key_rename(spark, tmp_path):
    """Merge pruning goes through the shared ``in`` evaluator, which reads
    stats under LOGICAL names: after renaming the merge key, a 2-key DV
    merge into 16 disjoint key-clustered files has as many candidates as
    on the plain key, and the merge starts at most 13 Spark jobs."""
    src = spark.createDataFrame([(150, "u"), (1250, "u")], "k long, v string")
    plain = _key_clustered(spark, str(tmp_path / "plain"))
    jobs, res = _jobs(spark, lambda: plain.merge_into(src, on=["k"], mode="dv"))
    assert res["candidates"] == 2, res
    assert jobs <= 13, jobs

    renamed = _key_clustered(spark, str(tmp_path / "renamed"))
    renamed.rename_column("k", "key")
    res2 = renamed.merge_into(
        src.withColumnRenamed("k", "key"), on=["key"], mode="dv"
    )
    assert res2["candidates"] == res["candidates"], (res2, res)
    got = {r.key: r.v for r in renamed.read().collect()}
    assert len(got) == 1600 and got[150] == got[1250] == "u" and got[151] == "v151"


def test_in_read_on_generated_source_evaluates_two_bounds(spark, tmp_path):
    """An ``in`` list on a generated column's source derives the partition
    filter from its min and max (two evaluations, not one per value): a
    100-value read starts no more Spark jobs than the ``>=``/``<=`` read of
    the same span."""
    import datetime

    path = str(tmp_path / "t")
    t0 = datetime.datetime(2024, 1, 1)
    rows = [(k, t0 + datetime.timedelta(hours=k)) for k in range(240)]
    df = spark.createDataFrame(rows, "k int, ts timestamp")
    t = TxTable(spark, path)
    t.append(df.limit(0))
    t.set_generated_column("d", "to_date(ts)")
    t.append(df, partition_by=["d"])
    vals = [ts for _, ts in rows[:100]]

    def read(preds):
        # a fresh handle: no generated-expression evaluations cached
        return sorted(r.k for r in TxTable(spark, path).read(predicates=preds).collect())

    n_in, got_in = _jobs(spark, lambda: read([("ts", "in", vals)]))
    n_range, got_range = _jobs(
        spark, lambda: read([("ts", ">=", vals[0]), ("ts", "<=", vals[-1])])
    )
    assert got_in == got_range == list(range(100))
    assert n_in <= n_range, (n_in, n_range)


def test_read_keys_regimes_return_the_same_rows(spark, tmp_path, monkeypatch):
    """``read_keys`` under the key cap (``in`` read, file pruning) and past
    it (semi-join) return the same rows — with a NULL and a duplicate key,
    a renamed key column and time travel."""
    t = _key_clustered(spark, str(tmp_path / "t"), files=4)
    t.rename_column("k", "key")
    v_before = t.version()
    t.delete_where([("key", "<", 10)])
    keys = spark.createDataFrame(
        [(3,), (42,), (42,), (399,), (None,), (5000,)], "key long"
    )

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    pruned = {
        v: rows(t.read_keys(keys, "key", as_of=v)) for v in (None, v_before)
    }
    assert pruned[None] == [(42, "v42"), (399, "v399")]
    assert pruned[v_before] == [(3, "v3"), (42, "v42"), (399, "v399")]
    monkeypatch.setattr(TxTable, "KEYSET_CAP", 1)
    for v, want in pruned.items():
        assert rows(t.read_keys(keys, "key", as_of=v)) == want, v


def test_props_carrying_merge_aborts_on_racing_props_commit(
    spark, tmp_path, monkeypatch
):
    """The round-10 props pass-through keeps the lost-update guard: a
    merge_into carrying props (the BM25 index's atomic scalar/watermark
    commit) whose full merged map was computed pre-race must ABORT when
    a rival set_properties lands mid-commit — retrying would silently
    revert the rival's key with the stale map. A benign data-only rival
    append, by contrast, retries and lands."""
    from mb_crdb_cdc_dlgen2_synapse_spark.txlog import TxConflictError

    t = TxTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, [(1, "a"), (2, "b")]))
    orig = t.log_store.write_if_absent
    fired = []

    def race(target, payload):
        if not fired:
            fired.append(1)
            TxTable(spark, t.path).set_properties({"rival.key": "yes"})
        return orig(target, payload)

    monkeypatch.setattr(t.log_store, "write_if_absent", race)
    src = _df(spark, [(1, "a2")])
    with pytest.raises(TxConflictError, match="metadata conflict"):
        t.merge_into(src, on=["k"], props={"my.watermark": "7"})
    t2 = TxTable(spark, t.path)
    assert t2.properties().get("rival.key") == "yes"  # rival survived
    assert "my.watermark" not in t2.properties()  # loser fully aborted
    assert sorted(r.v for r in t2.read().collect()) == ["a", "b"]

    # benign data-only rival: the props merge retries and lands
    fired2 = []

    def race2(target, payload):
        if not fired2:
            fired2.append(1)
            TxTable(spark, t.path).append(_df(spark, [(9, "z")]))
        return orig(target, payload)

    monkeypatch.setattr(t.log_store, "write_if_absent", race2)
    t.merge_into(src, on=["k"], props={"my.watermark": "7"})
    t3 = TxTable(spark, t.path)
    assert t3.properties()["my.watermark"] == "7"
    assert t3.properties()["rival.key"] == "yes"  # merged map kept it
    assert sorted(r.v for r in t3.read().collect()) == ["a2", "b", "z"]


def test_props_carrying_append_is_atomic_with_rows(spark, tmp_path):
    """append(props=...) lands rows and property deltas in ONE commit
    (the bootstrap-watermark contract): time-traveling to just before
    the append sees neither; the head sees both; None unsets."""
    t = TxTable(spark, str(tmp_path / "t"))
    t.set_properties({"stale.key": "old"})
    v0 = t.version()
    t.append(
        _df(spark, [(1, "a")]),
        props={"wm": "3", "stale.key": None},
    )
    assert t.properties()["wm"] == "3"
    assert "stale.key" not in t.properties()
    assert t.read().count() == 1
    old = t.properties(as_of=v0)
    assert old == {"stale.key": "old"}
    assert t.version() == v0 + 1  # one commit, not rows + set_properties
