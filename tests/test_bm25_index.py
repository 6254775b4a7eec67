"""Incrementally-maintained BM25 inverted index (operators/bm25_index.py):
postings + exact corpus scalars equal a from-scratch tokenization after
arbitrary insert/update/delete histories; the pruned index read scores
identically to the corpus-scan BM25; streaming maintenance resumes and
replays exactly-once (scalar deltas are NOT blindly re-addable — the
watermark guard is what makes them safe)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mb_crdb_cdc_dlgen2_synapse_spark.operators import retrieval
from mb_crdb_cdc_dlgen2_synapse_spark.operators.bm25_index import (
    assert_bm25_index_matches_scratch,
    bm25_index_topk,
    catchup_bm25_index,
    stream_bm25_index_to_tx_table,
)
from mb_crdb_cdc_dlgen2_synapse_spark.sources.tables import load_table
from mb_crdb_cdc_dlgen2_synapse_spark.txlog import TxTable


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents").select("doc_id", "text")


QUERIES = [(1, "vector"), (1, "hash"), (2, "spark"), (2, "window")]


def _queries(spark):
    return spark.createDataFrame(QUERIES, "query_id int, term string")


def _mutate(src, offset=2000000):
    upd = src.read().filter(F.col("doc_id") % 7 == 0).select(
        "doc_id", F.concat(F.col("text"), F.lit(" vector vector spark")).alias("text")
    )
    src.merge_into(upd, on=["doc_id"], mode="dv")
    gone = src.read().filter(F.col("doc_id") % 11 == 3).withColumn("_g", F.lit(True))
    src.merge_into(gone, on=["doc_id"], delete_when="_g", mode="dv")
    fresh = src.read().filter(F.col("doc_id") % 13 == 1).select(
        (F.col("doc_id") + offset).alias("doc_id"), "text"
    )
    src.append(fresh)


def test_incremental_equals_scratch_and_matches_corpus_scan(
    spark, docs, tmp_path
):
    src = TxTable(spark, str(tmp_path / "src"))
    src.append(docs)
    index = TxTable(spark, str(tmp_path / "idx"))
    catchup_bm25_index(src, index)
    assert_bm25_index_matches_scratch(index, src)
    _mutate(src)
    catchup_bm25_index(src, index)  # one catch-up over three commits
    assert_bm25_index_matches_scratch(index, src)
    # the pruned-index read scores EXACTLY like the corpus scan
    q = _queries(spark)
    via_index = retrieval_rows(bm25_index_topk(index, q, k=10))
    via_scan = retrieval_rows(
        retrieval.bm25_topk(src.read().select("doc_id", "text"), q, k=10)
    )
    assert via_index == via_scan
    # idempotent: no new commits -> no-op
    v = index.version()
    assert catchup_bm25_index(src, index) == src.version()
    assert index.version() == v


def retrieval_rows(df):
    return sorted((r.query_id, r.rk, r.doc_id, r.score) for r in df.collect())


def test_stepwise_catchup_matches_single_range(spark, docs, tmp_path):
    def history(path):
        t = TxTable(spark, path)
        t.append(docs.filter(F.col("doc_id") < 120))
        _mutate(t)
        return t

    a = history(str(tmp_path / "a"))
    ia = TxTable(spark, str(tmp_path / "ia"))
    catchup_bm25_index(a, ia, step=1)
    b = history(str(tmp_path / "b"))
    ib = TxTable(spark, str(tmp_path / "ib"))
    catchup_bm25_index(b, ib)
    assert_bm25_index_matches_scratch(ia, a)
    rows = lambda t: sorted(
        map(tuple, t.read().select("doc_id", "token", "tf", "dl").collect())
    )
    assert rows(ia) == rows(ib)
    assert ia.properties()["bm25.nDocs"] == ib.properties()["bm25.nDocs"]
    assert ia.properties()["bm25.totalDl"] == ib.properties()["bm25.totalDl"]


def test_streaming_maintenance_and_exactly_once_scalars(spark, docs, tmp_path):
    src_dir, idx_dir = str(tmp_path / "src"), str(tmp_path / "idx")
    ckpt = str(tmp_path / "ckpt")
    src = TxTable(spark, src_dir)
    src.append(docs.filter(F.col("doc_id") < 150))
    # stream bootstrap (tokenization needs no training)
    q = stream_bm25_index_to_tx_table(spark, src_dir, idx_dir, ckpt)
    q.awaitTermination(120)
    index = TxTable(spark, idx_dir)
    assert_bm25_index_matches_scratch(index, src)
    # virgin stream bootstrap lays the batch-bootstrap LAYOUT down too:
    # declared clustering + token bloom (the ADVICE-r10 virgin gap)
    assert index.clustering() == ["token", "doc_id"]
    assert "token" in index.bloom_index()
    # interim mutations while the stream is down, then resume from ckpt
    _mutate(src)
    q2 = stream_bm25_index_to_tx_table(spark, src_dir, idx_dir, ckpt)
    q2.awaitTermination(120)
    index = TxTable(spark, idx_dir)
    assert_bm25_index_matches_scratch(index, src)
    # replay with no new commits: content AND scalars untouched
    props = index.properties()
    q3 = stream_bm25_index_to_tx_table(spark, src_dir, idx_dir, ckpt)
    q3.awaitTermination(120)
    p2 = TxTable(spark, idx_dir).properties()
    assert (p2["bm25.nDocs"], p2["bm25.totalDl"]) == (
        props["bm25.nDocs"], props["bm25.totalDl"],
    )
    # FRESH checkpoint over the maintained index: interim deletes between
    # batch watermark and stream start must still land (watermark tail)
    gone = src.read().filter(F.col("doc_id") % 5 == 2).withColumn("_g", F.lit(True))
    src.merge_into(gone, on=["doc_id"], delete_when="_g", mode="dv")
    q4 = stream_bm25_index_to_tx_table(
        spark, src_dir, idx_dir, str(tmp_path / "ckpt2")
    )
    q4.awaitTermination(120)
    assert_bm25_index_matches_scratch(TxTable(spark, idx_dir), src)


def test_empty_bootstrap_defers(spark, tmp_path):
    src = TxTable(spark, str(tmp_path / "src"))
    src.append(
        spark.createDataFrame([], "doc_id long, text string")
    )
    index = TxTable(spark, str(tmp_path / "idx"))
    assert catchup_bm25_index(src, index) == -1  # deferred
    src.append(spark.createDataFrame([(1, "alpha beta")], "doc_id long, text string"))
    catchup_bm25_index(src, index)
    assert_bm25_index_matches_scratch(index, src)
    assert index.properties()["bm25.nDocs"] == "1"
    assert index.properties()["bm25.totalDl"] == "2"


def test_hybrid_retrieval_through_both_incremental_indexes(spark, docs, tmp_path):
    """Composition capstone: lexical ranking through the BM25 inverted
    index and vector ranking through the CDF-maintained Hamming ANN
    index, fused with RRF — the full production retrieval path, every
    stage an incremental index read, no corpus scan anywhere."""
    from mb_crdb_cdc_dlgen2_synapse_spark.operators.ann_index import (
        catchup_ann_index,
    )
    from mb_crdb_cdc_dlgen2_synapse_spark.operators.similarity import (
        probed_hamming_topk,
    )

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    src_d = TxTable(spark, str(tmp_path / "docs"))
    src_d.append(docs)
    bm25 = TxTable(spark, str(tmp_path / "bm25"))
    catchup_bm25_index(src_d, bm25)
    src_e = TxTable(spark, str(tmp_path / "emb"))
    src_e.append(emb.select("vec_id", "embedding"))
    ann = TxTable(spark, str(tmp_path / "ann"))
    catchup_ann_index(src_e, ann, prefix_bits=4)

    q = spark.createDataFrame(
        [(0, "vector"), (0, "hash"), (1, "spark")], "query_id int, term string"
    )
    lex = bm25_index_topk(bm25, q, k=20).select(
        "query_id", "doc_id", F.col("rk").alias("lex_rk")
    )
    qv = emb.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    vec = probed_hamming_topk(ann, qv, k=20, radius=1).select(
        "query_id", F.col("vec_id").alias("doc_id"), F.col("rk").alias("vec_rk")
    )
    fused = retrieval.rrf_fuse(lex, vec, "lex_rk", "vec_rk", k=10).collect()
    by_q = {}
    for r in fused:
        by_q.setdefault(r.query_id, []).append(r)
    assert set(by_q) == {0, 1}
    for rows in by_q.values():
        assert [r.rk for r in sorted(rows, key=lambda r: r.rk)] == list(
            range(1, len(rows) + 1)
        )
    # a doc ranked by BOTH systems outranks same-rank single-system docs
    both = [r for r in fused if r.rrf > 1.0 / 61]
    assert all(r.rk <= 3 for r in both) or both == []


def test_compaction_interplay_and_randomized_history(spark, docs, tmp_path):
    """(a) OPTIMIZE on source or index must not disturb maintenance: a
    source compact emits nothing on the feed (catch-up no-op), an index
    compact restores (token, doc_id) clustering without changing content
    or query answers. (b) Seeded random mutation history: stepwise
    catch-ups equal scratch at every step."""
    import random

    src = TxTable(spark, str(tmp_path / "src"))
    base = docs.filter(F.col("doc_id") < 100).localCheckpoint(eager=True)
    src.append(base)
    index = TxTable(spark, str(tmp_path / "idx"))
    catchup_bm25_index(src, index)
    q = _queries(spark)
    before = retrieval_rows(bm25_index_topk(index, q, k=10))

    # (a) source compact: pure relayout, feed emits nothing
    src.compact()
    v = index.version()
    catchup_bm25_index(src, index)
    assert_bm25_index_matches_scratch(index, src)
    # index compact: content + answers preserved, maintenance continues
    index.compact()
    assert retrieval_rows(bm25_index_topk(index, q, k=10)) == before
    assert_bm25_index_matches_scratch(index, src)

    # (b) randomized history, stepwise catch-up, equality at every step
    rng = random.Random(43)
    next_id = 3000000
    for step in range(4):
        for _ in range(rng.randint(1, 2)):
            op = rng.choice(["update", "delete", "insert"])
            ids = rng.sample(range(100), rng.randint(1, 8))
            if op == "update":
                upd = src.read().filter(F.col("doc_id").isin(ids)).select(
                    "doc_id",
                    F.concat(F.col("text"), F.lit(f" step{step}")).alias("text"),
                )
                if upd.take(1):
                    src.merge_into(upd, on=["doc_id"], mode="dv")
            elif op == "delete":
                gone = src.read().filter(F.col("doc_id").isin(ids)).withColumn(
                    "_g", F.lit(True)
                )
                if gone.take(1):
                    src.merge_into(gone, on=["doc_id"], delete_when="_g", mode="dv")
            else:
                src.append(
                    base.filter(F.col("doc_id").isin(ids)).select(
                        (F.col("doc_id") + next_id).alias("doc_id"), "text"
                    )
                )
                next_id += 1000000
        catchup_bm25_index(src, index)
        assert_bm25_index_matches_scratch(index, src)


def test_scalar_watermark_atomicity_and_crash_restart(
    spark, docs, tmp_path, monkeypatch
):
    """The ADVICE-r9 crash window is closed BY CONSTRUCTION: scalar
    deltas, postings merge, and the bm25.srcVersion watermark land in ONE
    index commit per fold (merge_into props pass-through), so (a) one
    source commit folds as exactly one index commit, (b) a crash between
    folds restarts exactly-once (the watermark either moved with its
    delta or neither happened), and (c) properties time-travel with the
    snapshot — the pinned-version read pairs postings with THEIR scalars."""
    from mb_crdb_cdc_dlgen2_synapse_spark.operators import bm25_index as bi

    src = TxTable(spark, str(tmp_path / "src"))
    src.append(docs.filter(F.col("doc_id") < 80))
    index = TxTable(spark, str(tmp_path / "idx"))
    catchup_bm25_index(src, index)
    boot_props = index.properties()
    boot_v = index.version()

    # (a) two source commits, step=1: each fold is EXACTLY ONE commit
    _mutate(src)  # three commits: update, delete, insert
    v0 = index.version()
    catchup_bm25_index(src, index, step=1)
    assert index.version() == v0 + 3
    assert_bm25_index_matches_scratch(index, src)
    assert int(index.properties()["bm25.srcVersion"]) == src.version()

    # (c) scalars time-travel with the snapshot (pinned-read contract)
    old = index.properties(as_of=boot_v)
    assert old["bm25.nDocs"] == boot_props["bm25.nDocs"]
    assert old["bm25.totalDl"] == boot_props["bm25.totalDl"]
    assert old["bm25.srcVersion"] == boot_props["bm25.srcVersion"]

    # (b) crash INSIDE the second of three folds: the first fold's commit
    # carries its own watermark, so the restart resumes AFTER it and
    # never re-applies its delta (fresh id range: doc_ids stay unique)
    _mutate(src, offset=4000000)
    real = bi.bm25_apply_changes
    calls = {"n": 0}

    def crashing(index_, changes, text_col, mode, watermark=None):
        calls["n"] += 1
        if calls["n"] == 2:
            raise RuntimeError("injected crash between folds")
        return real(index_, changes, text_col, mode, watermark=watermark)

    monkeypatch.setattr(bi, "bm25_apply_changes", crashing)
    with pytest.raises(RuntimeError, match="injected crash"):
        bi.catchup_bm25_index(src, index, step=1)
    monkeypatch.setattr(bi, "bm25_apply_changes", real)
    # partial progress is durable and exactly-once: watermark == fold 1
    assert int(index.properties()["bm25.srcVersion"]) == src.version() - 2
    catchup_bm25_index(src, index)  # restart: folds the remaining commits
    assert_bm25_index_matches_scratch(index, src)  # scalars NOT skewed
    # replay: no new source commits -> no index commit, scalars untouched
    v = index.version()
    scal = (index.properties()["bm25.nDocs"], index.properties()["bm25.totalDl"])
    catchup_bm25_index(src, index)
    assert index.version() == v
    assert (
        index.properties()["bm25.nDocs"], index.properties()["bm25.totalDl"]
    ) == scal


def test_autocompact_bounds_postings_fragmentation(
    spark, docs, tmp_path, monkeypatch
):
    """Catch-up-time auto-compaction on the postings table (VERDICT r9
    item 4): the randomized trickle history keeps the file count bounded
    by the relative threshold and content/scalars/answers are preserved
    throughout (the cadence FIRING and vacuum reclaiming the fragments
    are pinned separately in tests/test_index_family_fuzz.py)."""
    from mb_crdb_cdc_dlgen2_synapse_spark.operators import bm25_index as bi

    monkeypatch.setattr(bi, "ROWS_PER_FILE", 256)
    src = TxTable(spark, str(tmp_path / "src"))
    src.append(docs.filter(F.col("doc_id") < 200))
    index = TxTable(spark, str(tmp_path / "idx"))
    bi.catchup_bm25_index(src, index)
    q = _queries(spark)
    nxt = 5000000
    for step in range(10):
        upd = src.read().filter(F.col("doc_id") % 9 == step % 9).select(
            "doc_id",
            F.concat(F.col("text"), F.lit(f" trickle{step}")).alias("text"),
        )
        src.merge_into(upd, on=["doc_id"], mode="dv")
        if step % 3 == 0:
            fresh = src.read().filter(
                (F.col("doc_id") % 17 == 2) & (F.col("doc_id") < 200)
            ).select((F.col("doc_id") + nxt).alias("doc_id"), "text")
            src.append(fresh)
            nxt += 1000000
        bi.catchup_bm25_index(src, index)
    n_rows = index.count_rows()
    ideal = max(1, -(-n_rows // 256))
    assert len(index.snapshot()[1]) <= 1.5 * ideal + 32
    assert_bm25_index_matches_scratch(index, src)  # content + scalars
    via_index = retrieval_rows(bi.bm25_index_topk(index, q, k=10))
    via_scan = retrieval_rows(
        retrieval.bm25_topk(src.read().select("doc_id", "text"), q, k=10)
    )
    assert via_index == via_scan


def test_topk_term_cap_falls_back_to_semi_join(spark, docs, tmp_path, monkeypatch):
    """Past the driver-side term cap the probe skips the token
    IN-predicate and semi-joins the full postings read — identical
    scores either way (the TxTable.read_keys contract)."""
    src = TxTable(spark, str(tmp_path / "src"))
    src.append(docs.filter(F.col("doc_id") < 200))
    index = TxTable(spark, str(tmp_path / "idx"))
    catchup_bm25_index(src, index)
    q = _queries(spark)
    pruned = retrieval_rows(bm25_index_topk(index, q, k=10))
    monkeypatch.setattr(TxTable, "KEYSET_CAP", 1)
    full = retrieval_rows(bm25_index_topk(index, q, k=10))
    assert pruned == full and pruned
