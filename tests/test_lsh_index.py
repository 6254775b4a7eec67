"""Incrementally-maintained MinHash-LSH bands index
(operators/lsh_index.py): band entries equal a from-scratch banding
after insert/update/delete histories; pairs from the index equal
dedup.lsh_candidates over the same corpus; the probe answers an
incoming batch from the pruned index read; streaming maintenance
resumes and replays exactly-once."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mb_crdb_cdc_dlgen2_synapse_spark.operators import dedup
from mb_crdb_cdc_dlgen2_synapse_spark.operators.lsh_index import (
    assert_lsh_index_matches_scratch,
    catchup_lsh_index,
    lsh_index_pairs,
    lsh_index_probe,
    stream_lsh_index_to_tx_table,
)
from mb_crdb_cdc_dlgen2_synapse_spark.sources.tables import load_table
from mb_crdb_cdc_dlgen2_synapse_spark.txlog import TxTable


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents").select("doc_id", "text")


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


def pairs_key(df):
    return sorted((r.doc_a, r.doc_b, r.n_shared_bands) for r in df.collect())


def test_incremental_equals_scratch_and_matches_lsh_candidates(
    spark, docs, tmp_path
):
    src = TxTable(spark, str(tmp_path / "src"))
    src.append(docs)
    index = TxTable(spark, str(tmp_path / "idx"))
    catchup_lsh_index(src, index)
    assert_lsh_index_matches_scratch(index, src)
    _mutate(src)
    catchup_lsh_index(src, index)  # one catch-up over three commits
    assert_lsh_index_matches_scratch(index, src)
    # pairs from the index == re-signing the whole corpus
    via_index = pairs_key(lsh_index_pairs(index))
    via_scan = pairs_key(dedup.lsh_candidates(src.read().select("doc_id", "text")))
    assert via_index == via_scan
    assert via_index  # the inserted copies guarantee >=1 pair
    # idempotent: no new commits -> no-op
    v = index.version()
    assert catchup_lsh_index(src, index) == src.version()
    assert index.version() == v


def test_stepwise_equals_single_range_and_watermark_in_merge_commit(
    spark, docs, tmp_path
):
    # index A: bootstrap BEFORE the mutations, then stepwise catch-ups
    # fold the three history commits incrementally
    a = TxTable(spark, str(tmp_path / "a"))
    a.append(docs.filter(F.col("doc_id") < 120))
    ia = TxTable(spark, str(tmp_path / "ia"))
    catchup_lsh_index(a, ia)
    v_boot = ia.version()
    _mutate(a)
    catchup_lsh_index(a, ia, step=1)
    # index B: one bootstrap over the final corpus
    b = TxTable(spark, str(tmp_path / "b"))
    b.append(docs.filter(F.col("doc_id") < 120))
    _mutate(b)
    ib = TxTable(spark, str(tmp_path / "ib"))
    catchup_lsh_index(b, ib)
    assert_lsh_index_matches_scratch(ia, a)
    rows = lambda t: sorted(
        map(tuple, t.read().select("band_key", "doc_id", "band_id").collect())
    )
    assert rows(ia) == rows(ib)
    # atomicity: each stepwise fold was ONE commit (the merge carries
    # the watermark — no separate set_properties commit per fold)
    assert ia.version() == v_boot + 3
    assert int(ia.properties()["lsh.srcVersion"]) == a.version()


def test_probe_prunes_and_answers_incoming_batch(spark, docs, tmp_path):
    src = TxTable(spark, str(tmp_path / "src"))
    src.append(docs.filter(F.col("doc_id") < 300))
    index = TxTable(spark, str(tmp_path / "idx"))
    catchup_lsh_index(src, index)
    # incoming batch: one exact copy of doc 42 + one novel doc
    batch = src.read().filter(F.col("doc_id") == 42).select(
        F.lit(9_000_042).alias("doc_id"), "text"
    ).unionByName(
        spark.createDataFrame(
            [(9_000_099, "qq ww ee rr tt yy uu ii oo pp aa ss dd ff gg")],
            "doc_id long, text string",
        )
    )
    got = lsh_index_probe(index, batch).collect()
    hits = {(r.batch_doc, r.corpus_doc): r.n_shared_bands for r in got}
    assert hits.get((9_000_042, 42)) == 4  # exact copy shares every band
    assert all(bd != 9_000_099 for bd, _ in hits)  # novel doc matches nothing


def test_streaming_maintenance_resumes_exactly_once(spark, docs, tmp_path):
    src_dir, idx_dir = str(tmp_path / "src"), str(tmp_path / "idx")
    ckpt = str(tmp_path / "ckpt")
    src = TxTable(spark, src_dir)
    src.append(docs.filter(F.col("doc_id") < 150))
    q = stream_lsh_index_to_tx_table(spark, src_dir, idx_dir, ckpt)
    q.awaitTermination(120)
    index = TxTable(spark, idx_dir)
    # virgin stream bootstrap persists its default geometry WITH the
    # first fold (the layout-is-bootstrap-contract rule)
    p = index.properties()
    assert (p["lsh.nHashes"], p["lsh.bands"], p["lsh.shingleK"]) == (
        "16", "4", "3",
    )
    # ...and the bootstrap LAYOUT: declared clustering + band_key bloom,
    # so probes prune and compact_layout can restore the layout (the
    # ADVICE-r10 virgin-stream gap)
    assert index.clustering() == ["band_key", "doc_id"]
    assert "band_key" in index.bloom_index()
    assert_lsh_index_matches_scratch(index, src)
    # interim mutations while the stream is down, then resume from ckpt
    _mutate(src)
    q2 = stream_lsh_index_to_tx_table(spark, src_dir, idx_dir, ckpt)
    q2.awaitTermination(120)
    assert_lsh_index_matches_scratch(TxTable(spark, idx_dir), src)
    # replay with no new commits: content untouched
    v = TxTable(spark, idx_dir).version()
    q3 = stream_lsh_index_to_tx_table(spark, src_dir, idx_dir, ckpt)
    q3.awaitTermination(120)
    assert TxTable(spark, idx_dir).version() == v
    # batch catch-up after streaming: skips the already-folded range
    assert catchup_lsh_index(src, TxTable(spark, idx_dir)) == src.version()


def test_probe_key_cap_falls_back_to_full_join(spark, docs, tmp_path, monkeypatch):
    """Past the driver-side key cap the probe skips the IN-predicate and
    joins the full entries read — identical answers either way."""
    src = TxTable(spark, str(tmp_path / "src"))
    src.append(docs.filter(F.col("doc_id") < 150))
    index = TxTable(spark, str(tmp_path / "idx"))
    catchup_lsh_index(src, index)
    batch = src.read().filter(F.col("doc_id") % 10 == 4).select(
        (F.col("doc_id") + 8_000_000).alias("doc_id"), "text"
    )
    key = lambda df: sorted(
        (r.batch_doc, r.corpus_doc, r.n_shared_bands) for r in df.collect()
    )
    pruned = key(lsh_index_probe(index, batch))
    monkeypatch.setattr(TxTable, "KEYSET_CAP", 1)  # force fallback
    full = key(lsh_index_probe(index, batch))
    assert pruned == full and pruned
