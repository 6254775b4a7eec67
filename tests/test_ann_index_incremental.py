"""Incrementally-maintained bucketed ANN index fed by the source
table's change feed (operators/ann_index.py): equality with the
from-scratch build after arbitrary insert/update/delete histories,
bucket-crossing updates, streaming maintenance with checkpoint resume,
and replay safety (re-delivered batches are content no-ops)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from mb_crdb_cdc_dlgen2_synapse_spark.operators.ann_index import (
    assert_index_matches_scratch,
    catchup_ann_index,
    stream_ann_index_to_tx_table,
)
from mb_crdb_cdc_dlgen2_synapse_spark.operators.similarity import (
    binary_quantize,
    probed_hamming_topk,
    synthetic_embeddings,
)
from mb_crdb_cdc_dlgen2_synapse_spark.txlog import TxTable


def _index_rows(index):
    return sorted(
        (r.vec_id, r.b_lo, r.b_hi, r.bucket)
        for r in index.read().select("vec_id", "b_lo", "b_hi", "bucket").collect()
    )


def test_incremental_equals_scratch_after_mixed_history(spark, tmp_path):
    src = TxTable(spark, str(tmp_path / "src"))
    src.append(synthetic_embeddings(spark, 200))  # v0
    index = TxTable(spark, str(tmp_path / "idx"))
    catchup_ann_index(src, index, prefix_bits=4)
    assert_index_matches_scratch(index, src)
    # update: negate a residue class (sign flips move vectors across
    # buckets — the merge must relocate them, not update in place)
    upd = (
        src.read()
        .filter(F.col("vec_id") % 5 == 0)
        .select("vec_id", F.transform("embedding", lambda x: -x).alias("embedding"))
    )
    src.merge_into(upd, on=["vec_id"], mode="dv")
    # delete another class + insert brand-new vectors, separate commits
    gone = src.read().filter(F.col("vec_id") % 9 == 4).withColumn("_g", F.lit(True))
    src.merge_into(gone, on=["vec_id"], delete_when="_g", mode="dv")
    src.append(
        synthetic_embeddings(spark, 240).filter(F.col("vec_id") >= 200)
    )
    catchup_ann_index(src, index)  # one catch-up over three commits
    assert_index_matches_scratch(index, src)
    # the moved vectors really moved: their index bucket equals the
    # quantization of the NEGATED embedding, not the original
    fresh = binary_quantize(src.read()).select("vec_id", "b_lo", "b_hi")
    joined = (
        index.read()
        .select("vec_id", F.col("b_lo").alias("i_lo"))
        .join(fresh, "vec_id")
    )
    assert joined.filter(F.col("i_lo") != F.col("b_lo")).count() == 0


def test_catchup_is_incremental_and_idempotent(spark, tmp_path):
    src = TxTable(spark, str(tmp_path / "src"))
    src.append(synthetic_embeddings(spark, 100))
    index = TxTable(spark, str(tmp_path / "idx"))
    hwm = catchup_ann_index(src, index, prefix_bits=4)
    assert hwm == src.version()
    before = _index_rows(index)
    v_before = index.version()
    # no new source commits: catch-up is a pure no-op (no new versions)
    assert catchup_ann_index(src, index) == hwm
    assert index.version() == v_before
    assert _index_rows(index) == before
    # watermark persists in table properties — a NEW process resumes
    index2 = TxTable(spark, str(tmp_path / "idx"))
    assert int(index2.properties()["ann.srcVersion"]) == hwm


def test_stepwise_catchup_matches_single_range(spark, tmp_path):
    """Applying the feed one commit at a time must land the same index
    as one catch-up over the whole range (net-change reduction is
    associative over version slices)."""
    def history(path):
        t = TxTable(spark, path)
        t.append(synthetic_embeddings(spark, 120))
        upd = (
            t.read()
            .filter(F.col("vec_id") % 4 == 1)
            .select("vec_id", F.transform("embedding", lambda x: -x).alias("embedding"))
        )
        t.merge_into(upd, on=["vec_id"], mode="dv")
        gone = t.read().filter(F.col("vec_id") % 10 == 2).withColumn("_g", F.lit(True))
        t.merge_into(gone, on=["vec_id"], delete_when="_g", mode="dv")
        return t

    src_a = history(str(tmp_path / "src_a"))
    idx_a = TxTable(spark, str(tmp_path / "idx_a"))
    catchup_ann_index(src_a, idx_a, prefix_bits=4, step=1)

    src_b = history(str(tmp_path / "src_b"))
    idx_b = TxTable(spark, str(tmp_path / "idx_b"))
    catchup_ann_index(src_b, idx_b, prefix_bits=4)

    assert _index_rows(idx_a) == _index_rows(idx_b)
    assert_index_matches_scratch(idx_a, src_a)


def test_probe_over_incremental_index_prunes_and_answers(spark, tmp_path):
    src = TxTable(spark, str(tmp_path / "src"))
    src.append(synthetic_embeddings(spark, 300))
    index = TxTable(spark, str(tmp_path / "idx"))
    catchup_ann_index(src, index, prefix_bits=4)
    queries = (
        src.read()
        .filter(F.col("vec_id") < 2)
        .select(F.col("vec_id").alias("query_id"), "embedding")
    )
    got = probed_hamming_topk(index, queries, k=3, prefix_bits=4, radius=4)
    # radius=4 probes every bucket: exact top-3 == brute-force Hamming
    from mb_crdb_cdc_dlgen2_synapse_spark.operators.similarity import (
        knn_hamming_topk,
    )

    want = knn_hamming_topk(
        src.read(), queries.select("query_id", "embedding"), k=3
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_streaming_maintenance_resumes_from_checkpoint(spark, tmp_path):
    src_dir = str(tmp_path / "src")
    idx_dir = str(tmp_path / "idx")
    ckpt = str(tmp_path / "ckpt")
    src = TxTable(spark, src_dir)
    src.append(synthetic_embeddings(spark, 150))
    q = stream_ann_index_to_tx_table(spark, src_dir, idx_dir, ckpt, prefix_bits=4)
    q.awaitTermination(120)
    index = TxTable(spark, idx_dir)
    assert_index_matches_scratch(index, src)
    after_first = _index_rows(index)
    # more source commits AFTER the stream stopped: a restart from the
    # SAME checkpoint folds only the delta (offsets resume, not restart)
    upd = (
        src.read()
        .filter(F.col("vec_id") % 6 == 0)
        .select("vec_id", F.transform("embedding", lambda x: -x).alias("embedding"))
    )
    src.merge_into(upd, on=["vec_id"], mode="dv")
    gone = src.read().filter(F.col("vec_id") % 7 == 3).withColumn("_g", F.lit(True))
    src.merge_into(gone, on=["vec_id"], delete_when="_g", mode="dv")
    q2 = stream_ann_index_to_tx_table(spark, src_dir, idx_dir, ckpt, prefix_bits=4)
    q2.awaitTermination(120)
    index = TxTable(spark, idx_dir)
    assert_index_matches_scratch(index, src)
    assert _index_rows(index) != after_first  # the delta really applied
    # replay safety: a third run with NO new commits leaves content as-is
    final = _index_rows(index)
    q3 = stream_ann_index_to_tx_table(spark, src_dir, idx_dir, ckpt, prefix_bits=4)
    q3.awaitTermination(120)
    assert _index_rows(TxTable(spark, idx_dir)) == final


def test_compaction_interplay_source_and_index(spark, tmp_path):
    """OPTIMIZE on either table must not disturb the maintenance loop:
    a SOURCE compact is a pure relayout (dataChange=false) and emits
    NOTHING on the change feed, so catch-up after it is a no-op merge;
    an INDEX compact relocates code rows into fewer files per bucket but
    changes no content — probes answer identically and later CDF
    increments keep applying."""
    src = TxTable(spark, str(tmp_path / "src"))
    # several small commits -> compactable source
    for lo in (0, 60, 120):
        src.append(
            synthetic_embeddings(spark, 180).filter(
                (F.col("vec_id") >= lo) & (F.col("vec_id") < lo + 60)
            )
        )
    index = TxTable(spark, str(tmp_path / "idx"))
    catchup_ann_index(src, index, prefix_bits=4)
    before = _index_rows(index)
    # SOURCE relayout: feed emits nothing, index must not change
    src.compact(target_files=1)
    catchup_ann_index(src, index)
    assert _index_rows(index) == before
    # INDEX relayout: content identical, probes identical
    queries = (
        src.read()
        .filter(F.col("vec_id") < 2)
        .select(F.col("vec_id").alias("query_id"), "embedding")
    )
    probe_before = sorted(
        map(tuple, probed_hamming_topk(index, queries, k=3, radius=1).collect())
    )
    index.compact(target_files=1)
    assert _index_rows(index) == before
    assert (
        sorted(
            map(tuple, probed_hamming_topk(index, queries, k=3, radius=1).collect())
        )
        == probe_before
    )
    # maintenance continues across both relayouts
    gone = src.read().filter(F.col("vec_id") % 13 == 5).withColumn("_g", F.lit(True))
    src.merge_into(gone, on=["vec_id"], delete_when="_g", mode="dv")
    catchup_ann_index(src, index)
    assert_index_matches_scratch(index, src)


def test_auto_bits_bootstrap_persists_layout_through_increments(spark, tmp_path):
    """auto_bits picks balanced prefix dims at bootstrap; the choice
    persists in ann.prefixDims and every later increment and probe uses
    the SAME dims — maintenance can never silently re-bucket under a
    different layout than the probe derives."""
    from mb_crdb_cdc_dlgen2_synapse_spark.operators.similarity import (
        choose_balanced_prefix_dims,
        clustered_embeddings,
    )

    src = TxTable(spark, str(tmp_path / "src"))
    # clustered corpus: dims 0..3 are biased, balanced selection avoids them
    src.append(clustered_embeddings(spark, 400, prefix_bits=4))
    index = TxTable(spark, str(tmp_path / "idx"))
    catchup_ann_index(src, index, prefix_bits=4, auto_bits=True)
    dims_prop = index.properties()["ann.prefixDims"]
    want = choose_balanced_prefix_dims(
        src.read().select("vec_id", "embedding"), 4
    )
    assert [int(x) for x in dims_prop.split(",")] == want
    assert want != [0, 1, 2, 3]  # the biased dims were avoided
    # increments keep the bootstrap layout (and equality still holds
    # because the scratch comparison derives dims from the index props)
    gone = src.read().filter(F.col("vec_id") % 8 == 1).withColumn("_g", F.lit(True))
    src.merge_into(gone, on=["vec_id"], delete_when="_g", mode="dv")
    catchup_ann_index(src, index)
    assert index.properties()["ann.prefixDims"] == dims_prop
    # content parity under the custom layout
    from mb_crdb_cdc_dlgen2_synapse_spark.operators.ann_index import _index_dims
    from mb_crdb_cdc_dlgen2_synapse_spark.operators.similarity import (
        _prefix_bucket_expr,
    )

    scratch = (
        binary_quantize(src.read().select("vec_id", "embedding"))
        .select("vec_id", "b_lo", "b_hi")
        .withColumn("bucket", _prefix_bucket_expr(_index_dims(index, 4)))
    )
    got = index.read().select("vec_id", "b_lo", "b_hi", "bucket")
    assert got.exceptAll(scratch).count() == 0
    assert scratch.exceptAll(got).count() == 0


@pytest.mark.parametrize("seed", [11, 47])
def test_fuzz_random_mutation_history_equals_scratch(spark, tmp_path, seed):
    """Seeded random mutation histories (insert/update/delete in random
    residue classes, random slice boundaries for catch-up) must always
    land the incremental index exactly on the from-scratch build — the
    equality contract under histories no hand-written case covers."""
    import random

    rng = random.Random(seed)
    src = TxTable(spark, str(tmp_path / "src"))
    src.append(synthetic_embeddings(spark, 160))
    index = TxTable(spark, str(tmp_path / "idx"))
    catchup_ann_index(src, index, prefix_bits=4)
    next_id = 160
    for _round in range(4):
        n_ops = rng.randint(1, 2)
        for _ in range(n_ops):
            op = rng.choice(["update", "delete", "insert", "update", "insert"])
            if op == "update":
                m = rng.randint(3, 9)
                r = rng.randint(0, m - 1)
                upd = (
                    src.read()
                    .filter(F.col("vec_id") % m == r)
                    .select(
                        "vec_id",
                        F.transform("embedding", lambda x: -x).alias("embedding"),
                    )
                )
                src.merge_into(upd, on=["vec_id"], mode="dv")
            elif op == "delete":
                m = rng.randint(5, 13)
                r = rng.randint(0, m - 1)
                gone = (
                    src.read()
                    .filter(F.col("vec_id") % m == r)
                    .withColumn("_g", F.lit(True))
                )
                src.merge_into(gone, on=["vec_id"], delete_when="_g", mode="dv")
            else:
                k = rng.randint(10, 40)
                src.append(
                    synthetic_embeddings(spark, next_id + k).filter(
                        F.col("vec_id") >= next_id
                    )
                )
                next_id += k
        # catch up over a random slice size (1 commit, 2 commits, or all)
        step = rng.choice([1, 2, None])
        catchup_ann_index(src, index, step=step)
        assert_index_matches_scratch(index, src)


def test_catchup_past_vacuumed_retention_raises_actionable(spark, tmp_path):
    """If the source vacuums its CDF past the index watermark, catch-up
    must fail with a rebuild instruction — not a raw FileNotFoundError
    from deep inside the log replay."""
    src = TxTable(spark, str(tmp_path / "src"))
    src.append(synthetic_embeddings(spark, 50))
    index = TxTable(spark, str(tmp_path / "idx"))
    catchup_ann_index(src, index, prefix_bits=4)
    # several more commits, then checkpoint + vacuum the old ones away
    for _ in range(3):
        gone = (
            src.read().limit(5).withColumn("_g", F.lit(True))
        )
        src.merge_into(gone, on=["vec_id"], delete_when="_g", mode="dv")
    src.write_checkpoint()
    src.vacuum(retain_hours=0.0)
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="stale beyond the source's CDF"):
        catchup_ann_index(src, index)


# -- IVF variant -------------------------------------------------------------


def test_ivf_incremental_equals_scratch_and_lists_move(spark, tmp_path):
    from mb_crdb_cdc_dlgen2_synapse_spark.operators.ann_index import (
        assert_ivf_index_matches_scratch,
        catchup_ivf_index,
        ivf_index_topk,
    )

    src = TxTable(spark, str(tmp_path / "src"))
    src.append(synthetic_embeddings(spark, 200))
    index = TxTable(spark, str(tmp_path / "idx"))
    cents = TxTable(spark, str(tmp_path / "cents"))
    catchup_ivf_index(src, index, cents, n_lists=8)
    assert_ivf_index_matches_scratch(index, cents, src)
    assert cents.read().count() == 8
    # negation moves vectors to (roughly) the opposite list — frozen
    # centroids, so the increment must RE-ASSIGN, not update in place
    upd = (
        src.read()
        .filter(F.col("vec_id") % 4 == 0)
        .select("vec_id", F.transform("embedding", lambda x: -x).alias("embedding"))
    )
    src.merge_into(upd, on=["vec_id"], mode="dv")
    gone = src.read().filter(F.col("vec_id") % 9 == 5).withColumn("_g", F.lit(True))
    src.merge_into(gone, on=["vec_id"], delete_when="_g", mode="dv")
    src.append(synthetic_embeddings(spark, 230).filter(F.col("vec_id") >= 200))
    catchup_ivf_index(src, index, cents)
    assert_ivf_index_matches_scratch(index, cents, src)
    # frozen quantizer: the centroid table did NOT change
    assert cents.read().count() == 8
    # probed retrieval returns k rows per query and always finds self
    queries = (
        src.read()
        .filter(F.col("vec_id") < 3)
        .select(F.col("vec_id").alias("query_id"), "embedding")
    )
    got = ivf_index_topk(index, cents, queries, k=3, nprobe=3)
    per_q = {r.query_id: r for r in got.filter(F.col("rk") == 1).collect()}
    for qid, r in per_q.items():
        assert r.vec_id == qid  # self is rank 1 (cosine 1.0)
    assert got.count() == 3 * len(per_q)


def test_ivf_catchup_idempotent_and_retention_error(spark, tmp_path):
    from mb_crdb_cdc_dlgen2_synapse_spark.operators.ann_index import (
        catchup_ivf_index,
    )

    src = TxTable(spark, str(tmp_path / "src"))
    src.append(synthetic_embeddings(spark, 60))
    index = TxTable(spark, str(tmp_path / "idx"))
    cents = TxTable(spark, str(tmp_path / "cents"))
    hwm = catchup_ivf_index(src, index, cents)
    v_before = index.version()
    assert catchup_ivf_index(src, index, cents) == hwm  # no-op
    assert index.version() == v_before
    for _ in range(3):
        gone = src.read().limit(4).withColumn("_g", F.lit(True))
        src.merge_into(gone, on=["vec_id"], delete_when="_g", mode="dv")
    src.write_checkpoint()
    src.vacuum(retain_hours=0.0)
    with pytest.raises(RuntimeError, match="stale beyond the source's CDF"):
        catchup_ivf_index(src, index, cents)


def test_ivf_drift_metric_signals_corpus_shift(spark, tmp_path):
    """ivf_index_drift: ~1.0 right after bootstrap; a corpus whose
    vectors move away from the frozen centroids (scaled up 3x — same
    directions, larger squared distances) inflates the ratio well past
    a retrain threshold."""
    from mb_crdb_cdc_dlgen2_synapse_spark.operators.ann_index import (
        catchup_ivf_index,
        ivf_index_drift,
    )

    src = TxTable(spark, str(tmp_path / "src"))
    src.append(synthetic_embeddings(spark, 150))
    index = TxTable(spark, str(tmp_path / "idx"))
    cents = TxTable(spark, str(tmp_path / "cents"))
    catchup_ivf_index(src, index, cents, n_lists=6)
    d0 = ivf_index_drift(index, cents)
    assert d0["bootstrap_mean_d2"] is not None
    assert abs(d0["drift_ratio"] - 1.0) < 1e-9  # fresh index: exact baseline
    # drift: every vector scales 3x (d2 scales ~9x against frozen cents'
    # positions it used to sit near)
    upd = src.read().select(
        "vec_id", F.transform("embedding", lambda x: x * 3.0).alias("embedding")
    )
    src.merge_into(upd, on=["vec_id"], mode="dv")
    catchup_ivf_index(src, index, cents)
    d1 = ivf_index_drift(index, cents)
    assert d1["drift_ratio"] > 1.5  # retrain-threshold territory


def _docs(spark, lo: int, hi: int):
    return spark.range(lo, hi).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("a document about lakes and vectors number "),
            F.col("id").cast("string"),
            F.lit(" topic "),
            (F.col("id") % 7).cast("string"),
        ).alias("text"),
    )


def _vecs(spark, lo: int, hi: int):
    return synthetic_embeddings(spark, hi).filter(F.col("vec_id") >= lo)


def _families():
    """The five CDF-maintained index families, one lifecycle shape each:
    name -> (source rows, catch-up, scratch check, watermark property,
    declared clustering, bloom column). ``aux`` holds the model tables
    (IVF centroids, IVF-PQ codebooks)."""
    from mb_crdb_cdc_dlgen2_synapse_spark.operators import ann_index as ai
    from mb_crdb_cdc_dlgen2_synapse_spark.operators import bm25_index as bi
    from mb_crdb_cdc_dlgen2_synapse_spark.operators import lsh_index as li

    return {
        "bm25": (
            _docs,
            lambda src, idx, aux: bi.catchup_bm25_index(src, idx),
            lambda idx, src, aux: bi.assert_bm25_index_matches_scratch(idx, src),
            "bm25.srcVersion", ["token", "doc_id"], "token",
        ),
        "lsh": (
            _docs,
            lambda src, idx, aux: li.catchup_lsh_index(src, idx),
            lambda idx, src, aux: li.assert_lsh_index_matches_scratch(idx, src),
            "lsh.srcVersion", ["band_key", "doc_id"], "band_key",
        ),
        "ann": (
            _vecs,
            lambda src, idx, aux: ai.catchup_ann_index(src, idx, prefix_bits=4),
            lambda idx, src, aux: ai.assert_index_matches_scratch(idx, src),
            "ann.srcVersion", ["vec_id"], "vec_id",
        ),
        "ivf": (
            _vecs,
            lambda src, idx, aux: ai.catchup_ivf_index(
                src, idx, aux["cents"], n_lists=4
            ),
            lambda idx, src, aux: ai.assert_ivf_index_matches_scratch(
                idx, aux["cents"], src
            ),
            "ann.srcVersion", ["vec_id"], "vec_id",
        ),
        "ivfpq": (
            _vecs,
            lambda src, idx, aux: ai.catchup_ivfpq_index(
                src, idx, aux["cents"], aux["books"], n_lists=4, m=8
            ),
            lambda idx, src, aux: ai.assert_ivfpq_index_matches_scratch(
                idx, aux["cents"], aux["books"], src
            ),
            "ann.srcVersion", ["vec_id"], "vec_id",
        ),
    }


def _aux(spark, tmp_path):
    return {n: TxTable(spark, str(tmp_path / n)) for n in ("cents", "books")}


@pytest.mark.parametrize("family", ["bm25", "lsh", "ann", "ivf", "ivfpq"])
def test_empty_bootstrap_defers_then_lays_layout_down(spark, tmp_path, family):
    """Bootstrap over an EMPTY snapshot commits nothing — no watermark,
    no frozen model (k-means on zero rows would freeze an empty centroid
    table and drop every later insert), no schema-only index — so the
    first NON-empty catch-up performs the real bootstrap, with the same
    layout a non-empty bootstrap declares and its properties in the
    first data commit. (The Hamming index used to commit its properties
    over the empty snapshot and then grow without clustering or blooms.)"""
    rows, catch, check, wm, clustering, bloom = _families()[family]
    aux = _aux(spark, tmp_path)
    src = TxTable(spark, str(tmp_path / "src"))
    src.append(rows(spark, 0, 20))
    key = src.read().columns[0]
    gone = src.read().withColumn("_g", F.lit(True))
    src.merge_into(gone, on=[key], delete_when="_g", mode="dv")
    index = TxTable(spark, str(tmp_path / "idx"))
    catch(src, index, aux)
    assert index.version() < 0  # nothing committed, watermark unset
    assert all(t.version() < 0 for t in aux.values())  # no model frozen
    src.append(rows(spark, 20, 120))
    catch(src, index, aux)
    # the real bootstrap: a non-empty model, and every insert indexed
    # (the scratch check alone would also pass over an empty model)
    assert index.read().select(key).distinct().count() == 100
    if family in ("ivf", "ivfpq"):
        assert aux["cents"].read().count() == 4
    if family == "ivfpq":
        assert aux["books"].read().count() > 0
    check(index, src, aux)
    assert index.clustering() == clustering
    assert set(index.bloom_index()) == {bloom}
    first = index.history()[0]
    assert first["op"] == "append"
    assert first["props"][wm] == str(src.version())


@pytest.mark.parametrize("family", ["bm25", "lsh", "ann", "ivf", "ivfpq"])
def test_fold_is_one_commit_carrying_the_watermark(spark, tmp_path, family):
    """The commit protocol every family shares: a (non-compacting)
    catch-up fold adds exactly ONE index commit and that commit carries
    the advanced watermark — a crash can never leave folded rows behind
    an old watermark. A source commit that changes no row folds as one
    metadata commit."""
    rows, catch, check, wm, _clustering, _bloom = _families()[family]
    aux = _aux(spark, tmp_path)
    src = TxTable(spark, str(tmp_path / "src"))
    src.append(rows(spark, 0, 120))
    index = TxTable(spark, str(tmp_path / "idx"))
    catch(src, index, aux)
    # a compaction is its own (content-identical) commit by design; keep
    # it out of the count
    index.set_properties({"autoCompact.index": "false"})
    # three source commits (updates, deletes, inserts), one fold
    key = src.read().columns[0]
    upd = rows(spark, 0, 120).filter(F.col(key) % 5 == 0).join(
        src.read().select(key), key
    )
    upd = upd.select(
        key,
        *[
            F.transform(c, lambda x: -x).alias(c) if c == "embedding"
            else F.concat(F.col(c), F.lit(" revised")).alias(c)
            for c in upd.columns if c != key
        ],
    )
    src.merge_into(upd, on=[key], mode="dv")
    gone = src.read().filter(F.col(key) % 9 == 4).withColumn("_g", F.lit(True))
    src.merge_into(gone, on=[key], delete_when="_g", mode="dv")
    src.append(rows(spark, 120, 150))
    v0 = index.version()
    catch(src, index, aux)
    assert index.version() == v0 + 1
    last = index.history()[-1]
    assert last["op"] not in ("compact", "set_properties")
    assert last["props"][wm] == str(src.version())
    check(index, src, aux)
    # a source commit that changes no row: one metadata commit
    src.set_properties({"owner": "ingest"})
    v0 = index.version()
    catch(src, index, aux)
    assert index.version() == v0 + 1
    assert index.history()[-1]["op"] == "set_properties"
    assert index.properties()[wm] == str(src.version())


def test_source_vacuum_within_retention_does_not_break_catchup(spark, tmp_path):
    """VACUUM that removes only files OLDER than the index watermark must
    leave catch-up working: the feed replays only (watermark, head], and
    those commits' files are still live."""
    src = TxTable(spark, str(tmp_path / "src"))
    src.append(synthetic_embeddings(spark, 80))
    index = TxTable(spark, str(tmp_path / "idx"))
    catchup_ann_index(src, index, prefix_bits=4)
    # churn BEFORE advancing the watermark further: rewrite some rows so
    # vacuum has dead files to reclaim, and catch the index up past them
    upd = (
        src.read()
        .filter(F.col("vec_id") % 3 == 0)
        .select("vec_id", F.transform("embedding", lambda x: -x).alias("embedding"))
    )
    src.merge_into(upd, on=["vec_id"], mode="cow")  # CoW: leaves dead files
    catchup_ann_index(src, index)
    hwm = int(index.properties()["ann.srcVersion"])
    src.write_checkpoint()
    src.vacuum(retain_hours=0.0)  # reclaims pre-watermark dead files
    # new commits after the vacuum still flow
    gone = src.read().filter(F.col("vec_id") % 7 == 2).withColumn("_g", F.lit(True))
    src.merge_into(gone, on=["vec_id"], delete_when="_g", mode="dv")
    assert catchup_ann_index(src, index) == src.version()
    assert int(index.properties()["ann.srcVersion"]) > hwm
    assert_index_matches_scratch(index, src)


def test_mixed_stream_then_batch_maintenance_no_duplication(spark, tmp_path):
    """An index bootstrapped by the STREAMING path has rows but no
    ann.srcVersion watermark; a later batch catch-up must NOT re-append
    the snapshot (the round-8 review bug) — it replays the feed
    key-idempotently and converges on scratch."""
    src_dir, idx_dir = str(tmp_path / "src"), str(tmp_path / "idx")
    src = TxTable(spark, src_dir)
    src.append(synthetic_embeddings(spark, 90))
    q = stream_ann_index_to_tx_table(
        spark, src_dir, idx_dir, str(tmp_path / "ck"), prefix_bits=4
    )
    q.awaitTermination(120)
    index = TxTable(spark, idx_dir)
    n0 = index.read().count()
    assert n0 == 90
    # more source commits, then BATCH catch-up on the stream-built index
    gone = src.read().filter(F.col("vec_id") % 5 == 1).withColumn("_g", F.lit(True))
    src.merge_into(gone, on=["vec_id"], delete_when="_g", mode="dv")
    catchup_ann_index(src, index)
    assert_index_matches_scratch(index, src)
    assert index.read().count() == src.read().count()  # no duplication


def test_auto_bits_layout_respected_by_streaming_maintenance(spark, tmp_path):
    """Custom prefix dims chosen at batch bootstrap must govern the
    STREAMING increments too (the round-8 review bug: the stream fold
    quantized under the default layout)."""
    from mb_crdb_cdc_dlgen2_synapse_spark.operators.similarity import (
        clustered_embeddings,
    )

    src_dir, idx_dir = str(tmp_path / "src"), str(tmp_path / "idx")
    src = TxTable(spark, src_dir)
    src.append(clustered_embeddings(spark, 300, prefix_bits=4))
    index = TxTable(spark, idx_dir)
    catchup_ann_index(src, index, prefix_bits=4, auto_bits=True)
    dims_prop = index.properties()["ann.prefixDims"]
    assert dims_prop != "0,1,2,3"
    # stream new rows in — they must land under the SAME custom layout
    src.append(clustered_embeddings(spark, 340, prefix_bits=4).filter(
        F.col("vec_id") >= 300
    ))
    q = stream_ann_index_to_tx_table(
        spark, src_dir, idx_dir, str(tmp_path / "ck"), prefix_bits=4
    )
    q.awaitTermination(120)
    index = TxTable(spark, idx_dir)
    assert index.properties()["ann.prefixDims"] == dims_prop
    assert_index_matches_scratch(index, src)  # derives dims from props


def test_ivf_drift_policy_error_is_actionable(spark, tmp_path):
    """ann.ivf.maxDrift set, default onDrift=error: a catch-up that
    lands past the threshold raises with the rebuild recipe, AFTER
    folding the changes (watermark advanced; content still correct)."""
    from mb_crdb_cdc_dlgen2_synapse_spark.operators.ann_index import (
        assert_ivf_index_matches_scratch,
        catchup_ivf_index,
    )

    src = TxTable(spark, str(tmp_path / "src"))
    src.append(synthetic_embeddings(spark, 120))
    index = TxTable(spark, str(tmp_path / "idx"))
    cents = TxTable(spark, str(tmp_path / "cents"))
    catchup_ivf_index(src, index, cents, n_lists=6)
    index.set_properties({"ann.ivf.maxDrift": "1.5"})
    upd = src.read().select(
        "vec_id", F.transform("embedding", lambda x: x * 3.0).alias("embedding")
    )
    src.merge_into(upd, on=["vec_id"], mode="dv")
    with pytest.raises(RuntimeError, match="drifted .*maxDrift"):
        catchup_ivf_index(src, index, cents)
    # the error is a QUALITY signal, not a corruption: changes were
    # folded under the frozen quantizer and content matches scratch
    assert_ivf_index_matches_scratch(index, cents, src)


def test_ivf_drift_policy_rebuild_and_swap(spark, tmp_path):
    """onDrift=rebuild: catch-up past the threshold retrains and swaps
    atomically — new generation pinned, drift back to ~1.0, content
    equals a scratch assignment under the NEW quantizer, probes answer."""
    from mb_crdb_cdc_dlgen2_synapse_spark.operators.ann_index import (
        assert_ivf_index_matches_scratch,
        catchup_ivf_index,
        ivf_index_drift,
        ivf_index_topk,
    )

    src = TxTable(spark, str(tmp_path / "src"))
    src.append(synthetic_embeddings(spark, 120))
    index = TxTable(spark, str(tmp_path / "idx"))
    cents = TxTable(spark, str(tmp_path / "cents"))
    catchup_ivf_index(src, index, cents, n_lists=6)
    pin_before = index.properties()["ann.ivf.centsVersion"]
    index.set_properties(
        {"ann.ivf.maxDrift": "1.5", "ann.ivf.onDrift": "rebuild"}
    )
    upd = src.read().select(
        "vec_id", F.transform("embedding", lambda x: x * 3.0).alias("embedding")
    )
    src.merge_into(upd, on=["vec_id"], mode="dv")
    hwm = catchup_ivf_index(src, index, cents)
    assert hwm == src.version()
    props = index.properties()
    assert props["ann.ivf.centsVersion"] != pin_before  # generation flipped
    assert props["ann.ivf.maxDrift"] == "1.5"  # policy props survive swap
    d = ivf_index_drift(index, cents)
    assert abs(d["drift_ratio"] - 1.0) < 1e-9  # fresh geometry
    assert_ivf_index_matches_scratch(index, cents, src)
    queries = (
        src.read()
        .filter(F.col("vec_id") < 2)
        .select(F.col("vec_id").alias("query_id"), "embedding")
    )
    got = ivf_index_topk(index, cents, queries, k=3, nprobe=3)
    top1 = {r.query_id: r.vec_id for r in got.filter(F.col("rk") == 1).collect()}
    assert top1 and all(v == q for q, v in top1.items())
    # maintenance continues on the new generation
    gone = src.read().filter(F.col("vec_id") % 11 == 3).withColumn("_g", F.lit(True))
    src.merge_into(gone, on=["vec_id"], delete_when="_g", mode="dv")
    catchup_ivf_index(src, index, cents)
    assert_ivf_index_matches_scratch(index, cents, src)


def test_ivf_generation_pin_shields_probes_from_cents_overwrite(
    spark, tmp_path
):
    """The quantizer generation pin: an out-of-band overwrite of the
    centroid table (a retrain in flight, or an operator mistake) must
    not change what probes/increments/proofs see — they time-travel to
    the pinned snapshot until the index itself swaps."""
    from mb_crdb_cdc_dlgen2_synapse_spark.operators.ann_index import (
        assert_ivf_index_matches_scratch,
        catchup_ivf_index,
        ivf_index_topk,
    )

    src = TxTable(spark, str(tmp_path / "src"))
    src.append(synthetic_embeddings(spark, 100))
    index = TxTable(spark, str(tmp_path / "idx"))
    cents = TxTable(spark, str(tmp_path / "cents"))
    catchup_ivf_index(src, index, cents, n_lists=5)
    queries = (
        src.read()
        .filter(F.col("vec_id") < 2)
        .select(F.col("vec_id").alias("query_id"), "embedding")
    )
    before = sorted(
        map(tuple, ivf_index_topk(index, cents, queries, k=3, nprobe=2).collect())
    )
    # clobber the centroid HEAD with garbage geometry
    garbage = cents.read().select(
        "cid", F.transform("c_vec", lambda x: x * 100.0 + 7.0).alias("c_vec")
    )
    cents.overwrite(garbage)
    after = sorted(
        map(tuple, ivf_index_topk(index, cents, queries, k=3, nprobe=2).collect())
    )
    assert after == before  # pinned generation, not head
    # increments and the equality proof also stay on the pin
    gone = src.read().filter(F.col("vec_id") % 9 == 1).withColumn("_g", F.lit(True))
    src.merge_into(gone, on=["vec_id"], delete_when="_g", mode="dv")
    catchup_ivf_index(src, index, cents)
    assert_ivf_index_matches_scratch(index, cents, src)


def test_sink_merge_schema_evolution_keeps_index_catchup_working(
    spark, tmp_path
):
    """VERDICT r8 item 7 — the sink's mergeSchema evolution meets the
    CDF-fed index: the embedding table gains a column mid-stream (native
    txtable sink restart with a wider producer schema); index catch-up
    projects (vec_id, embedding) off the feed, so it must fold the
    post-evolution inserts untouched, pre-evolution rows render under
    the end schema with the new column NULL, and probes + the
    incremental==scratch proof hold across the evolution."""
    import json as _json

    from mb_crdb_cdc_dlgen2_synapse_spark.streaming.source import (
        register_tx_source,
    )

    register_tx_source(spark)
    src_files = tmp_path / "srcjson"
    src_files.mkdir()
    tp, ckpt = str(tmp_path / "t"), str(tmp_path / "ck")
    rows = [
        {"vec_id": r.vec_id, "embedding": [float(x) for x in r.embedding]}
        for r in synthetic_embeddings(spark, 100).collect()
    ]
    (src_files / "a.json").write_text(
        "\n".join(_json.dumps(r) for r in rows[:80])
    )

    def run_sink(schema, merge=False):
        w = (
            spark.readStream.schema(schema)
            .json(str(src_files))
            .writeStream.format("txtable")
            .option("path", tp)
            .option("txnAppId", "annEvo")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
        )
        if merge:
            w = w.option("mergeSchema", "true")
        q = w.start()
        q.awaitTermination(180)

    run_sink("vec_id long, embedding array<float>")
    src = TxTable(spark, tp)
    index = TxTable(spark, str(tmp_path / "idx"))
    catchup_ann_index(src, index, prefix_bits=4)
    assert index.read().count() == 80
    # EVOLUTION: producer restarts with a new column; pre-evolution rows
    # project it as NULL; the 20 new rows carry values
    (src_files / "b.json").write_text(
        "\n".join(
            _json.dumps({**r, "tag": f"s{r['vec_id'] % 3}"}) for r in rows[80:]
        )
    )
    run_sink("vec_id long, embedding array<float>, tag string", merge=True)
    assert set(src.read().columns) == {"vec_id", "embedding", "tag"}
    catchup_ann_index(src, index)  # folds the post-evolution inserts
    assert index.read().count() == 100
    assert_index_matches_scratch(index, src)
    # mutations UNDER the evolved schema keep flowing through the feed
    gone = src.read().filter(F.col("vec_id") % 10 == 7).withColumn(
        "_g", F.lit(True)
    )
    src.merge_into(gone, on=["vec_id"], delete_when="_g", mode="dv")
    catchup_ann_index(src, index)
    assert_index_matches_scratch(index, src)
    queries = (
        src.read()
        .filter(F.col("vec_id") < 2)
        .select(F.col("vec_id").alias("query_id"), "embedding")
    )
    got = probed_hamming_topk(index, queries, k=3, radius=1)
    top1 = {r.query_id: r.vec_id for r in got.filter(F.col("rk") == 1).collect()}
    assert top1 and all(v == q for q, v in top1.items())


def test_ivfpq_incremental_equals_scratch_and_probe_reranks(spark, tmp_path):
    """IVF-PQ twin: compressed lists maintained from the CDF equal a
    from-scratch assign+encode under the pinned generations; the
    IVFADC+R probe re-ranks against source rows and finds self."""
    from mb_crdb_cdc_dlgen2_synapse_spark.operators.ann_index import (
        assert_ivfpq_index_matches_scratch,
        catchup_ivfpq_index,
        ivfpq_index_topk,
    )

    src = TxTable(spark, str(tmp_path / "src"))
    src.append(synthetic_embeddings(spark, 220))
    index = TxTable(spark, str(tmp_path / "idx"))
    cents = TxTable(spark, str(tmp_path / "cents"))
    books = TxTable(spark, str(tmp_path / "books"))
    catchup_ivfpq_index(src, index, cents, books, n_lists=6, m=8, kq=16)
    assert_ivfpq_index_matches_scratch(index, cents, books, src)
    assert books.read().count() == 8 * 16  # m*k codebook rows frozen
    # 8-byte payload: pq_code is one bigint per vector
    assert set(index.read().columns) == {"vec_id", "cid", "pq_code"}
    upd = (
        src.read()
        .filter(F.col("vec_id") % 4 == 0)
        .select("vec_id", F.transform("embedding", lambda x: -x).alias("embedding"))
    )
    src.merge_into(upd, on=["vec_id"], mode="dv")
    gone = src.read().filter(F.col("vec_id") % 9 == 5).withColumn("_g", F.lit(True))
    src.merge_into(gone, on=["vec_id"], delete_when="_g", mode="dv")
    src.append(synthetic_embeddings(spark, 250).filter(F.col("vec_id") >= 220))
    catchup_ivfpq_index(src, index, cents, books)
    assert_ivfpq_index_matches_scratch(index, cents, books, src)
    # frozen generations: neither model table's pin moved
    assert cents.read().count() == 6
    queries = (
        src.read()
        .filter(F.col("vec_id") < 3)
        .select(F.col("vec_id").alias("query_id"), "embedding")
    )
    got = ivfpq_index_topk(
        index, cents, books, src, queries, k=3, nprobe=3, shortlist=60
    )
    top1 = {r.query_id: r.vec_id for r in got.filter(F.col("rk") == 1).collect()}
    assert top1 and all(v == q for q, v in top1.items())


def test_ivfpq_catchup_idempotent_retention_and_empty_defer(spark, tmp_path):
    from mb_crdb_cdc_dlgen2_synapse_spark.operators.ann_index import (
        catchup_ivfpq_index,
    )

    # empty-bootstrap defer (same ADVICE-r8 contract as the IVF twin)
    src0 = TxTable(spark, str(tmp_path / "src0"))
    src0.append(synthetic_embeddings(spark, 10))
    gone = src0.read().withColumn("_g", F.lit(True))
    src0.merge_into(gone, on=["vec_id"], delete_when="_g", mode="dv")
    idx0 = TxTable(spark, str(tmp_path / "idx0"))
    c0 = TxTable(spark, str(tmp_path / "c0"))
    b0 = TxTable(spark, str(tmp_path / "b0"))
    catchup_ivfpq_index(src0, idx0, c0, b0, n_lists=4, m=8)
    assert idx0.version() < 0 and c0.version() < 0 and b0.version() < 0

    src = TxTable(spark, str(tmp_path / "src"))
    src.append(synthetic_embeddings(spark, 80))
    index = TxTable(spark, str(tmp_path / "idx"))
    cents = TxTable(spark, str(tmp_path / "cents"))
    books = TxTable(spark, str(tmp_path / "books"))
    hwm = catchup_ivfpq_index(src, index, cents, books, n_lists=4, m=8)
    v_before = index.version()
    assert catchup_ivfpq_index(src, index, cents, books) == hwm  # no-op
    assert index.version() == v_before
    for _ in range(3):
        gone = src.read().limit(4).withColumn("_g", F.lit(True))
        src.merge_into(gone, on=["vec_id"], delete_when="_g", mode="dv")
    src.write_checkpoint()
    src.vacuum(retain_hours=0.0)
    with pytest.raises(RuntimeError, match="stale beyond the source's CDF"):
        catchup_ivfpq_index(src, index, cents, books)


def test_ivfpq_streaming_maintenance_resumes_and_requires_bootstrap(
    spark, tmp_path
):
    """Streaming twin for the IVF-PQ index: (1) an untrained index refuses
    the stream with an actionable error; (2) after a batch bootstrap, the
    stream folds later commits under the pinned generations, restarts
    resume from the checkpoint, and a no-new-commits run is a no-op."""
    from mb_crdb_cdc_dlgen2_synapse_spark.operators.ann_index import (
        assert_ivfpq_index_matches_scratch,
        catchup_ivfpq_index,
        stream_ivfpq_index_to_tx_table,
    )

    src_dir = str(tmp_path / "src")
    idx_dir = str(tmp_path / "idx")
    cents_dir = str(tmp_path / "cents")
    books_dir = str(tmp_path / "books")
    ckpt = str(tmp_path / "ckpt")
    src = TxTable(spark, src_dir)
    src.append(synthetic_embeddings(spark, 180))

    # (1) no codebooks yet -> the stream refuses instead of mis-encoding
    with pytest.raises(RuntimeError) as ei:
        stream_ivfpq_index_to_tx_table(
            spark, src_dir, idx_dir, cents_dir, books_dir, str(tmp_path / "ckpt0")
        )
    assert "catchup_ivfpq_index" in str(ei.value)

    # (2) batch bootstrap, then stream the follow-on commits
    index = TxTable(spark, idx_dir)
    cents = TxTable(spark, cents_dir)
    books = TxTable(spark, books_dir)
    catchup_ivfpq_index(src, index, cents, books, n_lists=4, m=8, kq=16)
    upd = (
        src.read()
        .filter(F.col("vec_id") % 5 == 0)
        .select("vec_id", F.transform("embedding", lambda x: -x).alias("embedding"))
    )
    src.merge_into(upd, on=["vec_id"], mode="dv")
    gone = src.read().filter(F.col("vec_id") % 7 == 2).withColumn("_g", F.lit(True))
    src.merge_into(gone, on=["vec_id"], delete_when="_g", mode="dv")
    q2 = stream_ivfpq_index_to_tx_table(
        spark, src_dir, idx_dir, cents_dir, books_dir, ckpt
    )
    q2.awaitTermination(120)
    index = TxTable(spark, idx_dir)
    assert_ivfpq_index_matches_scratch(index, cents, books, src)

    # more commits AFTER the stream stopped: restart folds only the delta
    src.append(synthetic_embeddings(spark, 220).filter(F.col("vec_id") >= 180))
    q3 = stream_ivfpq_index_to_tx_table(
        spark, src_dir, idx_dir, cents_dir, books_dir, ckpt
    )
    q3.awaitTermination(120)
    index = TxTable(spark, idx_dir)
    assert_ivfpq_index_matches_scratch(index, cents, books, src)
    rows = sorted(
        (r.vec_id, r.cid, r.pq_code)
        for r in index.read().collect()
    )
    # replay safety: nothing new -> content untouched
    q4 = stream_ivfpq_index_to_tx_table(
        spark, src_dir, idx_dir, cents_dir, books_dir, ckpt
    )
    q4.awaitTermination(120)
    assert (
        sorted(
            (r.vec_id, r.cid, r.pq_code)
            for r in TxTable(spark, idx_dir).read().collect()
        )
        == rows
    )


def test_hamming_stream_after_batch_bootstrap_sees_interim_deletes(
    spark, tmp_path
):
    """Ghost-row regression: batch-bootstrap the index, then DELETE source
    rows, then start streaming maintenance with a FRESH checkpoint. The
    stream must tail from the index's watermark (a fresh snapshot cannot
    express the interim deletions) — the deleted keys must leave the
    index."""
    src_dir = str(tmp_path / "src")
    idx_dir = str(tmp_path / "idx")
    src = TxTable(spark, src_dir)
    src.append(synthetic_embeddings(spark, 160))
    index = TxTable(spark, idx_dir)
    catchup_ann_index(src, index, prefix_bits=4)
    gone = src.read().filter(F.col("vec_id") % 4 == 1).withColumn("_g", F.lit(True))
    src.merge_into(gone, on=["vec_id"], delete_when="_g", mode="dv")
    q = stream_ann_index_to_tx_table(
        spark, src_dir, idx_dir, str(tmp_path / "ckpt"), prefix_bits=4
    )
    q.awaitTermination(120)
    index = TxTable(spark, idx_dir)
    assert_index_matches_scratch(index, src)
    left = {r.vec_id for r in index.read().select("vec_id").collect()}
    assert not any(v % 4 == 1 for v in left)
    # and the stream advanced the watermark: a batch catch-up is a no-op
    assert catchup_ann_index(src, index, prefix_bits=4) == src.version()
    assert_index_matches_scratch(index, src)


def test_ivfpq_drift_error_policy_and_rebuild(spark, tmp_path):
    """ann.ivfpq.maxDrift default policy raises an actionable error on a
    quiet catch-up once directional drift passes the threshold; the
    explicit rebuild then retrains and the next catch-up is quiet."""
    from mb_crdb_cdc_dlgen2_synapse_spark.operators.ann_index import (
        catchup_ivfpq_index,
        ivfpq_index_drift,
        rebuild_ivfpq_index,
    )

    n = 160
    base = synthetic_embeddings(spark, n)
    clustered = base.select(
        "vec_id",
        F.expr(
            "transform(embedding, (x, i) -> x"
            " + IF(i = CAST(vec_id % 8 AS INT), 10.0D, 0.0D))"
        ).alias("embedding"),
    )
    src = TxTable(spark, str(tmp_path / "src"))
    src.append(clustered)
    index = TxTable(spark, str(tmp_path / "idx"))
    cents = TxTable(spark, str(tmp_path / "cents"))
    books = TxTable(spark, str(tmp_path / "books"))
    catchup_ivfpq_index(src, index, cents, books, n_lists=8, m=8, kq=16)
    # no threshold set: drifted corpus folds without tripping anything
    moved = base.select(
        "vec_id",
        F.expr(
            "transform(embedding, (x, i) -> x"
            " + IF(i = CAST(vec_id % 8 AS INT) + 8, 10.0D, 0.0D))"
        ).alias("embedding"),
    )
    src.merge_into(moved, on=["vec_id"], mode="dv")
    catchup_ivfpq_index(src, index, cents, books)
    assert ivfpq_index_drift(src, index, cents)["drift_ratio"] > 1.5
    # default policy = error, with the rebuild call named in the message
    index.set_properties({"ann.ivfpq.maxDrift": "1.5"})
    with pytest.raises(RuntimeError, match="rebuild_ivfpq_index"):
        catchup_ivfpq_index(src, index, cents, books)
    rebuild_ivfpq_index(src, index, cents, books)
    d = ivfpq_index_drift(src, index, cents)["drift_ratio"]
    assert abs(d - 1.0) < 1e-9
    # policy satisfied now: quiet catch-up passes
    assert catchup_ivfpq_index(src, index, cents, books) == src.version()


def test_ivfpq_drift_probe_sampling_agrees_and_drives_policy(spark, tmp_path):
    """ADVICE-r9: the drift POLICY check must be o(corpus). With
    ann.ivfpq.driftSampleMod set, the probe assigns only the
    xxhash64(vec_id) % s == 0 key sample; the sampled ratio tracks the
    exact one and makes the SAME fire/no-fire decision, both before and
    after a drifting mutation — including through the error policy on a
    quiet catch-up."""
    from mb_crdb_cdc_dlgen2_synapse_spark.operators.ann_index import (
        catchup_ivfpq_index,
        ivfpq_index_drift,
    )

    n = 1200
    base = synthetic_embeddings(spark, n)
    clustered = base.select(
        "vec_id",
        F.expr(
            "transform(embedding, (x, i) -> x"
            " + IF(i = CAST(vec_id % 8 AS INT), 10.0D, 0.0D))"
        ).alias("embedding"),
    )
    src = TxTable(spark, str(tmp_path / "src"))
    src.append(clustered)
    index = TxTable(spark, str(tmp_path / "idx"))
    cents = TxTable(spark, str(tmp_path / "cents"))
    books = TxTable(spark, str(tmp_path / "books"))
    catchup_ivfpq_index(src, index, cents, books, n_lists=8, m=8, kq=16)
    # quiet corpus: sampled and exact both read ~1.0, neither fires
    ex0 = ivfpq_index_drift(src, index, cents)["drift_ratio"]
    sm0 = ivfpq_index_drift(src, index, cents, sample_mod=8)["drift_ratio"]
    assert abs(ex0 - 1.0) < 1e-9
    assert abs(sm0 - 1.0) < 0.35  # hash-uniform sample of the same corpus
    assert (ex0 > 1.5) == (sm0 > 1.5)
    # drifted corpus: both ratios blow far past the threshold
    moved = base.select(
        "vec_id",
        F.expr(
            "transform(embedding, (x, i) -> x"
            " + IF(i = CAST(vec_id % 8 AS INT) + 8, 10.0D, 0.0D))"
        ).alias("embedding"),
    )
    src.merge_into(moved, on=["vec_id"], mode="dv")
    catchup_ivfpq_index(src, index, cents, books)
    ex1 = ivfpq_index_drift(src, index, cents)["drift_ratio"]
    sm1 = ivfpq_index_drift(src, index, cents, sample_mod=8)["drift_ratio"]
    assert ex1 > 1.5 and sm1 > 1.5
    # the POLICY runs the sampled probe when the property is set: the
    # quiet catch-up still fires the error with the sampled estimate
    index.set_properties(
        {"ann.ivfpq.maxDrift": "1.5", "ann.ivfpq.driftSampleMod": "8"}
    )
    with pytest.raises(RuntimeError, match="rebuild_ivfpq_index"):
        catchup_ivfpq_index(src, index, cents, books)


def test_autocompact_restores_layout_after_trickle_fragmentation(
    spark, tmp_path
):
    """VERDICT r9 item 4: trickle maintenance fragments the clustered
    layout (~1 small file per touched bucket per batch); the catch-up's
    relative-threshold auto-compaction rewrites to the bootstrap shape —
    hive bucket partitions preserved, vec_id clustering restored, file
    count bounded — without changing content or probe answers."""
    from mb_crdb_cdc_dlgen2_synapse_spark.txlog import maybe_compact_index

    n = 2000
    src = TxTable(spark, str(tmp_path / "src"))
    src.append(synthetic_embeddings(spark, n))
    index = TxTable(spark, str(tmp_path / "idx"))
    catchup_ann_index(src, index, prefix_bits=4, rows_per_file=64)
    ideal = -(-n // 64)
    # many small scattered batches: each catch-up merges a few dozen keys
    rng_ids = [list(range(s, n, 97)) for s in range(12)]
    fired = False
    for ids in rng_ids:
        upd = src.read().filter(F.col("vec_id").isin(ids[:25])).select(
            "vec_id", F.transform("embedding", lambda x: -x).alias("embedding")
        )
        src.merge_into(upd, on=["vec_id"], mode="dv")
        catchup_ann_index(src, index, rows_per_file=64)
        if index.history()[-1]["op"] == "compact":  # the fold's compaction
            fired = True
    files = index.snapshot()[1]
    # the cadence actually FIRED and kept the count bounded
    assert fired, "auto-compaction never fired — fixture too small"
    assert len(files) <= 1.5 * ideal + 32
    # hive bucket layout survived the rewrite
    assert all(f.startswith("bucket=") for f in files)
    # content still equals a from-scratch build of the mutated corpus
    assert_index_matches_scratch(index, src)
    # a probe still answers over the compacted layout
    q = src.read().filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = probed_hamming_topk(index, q, k=5, radius=1).collect()
    assert {r.query_id for r in got} == {0, 1}
    # and the relative threshold means a quiet table never churns:
    v = index.version()
    assert maybe_compact_index(index, 64) is False
    assert index.version() == v
    # opt-out honored
    index.set_properties({"autoCompact.index": "false"})
    assert maybe_compact_index(index, 1) is False


def test_ivf_drift_probe_sampling_agrees(spark, tmp_path):
    """The raw-IVF twin of the sampled drift probe: with
    ann.ivf.driftSampleMod set the policy assigns only the key sample
    of the (corpus-sized) list table; sampled and exact ratios agree on
    the fire/no-fire decision before and after a drifting mutation."""
    from mb_crdb_cdc_dlgen2_synapse_spark.operators.ann_index import (
        catchup_ivf_index,
        ivf_index_drift,
    )

    n = 1200
    base = synthetic_embeddings(spark, n)
    clustered = base.select(
        "vec_id",
        F.expr(
            "transform(embedding, (x, i) -> x"
            " + IF(i = CAST(vec_id % 8 AS INT), 10.0D, 0.0D))"
        ).alias("embedding"),
    )
    src = TxTable(spark, str(tmp_path / "src"))
    src.append(clustered)
    index = TxTable(spark, str(tmp_path / "idx"))
    cents = TxTable(spark, str(tmp_path / "cents"))
    catchup_ivf_index(src, index, cents, n_lists=8)
    ex0 = ivf_index_drift(index, cents)["drift_ratio"]
    sm0 = ivf_index_drift(index, cents, sample_mod=8)["drift_ratio"]
    assert abs(ex0 - 1.0) < 1e-9
    assert (ex0 > 1.5) == (sm0 > 1.5)
    moved = base.select(
        "vec_id",
        F.expr(
            "transform(embedding, (x, i) -> x"
            " + IF(i = CAST(vec_id % 8 AS INT) + 8, 10.0D, 0.0D))"
        ).alias("embedding"),
    )
    src.merge_into(moved, on=["vec_id"], mode="dv")
    catchup_ivf_index(src, index, cents)
    ex1 = ivf_index_drift(index, cents)["drift_ratio"]
    sm1 = ivf_index_drift(index, cents, sample_mod=8)["drift_ratio"]
    assert ex1 > 1.5 and sm1 > 1.5
    # the policy runs the sampled probe when the property is set
    index.set_properties(
        {"ann.ivf.maxDrift": "1.5", "ann.ivf.driftSampleMod": "8"}
    )
    with pytest.raises(RuntimeError, match="drifted .*maxDrift"):
        catchup_ivf_index(src, index, cents)


def test_drift_policy_empty_sample_falls_back_to_exact(spark, tmp_path):
    """ADVICE-r10: driftSampleMod larger than the corpus leaves the
    xxhash64 key sample empty (avg of zero rows = NULL); the policy must
    fall back to the exact probe instead of silently treating NULL as
    no-drift — a drifted corpus still fires through the oversized-sample
    configuration, for BOTH IVF families."""
    from mb_crdb_cdc_dlgen2_synapse_spark.operators.ann_index import (
        catchup_ivf_index,
        catchup_ivfpq_index,
        ivf_index_drift,
    )

    n = 600
    base = synthetic_embeddings(spark, n)
    clustered = base.select(
        "vec_id",
        F.expr(
            "transform(embedding, (x, i) -> x"
            " + IF(i = CAST(vec_id % 8 AS INT), 10.0D, 0.0D))"
        ).alias("embedding"),
    )
    moved = base.select(
        "vec_id",
        F.expr(
            "transform(embedding, (x, i) -> x"
            " + IF(i = CAST(vec_id % 8 AS INT) + 8, 10.0D, 0.0D))"
        ).alias("embedding"),
    )
    src = TxTable(spark, str(tmp_path / "src"))
    src.append(clustered)
    # an oversized sample really is empty (the NULL-mean premise)
    idx = TxTable(spark, str(tmp_path / "ivf"))
    cents = TxTable(spark, str(tmp_path / "cents"))
    catchup_ivf_index(src, idx, cents, n_lists=8)
    assert (
        ivf_index_drift(idx, cents, sample_mod=1_000_003)["mean_d2"] is None
    )
    src.merge_into(moved, on=["vec_id"], mode="dv")
    catchup_ivf_index(src, idx, cents)
    idx.set_properties(
        {"ann.ivf.maxDrift": "1.5", "ann.ivf.driftSampleMod": "1000003"}
    )
    with pytest.raises(RuntimeError, match="drifted .*maxDrift"):
        catchup_ivf_index(src, idx, cents)
    # IVF-PQ twin through the same oversized-sample configuration
    src2 = TxTable(spark, str(tmp_path / "src2"))
    src2.append(clustered)
    idx2 = TxTable(spark, str(tmp_path / "pq"))
    cents2 = TxTable(spark, str(tmp_path / "cents2"))
    books2 = TxTable(spark, str(tmp_path / "books2"))
    catchup_ivfpq_index(src2, idx2, cents2, books2, n_lists=8, m=8, kq=16)
    src2.merge_into(moved, on=["vec_id"], mode="dv")
    catchup_ivfpq_index(src2, idx2, cents2, books2)
    idx2.set_properties(
        {"ann.ivfpq.maxDrift": "1.5", "ann.ivfpq.driftSampleMod": "1000003"}
    )
    with pytest.raises(RuntimeError, match="rebuild_ivfpq_index"):
        catchup_ivfpq_index(src2, idx2, cents2, books2)


def test_ivfpq_topk_key_cap_falls_back_to_semi_join(spark, tmp_path):
    """ADVICE-r10 advisory: the IVFADC+R re-rank fetch is driver-bounded
    by key_cap — past it the full-precision vectors come from a
    distributed semi-join against the shortlist instead of a
    shortlist×|queries| IN-predicate, with identical answers."""
    from mb_crdb_cdc_dlgen2_synapse_spark.operators.ann_index import (
        catchup_ivfpq_index,
        ivfpq_index_topk,
    )

    src = TxTable(spark, str(tmp_path / "src"))
    src.append(synthetic_embeddings(spark, 220))
    index = TxTable(spark, str(tmp_path / "idx"))
    cents = TxTable(spark, str(tmp_path / "cents"))
    books = TxTable(spark, str(tmp_path / "books"))
    catchup_ivfpq_index(src, index, cents, books, n_lists=6, m=8, kq=16)
    queries = (
        src.read()
        .filter(F.col("vec_id") < 4)
        .select(F.col("vec_id").alias("query_id"), "embedding")
    )
    key = lambda df: sorted(
        (r.query_id, r.rk, r.vec_id, round(r.cosine, 9)) for r in df.collect()
    )
    capped = key(ivfpq_index_topk(
        index, cents, books, src, queries, k=3, nprobe=3, shortlist=60
    ))
    fallback = key(ivfpq_index_topk(
        index, cents, books, src, queries, k=3, nprobe=3, shortlist=60,
        key_cap=1,
    ))
    assert capped == fallback and capped


def test_ivf_family_as_of_and_allowed(spark, tmp_path):
    """API symmetry (round 11): both IVF families honor as_of (the
    pinned-version time-travel read — answers equal the ones taken at
    that version, immune to later mutations AND later generation pins)
    and allowed= (filtered search: rank over probed-candidates ∩
    allowed, proven by filtering the full probed ranking)."""
    from mb_crdb_cdc_dlgen2_synapse_spark.operators.ann_index import (
        catchup_ivf_index,
        catchup_ivfpq_index,
        ivf_index_topk,
        ivfpq_index_topk,
    )

    emb = synthetic_embeddings(spark, 220)
    src = TxTable(spark, str(tmp_path / "src"))
    src.append(emb)
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    ).localCheckpoint(eager=True)
    key = lambda df: sorted(tuple(r) for r in df.collect())

    idx = TxTable(spark, str(tmp_path / "ivf"))
    cents = TxTable(spark, str(tmp_path / "cents"))
    catchup_ivf_index(src, idx, cents, n_lists=6)
    v0 = idx.version()
    at_boot = key(ivf_index_topk(idx, cents, queries, k=5, nprobe=3))
    pq = TxTable(spark, str(tmp_path / "pq"))
    cents2 = TxTable(spark, str(tmp_path / "cents2"))
    books2 = TxTable(spark, str(tmp_path / "books2"))
    catchup_ivfpq_index(src, pq, cents2, books2, n_lists=6, m=8, kq=16)
    vq0 = pq.version()
    at_boot_pq = key(
        ivfpq_index_topk(pq, cents2, books2, src, queries, k=5, nprobe=3,
                         shortlist=60)
    )
    # mutate (keep query vectors stable) and fold
    upd = src.read().filter(
        (F.col("vec_id") % 2 == 1) & (F.col("vec_id") > 2)
    ).select("vec_id", F.transform("embedding", lambda x: -x).alias("embedding"))
    src.merge_into(upd, on=["vec_id"], mode="dv")
    catchup_ivf_index(src, idx, cents)
    catchup_ivfpq_index(src, pq, cents2, books2)
    # time travel: the pinned-version answers are exactly the bootstrap's
    assert key(ivf_index_topk(idx, cents, queries, k=5, nprobe=3, as_of=v0)) == at_boot
    assert key(
        ivfpq_index_topk(pq, cents2, books2, src, queries, k=5, nprobe=3,
                         shortlist=60, as_of=vq0)
    ) == at_boot_pq
    # filtered search: equals the full probed ranking filtered then cut
    allowed = emb.filter(F.col("vec_id") % 2 == 0).select("vec_id")
    full = ivf_index_topk(idx, cents, queries, k=10_000, nprobe=3)
    want = {}
    for r in sorted(full.collect(), key=lambda r: (r.query_id, r.rk)):
        if r.vec_id % 2 == 0 and len(want.setdefault(r.query_id, [])) < 5:
            want[r.query_id].append(r.vec_id)
    got = ivf_index_topk(idx, cents, queries, k=5, nprobe=3, allowed=allowed)
    got_m = {}
    for r in sorted(got.collect(), key=lambda r: (r.query_id, r.rk)):
        got_m.setdefault(r.query_id, []).append(r.vec_id)
    assert got_m == want and all(v % 2 == 0 for vs in got_m.values() for v in vs)
    # ivfpq filtered: every id allowed and self still found for even queries
    gpq = ivfpq_index_topk(
        pq, cents2, books2, src, queries, k=5, nprobe=3, shortlist=60,
        allowed=allowed,
    ).collect()
    assert gpq and all(r.vec_id % 2 == 0 for r in gpq)
    top1 = {r.query_id: r.vec_id for r in gpq if r.rk == 1}
    assert top1.get(0) == 0 and top1.get(2) == 2  # allowed self wins


def test_raw_era_ivfpq_index_reads_folds_and_upgrades(spark, tmp_path):
    """The documented migration path for the residual switch: a RAW-era
    index (pre-r11 layout — codes quantize the vector itself, no
    ann.ivfpq.encoding property) keeps answering, folding increments,
    and passing its equality proof through the same code paths; a
    rebuild then upgrades it to residual in ONE atomic pin+props swap."""
    from mb_crdb_cdc_dlgen2_synapse_spark.operators.ann_index import (
        _books_rows,
        _pinned_cents,
        _unit_vecs,
        assert_ivfpq_index_matches_scratch,
        catchup_ivfpq_index,
        ivfpq_index_topk,
        rebuild_ivfpq_index,
    )
    from mb_crdb_cdc_dlgen2_synapse_spark.operators.clustering import (
        assign_clusters,
    )
    from mb_crdb_cdc_dlgen2_synapse_spark.operators.pq import (
        pq_encode_arrow,
        train_pq_codebooks,
    )

    src = TxTable(spark, str(tmp_path / "src"))
    src.append(synthetic_embeddings(spark, 220))
    index = TxTable(spark, str(tmp_path / "idx"))
    cents = TxTable(spark, str(tmp_path / "cents"))
    books = TxTable(spark, str(tmp_path / "books"))
    catchup_ivfpq_index(src, index, cents, books, n_lists=6, m=8, kq=16)
    assert index.properties()["ann.ivfpq.encoding"] == "residual"
    # reconstruct the RAW-era layout faithfully: books trained on raw
    # unit vectors, codes quantizing them, NO encoding property
    snap = _unit_vecs(src.read().select("vec_id", "embedding")).localCheckpoint(
        eager=True
    )
    model_raw = train_pq_codebooks(snap, m=8, k=16, n_iter=2)
    books.overwrite(_books_rows(spark, model_raw))
    assigned = assign_clusters(snap, _pinned_cents(index, cents)).select(
        "vec_id", "cid"
    )
    raw_rows = (
        pq_encode_arrow(snap, model_raw)
        .join(assigned, "vec_id")
        .select("vec_id", "cid", "pq_code")
        .localCheckpoint(eager=True)
    )
    index.overwrite(
        raw_rows,
        partition_by=["cid"],
        props={
            "ann.ivfpq.booksVersion": str(books.version()),
            "ann.ivfpq.encoding": None,  # the pre-r11 property set
        },
    )
    assert "ann.ivfpq.encoding" not in index.properties()
    # raw-era read path still answers (exact re-rank finds self)
    queries = (
        src.read()
        .filter(F.col("vec_id") < 3)
        .select(F.col("vec_id").alias("query_id"), "embedding")
    )
    got = ivfpq_index_topk(
        index, cents, books, src, queries, k=3, nprobe=3, shortlist=60
    )
    top1 = {r.query_id: r.vec_id for r in got.filter(F.col("rk") == 1).collect()}
    assert top1 and all(v == q for q, v in top1.items())
    # raw-era equality proof + a fold through the raw apply path
    assert_ivfpq_index_matches_scratch(index, cents, books, src)
    upd = src.read().filter(F.col("vec_id") % 9 == 4).select(
        "vec_id", F.transform("embedding", lambda x: -x).alias("embedding")
    )
    src.merge_into(upd, on=["vec_id"], mode="dv")
    catchup_ivfpq_index(src, index, cents, books)
    assert "ann.ivfpq.encoding" not in index.properties()  # layout frozen
    assert_ivfpq_index_matches_scratch(index, cents, books, src)
    # one atomic rebuild upgrades to residual; everything re-certifies
    rebuild_ivfpq_index(src, index, cents, books)
    assert index.properties()["ann.ivfpq.encoding"] == "residual"
    assert_ivfpq_index_matches_scratch(index, cents, books, src)
    got2 = ivfpq_index_topk(
        index, cents, books, src, queries, k=3, nprobe=3, shortlist=60
    )
    top1b = {r.query_id: r.vec_id for r in got2.filter(F.col("rk") == 1).collect()}
    assert top1b and all(v == q for q, v in top1b.items())


def test_ivfpq_probe_batch_query_isolation(spark, tmp_path):
    """Per-query probe assignment (ADVICE r11): a query batched with
    others returns EXACTLY what it returns alone. Candidates and ADC
    LUTs derive from each query's OWN nprobe lists — never the batch's
    probe union, which the pre-r12 cross join scored (making batch
    composition observable in results and LUT count scale with the
    union of every query's probes)."""
    from mb_crdb_cdc_dlgen2_synapse_spark.operators.ann_index import (
        catchup_ivfpq_index,
        ivfpq_index_topk,
    )

    src = TxTable(spark, str(tmp_path / "src"))
    src.append(synthetic_embeddings(spark, 240))
    index = TxTable(spark, str(tmp_path / "idx"))
    cents = TxTable(spark, str(tmp_path / "cents"))
    books = TxTable(spark, str(tmp_path / "books"))
    catchup_ivfpq_index(src, index, cents, books, n_lists=6, m=8, kq=16)
    assert index.properties()["ann.ivfpq.encoding"] == "residual"
    q_ids = [0, 7, 40, 113]
    queries = src.read().filter(F.col("vec_id").isin(q_ids)).select(
        F.col("vec_id").cast("int").alias("query_id"), "embedding"
    ).localCheckpoint(eager=True)
    batch = {
        (r.query_id, r.rk): r.vec_id
        for r in ivfpq_index_topk(
            index, cents, books, src, queries, k=3, nprobe=2, shortlist=40
        ).collect()
    }
    assert len(batch) == 3 * len(q_ids)
    for qid in q_ids:
        solo = {
            (r.query_id, r.rk): r.vec_id
            for r in ivfpq_index_topk(
                index, cents, books, src,
                queries.filter(F.col("query_id") == qid),
                k=3, nprobe=2, shortlist=40,
            ).collect()
        }
        assert solo == {
            k: v for k, v in batch.items() if k[0] == qid
        }, f"query {qid}: batched result differs from solo run"


def test_ivfpq_rerank_falls_back_to_head_past_vacuum_horizon(spark, tmp_path):
    """ADVICE r11: a stale index whose ann.srcVersion watermark was
    vacuumed out of the source log degrades the exact-rerank fetch to
    the HEAD read with a RuntimeWarning (availability over snapshot
    coherence) — but ONLY for head queries: an explicit as_of pin still
    fails loudly, because silently re-ranking a time-travel query
    against a different corpus version would break as_of symmetry."""
    from mb_crdb_cdc_dlgen2_synapse_spark.operators.ann_index import (
        catchup_ivfpq_index,
        ivfpq_index_topk,
    )

    src = TxTable(spark, str(tmp_path / "src"))
    src.append(synthetic_embeddings(spark, 160))
    index = TxTable(spark, str(tmp_path / "idx"))
    cents = TxTable(spark, str(tmp_path / "cents"))
    books = TxTable(spark, str(tmp_path / "books"))
    catchup_ivfpq_index(src, index, cents, books, n_lists=4, m=8, kq=16)
    wm = int(index.properties()["ann.srcVersion"])
    # source advances past the watermark, then vacuum prunes the
    # watermark snapshot (log + files) — the index is now STALE beyond
    # the source's retention for its pinned rerank read
    src.append(synthetic_embeddings(spark, 200).filter(F.col("vec_id") >= 160))
    upd = src.read().filter(F.col("vec_id") % 5 == 0).select(
        "vec_id", F.transform("embedding", lambda x: -x).alias("embedding")
    )
    src.merge_into(upd, on=["vec_id"], mode="dv")
    src.write_checkpoint()
    src.vacuum(retain_hours=0.0)
    fresh_src = TxTable(spark, src.path)  # no memoized state for old versions
    with pytest.raises((FileNotFoundError, ValueError)):
        fresh_src.read(as_of=wm)
    queries = src.read().filter(F.col("vec_id") < 2).select(
        F.col("vec_id").cast("int").alias("query_id"), "embedding"
    )
    with pytest.warns(RuntimeWarning, match="unreconstructible"):
        got = ivfpq_index_topk(
            index, cents, books, fresh_src, queries, k=3, nprobe=2,
            shortlist=40,
        ).collect()
    assert len(got) == 6  # k rows per query, answered from the head read
    # explicit time travel stays loud
    with pytest.raises((FileNotFoundError, ValueError)):
        ivfpq_index_topk(
            index, cents, books, fresh_src, queries, k=3, nprobe=2,
            shortlist=40, as_of=index.version(),
        ).collect()
