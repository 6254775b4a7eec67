"""Similarity-search quality/invariant tests: ANN recall vs brute force,
normalization invariants, centroid reassembly."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mb_crdb_cdc_dlgen2_synapse_spark.operators import similarity
from mb_crdb_cdc_dlgen2_synapse_spark.sources.tables import load_table


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings")


@pytest.fixture(scope="module")
def queries(emb):
    return emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )


def test_bruteforce_self_is_top1(spark, emb, queries):
    top = similarity.brute_force_topk(emb, queries, k=1).collect()
    for r in top:
        assert r["vec_id"] == r["query_id"], "nearest neighbor of v must be v"
        assert r["cosine"] == pytest.approx(1.0, abs=1e-6)


def test_ann_recall_vs_bruteforce(spark, emb, queries):
    k = 10
    exact = similarity.brute_force_topk(emb, queries, k=k).collect()
    approx = similarity.ann_topk(emb, queries, k=k).collect()
    exact_sets = {}
    for r in exact:
        exact_sets.setdefault(r["query_id"], set()).add(r["vec_id"])
    approx_sets = {}
    for r in approx:
        approx_sets.setdefault(r["query_id"], set()).add(r["vec_id"])
    recalls = [
        len(exact_sets[q] & approx_sets.get(q, set())) / k for q in exact_sets
    ]
    # LSH with 6 planes on 64-dim data: expect meaningful (not perfect) recall
    assert sum(recalls) / len(recalls) >= 0.3, recalls


def test_normalized_vectors_have_unit_norm(spark, emb):
    df = similarity.with_normalized(emb.limit(50))
    norms = df.select(
        F.sqrt(
            F.aggregate(
                F.transform("unit_vec", lambda x: x * x), F.lit(0.0), lambda a, v: a + v
            )
        ).alias("n")
    ).collect()
    for r in norms:
        assert r["n"] == pytest.approx(1.0, abs=1e-9)


def test_centroid_dimension_and_order(spark, emb):
    cents = similarity.centroid_per_label(emb).collect()
    assert len(cents) > 0
    for r in cents:
        assert len(r["centroid"]) == 64


def _mean_recall(exact_rows, approx_rows, k):
    exact_sets, approx_sets = {}, {}
    for r in exact_rows:
        exact_sets.setdefault(r["query_id"], set()).add(r["vec_id"])
    for r in approx_rows:
        approx_sets.setdefault(r["query_id"], set()).add(r["vec_id"])
    recalls = [len(exact_sets[q] & approx_sets.get(q, set())) / k for q in exact_sets]
    return sum(recalls) / len(recalls)


def test_ivf_recall_vs_bruteforce(spark, emb, queries):
    k = 10
    exact = similarity.brute_force_topk(emb, queries, k=k).collect()
    approx = similarity.ivf_topk(emb, queries, k=k, nprobe=5).collect()
    # k-means lists track the vector geometry: probing 5 of 8 lists must
    # recover a solid majority of the true neighbors
    assert _mean_recall(exact, approx, k) >= 0.6


def test_ivf_kmeans_beats_label_quantizer(spark, emb, queries):
    """The coarse quantizer matters: k-means inverted lists must reach at
    least the recall of the degenerate label-column quantizer (the synthetic
    labels cluster only weakly, so geometry-driven lists should win)."""
    k = 10
    exact = similarity.brute_force_topk(emb, queries, k=k).collect()
    km = similarity.ivf_topk(emb, queries, k=k, nprobe=5).collect()
    lbl = similarity.ivf_topk_by_label(emb, queries, k=k, nprobe=5).collect()
    r_km = _mean_recall(exact, km, k)
    r_lbl = _mean_recall(exact, lbl, k)
    assert r_km >= r_lbl, (r_km, r_lbl)


def test_arrow_topk_equals_jvm_topk(spark, sf_dir):
    """The pandas_udf cosine variant must produce the same top-k as the JVM
    HOF baseline (same rounding, same tiebreak)."""
    from mb_crdb_cdc_dlgen2_synapse_spark.operators import similarity
    from mb_crdb_cdc_dlgen2_synapse_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    jvm = similarity.brute_force_topk(emb, queries, k=5).collect()
    arrow = similarity.brute_force_topk_arrow(emb, queries, k=5).collect()
    jvm_map = {(r.query_id, r.rk): (r.vec_id, r.cosine) for r in jvm}
    arrow_map = {(r.query_id, r.rk): (r.vec_id, r.cosine) for r in arrow}
    assert jvm_map.keys() == arrow_map.keys()
    for key, (vid, cos) in jvm_map.items():
        avid, acos = arrow_map[key]
        assert avid == vid and abs(acos - cos) < 1e-6, (key, (vid, cos), (avid, acos))


def test_semantic_dedup_keep_policy(spark, emb):
    """SemDeDup invariants: no rows lost; non-duplicates all kept; every
    bucket containing duplicates keeps EXACTLY one of them — the one least
    similar to the bucket centroid (the published keep-the-outlier policy)."""
    from collections import defaultdict

    from mb_crdb_cdc_dlgen2_synapse_spark.operators.dedup import semantic_dedup

    thr = 0.55
    out = semantic_dedup(emb, threshold=thr).collect()
    assert len(out) == emb.count()
    by_bucket = defaultdict(list)
    for r in out:
        by_bucket[r.bucket].append(r)
    n_dup_buckets = 0
    for rows in by_bucket.values():
        dups = [r for r in rows if r.cos_centroid >= thr]
        for r in rows:
            if r.cos_centroid < thr:
                assert r.is_kept  # non-duplicates always survive
        if dups:
            n_dup_buckets += 1
            kept = [r for r in dups if r.is_kept]
            assert len(kept) == 1
            assert kept[0].cos_centroid == min(r.cos_centroid for r in dups)
    assert n_dup_buckets > 0  # fixture exercises the dedup branch


def test_hamming_binary_self_zero_and_recall(spark, emb, queries):
    """Binary-quantized Hamming retrieval: every query is its own distance-0
    match, and hamming top-20 recalls a meaningful share of the exact
    cosine top-5 (1-bit codes are a coarse first stage — recall >= 0.4 per
    query on this corpus, >= 0.5 averaged)."""
    from collections import defaultdict

    h = similarity.knn_hamming_topk(emb, queries, k=20).collect()
    c = similarity.brute_force_topk(emb, queries, k=5).collect()
    hs, cs = defaultdict(set), defaultdict(set)
    for r in h:
        hs[r.query_id].add(r.vec_id)
        if r.vec_id == r.query_id:
            assert r.hamming == 0
    for r in c:
        cs[r.query_id].add(r.vec_id)
    assert set(hs) == set(cs)
    recalls = [len(hs[q] & cs[q]) / 5 for q in cs]
    assert all(r >= 0.4 for r in recalls), recalls
    assert sum(recalls) / len(recalls) >= 0.5, recalls


def test_bucketed_hamming_prunes_files_and_bounds_recall(spark, emb, queries, tmp_path):
    """The LSH-prefix-bucketed binary-code table: a radius-1 probe must (a)
    open only the probed bucket partitions (log-level file pruning — the
    scan cost argument), (b) keep every query's distance-0 self match (a
    vector's prefix always matches its own bucket), and (c) recall a
    meaningful share of the FULL Hamming scan's top-k."""
    from collections import defaultdict

    from mb_crdb_cdc_dlgen2_synapse_spark.txlog import (
        _file_may_match,
        _partition_values,
    )

    table = similarity.materialize_binary_codes(
        emb, str(tmp_path / "codes"), prefix_bits=4
    )
    # (a) pruning: per query the probe is 5 of 16 buckets; keep the BATCH
    # small (2 queries) so the union stays a strict subset and the file
    # pruning is observable
    queries2 = queries.filter(F.col("query_id") < 2)
    q_buckets = {
        r.q_bucket
        for r in similarity.binary_quantize(queries2)
        .select(
            F.col("b_lo").bitwiseAND(F.lit(15)).cast("int").alias("q_bucket")
        )
        .distinct()
        .collect()
    }
    probe = set()
    for b in q_buckets:
        probe.update(similarity.prefix_probe_buckets(b, 4, 1))
    _v, active, _s = table.snapshot()
    stats = table.file_stats()
    kept = [
        f
        for f in active
        if _file_may_match(
            stats.get(f), _partition_values(f), [("bucket", "in", sorted(probe))]
        )
    ]
    assert kept and len(kept) < len(active), (len(kept), len(active))
    assert all(int(_partition_values(f)["bucket"]) in probe for f in kept)

    # (b)+(c): self-match and recall vs the unpruned Hamming scan (full
    # 5-query batch — recall is per query, independent of the union)
    got = similarity.probed_hamming_topk(
        table, queries, k=10, prefix_bits=4, radius=1
    ).collect()
    full = similarity.knn_hamming_topk(emb, queries, k=10).collect()
    gs, fs = defaultdict(set), defaultdict(set)
    for r in got:
        gs[r.query_id].add(r.vec_id)
        if r.vec_id == r.query_id:
            assert r.hamming == 0
    for r in full:
        fs[r.query_id].add(r.vec_id)
    assert set(gs) == set(fs)
    for q in fs:
        assert q in gs[q] or any(r.vec_id == q for r in got if r.query_id == q)
    recalls = [len(gs[q] & fs[q]) / 10 for q in fs]
    assert sum(recalls) / len(recalls) >= 0.5, recalls


def test_balanced_prefix_dims_avoid_biased_dimensions(spark):
    """choose_balanced_prefix_dims must skip dimensions whose sign bit is
    lopsided (the clustered-skew regime: biased dims put ~every vector in
    one bucket) and pick evenly-splitting dims instead."""
    from mb_crdb_cdc_dlgen2_synapse_spark.operators.similarity import (
        choose_balanced_prefix_dims,
        clustered_embeddings,
    )

    c = clustered_embeddings(spark, 5000, prefix_bits=4, bias=1.2)
    dims = choose_balanced_prefix_dims(c, 4)
    assert len(dims) == 4
    assert not set(dims) & {0, 1, 2, 3}  # the biased dims are rejected


def test_auto_bits_restore_pruning_on_clustered_corpus(spark, tmp_path):
    """The round-5 measured failure and its fix, end to end: on a
    hot-bucket corpus the default prefix collapses into ~one bucket
    (pruning gone); auto_bits re-buckets by balanced dims, the probe
    reads the layout from the table's OWN ann.prefixDims property, bucket
    occupancy spreads, and recall on near-neighbor queries stays 1.0."""
    from mb_crdb_cdc_dlgen2_synapse_spark.operators import similarity

    n, nq, p = 20_000, 10, 4
    c = similarity.clustered_embeddings(spark, n, prefix_bits=p, bias=1.2)
    ids = [int(i * n / nq) + 1 for i in range(nq)]
    q = (
        similarity.clustered_embeddings(spark, n, prefix_bits=p, bias=1.2)
        .filter(F.col("vec_id").isin(ids))
        .select(
            (F.array_position(
                F.array(*[F.lit(i) for i in ids]), F.col("vec_id")
            ).cast("int") - 1).alias("query_id"),
            F.transform(
                F.col("embedding"),
                lambda x, i: x
                + 0.1 * F.sin(F.col("vec_id") * 31.0 + i.cast("double") * 1.3),
            ).alias("embedding"),
        )
        .localCheckpoint(eager=True)
    )
    truth = {
        (r.query_id, r.vec_id)
        for r in similarity.knn_hamming_topk(c, q, k=5).collect()
    }

    def occupancy(table):
        hist = {
            r.bucket: r.cnt
            for r in table.read()
            .groupBy("bucket")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .collect()
        }
        return max(hist.values()) / n

    t_default = similarity.materialize_binary_codes(
        c, str(tmp_path / "default"), prefix_bits=p
    )
    t_auto = similarity.materialize_binary_codes(
        c, str(tmp_path / "auto"), prefix_bits=p, auto_bits=True
    )
    assert occupancy(t_default) > 0.9   # one hot bucket: pruning is dead
    assert occupancy(t_auto) < 0.25     # balanced dims spread the corpus
    assert t_auto.properties()["ann.prefixDims"]
    # probe through a FRESH handle (the property is the only channel)
    from mb_crdb_cdc_dlgen2_synapse_spark.txlog import TxTable

    fresh = TxTable(spark, str(tmp_path / "auto"))
    got = {
        (r.query_id, r.vec_id)
        for r in similarity.probed_hamming_topk(
            fresh, q, k=5, prefix_bits=p, radius=2
        ).collect()
    }
    assert len(got & truth) / len(truth) == 1.0


def test_multiprobe_lsh_recall_beats_single_probe(spark, emb, queries):
    """Multi-probe (Hamming-1 neighbor buckets) dominates single-probe:
    candidates are a strict superset per table, so recall can only rise;
    on the 4-plane/8-table gate configuration it clears the 0.8 floor."""
    k = 5
    exact = similarity.brute_force_topk(emb, queries, k=k)
    got = similarity.ann_topk(
        emb, queries, k=k, n_planes=4, n_tables=8, multiprobe=1
    )
    contract = similarity.retrieval_contract(
        got.select("query_id", "vec_id"),
        exact.select("query_id", "vec_id"),
        floor=0.8,
    ).collect()
    assert contract and all(r.recall_ok for r in contract), contract
    single = similarity.ann_topk(emb, queries, k=k, n_planes=4, n_tables=8)
    def hits(df):
        e = {}
        for r in exact.collect():
            e.setdefault(r.query_id, set()).add(r.vec_id)
        return sum(
            1 for r in df.collect() if r.vec_id in e.get(r.query_id, set())
        )
    assert hits(got) >= hits(single)


def test_retrieval_contract_shape_and_floor_semantics(spark):
    """retrieval_contract: n_results counts got rows, recall_ok compares
    hit count to floor*n_results with >= (boundary inclusive)."""
    got = spark.createDataFrame(
        [(1, 10), (1, 11), (1, 12), (1, 13), (1, 14)], "query_id long, vec_id long"
    )
    exact = spark.createDataFrame(
        [(1, 10), (1, 11), (1, 12), (1, 13), (1, 99)], "query_id long, vec_id long"
    )
    row = similarity.retrieval_contract(got, exact, floor=0.8).collect()[0]
    assert (row.query_id, row.n_results, row.recall_ok) == (1, 5, True)
    row = similarity.retrieval_contract(got, exact, floor=0.81).collect()[0]
    assert row.recall_ok is False


def test_filtered_probe_equals_prefiltered_corpus(spark, emb, queries, tmp_path):
    """probed_hamming_topk(allowed=...) must equal the same probe over a
    codes table built from the pre-filtered corpus: filtering happens
    BEFORE ranking (a doc outside the predicate can never displace an
    allowed one from the top-k), and non-allowed ids never appear."""
    table = similarity.materialize_binary_codes(
        emb, str(tmp_path / "codes_all"), prefix_bits=4
    )
    pre = similarity.materialize_binary_codes(
        emb.filter(F.col("vec_id") % 3 == 0),
        str(tmp_path / "codes_pre"),
        prefix_bits=4,
    )
    allowed = emb.filter(F.col("vec_id") % 3 == 0).select("vec_id")
    key = lambda df: sorted(
        (r.query_id, r.rk, r.vec_id, r.hamming) for r in df.collect()
    )
    got = similarity.probed_hamming_topk(
        table, queries, k=5, prefix_bits=4, radius=2, allowed=allowed
    )
    rows = got.collect()
    assert rows and all(r.vec_id % 3 == 0 for r in rows)
    want = similarity.probed_hamming_topk(
        pre, queries, k=5, prefix_bits=4, radius=2
    )
    assert key(got) == key(want)


def test_cosine_pairs_kernel_bit_identical_to_hof(spark):
    """The r13 Arrow pair kernel must produce BIT-identical doubles to
    the interpreted aggregate/zip_with cosine (strict left-fold), with
    identical null semantics for ragged/null inputs — the guarantee
    every rounded-6dp oracle hash rides on."""
    import math
    import random

    random.seed(13)
    rows = [
        (
            i,
            [random.uniform(-1, 1) for _ in range(64)],
            [random.uniform(-1, 1) for _ in range(64)],
        )
        for i in range(2000)
    ]
    rows.append((2000, [1.0] * 32, [1.0] * 64))  # ragged -> null cosine
    df = spark.createDataFrame(
        rows, "id long, a array<double>, b array<double>"
    ).unionByName(
        spark.createDataFrame(
            [(2001, None, [1.0] * 64)], "id long, a array<double>, b array<double>"
        )
    )
    hof = {
        r.id: r.c
        for r in df.select(
            "id",
            (
                similarity._dot(F.col("a"), F.col("b"))
                / (similarity._norm(F.col("a")) * similarity._norm(F.col("b")))
            ).alias("c"),
        ).collect()
    }
    kern = {
        r.c_id: r.c
        for r in similarity.cosine_pairs(
            df.withColumnRenamed("id", "c_id"), "a", "b", "c"
        ).collect()
    }
    assert set(hof) == set(kern)
    for i, x in hof.items():
        y = kern[i]
        if x is None or (isinstance(x, float) and math.isnan(x)):
            assert y is None or math.isnan(y)
        else:
            assert x == y, (i, repr(x), repr(y))


def test_cosine_pairs_kernel_raises_on_zero_norm_like_ansi(spark):
    """Spark 4 ANSI Divide raises DIVIDE_BY_ZERO on a 0.0 double divisor;
    the kernel keeps zero-norm inputs equally loud."""
    df = spark.createDataFrame(
        [(1, [0.0] * 64, [1.0] * 64)], "id long, a array<double>, b array<double>"
    )
    with pytest.raises(Exception):
        df.select(
            (
                similarity._dot(F.col("a"), F.col("b"))
                / (similarity._norm(F.col("a")) * similarity._norm(F.col("b")))
            ).alias("c")
        ).collect()
    with pytest.raises(Exception):
        similarity.cosine_pairs(df, "a", "b", "c").collect()


def test_unit_vectors_raises_ansi_divide_by_zero_on_zero_norm(spark):
    """The unit_vectors kernel's zero-norm error carries the same ANSI
    DIVIDE_BY_ZERO token as with_normalized's JVM form and the
    cosine_pairs kernel."""
    df = spark.createDataFrame(
        [(1, [1.0] * 8), (2, [0.0] * 8)], "id long, embedding array<double>"
    )
    with pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
        similarity.with_normalized(df).collect()
    with pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
        similarity.unit_vectors(df).collect()


def test_lsh_key_kernels_bit_identical_to_expression_form(spark):
    """lsh_table_keys and the kernelized lsh_bucket_signatures must equal
    the _lsh_bucket_expr expression tree bucket-for-bucket, including the
    zero-vector and ragged-vector edge rows (null dot -> bit 0)."""
    import random

    random.seed(7)
    rows = [
        (i, [random.uniform(-1, 1) for _ in range(64)]) for i in range(1000)
    ]
    rows += [(1000, [0.0] * 64), (1001, [1.0] * 32)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    # multi-table kernel vs posexplode(array(expr...))
    exprs = [
        similarity._lsh_bucket_expr(4, 64, "embedding", f"lsh{t}")
        for t in range(3)
    ]
    want = {
        (r.vec_id, r.tbl): r.bucket
        for r in emb.select(
            "vec_id", F.posexplode(F.array(*exprs)).alias("tbl", "bucket")
        ).collect()
    }
    got = {
        (r.vec_id, r.tbl): r.bucket
        for r in similarity.lsh_table_keys(
            emb, "vec_id", 4, 64, 3
        ).collect()
    }
    assert want == got
    # single-seed pass-through kernel vs withColumn(expr)
    want1 = {
        r.vec_id: r.bucket
        for r in emb.withColumn(
            "bucket", similarity._lsh_bucket_expr(6, 64, "embedding", "semdedup")
        ).collect()
    }
    sig = similarity.lsh_bucket_signatures(emb, 6, 64, "embedding", "semdedup")
    assert sig.columns == ["vec_id", "embedding", "bucket"]
    got1 = {r.vec_id: r.bucket for r in sig.collect()}
    assert want1 == got1


def test_lsh_table_keys_requires_tables_or_seeds(spark):
    """Neither ``n_tables`` nor ``seeds``: a ValueError naming both
    arguments, raised before any Spark work (not ``range(None)``)."""
    emb = spark.createDataFrame([(1, [1.0, -1.0])], "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="n_tables.*seeds"):
        similarity.lsh_table_keys(emb, "vec_id", 2, 2, n_tables=None, seeds=None)
    got = similarity.lsh_table_keys(emb, "vec_id", 2, 2, seeds=["a", "b"])
    assert sorted(r.tbl for r in got.collect()) == [0, 1]
