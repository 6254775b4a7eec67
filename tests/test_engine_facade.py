"""Engine facade: every reference step has a working method (the
"switch from the reference" walk-through, end to end)."""

from __future__ import annotations

from pyspark.sql import types as T

from mb_crdb_cdc_dlgen2_synapse_spark.engine import Engine
from mb_crdb_cdc_dlgen2_synapse_spark.operators.cdc import orders_as_ride_envelopes
from mb_crdb_cdc_dlgen2_synapse_spark.sources.changegen import generate_changefeed

AFTER_SCHEMA = T.StructType(
    [
        T.StructField("city", T.StringType()),
        T.StructField("id", T.StringType()),
        T.StructField("rider_id", T.StringType()),
        T.StructField("revenue", T.DoubleType()),
    ]
)


def test_reference_walkthrough(spark, sf_dir, tmp_path):
    eng = Engine(spark, sf_dir)

    # step 1: change traffic lands as date-partitioned NDJSON (README:135-153)
    landing = str(tmp_path / "landing")
    fx = generate_changefeed(landing, n_rows=150, seed=3)

    # step 2: the Synapse query — raw-line scan + JSON_VALUE + aggregate
    lines = eng.raw_lines(f"{landing}/*/*.ndjson")
    totals = eng.flagship_revenue(lines)
    assert totals.count() == 9

    # step 2b: generalized WITH-clause extraction
    proj = eng.extract(lines, {"city": "$.after.city", "id": "$.after.id"})
    assert proj.columns == ["city", "id"]

    # step 3: what the reference can't do — silver zone + streaming merge
    silver = str(tmp_path / "silver")
    eng.materialize_silver(f"{landing}/*", AFTER_SCHEMA, silver, partition_granularity="month")
    assert spark.read.parquet(silver).count() > 0

    q = eng.start_changefeed_ingestion(
        landing, AFTER_SCHEMA, str(tmp_path / "state"), str(tmp_path / "ckpt")
    )
    q.awaitTermination()
    state = eng.read_tx_state(str(tmp_path / "state"))
    assert state.count() == len(fx.expected_state)

    # step 4: SQL front-end over the star schema
    assert eng.sql("SELECT count(*) AS n FROM orders").collect()[0]["n"] > 0


def test_entry_flagship_matches_engine(spark, sf_dir):
    eng = Engine(spark, sf_dir)
    lines = orders_as_ride_envelopes(eng.table("orders"))
    df = eng.flagship_revenue(lines)
    assert {r["city"] for r in df.collect()} == {
        "amsterdam", "boston", "los angeles", "new york", "paris", "rome",
        "san francisco", "seattle", "washington dc",
    }


def test_tx_ingestion_and_llm_surface(spark, sf_dir, tmp_path):
    """Round-2 facade surface: transactional ingestion round trip and the
    LLM-pipeline entry points."""
    from pyspark.sql import functions as F

    eng = Engine(spark, sf_dir)
    landing = str(tmp_path / "landing")
    fx = generate_changefeed(landing, n_rows=100, seed=5)
    table_dir = str(tmp_path / "tx_state")
    q = eng.start_changefeed_ingestion(
        landing, AFTER_SCHEMA, table_dir, str(tmp_path / "ckpt")
    )
    q.awaitTermination()
    state = eng.read_tx_state(table_dir)
    assert state.count() == len(fx.expected_state)
    assert len(eng.tx_table(table_dir).history()) > 0

    docs = eng.table("documents").limit(50)
    pairs = spark.createDataFrame([(1, 2)], "doc_a long, doc_b long")
    clusters = eng.dedup_clusters(docs.select("doc_id"), pairs)
    assert clusters.count() == 50

    emb = eng.table("embeddings").limit(20)
    queries = emb.limit(2).select(F.col("vec_id").alias("query_id"), "embedding")
    assert eng.knn(emb, queries, k=3).count() == 6
    qd = eng.quantize_embeddings(emb)
    assert qd.columns == ["vec_id", "scale", "qvec"]
    assert qd.count() == 20


def test_facade_round2_surface(spark, sf_dir):
    """The round-2 additions are reachable through the Engine facade."""
    from mb_crdb_cdc_dlgen2_synapse_spark.engine import Engine
    from pyspark.sql import functions as F

    e = Engine(spark, sf_dir)
    docs = e.table("documents")
    assert e.paragraph_dedup(docs).columns == ["doc_id", "dedup_text", "n_kept"]
    packed = e.pack_sequences(docs, budget=128)
    assert {"seq_id", "seq_offset", "seq_spans"} <= set(packed.columns)
    assert e.decontaminate(docs).columns == [
        "doc_id", "n_grams", "n_hits", "contamination",
    ]
    ev = e.table("events")
    out = e.asof_join(
        ev.filter(F.col("event_type") == "error").select("event_id", "user_id", "ts").limit(50),
        ev.filter(F.col("event_type") == "click").select(
            "user_id", "ts", F.col("value").alias("v")
        ),
        key="user_id", left_ts="ts", right_ts="ts", payload_cols=["v"],
    )
    assert "asof_v" in out.columns and out.count() == 50


def test_facade_session4_surface(spark, sf_dir, tmp_path):
    """The session-4 additions are reachable through the Engine facade."""
    from mb_crdb_cdc_dlgen2_synapse_spark.engine import Engine
    from pyspark.sql import functions as F

    e = Engine(spark, sf_dir)
    emb = e.table("embeddings")
    sd = e.semantic_dedup(emb, threshold=0.55)
    assert {"vec_id", "bucket", "cos_centroid", "is_kept"} <= set(sd.columns)
    q = emb.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    assert e.knn_compressed(emb, q, k=3).count() == 6
    orders = e.table("orders")
    sk = e.distinct_sketches(orders, ["o_orderpriority"], "o_custkey")
    assert e.sketch_rollup(sk, []).count() == 1
    t = e.tx_table(str(tmp_path / "t"))
    t.append(orders.limit(20).select("o_orderkey", "o_orderpriority"))
    t.add_column("flag", "string")
    hist = e.scd2(t)
    assert {"valid_from", "valid_to"} <= set(hist.columns)
    docs = e.table("documents")
    assert {"doc_id", "n_bigrams", "avg_nll"} <= set(
        e.lm_quality_scores(docs.limit(30)).columns
    )


def test_maintain_compacts_vacuums_and_prunes_log(spark, tmp_path):
    """engine.maintain(): one call bounds active files, reclaims
    unreferenced data, and prunes the log to the retained window — the
    maintenance cadence a long-running streaming pipeline schedules."""
    from mb_crdb_cdc_dlgen2_synapse_spark.engine import Engine
    from mb_crdb_cdc_dlgen2_synapse_spark.txlog import TxTable

    eng = Engine(spark)
    tdir = str(tmp_path / "t")
    t = TxTable(spark, tdir)
    df = spark.createDataFrame([(1, "x")], "k int, v string").coalesce(1)
    df = df.localCheckpoint(eager=True)
    for _ in range(10):
        t.append(df)
    res = eng.maintain(tdir, max_files=4, target_files=1, retain_versions=1)
    assert res["compacted"] is True
    t2 = TxTable(spark, tdir)
    assert len(t2.snapshot()[1]) == 1          # compacted to one file
    commits, ckpts = t2._list_log()
    assert len(commits) <= 1 and ckpts          # log pruned to ckpt+tail
    assert t2.read().count() == 10
    # idempotent second run: nothing left to compact
    res2 = eng.maintain(tdir, max_files=4, target_files=1)
    assert res2["compacted"] is False and t2.read().count() == 10


def test_sql_tx_queries_snapshot_views(spark, tmp_path):
    from mb_crdb_cdc_dlgen2_synapse_spark.engine import Engine
    from mb_crdb_cdc_dlgen2_synapse_spark.txlog import TxTable

    e = Engine(spark)
    t = TxTable(spark, str(tmp_path / "t"))
    t.append(spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string"))
    df = e.sql_tx(
        "SELECT count(*) AS n, max(k) AS mk FROM tx_t", {"tx_t": t.path}
    )
    r = df.collect()[0]
    assert (r.n, r.mk) == (2, 2)


def test_sql_tx_changes_views(spark, tmp_path):
    """table_changes-as-a-view: a SQL consumer reads the CDF with plain
    SQL over <name>__changes, snapshot + feed in one query."""
    from mb_crdb_cdc_dlgen2_synapse_spark.engine import Engine
    from mb_crdb_cdc_dlgen2_synapse_spark.txlog import TxTable

    eng = Engine(spark)
    d = str(tmp_path / "t")
    t = TxTable(spark, d)
    t.append(spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string"))
    v0 = t.version()
    t.append(spark.createDataFrame([(3, "c")], "k int, v string"))
    t.delete_where([("k", "==", 1)])
    got = eng.sql_tx(
        """
        SELECT _change_type AS ct, k FROM t__changes ORDER BY k, ct
        """,
        {"t": d},
        changes={"t": (v0, None)},
    ).collect()
    assert [(r.ct, r.k) for r in got] == [("delete", 1), ("insert", 3)]
    # snapshot view still registered alongside
    assert eng.sql_tx("SELECT COUNT(*) AS n FROM t", {"t": d}).collect()[0].n == 2
    import pytest as _pytest

    with _pytest.raises(ValueError, match="tables_map entry"):
        eng.sql_tx("SELECT 1", {"t": d}, changes={"u": (0, None)})
    with _pytest.raises(ValueError, match="from_version"):
        eng.sql_tx("SELECT 1", {"t": d}, changes={"t": (None, None)})


def test_ivfpq_index_facade_lifecycle(spark, tmp_path):
    """build_ivfpq_index + start_ivfpq_index_maintenance wire the full
    compressed-index lifecycle through the facade."""
    from pyspark.sql import functions as F

    from mb_crdb_cdc_dlgen2_synapse_spark.operators.ann_index import (
        assert_ivfpq_index_matches_scratch,
    )
    from mb_crdb_cdc_dlgen2_synapse_spark.operators.similarity import (
        synthetic_embeddings,
    )
    from mb_crdb_cdc_dlgen2_synapse_spark.txlog import TxTable

    eng = Engine(spark)
    src_dir = str(tmp_path / "src")
    dirs = {k: str(tmp_path / k) for k in ("idx", "cents", "books")}
    src = TxTable(spark, src_dir)
    src.append(synthetic_embeddings(spark, 120))
    wm = eng.build_ivfpq_index(
        src_dir, dirs["idx"], dirs["cents"], dirs["books"], n_lists=4, m=8
    )
    assert wm == src.version()
    gone = src.read().filter(F.col("vec_id") % 6 == 1).withColumn("_g", F.lit(True))
    src.merge_into(gone, on=["vec_id"], delete_when="_g", mode="dv")
    q = eng.start_ivfpq_index_maintenance(
        src_dir, dirs["idx"], dirs["cents"], dirs["books"], str(tmp_path / "ck")
    )
    q.awaitTermination(120)
    assert_ivfpq_index_matches_scratch(
        TxTable(spark, dirs["idx"]),
        TxTable(spark, dirs["cents"]),
        TxTable(spark, dirs["books"]),
        src,
    )


def test_hybrid_search_facade(spark, tmp_path):
    """Engine.hybrid_search composes both incremental index read paths
    with RRF — the facade form of the bm25_index hybrid capstone."""
    from pyspark.sql import functions as F

    from mb_crdb_cdc_dlgen2_synapse_spark.operators.ann_index import (
        catchup_ann_index,
    )
    from mb_crdb_cdc_dlgen2_synapse_spark.operators.bm25_index import (
        catchup_bm25_index,
    )
    from mb_crdb_cdc_dlgen2_synapse_spark.sources.tables import load_table
    from mb_crdb_cdc_dlgen2_synapse_spark.txlog import TxTable

    eng = Engine(spark)
    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    )
    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    src_d = TxTable(spark, str(tmp_path / "docs"))
    src_d.append(docs)
    bm25_dir = str(tmp_path / "bm25")
    catchup_bm25_index(src_d, TxTable(spark, bm25_dir))
    src_e = TxTable(spark, str(tmp_path / "emb"))
    src_e.append(emb.select("vec_id", "embedding"))
    ann_dir = str(tmp_path / "ann")
    catchup_ann_index(src_e, TxTable(spark, ann_dir), prefix_bits=4)

    tq = spark.createDataFrame(
        [(0, "vector"), (1, "spark")], "query_id int, term string"
    )
    vq = emb.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = eng.hybrid_search(bm25_dir, ann_dir, tq, vq, k=5).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r.query_id, []).append(r.rk)
    assert set(by_q) == {0, 1}
    assert all(sorted(v) == list(range(1, len(v) + 1)) for v in by_q.values())


def test_neardup_facade_lifecycle(spark, sf_dir, tmp_path):
    """The near-dup index surface a reference user migrating a dedup
    pipeline would call: build_lsh_index (CDF catch-up), neardup_pairs
    (corpus self-dedup from precomputed entries), neardup_search
    (incoming batch vs indexed corpus), then a maintenance catch-up
    after new traffic."""
    from pyspark.sql import functions as F

    from mb_crdb_cdc_dlgen2_synapse_spark.sources.tables import load_table
    from mb_crdb_cdc_dlgen2_synapse_spark.txlog import TxTable

    eng = Engine(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    src_dir = str(tmp_path / "docs")
    idx_dir = str(tmp_path / "bands")
    src = TxTable(spark, src_dir)
    src.append(docs.filter(F.col("doc_id") < 200))
    eng.build_lsh_index(src_dir, idx_dir)
    # exact copies appended -> pairs appear after ONE more catch-up
    src.append(
        src.read().filter(F.col("doc_id") % 50 == 0).select(
            (F.col("doc_id") + 5_000_000).alias("doc_id"), "text"
        )
    )
    eng.build_lsh_index(src_dir, idx_dir)
    pairs = {(r.doc_a, r.doc_b) for r in eng.neardup_pairs(idx_dir).collect()}
    assert (0, 5_000_000) in pairs  # copy shares every band with its source
    # probe an incoming batch without touching the corpus
    batch = docs.filter(F.col("doc_id") == 7).select(
        F.lit(9_000_007).alias("doc_id"), "text"
    )
    hits = eng.neardup_search(idx_dir, batch).collect()
    assert any(r.batch_doc == 9_000_007 and r.corpus_doc == 7 for r in hits)


def test_hybrid_search_ivfpq_facade(spark, sf_dir, tmp_path):
    """The compressed hybrid: BM25 inverted index × IVF-PQ IVFADC+R
    lists fused with RRF, all through the facade — both stages pruned
    index reads. Doc 0's own terms + its own embedding must fuse doc 0
    to the top (exact re-rank puts the identical vector at cosine 1,
    BM25 puts the source doc of the query terms first)."""
    from pyspark.sql import functions as F

    from mb_crdb_cdc_dlgen2_synapse_spark.operators.similarity import (
        synthetic_embeddings,
    )
    from mb_crdb_cdc_dlgen2_synapse_spark.operators.textops import tokens
    from mb_crdb_cdc_dlgen2_synapse_spark.sources.tables import load_table
    from mb_crdb_cdc_dlgen2_synapse_spark.txlog import TxTable

    eng = Engine(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    d = {k: str(tmp_path / k) for k in ("sd", "se", "bm", "iv", "ce", "bo")}
    TxTable(spark, d["sd"]).append(docs.filter(F.col("doc_id") < 200))
    emb = synthetic_embeddings(spark, 200)
    TxTable(spark, d["se"]).append(emb)
    eng.build_bm25_index(d["sd"], d["bm"])
    eng.build_ivfpq_index(d["se"], d["iv"], d["ce"], d["bo"], n_lists=4, m=8)
    # query 1 = doc 0's two rarest-ish tokens + doc 0's own vector
    toks = (
        tokens(docs.filter(F.col("doc_id") == 0))
        .groupBy("token").count().orderBy("count", "token").limit(2).collect()
    )
    q_terms = spark.createDataFrame(
        [(1, r.token) for r in toks], "query_id int, term string"
    )
    q_vecs = emb.filter(F.col("vec_id") == 0).select(
        F.lit(1).alias("query_id"), "embedding"
    )
    fused = eng.hybrid_search_ivfpq(
        d["bm"], d["iv"], d["ce"], d["bo"], d["se"], q_terms, q_vecs,
        k=5, nprobe=4, shortlist=64,
    ).collect()
    assert [r.rk for r in sorted(fused, key=lambda r: r.rk)] == list(
        range(1, len(fused) + 1)
    )
    top = min(fused, key=lambda r: r.rk)
    assert top.doc_id == 0 and top.rrf > 1.0 / 61  # ranked by BOTH systems


def test_hybrid_search_id_map_disjoint_id_spaces(spark, tmp_path):
    """ADVICE r11 (engine.py allowed-key rename): corpora whose document
    and embedding id spaces DIFFER must scope and fuse through an
    explicit (doc_id, vec_id) map, not the silent shared-id rename.
    Proof by equivalence: the same corpus indexed twice — once with
    vec_id == doc_id (the convention the rename assumes), once with
    every vec_id shifted +5000 plus the id_map — returns IDENTICAL
    fused rankings in doc-id space, allowed= scoping included. Without
    the map, the shifted run's vector side would be scoped by keys from
    the wrong id space (empty candidates, silently lexical-only)."""
    from pyspark.sql import functions as F

    from mb_crdb_cdc_dlgen2_synapse_spark.operators.ann_index import (
        catchup_ann_index,
    )
    from mb_crdb_cdc_dlgen2_synapse_spark.operators.bm25_index import (
        catchup_bm25_index,
    )
    from mb_crdb_cdc_dlgen2_synapse_spark.operators.similarity import (
        synthetic_embeddings,
    )
    from mb_crdb_cdc_dlgen2_synapse_spark.sources.tables import load_table
    from mb_crdb_cdc_dlgen2_synapse_spark.txlog import TxTable

    eng = Engine(spark)
    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    ).filter(F.col("doc_id") < 200)
    emb = synthetic_embeddings(spark, 200)
    src_d = TxTable(spark, str(tmp_path / "docs"))
    src_d.append(docs)
    bm25_dir = str(tmp_path / "bm25")
    catchup_bm25_index(src_d, TxTable(spark, bm25_dir))
    # identity-space index (vec_id == doc_id)
    se_a = TxTable(spark, str(tmp_path / "emb_a"))
    se_a.append(emb)
    ann_a = str(tmp_path / "ann_a")
    catchup_ann_index(se_a, TxTable(spark, ann_a), prefix_bits=4)
    # disjoint-space index (vec_id = doc_id + 5000) + the explicit map
    shifted = emb.select((F.col("vec_id") + 5000).alias("vec_id"), "embedding")
    se_b = TxTable(spark, str(tmp_path / "emb_b"))
    se_b.append(shifted)
    ann_b = str(tmp_path / "ann_b")
    catchup_ann_index(se_b, TxTable(spark, ann_b), prefix_bits=4)
    id_map = spark.range(200).select(
        F.col("id").alias("doc_id"), (F.col("id") + 5000).alias("vec_id")
    )

    tq = spark.createDataFrame(
        [(0, "vector"), (1, "spark")], "query_id int, term string"
    )
    vq = emb.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").cast("int").alias("query_id"), "embedding"
    )
    allowed = spark.range(200).filter(F.col("id") % 3 == 0).select(
        F.col("id").alias("doc_id")
    )

    def key(df):
        return sorted(
            (r.query_id, r.rk, r.doc_id, round(r.rrf, 9)) for r in df.collect()
        )

    for allow in (None, allowed):
        want = key(
            eng.hybrid_search(
                bm25_dir, ann_a, tq, vq, k=8, per_system_k=8, allowed=allow
            )
        )
        got = key(
            eng.hybrid_search(
                bm25_dir, ann_b, tq, vq, k=8, per_system_k=8,
                allowed=allow, id_map=id_map,
            )
        )
        assert got == want, f"id_map run diverged (allowed={allow is not None})"
        assert want, "empty fused result would certify nothing"
    # multi-vector collapse: two vectors of one doc fuse at the BEST rank
    dup_map = id_map.unionByName(
        spark.range(200).select(
            F.col("id").alias("doc_id"), (F.col("id") + 5000).alias("vec_id")
        )
    )
    got_dup = key(
        eng.hybrid_search(
            bm25_dir, ann_b, tq, vq, k=8, per_system_k=8, id_map=dup_map
        )
    )
    assert got_dup == key(
        eng.hybrid_search(bm25_dir, ann_b, tq, vq, k=8, per_system_k=8,
                          id_map=id_map)
    )


def test_semantic_dedup_facade(spark, tmp_path):
    """Engine.semantic_dedup_against_corpus + start_semantic_dedup_ingestion:
    the facade forms of the incremental semantic dedup family."""
    from pyspark.sql import functions as F

    from mb_crdb_cdc_dlgen2_synapse_spark.operators.ann_index import (
        catchup_ann_index,
    )
    from mb_crdb_cdc_dlgen2_synapse_spark.operators.similarity import (
        synthetic_embeddings,
    )
    from mb_crdb_cdc_dlgen2_synapse_spark.txlog import TxTable

    eng = Engine(spark)
    src = TxTable(spark, str(tmp_path / "src"))
    src.append(synthetic_embeddings(spark, 120))
    codes_dir = str(tmp_path / "codes")
    catchup_ann_index(src, TxTable(spark, codes_dir), prefix_bits=4)
    batch = src.read().filter(F.col("vec_id") < 5).select(
        (F.col("vec_id") + 7_000).alias("vec_id"), "embedding"
    )
    got = {
        r.vec_id: r.is_novel
        for r in eng.semantic_dedup_against_corpus(
            codes_dir, src.path, batch, threshold=0.95
        ).collect()
    }
    assert got and not any(got.values())  # exact re-embeds: all dups

    landing = str(tmp_path / "landing")
    synthetic_embeddings(spark, 30).write.parquet(f"{landing}/b1")
    stream = (
        spark.readStream.schema("vec_id long, embedding array<double>")
        .option("pathGlobFilter", "*.parquet")
        .parquet(f"{landing}/*")
    )
    eng.start_semantic_dedup_ingestion(
        stream, str(tmp_path / "state"), str(tmp_path / "codes2"),
        str(tmp_path / "ckpt"),
    ).awaitTermination()
    assert TxTable(spark, str(tmp_path / "state")).read().count() == 30
