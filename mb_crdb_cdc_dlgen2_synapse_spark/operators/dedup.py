"""Deduplication operators (SURVEY.md §2.8 X1/X2): exact, MinHash+LSH,
SimHash, and n-gram Jaccard — all shuffle-bounded, no pairwise O(n²) scan.

Scale notes (the point of each design):
- exact: one hash-groupBy; the md5 key shuffles ~16 bytes/doc, not the text.
- MinHash/LSH: signature = per-seed min over shingle hashes (map-side
  aggregable); candidate generation is an equi-join on band keys, so cost is
  driven by bucket collisions, never n².
- SimHash: near-dup via Hamming-adjacent bucket keys, again equi-join only.
- n-gram Jaccard: exact verification, but only over LSH/shingle-bucket
  candidates — the verify join, not a cross join.

Hashes are md5-prefix based (not Spark's xxhash64) so every step is
reproducible in any engine — the DuckDB oracle replicates them bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F


def _hash64(col: F.Column) -> F.Column:
    """Deterministic unsigned 32-bit-ish hash from an md5 prefix (engine-portable)."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("bigint")


def with_content_hash(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """X1 key: md5 over whitespace-normalized lowercase text."""
    norm = F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " ")
    return documents.withColumn("content_hash", F.md5(norm))


def exact_duplicate_groups(documents: DataFrame) -> DataFrame:
    """X1: exact dedup — groups with >1 doc sharing a content hash.

    Returns (content_hash, n_dups, keep_doc_id): the canonical survivor is
    the minimum doc_id (deterministic policy).
    """
    return (
        with_content_hash(documents)
        .groupBy("content_hash")
        .agg(F.count(F.lit(1)).alias("n_dups"), F.min("doc_id").alias("keep_doc_id"))
        .filter(F.col("n_dups") > 1)
    )


def exact_dedup(documents: DataFrame) -> DataFrame:
    """X1: survivors only — min doc_id per content hash (whole corpus)."""
    return (
        with_content_hash(documents)
        .groupBy("content_hash")
        .agg(F.min("doc_id").alias("doc_id"), F.count(F.lit(1)).alias("n_copies"))
    )


def _spread(df: DataFrame) -> DataFrame:
    """Ensure CPU-heavy per-row pipelines don't serialize on a single task:
    a small single-file (one-row-group) source scans as ONE partition, which
    pins all shingling/hashing to one core. Repartition only when below the
    session's parallelism — on a many-file 100 TB input this is a no-op (the
    scan already has more partitions than cores); locally it costs one tiny
    shuffle of the input rows and buys core-count speedup."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def word_shingles(documents: DataFrame, k: int = 3, text_col: str = "text") -> DataFrame:
    """Distinct k-word shingles per document (the MinHash/Jaccard item set).

    Pure higher-order functions: tokenize -> sliding window via
    transform(sequence) -> distinct. Stays one row per doc until exploded.
    """
    documents = _spread(documents)
    toks = F.filter(F.split(F.lower(F.col(text_col)), r"\s+"), lambda t: t != "")
    # drop zero-token docs BEFORE shingling: sequence(0,0) over an empty
    # token array would otherwise yield one empty shingle
    tokenized = documents.select("doc_id", toks.alias("tk")).filter(F.size("tk") > 0)
    idx = F.sequence(F.lit(0), F.greatest(F.size("tk") - k, F.lit(0)))
    sh = F.array_distinct(
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(F.col("tk"), i + 1, k)))
    )
    return tokenized.select("doc_id", sh.alias("shingles"))


def shingle_rows(documents: DataFrame, k: int = 3, text_col: str = "text") -> DataFrame:
    """Distinct k-word shingles, one ROW per (doc_id, shingle) — the form
    every consumer actually wants (they all explode the array immediately).

    Built from posexplode + ``lead`` windows instead of higher-order
    ``transform`` lambdas: the window form stays inside whole-stage codegen
    and measured ~15x faster on the same corpus (HOF lambdas are
    interpreted per element). One shuffle on doc_id, which downstream
    per-doc aggregates (MinHash minima, Jaccard sizes) then reuse.
    ``word_shingles`` keeps the array-per-doc API for set-shaped callers.
    """
    d = _spread(documents)
    toks = d.select(
        "doc_id",
        F.posexplode(
            F.filter(F.split(F.lower(F.col(text_col)), r"\s+"), lambda t: t != "")
        ).alias("pos", "tok"),
    )
    w = W.partitionBy("doc_id").orderBy("pos")
    leads = [F.lead("tok", i).over(w) for i in range(1, k)]
    # valid starts: full k-gram available, plus pos==0 for docs shorter than
    # k tokens (concat_ws skips the null leads) — identical semantics to the
    # slice-based array form
    return (
        toks.select(
            "doc_id",
            "pos",
            F.concat_ws(" ", F.col("tok"), *leads).alias("s"),
            leads[-1].alias("_full"),
        )
        .filter(F.col("_full").isNotNull() | (F.col("pos") == 0))
        .select("doc_id", "s")
        .distinct()
    )


#: prime modulus + affine hash family for MinHash: h_i(x) = (a_i*x + b_i) mod P.
#: One base md5 per shingle, then pure arithmetic per seed — 16x fewer digest
#: calls than hashing (seed || shingle) per seed, and trivially portable to the
#: SQL oracle since the (a_i, b_i) constants are plain literals.
MINHASH_P = 2147483647  # 2^31 - 1

def minhash_params(n_hashes: int) -> list[tuple[int, int]]:
    return [
        ((i * 2654435761 + 1) % MINHASH_P | 1, (i * 2654435789 + 40503) % MINHASH_P)
        for i in range(n_hashes)
    ]


def minhash_signatures(
    documents: DataFrame,
    n_hashes: int = 16,
    shingle_k: int = 3,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """X2 step 1: MinHash signature per doc as array<bigint> of length
    ``n_hashes`` — min over shingles of an affine family over one base hash.

    Shape matters for scale: explode shingles, hash each ONCE, then compute
    all ``n_hashes`` minima as plain ``min()`` aggregates in a single
    groupBy.  Aggregates stay inside whole-stage codegen with map-side
    partial combine; the earlier array-lambda formulation
    (``array_min(transform(...))``) ran interpreted per element and was
    ~50x slower on the same data, and shingle GENERATION itself now uses
    the codegen'd window form (shingle_rows) for the same reason.
    """
    expl = shingles if shingles is not None else shingle_rows(documents, k=shingle_k)
    h = (_hash64(F.col("s")) % MINHASH_P).alias("h")
    # each aggregate (and the final array) is one parsed SQL expression —
    # the Column-arithmetic list comprehension cost ~6 py4j round trips
    # per hash of pure plan construction, paid on every signature build
    return (
        expl.select("doc_id", h)
        .groupBy("doc_id")
        .agg(
            *[
                F.expr(f"min((h * {a} + {b}) % {MINHASH_P})").alias(f"mh{i}")
                for i, (a, b) in enumerate(minhash_params(n_hashes))
            ]
        )
        .select(
            "doc_id",
            F.expr(
                "array(" + ", ".join(f"mh{i}" for i in range(n_hashes)) + ")"
            ).alias("sig"),
        )
    )


def lsh_candidates(
    documents: DataFrame,
    n_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 3,
    max_bucket: int | None = 4096,
) -> DataFrame:
    """X2 step 2: banded LSH — docs sharing any band of the signature become
    candidate pairs. Equi-join on (band_id, band_key): cost tracks bucket
    sizes, never n². Returns (doc_a, doc_b, n_shared_bands), doc_a < doc_b.

    ``max_bucket`` is the SKEW GUARD: one band key shared by B docs emits
    ~B²/2 pairs from its bucket, so a single near-universal key (massed
    boilerplate, templated or near-empty docs collapsing to one signature
    band) turns the equi-join quadratic — the measured adversarial case in
    SCALING.md. HOT keys (bucket size > cap) are found with one map-side-
    combined count aggregate — at most corpus/max_bucket of them can
    exist, so the hot-key relation is tiny by construction — and removed
    from the band entries with a BROADCAST anti-join (no extra shuffle of
    the entries). Per-bucket join cost is bounded at max_bucket² while
    every natural bucket is untouched (corpus buckets measure orders of
    magnitude below the default; the oracled dedup queries are unchanged
    by the cap). Members of a dropped bucket are near-identical mass
    duplicates — exact dedup (content hash) still catches the identical
    ones, and docs sharing a second, cooler band keep their candidacy.
    ``None`` disables the guard."""
    rows = n_hashes // bands
    # materialize signatures ONCE before the self-join: the two join sides
    # are otherwise separate plans, and Spark's ReusedExchange does not fire
    # across the alias pair — without this the whole shingle+minhash
    # computation runs twice (measured 1.76 s -> 1.29 s at sf0.1). Signatures
    # are n_docs x n_hashes ints — tiny next to the corpus — so pinning them
    # is the right trade at any scale (Spark ML's MinHashLSH caches the same
    # relation).
    sigs = minhash_signatures(documents, n_hashes, shingle_k).localCheckpoint(
        eager=True
    )
    band_entries = sigs.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_id"),
                        F.concat_ws("-", *[
                            F.element_at("sig", b * rows + r + 1).cast("string")
                            for r in range(rows)
                        ]).alias("band_key"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band"),
    ).select("doc_id", "band.band_id", "band.band_key")
    return _band_pairs(band_entries, max_bucket)


def _band_pairs(band_entries: DataFrame, max_bucket: int | None) -> DataFrame:
    """(doc_a, doc_b, n_shared_bands), doc_a < doc_b, from (doc_id,
    band_id, band_key) entries: the hot-bucket guard of ``lsh_candidates``
    then the (band_id, band_key) self-equi-join."""
    if max_bucket is not None:
        hot = (
            band_entries.groupBy("band_id", "band_key")
            .agg(F.count(F.lit(1)).alias("__bsz"))
            .filter(F.col("__bsz") > max_bucket)
            .select("band_id", "band_key")
        )
        band_entries = band_entries.join(
            F.broadcast(hot), ["band_id", "band_key"], "left_anti"
        )
    a = band_entries.alias("a")
    b = band_entries.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_shared_bands"))
    )


def jaccard_pairs(
    documents: DataFrame, shingle_k: int = 3, threshold: float = 0.5
) -> DataFrame:
    """X2 verify / n-gram Jaccard dedup: exact Jaccard over shingle sets for
    docs sharing >=1 shingle (shingle-bucket candidate join).

    |A∩B| comes from the shingle-equi-join match count; |A∪B| = |A|+|B|-∩.
    Only candidate pairs are scored — never the full cross product.
    """
    exploded = shingle_rows(documents, k=shingle_k).withColumnRenamed("s", "shingle")
    sizes = exploded.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a, b = exploded.alias("a"), exploded.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))).alias(
                "jaccard"
            ),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def ppjoin_pairs(
    documents: DataFrame, shingle_k: int = 3, threshold: float = 0.5
) -> DataFrame:
    """Prefix-filtered exact set-similarity join (AllPairs / PPJoin —
    Bayardo et al. WWW 2007, Xiao et al. WWW 2008): the same output as
    :func:`jaccard_pairs` (exact Jaccard >= threshold over distinct-shingle
    sets, no false negatives, no false positives), but candidate pairs come
    only from documents sharing a shingle in their RARE-SHINGLE PREFIX
    under a global (df asc, shingle asc) ordering, with a length filter.

    Why it matters at 100 TB: the any-shared-shingle candidate join
    (:func:`jaccard_pairs`) explodes quadratically on hot shingles — a
    boilerplate n-gram shared by 1M docs alone yields ~5·10^11 candidate
    rows. The prefix join touches each document's p = n - ceil(t·n) + 1
    RAREST shingles only, so hot shingles fall out of the candidate space
    entirely unless a doc is mostly boilerplate — and the result is still
    EXACT (the prefix theorem: two sets with Jaccard >= t must share at
    least one token within those prefixes). The length filter (J >= t
    implies t·|B| <= |A| <= |B|/t) prunes further before verification.

    Plan shape: one df aggregation (shuffle on shingle), one per-doc
    row_number window (shuffle on doc_id, reused by the size aggregate),
    the prefix self-equi-join, then verification joins bounded by the
    candidate count. Verification re-joins the FULL shingle sets, so the
    reported jaccard is exact, not prefix-approximated.
    """
    # The shingle relation feeds FIVE consumers (df, sizes, prefix, and both
    # verification sides); without a checkpoint Spark re-runs the
    # posexplode+window shingle derivation for each (ReusedExchange does not
    # fire across the aliases) — same fix as the minhash band join above.
    exploded = (
        shingle_rows(documents, k=shingle_k)
        .withColumnRenamed("s", "shingle")
        .localCheckpoint(eager=False)
    )
    sizes = exploded.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    df_tbl = exploded.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    w = W.partitionBy("doc_id").orderBy(F.col("df").asc(), F.col("shingle").asc())
    prefix = (
        exploded.join(df_tbl, "shingle")
        .join(sizes, "doc_id")
        .withColumn("rn", F.row_number().over(w))
        .filter(
            F.col("rn")
            <= F.col("n_sh") - F.ceil(F.lit(threshold) * F.col("n_sh")) + F.lit(1)
        )
        .select("doc_id", "shingle", "n_sh")
    )
    a, b = prefix.alias("a"), prefix.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            # J >= t forces min(|A|,|B|) >= t * max(|A|,|B|)
            & (F.col("b.n_sh") * F.lit(threshold) <= F.col("a.n_sh"))
            & (F.col("a.n_sh") * F.lit(threshold) <= F.col("b.n_sh")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    ea = exploded.select(F.col("doc_id").alias("doc_a"), "shingle")
    eb = exploded.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (
        cand.join(ea, "doc_a")
        .join(eb, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))).alias(
                "jaccard"
            ),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def ppjoin_candidate_count(
    documents: DataFrame, shingle_k: int = 3, threshold: float = 0.5
) -> tuple[int, int]:
    """Receipt helper: (prefix-filtered candidate pairs, any-shared-shingle
    candidate pairs) for the same corpus/threshold — the scale argument for
    :func:`ppjoin_pairs` in one number. Driver-side counts of two small
    aggregates; not a hot path.
    """
    exploded = shingle_rows(documents, k=shingle_k).withColumnRenamed("s", "shingle")
    sizes = exploded.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    df_tbl = exploded.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    w = W.partitionBy("doc_id").orderBy(F.col("df").asc(), F.col("shingle").asc())
    prefix = (
        exploded.join(df_tbl, "shingle")
        .join(sizes, "doc_id")
        .withColumn("rn", F.row_number().over(w))
        .filter(
            F.col("rn")
            <= F.col("n_sh") - F.ceil(F.lit(threshold) * F.col("n_sh")) + F.lit(1)
        )
        .select("doc_id", "shingle", "n_sh")
    )

    def _pairs(rel: DataFrame, with_len: bool) -> int:
        a, b = rel.alias("a"), rel.alias("b")
        cond = (F.col("a.shingle") == F.col("b.shingle")) & (
            F.col("a.doc_id") < F.col("b.doc_id")
        )
        if with_len:
            cond = (
                cond
                & (F.col("b.n_sh") * F.lit(threshold) <= F.col("a.n_sh"))
                & (F.col("a.n_sh") * F.lit(threshold) <= F.col("b.n_sh"))
            )
        return (
            a.join(b, cond)
            .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
            .distinct()
            .count()
        )

    full = exploded.join(sizes, "doc_id")
    return _pairs(prefix, True), _pairs(full, False)


def simhash(documents: DataFrame, n_bits: int = 16) -> DataFrame:
    """X2 variant: SimHash fingerprint — sign of per-bit vote over token
    hashes. Explode tokens -> per-(doc,bit) vote -> reassemble; all hash-agg
    with map-side combine, so it scales like a word count.
    """
    toks = (
        documents.select(
            "doc_id",
            F.explode(
                F.filter(F.split(F.lower("text"), r"\s+"), lambda t: t != "")
            ).alias("token"),
        )
        .withColumn("h", _hash64(F.col("token")))
    )
    votes = (
        toks.select(
            "doc_id",
            "h",
            F.explode(F.array(*[F.lit(b) for b in range(n_bits)])).alias("bit"),
        )
        .withColumn(
            "vote",
            F.expr("CASE WHEN (shiftright(h, bit) & 1) = 1 THEN 1 ELSE -1 END"),
        )
        .groupBy("doc_id", "bit")
        .agg(F.sum("vote").alias("v"))
    )
    return votes.groupBy("doc_id").agg(
        F.sum(
            F.when(F.col("v") > 0, F.expr("shiftleft(cast(1 as bigint), bit)")).otherwise(
                F.lit(0).cast("bigint")
            )
        ).alias("simhash")
    )


def duplicate_clusters(
    documents: DataFrame,
    pairs: DataFrame,
    max_iter: int = 64,
    doc_col: str = "doc_id",
) -> DataFrame:
    """X2 final stage: resolve candidate pairs into duplicate CLUSTERS.

    LSH/Jaccard emit PAIRS; a dedup pipeline needs components — transitive
    groups with one survivor each (pair-wise "keep the smaller id" applied
    naively can drop both docs of a chain a-b-c). Iterative min-label
    propagation (the public MapReduce connected-components pattern): each
    round every node takes the min of its own label, its neighbors' labels,
    and its label's label (pointer jump — accelerates chain-shaped
    components). One shuffle per round, map-side combinable, lineage cut by
    ``localCheckpoint``.

    The loop runs UNTIL CONVERGED (no label changed), checked with
    ``isEmpty()`` on the changed-rows diff — a control-flow boolean, not a
    data collect; convergence is guaranteed in <= component-diameter rounds
    (typically 2-3: LSH dup clusters are near-cliques), with ``max_iter`` as
    a safety bound. Validated against union-find on random graphs and a
    50-node chain in tests.

    Returns (doc_id, cluster_id): cluster_id = min doc id reachable;
    survivors are ``doc_id == cluster_id``; singletons are their own cluster.
    """
    edges = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .unionByName(
            pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = documents.select(
        F.col(doc_col).alias("doc_id"), F.col(doc_col).alias("label")
    ).localCheckpoint(eager=True)
    for _ in range(max_iter):
        # labels flowing across edges: receiver takes min(own, received)
        msgs = edges.join(
            labels.withColumnRenamed("doc_id", "src"), "src"
        ).select(F.col("dst").alias("doc_id"), "label")
        # pointer jump: follow the current label one hop (label's label)
        jump = (
            labels.alias("l1")
            .join(
                labels.select(
                    F.col("doc_id").alias("label"), F.col("label").alias("label2")
                ).alias("l2"),
                "label",
            )
            .select(F.col("doc_id"), F.col("label2").alias("label"))
        )
        new_labels = (
            labels.unionByName(msgs)
            .unionByName(jump)
            .groupBy("doc_id")
            .agg(F.min("label").alias("label"))
            .localCheckpoint(eager=True)
        )
        converged = (
            new_labels.alias("n")
            .join(labels.alias("o"), "doc_id")
            .filter(F.col("n.label") != F.col("o.label"))
            .isEmpty()
        )
        labels = new_labels
        if converged:
            break
    return labels.select("doc_id", F.col("label").alias("cluster_id"))


def cross_corpus_dedup(
    incoming: DataFrame,
    corpus: DataFrame,
    n_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 3,
    threshold: float = 0.5,
    corpus_bands: DataFrame | None = None,
) -> DataFrame:
    """X2 as an INCREMENTAL pipeline: dedup an incoming batch against an
    EXISTING corpus (the production shape — a new crawl lands against a
    training set that was already deduped; re-clustering the whole corpus
    per batch would be O(total), this is O(batch + collisions)).

    Scale shape, stage by stage:
    - corpus MinHash band keys are computed once per run here, or supplied
      precomputed via ``corpus_bands`` (a (doc_id, band_id, band_key)
      relation — what ``txlog.stream_neardedup_to_tx_table`` maintains
      incrementally in a txlog table so a standing pipeline NEVER re-hashes
      the corpus; the band relation is n_docs x bands short rows, tiny next
      to the text).
    - candidate generation is the banded-LSH equi-join with the INCOMING
      side's band keys broadcast: the corpus-side band relation streams
      past it map-side — the corpus never shuffles for candidates.
    - exact-Jaccard verify touches only candidate docs: both shingle
      relations are semi-join-pruned to candidate ids before the
      intersection join, so verify cost tracks candidate sizes, never
      |batch| x |corpus|.

    Jaccard is a ratio of exact integers (IEEE division is exactly
    rounded), so the keep/drop decision is engine-portable without rounding.

    Returns one row per incoming doc:
    (doc_id, n_dup_matches, best_jaccard nullable, is_novel).
    """
    inc = incoming.select("doc_id", "text")
    cor = corpus.select("doc_id", "text")

    # ONE shingle pass per side, pinned: signatures, the Jaccard verify,
    # and the set-size aggregates all consume the same (doc_id, shingle)
    # relation — without the pin the corpus would be re-shingled three
    # times (measured ~40% of query time at sf0.1)
    inc_sh = (
        shingle_rows(inc, k=shingle_k)
        .withColumnRenamed("s", "shingle")
        .localCheckpoint(eager=True)
    )
    cor_sh = (
        shingle_rows(cor, k=shingle_k)
        .withColumnRenamed("s", "shingle")
        .localCheckpoint(eager=True)
        if corpus_bands is None
        else shingle_rows(cor, k=shingle_k).withColumnRenamed("s", "shingle")
    )
    inc_bands = _band_entries(
        inc, n_hashes, bands, shingle_k,
        shingles=inc_sh.withColumnRenamed("shingle", "s"),
    ).withColumnRenamed("doc_id", "inc_id")
    cor_bands = (
        corpus_bands
        if corpus_bands is not None
        else _band_entries(
            cor, n_hashes, bands, shingle_k,
            shingles=cor_sh.withColumnRenamed("shingle", "s"),
        )
    ).withColumnRenamed("doc_id", "cor_id")
    cands = (
        cor_bands.join(
            F.broadcast(inc_bands), ["band_id", "band_key"]
        )
        .select("inc_id", "cor_id")
        .distinct()
        .localCheckpoint(eager=True)  # reused by 3 downstream joins
    )
    # verify only candidate docs: prune both shingle relations first
    cor_sh_c = cor_sh.join(
        cands.select(F.col("cor_id").alias("doc_id")).distinct(), "doc_id", "left_semi"
    )
    inc_sh_c = inc_sh.join(
        cands.select(F.col("inc_id").alias("doc_id")).distinct(), "doc_id", "left_semi"
    )
    inter = (
        inc_sh_c.select(F.col("doc_id").alias("inc_id"), "shingle")
        .join(cor_sh_c.select(F.col("doc_id").alias("cor_id"), "shingle"), "shingle")
        .groupBy("inc_id", "cor_id")
        .agg(F.count(F.lit(1)).alias("n_inter"))
        .join(cands, ["inc_id", "cor_id"], "left_semi")  # candidate pairs only
    )
    # set sizes from the PRUNED relations: a semi-join keeps every shingle
    # row of a surviving doc, so per-doc counts are exact — and docs with
    # no candidate pair never pay a size aggregation (novel docs need none)
    sizes_inc = inc_sh_c.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_a"))
    sizes_cor = cor_sh_c.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_b"))
    jac = (
        inter.join(sizes_inc.withColumnRenamed("doc_id", "inc_id"), "inc_id")
        .join(sizes_cor.withColumnRenamed("doc_id", "cor_id"), "cor_id")
        .select(
            "inc_id",
            (
                F.col("n_inter")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
        .groupBy("inc_id")
        .agg(
            F.count(F.lit(1)).alias("n_dup_matches"),
            F.max("jaccard").alias("best_jaccard"),
        )
    )
    return (
        inc.select("doc_id")
        .join(jac.withColumnRenamed("inc_id", "doc_id"), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_dup_matches"), F.lit(0)).alias("n_dup_matches"),
            "best_jaccard",
            F.col("n_dup_matches").isNull().alias("is_novel"),
        )
    )


def semantic_dedup_incremental(
    codes_index,
    src,
    batch: DataFrame,
    threshold: float = 0.9,
    radius: int = 1,
    key_cap: int = 100_000,
    as_of: int | None = None,
) -> DataFrame:
    """EMBEDDING-space dedup of an incoming batch against an EXISTING
    corpus through the CDF-maintained Hamming ANN index — the embedding
    twin of ``cross_corpus_dedup`` (VERDICT r11 item 2). The recurring
    100 TB LLM-pipeline job this serves: "dedup this new crawl batch
    against the corpus by embedding similarity" WITHOUT re-bucketing the
    corpus per run — the batch semantic operators (``semantic_dedup``,
    the pairwise-cosine verify) are whole-corpus by construction.

    Stage shape (every stage O(batch + collisions), never O(corpus)):

    1. quantize the BATCH with the index's own logged layout
       (``ann.prefixDims`` — layout and probe can never disagree);
    2. probe the index by DISTRIBUTED bucket equi-join: each batch
       vector explodes into its radius-``radius`` probe buckets (XOR
       against the fixed flip-mask set — sum_{r<=radius} C(bits, r)
       rows per vector) and joins the bucket-clustered codes on
       ``bucket`` equality. Unlike ``probed_hamming_topk``'s
       broadcast-the-queries cross join (right for interactive query
       batches), nothing here assumes the batch fits in a broadcast —
       a crawl batch of millions shuffles like any other join side.
       The probe-bucket UNION still feeds the file-level IN predicate
       (span/bloom pruning; bounded by 2^prefix_bits regardless of
       batch size), candidates stay exactly "corpus codes within
       prefix Hamming ``radius`` of the vector's bucket" — approximate
       by design, recall bounded by the same prefix-error argument,
       and integer arithmetic, so a SQL oracle replicates it exactly;
    3. exact-cosine VERIFY of the survivors only: full-precision
       vectors point-fetched from the SOURCE at the index's
       ``ann.srcVersion`` watermark (the ivfpq re-rank coherence
       convention — index codes and verify vectors from one corpus
       snapshot; capped driver IN-list, distributed semi-join past
       ``key_cap``), duplicate = 6-dp-rounded cosine >= ``threshold``
       (rounded so DuckDB lands on identical keep/drop flags);
    4. a corpus row with the SAME id as a batch row is never a match
       (same-key redelivery is exact dedup's job, not semantic's).

    Returns one row per batch vector, the ``cross_corpus_dedup``
    contract: (vec_id, n_dup_matches, best_cosine nullable, is_novel).
    Reference analog: at-least-once changefeed re-deliveries
    (/root/reference/README.md:135) generalized to content-level
    re-embeddings, answered from the incrementally-maintained index the
    same change feed keeps current.
    """
    from .similarity import (
        _prefix_bucket_expr,
        binary_quantize,
        cosine_pairs,
        prefix_probe_buckets,
    )

    props = codes_index.properties(as_of=as_of)
    prop = props.get("ann.prefixDims")
    dims = [int(x) for x in prop.split(",")] if prop else list(range(4))
    prefix_bits = len(dims)
    q = (
        binary_quantize(batch.select("vec_id", "embedding"))
        .select(
            F.col("vec_id").alias("q_id"),
            _prefix_bucket_expr(dims).alias("q_bucket"),
        )
        .localCheckpoint(eager=True)
    )
    probe: set[int] = set()
    for r in q.select("q_bucket").distinct().collect():  # plan-bounded: <=2^prefix_bits bucket ids, probe planning only
        probe.update(prefix_probe_buckets(r.q_bucket, prefix_bits, radius))
    corp = codes_index.read(
        predicates=[("bucket", "in", sorted(probe))], as_of=as_of
    ).select("vec_id", "bucket")
    # flip-mask explode: prefix_probe_buckets(0, ...) is exactly the
    # XOR-mask set, shared by every query — each batch vector becomes
    # one row per probed bucket, and the candidate cut is a plain
    # bucket equi-join (hash-shuffled, batch-size-agnostic; a corpus
    # row's single bucket meets each query at most once, so the join
    # itself is duplicate-free)
    masks = F.array(
        *[F.lit(m) for m in prefix_probe_buckets(0, prefix_bits, radius)]
    )
    q_probe = q.select(
        "q_id",
        F.explode(
            F.transform(masks, lambda m: F.col("q_bucket").bitwiseXOR(m))
        ).alias("bucket"),
    )
    cands = (
        corp.join(q_probe, "bucket")
        .filter(F.col("vec_id") != F.col("q_id"))
        .select("q_id", "vec_id")
        .localCheckpoint(eager=True)
    )
    # exact verify against the watermark-pinned source snapshot
    wm = props.get("ann.srcVersion")
    src_v = int(wm) if wm is not None else None
    ids = [
        r.vec_id
        for r in cands.select("vec_id").distinct().limit(key_cap + 1).collect()  # plan-bounded: capped at key_cap+1 rows, semi-join fallback past the cap
    ]
    preds = [("vec_id", "in", sorted(ids))] if len(ids) <= key_cap else None
    full = src.read(predicates=preds, as_of=src_v).select(
        "vec_id", F.col("embedding").alias("c_emb")
    )
    if preds is None:
        full = full.join(cands.select("vec_id").distinct(), "vec_id", "semi")
    qv = batch.select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    # exact-cosine verify through the Arrow pair kernel (guide §4.2) —
    # the HOF form paid ~2.7-5 s of interpreted per-element lambdas for
    # the O(batch x bucket-collisions) pair set (375k pairs at sf0.1);
    # cosine_pairs is the bit-identical left-fold twin, and the 6-dp
    # round stays a JVM expression so rounded values match exactly
    pairs = (
        cands.join(full, "vec_id")
        .join(F.broadcast(qv), "q_id")
        .select("q_id", "vec_id", "q_emb", "c_emb")
    )
    matches = (
        cosine_pairs(pairs, "q_emb", "c_emb", "__raw_cos")
        .select("q_id", "vec_id", F.round(F.col("__raw_cos"), 6).alias("cosine"))
        .filter(F.col("cosine") >= F.lit(threshold))
        .groupBy("q_id")
        .agg(
            F.count(F.lit(1)).alias("n_dup_matches"),
            F.max("cosine").alias("best_cosine"),
        )
    )
    return (
        batch.select(F.col("vec_id"))
        .join(matches.withColumnRenamed("q_id", "vec_id"), "vec_id", "left")
        .select(
            "vec_id",
            F.coalesce(F.col("n_dup_matches"), F.lit(0)).alias("n_dup_matches"),
            "best_cosine",
            F.col("n_dup_matches").isNull().alias("is_novel"),
        )
    )


def _band_entries(
    documents: DataFrame,
    n_hashes: int,
    bands: int,
    shingle_k: int,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, band_id, band_key) LSH band relation — the shared candidate
    key of ``lsh_candidates`` (self-join) and ``cross_corpus_dedup``
    (incoming-vs-corpus join)."""
    rows = n_hashes // bands
    sigs = minhash_signatures(documents, n_hashes, shingle_k, shingles=shingles)
    # one parsed SQL generator expression instead of ~20 py4j calls per
    # band of Column construction (same explode(array(struct(..))) tree)
    structs = ", ".join(
        "named_struct('band_id', {b}, 'band_key', concat_ws('-', {parts}))".format(
            b=b,
            parts=", ".join(
                f"CAST(element_at(sig, {b * rows + r + 1}) AS STRING)"
                for r in range(rows)
            ),
        )
        for b in range(bands)
    )
    return sigs.select(
        "doc_id", F.expr(f"explode(array({structs}))").alias("band")
    ).select("doc_id", "band.band_id", "band.band_key")


def semantic_dedup(
    embeddings: DataFrame,
    threshold: float = 0.8,
    n_planes: int = 6,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: str = "semdedup",
) -> DataFrame:
    """SemDeDup-style semantic deduplication over an embedding column (the
    published method: cluster embeddings, mark within-cluster items whose
    embeddings are near-identical as semantic duplicates, keep the exemplar
    LEAST similar to the cluster centroid).

    Spark-first scale shape — every stage is a bounded equi-join/groupBy:

    1. coarse clusters = deterministic sign-LSH buckets (sha256-derived
       hyperplanes, no execution-time RNG, no iterative k-means in the hot
       path) — a single projection, no shuffle;
    2. bucket centroid = element-wise mean via posexplode + (bucket, pos)
       groupBy — map-side combinable, one shuffle of n*dim scalars;
    3. duplicate criterion = cosine(doc, centroid) >= threshold — O(n)
       dot products, never the O(n^2) pairwise matrix (that is the
       post-LSH verify stage, `dedup_embedding_cosine`);
    4. survivor = the duplicate with the LOWEST centroid cosine per bucket
       (SemDeDup's keep-the-outlier policy), non-duplicates all survive.

    The decision compares the 6-dp ROUNDED cosine so the DuckDB oracle
    lands on identical keep/drop flags (float-sum accumulation order
    differs across engines below that precision).

    Returns (id, bucket, cos_centroid, is_kept).
    """
    from .similarity import _dot, _norm, lsh_bucket_signatures

    b = lsh_bucket_signatures(embeddings, n_planes, dim, vec_col, seed).select(
        id_col, "bucket", vec_col
    )
    pos = b.select("bucket", F.posexplode(F.col(vec_col)).alias("pos", "x"))
    cent = (
        pos.groupBy("bucket", "pos")
        .agg(F.avg(F.col("x").cast("double")).alias("m"))
        .groupBy("bucket")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct(F.col("pos"), F.col("m")))),
                lambda s: s.m,
            ).alias("centroid")
        )
    )
    cos = F.round(
        _dot(F.col(vec_col), F.col("centroid"))
        / (_norm(F.col(vec_col)) * _norm(F.col("centroid"))),
        6,
    )
    scored = (
        b.join(F.broadcast(cent), "bucket")  # <= 2^n_planes centroid rows
        .select(id_col, "bucket", cos.alias("cos_centroid"))
        .withColumn("is_dup", F.col("cos_centroid") >= F.lit(threshold))
    )
    w = W.partitionBy("bucket", "is_dup").orderBy(
        F.col("cos_centroid").asc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .select(
            id_col,
            "bucket",
            "cos_centroid",
            (~F.col("is_dup") | (F.col("rn") == 1)).alias("is_kept"),
        )
    )


# ---------------------------------------------------------------------------
# Substring-level (span) dedup — Lee et al. 2021, "Deduplicating Training
# Data Makes Language Models Better" (ExactSubstr). The paper dedups 50-BPE
# -token substrings with a suffix array; a suffix array is inherently a
# shared-memory structure, so the distributed re-expression is the standard
# one: fixed-length L-token gram occurrences, a global duplicated-gram
# relation, and interval algebra over gram-start positions. Any duplicated
# substring of length >= L contains a duplicated L-gram at every start
# offset, so the union of duplicated-gram coverage equals the union of
# >=L-token duplicated substrings — the approximation is exact at the span
# level (only sub-L duplicates are invisible, by design, same as the paper's
# threshold).
#
# Scale shape (the reason this beats a suffix array at 100 TB):
# - the token stream shuffles ONCE on doc_id (lead-window gram construction,
#   coverage-frame windows, and text rebuild all reuse that partitioning);
# - the duplicated-gram aggregate shuffles 16-byte md5 keys with map-side
#   combine — never the text, never O(corpus^2);
# - coverage is computed with ROWS-frame window maxima over the dense token
#   stream (rowsBetween(-(L-1), 0)) instead of exploding each gram into its
#   L covered positions — no xL row blowup;
# - spans come from the gaps-and-islands rewrite (lag + running sum), one
#   more window over the already-partitioned stream.
# ---------------------------------------------------------------------------


def gram_occurrences(
    documents: DataFrame, gram_words: int = 8, text_col: str = "text"
) -> DataFrame:
    """Every full L-token gram occurrence: (doc_id, pos, gram_hash).

    Tokenization is a plain single-space split (matching the paragraph-dedup
    family and its DuckDB oracle twin: string_split(text, ' ')). Docs
    shorter than L tokens contribute nothing — sub-L duplication is below
    the dedup threshold by definition.
    """
    d = _spread(documents)
    toks = d.select(
        "doc_id", F.posexplode(F.split(F.col(text_col), " ")).alias("pos", "tok")
    )
    w = W.partitionBy("doc_id").orderBy("pos")
    leads = [F.lead("tok", i).over(w) for i in range(1, gram_words)]
    return (
        toks.select(
            "doc_id",
            "pos",
            F.concat_ws(" ", F.col("tok"), *leads).alias("_gram"),
            leads[-1].alias("_full"),
        )
        .filter(F.col("_full").isNotNull())
        .select("doc_id", "pos", F.md5("_gram").alias("gram_hash"))
    )


def _dup_starts(occ: DataFrame) -> DataFrame:
    """Gram occurrences whose hash occurs >= 2 times corpus-wide (including
    within-document repeats — a doc repeating its own sentence is training
    -data duplication too), flagged with whether this occurrence is the
    global keeper (first by (doc_id, pos)) for its gram."""
    stats = occ.groupBy("gram_hash").agg(
        F.count(F.lit(1)).alias("occ_n"),
        F.min(F.struct("doc_id", "pos")).alias("first_occ"),
    )
    return (
        occ.join(stats.filter(F.col("occ_n") >= 2), "gram_hash")
        .select(
            "doc_id",
            "pos",
            (
                (F.col("doc_id") == F.col("first_occ.doc_id"))
                & (F.col("pos") == F.col("first_occ.pos"))
            ).alias("is_keeper"),
        )
    )


def duplicate_spans(documents: DataFrame, gram_words: int = 8) -> DataFrame:
    """Maximal duplicated-token spans per document.

    A span is a maximal run of tokens covered by duplicated L-grams
    (gram starts merge while contiguous coverage holds: next_pos - prev_pos
    <= L). -> (doc_id, span_start, span_end, span_tokens, n_grams), token
    positions 0-based inclusive.
    """
    L = gram_words
    d = _dup_starts(gram_occurrences(documents, L)).select("doc_id", "pos")
    w = W.partitionBy("doc_id").orderBy("pos")
    brk = F.when(
        F.lag("pos").over(w).isNull() | (F.col("pos") - F.lag("pos").over(w) > L),
        1,
    ).otherwise(0)
    island = F.sum(brk).over(w.rowsBetween(W.unboundedPreceding, 0))
    return (
        d.withColumn("island", island)
        .groupBy("doc_id", "island")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + F.lit(L - 1)).alias("span_end"),
            (F.max("pos") - F.min("pos") + F.lit(L)).cast("bigint").alias(
                "span_tokens"
            ),
            F.count(F.lit(1)).alias("n_grams"),
        )
        .drop("island")
    )


def substring_dedup_stats(documents: DataFrame, gram_words: int = 8) -> DataFrame:
    """Per-document substring-duplication accounting over the whole corpus:
    -> (doc_id, n_tokens, n_grams, n_dup_grams, dup_tokens, dup_fraction).

    dup_tokens is the size of the UNION of duplicated-gram coverage (merged
    spans, not occurrences x L); dup_fraction = dup_tokens / n_tokens (pure
    IEEE division, identical in any engine). Every document appears, zeros
    included — this is the relation a curation pipeline filters on
    ("drop docs that are > 40% duplicated text").
    """
    L = gram_words
    d = _spread(documents)
    base = d.select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).alias("n_tokens"),
    ).withColumn(
        "n_grams",
        F.greatest(F.col("n_tokens") - F.lit(L - 1), F.lit(0)),
    )
    spans = duplicate_spans(documents, L).groupBy("doc_id").agg(
        F.sum("span_tokens").alias("dup_tokens"),
        F.sum("n_grams").alias("n_dup_grams"),
    )
    return (
        base.join(spans, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            "n_grams",
            F.coalesce(F.col("n_dup_grams"), F.lit(0)).cast("bigint").alias(
                "n_dup_grams"
            ),
            F.coalesce(F.col("dup_tokens"), F.lit(0)).cast("bigint").alias(
                "dup_tokens"
            ),
            (
                F.coalesce(F.col("dup_tokens"), F.lit(0))
                / F.col("n_tokens")
            ).alias("dup_fraction"),
        )
    )


def substring_dedup_trim(documents: DataFrame, gram_words: int = 8) -> DataFrame:
    """The trimmed corpus: duplicated spans removed everywhere EXCEPT where
    protected by their gram's global keeper occurrence (first by (doc_id,
    pos)) — one canonical copy of each duplicated substring survives, the
    paper's "leave one occurrence" policy re-expressed at gram granularity.

    A token survives iff it is not covered by any duplicated gram, or is
    covered by a keeper occurrence. Coverage is a ROWS-frame window max over
    the dense token stream (token t is covered by a gram starting at any
    p in [t-L+1, t]) — no explosion. -> (doc_id, trimmed_text, n_tokens,
    n_removed); documents trimmed to nothing vanish (as in paragraph_dedup).
    """
    L = gram_words
    d = _spread(documents)
    toks = d.select(
        "doc_id", F.posexplode(F.split(F.col("text"), " ")).alias("pos", "tok")
    )
    starts = _dup_starts(gram_occurrences(documents, L)).select(
        "doc_id",
        "pos",
        F.lit(1).alias("ds"),
        F.col("is_keeper").cast("int").alias("ks"),
    )
    w = W.partitionBy("doc_id").orderBy("pos")
    cover = w.rowsBetween(-(L - 1), 0)
    flagged = (
        toks.join(starts, ["doc_id", "pos"], "left")
        .select(
            "doc_id",
            "pos",
            "tok",
            F.max(F.coalesce(F.col("ds"), F.lit(0))).over(cover).alias("cov_dup"),
            F.max(F.coalesce(F.col("ks"), F.lit(0))).over(cover).alias("cov_keep"),
            F.count(F.lit(1)).over(
                w.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
            ).alias("n_tokens"),
        )
    )
    kept = flagged.filter((F.col("cov_dup") == 0) | (F.col("cov_keep") == 1))
    ordered = F.transform(
        F.array_sort(F.collect_list(F.struct("pos", "tok"))), lambda x: x["tok"]
    )
    return kept.groupBy("doc_id").agg(
        F.array_join(ordered, " ").alias("trimmed_text"),
        F.max("n_tokens").cast("bigint").alias("n_tokens"),
        (F.max("n_tokens") - F.count(F.lit(1))).cast("bigint").alias("n_removed"),
    )
