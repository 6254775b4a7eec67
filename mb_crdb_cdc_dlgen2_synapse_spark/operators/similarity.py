"""Similarity search over embedding columns (SURVEY.md §2.8 X3):
brute-force cosine top-k as the correctness baseline, hyperplane-LSH
bucketed ANN as the scale path.

Dot products use ``F.zip_with`` + ``F.aggregate`` entirely JVM-side (no
Python in the hot loop).  The brute-force path broadcasts the (small) query
set against the corpus — at 100 TB the corpus side never shuffles; the LSH
path replaces the cross product with an equi-join on bucket signatures.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from ..localrel import local_df


def _dot(a, b) -> F.Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a) -> F.Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def with_normalized(embeddings: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Pre-normalize vectors so cosine == dot (normalize once, query many)."""
    n = _norm(F.col(vec_col))
    return embeddings.withColumn(
        "unit_vec",
        F.transform(F.col(vec_col), lambda x: x.cast("double") / n),
    )


def unit_vectors(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Vectorized twin of ``with_normalized(...).select(other cols,
    unit_vec AS vec_col)`` — one Arrow batch kernel instead of the
    interpreted transform/aggregate lambdas (measured ~0.6 s per
    2000×64 corpus pass for ~30 ms of arithmetic; guide §4.2: hand
    whole batches to vectorized native code). Bit-identical to the HOF
    form: the squared-norm accumulates in the SAME strict left-fold
    order (acc = (..((0 + x₀²) + x₁²)..) — one vectorized add per
    dimension, not numpy's pairwise ``sum``), and each element divides
    by the same sqrt — identical IEEE-double ops in identical order.
    Zero-norm rows RAISE, matching the HOF form exactly: measured on
    this engine (Spark 4, ANSI on), ``with_normalized`` on a zero-norm
    vector throws SparkArithmeticException DIVIDE_BY_ZERO — ANSI
    ``Divide`` rejects a 0.0 DOUBLE divisor too, not just
    integral/decimal (ADVICE r12's silent-NaN claim does not hold
    here; receipt in OPTIMIZATION_r13.md)."""
    import numpy as np
    import pandas as pd

    other = [c for c in df.columns if c != vec_col]
    in_fields = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    out_schema = ", ".join(
        [f"{c} {in_fields[c]}" for c in other] + [f"{vec_col} array<double>"]
    )

    def kern(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            vecs = np.array(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            acc = np.zeros(len(pdf), dtype=np.float64)
            for t in range(vecs.shape[1]):
                x = vecs[:, t]
                acc = acc + x * x  # strict left fold, matches F.aggregate
            if (acc == 0.0).any():
                # the HOF form raises DIVIDE_BY_ZERO under ANSI (Spark 4
                # default) — keep zero-norm inputs loud, not inf/nan
                raise ArithmeticError(
                    "zero-norm vector cannot be unit-normalized"
                )
            unit = vecs / np.sqrt(acc)[:, None]
            out = {c: pdf[c] for c in other}
            out[vec_col] = list(unit)
            yield pd.DataFrame(out)

    return df.select(*other, vec_col).mapInPandas(kern, out_schema)


def _list_matrix(col, n_rows):
    """(matrix, width) for an Arrow list column with no nulls and one
    uniform width, else (None, None) — the fast-path gate for the pair
    kernels. ``col.flatten()`` re-slices the child values buffer to the
    array's own offsets (no per-row Python), so the reshape is one copy
    at most."""
    import numpy as np

    if col.null_count:
        return None, None
    offs = np.asarray(col.offsets)
    if len(offs) < 2:
        return None, None
    widths = np.diff(offs)
    d = int(widths[0])
    if d == 0 or (widths != d).any():
        return None, None
    flat = col.flatten()
    if flat.null_count:
        return None, None
    return (
        flat.to_numpy(zero_copy_only=False)
        .astype(np.float64, copy=False)
        .reshape(n_rows, d),
        d,
    )


def cosine_pairs(
    pairs: DataFrame,
    a_col: str,
    b_col: str,
    out_col: str = "cosine",
) -> DataFrame:
    """UNROUNDED cosine per row — the Arrow twin of
    ``_dot(a,b) / (_norm(a) * _norm(b))`` (guide §4.2: one vectorized
    batch kernel instead of per-element interpreted lambdas; measured
    2.7-5.1 s for 375k 64-dim pairs through the HOF form vs ~0.5 s
    here). Bit-identical to the HOF expression: the dot and both
    squared norms accumulate in the SAME strict left-fold order
    (acc = (..((0 + x₀y₀) + x₁y₁)..) — one vectorized multiply-add per
    dimension, deliberately NOT numpy's pairwise ``einsum``), then the
    identical sqrt/multiply/divide sequence. Callers that need Spark's
    6-dp contract apply ``F.round`` ON THE OUTPUT column — rounding
    stays in the JVM (java BigDecimal HALF_UP), so rounded values equal
    the HOF form's exactly.

    Null/ragged semantics match the HOF form: a null array, a null
    element, or unequal lengths fold to a null cosine (``zip_with``
    null-pads the shorter side and a null product poisons the whole
    aggregate — a null numerator short-circuits ANSI division); only
    such rows take the per-row fallback. A zero denominator with a
    non-null dot RAISES, matching Spark 4 ANSI division (measured:
    ANSI ``Divide`` errors on a 0.0 double divisor too, not just
    integral/decimal — the ``unit_vectors`` convention). Both vector
    columns are consumed (dropped from the output)."""
    import numpy as np
    import pyarrow as pa

    other = [c for c in pairs.columns if c not in (a_col, b_col)]
    in_fields = {f.name: f.dataType.simpleString() for f in pairs.schema.fields}
    out_schema = ", ".join(
        [f"{c} {in_fields[c]}" for c in other] + [f"{out_col} double"]
    )

    def _slow_row(av, bv):
        if av is None or bv is None:
            return None
        if len(av) != len(bv):
            return None  # zip_with null-pads -> null product -> null fold
        dot = 0.0
        na = 0.0
        nb = 0.0
        for x, y in zip(av, bv):
            if x is None or y is None:
                return None
            dot = dot + float(x) * float(y)
        for x in av:
            na = na + float(x) * float(x)
        for y in bv:
            nb = nb + float(y) * float(y)
        den = np.sqrt(na) * np.sqrt(nb)
        if den == 0.0:
            # Spark 4 ANSI Divide raises on a 0.0 divisor (doubles too)
            raise ArithmeticError(
                "cosine_pairs: zero-norm vector divides by zero (ANSI "
                "DIVIDE_BY_ZERO, matching the JVM expression form)"
            )
        return float(dot / den)

    def kern(batches):
        for rb in batches:
            n = rb.num_rows
            if not n:
                continue
            a = rb.column(rb.schema.get_field_index(a_col))
            b = rb.column(rb.schema.get_field_index(b_col))
            A, da = _list_matrix(a, n)
            B, db = _list_matrix(b, n)
            if A is not None and B is not None and da == db:
                dot = np.zeros(n, dtype=np.float64)
                na = np.zeros(n, dtype=np.float64)
                nb = np.zeros(n, dtype=np.float64)
                for t in range(da):  # strict left fold per dimension
                    x = A[:, t]
                    y = B[:, t]
                    dot = dot + x * y
                    na = na + x * x
                    nb = nb + y * y
                den = np.sqrt(na) * np.sqrt(nb)
                if (den == 0.0).any():
                    # Spark 4 ANSI Divide raises on a 0.0 divisor
                    raise ArithmeticError(
                        "cosine_pairs: zero-norm vector divides by zero "
                        "(ANSI DIVIDE_BY_ZERO, matching the JVM "
                        "expression form)"
                    )
                cos = dot / den
            else:
                av = a.to_pylist()
                bv = b.to_pylist()
                cos = np.asarray(
                    [_slow_row(x, y) for x, y in zip(av, bv)], dtype=object
                )
            cols = [
                rb.column(rb.schema.get_field_index(c)) for c in other
            ] + [pa.array(cos, type=pa.float64())]
            yield pa.RecordBatch.from_arrays(cols, other + [out_col])

    return pairs.select(*other, a_col, b_col).mapInArrow(kern, out_schema)


def lsh_table_keys(
    df: DataFrame,
    id_col: str,
    n_planes: int,
    dim: int,
    n_tables: int | None = None,
    vec_col: str = "embedding",
    seed_prefix: str = "lsh",
    seeds: list[str] | None = None,
) -> DataFrame:
    """(id, tbl, bucket) for ALL ``n_tables`` hash tables in ONE Arrow
    pass — the vectorized twin of ``posexplode(array(_lsh_bucket_expr(t)
    for t))`` (VERDICT r12 item 7: the HOF form's per-element lambdas
    are the measured cost, and the unrolled-literal codegen variant
    blows the Janino method budget and falls back interpreted).
    Bit-identical to the expression form: each plane's dot accumulates
    in the same strict left-fold order over the same
    ``_deterministic_planes`` coefficients, the sign test is the same
    ``> 0`` on the identical IEEE double, and the bucket packs the same
    ``1 << i`` bits. Rows with a null or short vector take a per-row
    fallback with identical null semantics (zip_with null-pads: any
    missing element nulls the dot, so the ``> 0`` test is false and the
    bit stays 0 — matching ``F.when(null > 0, ...).otherwise(0)``)."""
    import numpy as np
    import pyarrow as pa

    if seeds is None:
        if n_tables is None:
            raise ValueError(
                "lsh_table_keys needs n_tables or seeds: pass n_tables to "
                "derive one seed per table, or seeds to name them"
            )
        seeds = [f"{seed_prefix}{t}" for t in range(n_tables)]
    n_tables = len(seeds)
    # W[d, t*n_planes + i] = plane i of table t, coefficient d
    planes = [
        _deterministic_planes(n_planes, dim, s) for s in seeds
    ]
    W = np.asarray(
        [[p[i][d] for p in planes for i in range(n_planes)] for d in range(dim)],
        dtype=np.float64,
    )
    bitw = np.asarray(
        [np.int64(1) << i for _ in range(n_tables) for i in range(n_planes)],
        dtype=np.int64,
    )
    tbl_ids = np.arange(n_tables, dtype=np.int32)
    in_fields = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    out_schema = f"{id_col} {in_fields[id_col]}, tbl int, bucket bigint"

    def _slow_row(v):
        # zip_with(vec, plane, x*y) null-pads EITHER shorter side: a
        # null vector, a null element, or len != dim all yield a null
        # dot -> (null > 0) is false -> bit stays 0
        if v is None or len(v) != dim or any(x is None for x in v):
            return [0] * n_tables
        out = []
        for t in range(n_tables):
            bucket = 0
            for i in range(n_planes):
                dot = 0.0
                for d in range(dim):
                    dot = dot + float(v[d]) * planes[t][i][d]
                if dot > 0:
                    bucket += 1 << i
            out.append(bucket)
        return out

    def kern(batches):
        for rb in batches:
            n = rb.num_rows
            if not n:
                continue
            ids = rb.column(rb.schema.get_field_index(id_col))
            vcol = rb.column(rb.schema.get_field_index(vec_col))
            V, dv = _list_matrix(vcol, n)
            if V is not None and dv == dim:
                acc = np.zeros((n, n_tables * n_planes), dtype=np.float64)
                for d in range(dim):  # strict left fold per dimension
                    acc = acc + V[:, d, None] * W[None, d, :]
                bits = (acc > 0).astype(np.int64) * bitw[None, :]
                buckets = bits.reshape(n, n_tables, n_planes).sum(
                    axis=2, dtype=np.int64
                )
            else:
                buckets = np.asarray(
                    [_slow_row(v) for v in vcol.to_pylist()], dtype=np.int64
                )
            out_ids = ids.take(pa.array(np.repeat(np.arange(n), n_tables)))
            yield pa.RecordBatch.from_arrays(
                [
                    out_ids,
                    pa.array(np.tile(tbl_ids, n), type=pa.int32()),
                    pa.array(buckets.reshape(-1), type=pa.int64()),
                ],
                [id_col, "tbl", "bucket"],
            )

    return df.select(id_col, vec_col).mapInArrow(kern, out_schema)


def brute_force_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
) -> DataFrame:
    """X3 baseline: exact cosine top-k for each query vector.

    ``queries`` is (query_id, embedding) and is broadcast: the plan is a
    broadcast nested-loop over the corpus followed by a per-query top-k
    window — one pass over the corpus, no corpus shuffle beyond the final
    (tiny) ranked result.
    """
    q = queries.select(
        F.col("query_id"), F.col(vec_col).alias("q_vec")
    )
    # cosine through the Arrow pair kernel (guide §4.2) — bit-identical
    # left-fold doubles, rounded in the JVM exactly like the HOF form
    pairs = embeddings.select("vec_id", vec_col).join(F.broadcast(q))
    scored = cosine_pairs(pairs, "q_vec", vec_col, "__raw_cos").select(
        "query_id",
        "vec_id",
        F.round(F.col("__raw_cos"), 6).alias("cosine"),
    )
    w = W.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("vec_id").asc())
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", "rk", "vec_id", "cosine")
    )


def _deterministic_planes(n_planes: int, dim: int, seed: str = "lsh") -> list[list[float]]:
    """Pseudo-random hyperplanes derived from sha256 — stable across runs and
    engines, no RNG at execution time."""
    planes = []
    for p in range(n_planes):
        comps = []
        for d in range(dim):
            h = hashlib.sha256(f"{seed}:{p}:{d}".encode()).digest()
            comps.append(int.from_bytes(h[:4], "big") / 2**31 - 1.0)
        planes.append(comps)
    return planes


def _lsh_bucket_expr(
    n_planes: int, dim: int, vec_col: str, seed: str
) -> F.Column:
    """The bucket key for one hash table: sign bit per hyperplane packed
    into one bigint."""
    planes = _deterministic_planes(n_planes, dim, seed)
    # each plane's coefficient array is ONE F.lit(list) literal (a single
    # py4j call) instead of dim separate F.lit objects — the zip_with/
    # aggregate dot itself is unchanged (an unrolled 64-term literal sum
    # was tried and blows the Janino codegen method budget when several
    # table keys share one Generate node)
    bits = [
        F.when(
            _dot(F.col(vec_col), F.lit(plane)) > 0,
            F.lit(1 << i).cast("bigint"),
        ).otherwise(F.lit(0).cast("bigint"))
        for i, plane in enumerate(planes)
    ]
    bucket = bits[0]
    for b in bits[1:]:
        bucket = bucket + b
    return bucket


def lsh_bucket_signatures(
    embeddings: DataFrame,
    n_planes: int = 8,
    dim: int = 64,
    vec_col: str = "embedding",
    seed: str = "lsh",
) -> DataFrame:
    """X3 scale path, step 1: hyperplane-LSH bucket key per vector (sign bit
    per plane packed into one bigint). Vectors in the same bucket are
    cosine-close with high probability.

    Since r13 the bucket computes in ONE Arrow batch kernel instead of
    the per-element interpreted ``_lsh_bucket_expr`` lambdas (guide
    §4.2) — bit-identical left-fold plane dots, same ``> 0`` sign test,
    same packed bits (the ``lsh_table_keys`` argument); every column
    passes through unchanged and ``bucket`` appends at the end, exactly
    the ``withColumn`` schema."""
    import numpy as np
    import pyarrow as pa

    planes = _deterministic_planes(n_planes, dim, seed)
    W_mat = np.asarray(
        [[planes[i][d] for i in range(n_planes)] for d in range(dim)],
        dtype=np.float64,
    )
    bitw = np.asarray([np.int64(1) << i for i in range(n_planes)], dtype=np.int64)
    cols = list(embeddings.columns)
    in_fields = {
        f.name: f.dataType.simpleString() for f in embeddings.schema.fields
    }
    out_schema = ", ".join(
        [f"{c} {in_fields[c]}" for c in cols] + ["bucket bigint"]
    )

    def _slow_row(v):
        # zip_with null-pads a null/short/long vector: null dot -> bit 0
        if v is None or len(v) != dim or any(x is None for x in v):
            return 0
        bucket = 0
        for i in range(n_planes):
            dot = 0.0
            for d in range(dim):
                dot = dot + float(v[d]) * planes[i][d]
            if dot > 0:
                bucket += 1 << i
        return bucket

    def kern(batches):
        for rb in batches:
            n = rb.num_rows
            if not n:
                continue
            vcol = rb.column(rb.schema.get_field_index(vec_col))
            V, dv = _list_matrix(vcol, n)
            if V is not None and dv == dim:
                acc = np.zeros((n, n_planes), dtype=np.float64)
                for d in range(dim):  # strict left fold per dimension
                    acc = acc + V[:, d, None] * W_mat[None, d, :]
                buckets = ((acc > 0).astype(np.int64) * bitw[None, :]).sum(
                    axis=1, dtype=np.int64
                )
            else:
                buckets = np.asarray(
                    [_slow_row(v) for v in vcol.to_pylist()], dtype=np.int64
                )
            yield pa.RecordBatch.from_arrays(
                [rb.column(rb.schema.get_field_index(c)) for c in cols]
                + [pa.array(buckets, type=pa.int64())],
                cols + ["bucket"],
            )

    return embeddings.mapInArrow(kern, out_schema)


def ann_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_planes: int = 4,
    n_tables: int = 3,
    dim: int = 64,
    vec_col: str = "embedding",
    multiprobe: int = 0,
) -> DataFrame:
    """X3 scale path, step 2: multi-table ANN top-k — score only corpus
    vectors sharing a bucket with the query in ANY of ``n_tables``
    independent hash tables (standard LSH amplification: each table is
    selective, the union recovers recall).  All joins are equi-joins on
    bucket keys with the (tiny) query side broadcast; the cross product
    never materializes.

    ``multiprobe=1`` additionally probes every bucket at Hamming
    distance 1 from the query's bucket in each table (multi-probe LSH,
    Lv et al. VLDB'07): a near neighbor that lands one sign-flip away —
    the overwhelmingly likely miss mode — is still found, so recall
    rises steeply for a (1+n_planes)× growth of the TINY query-side
    probe relation only; the corpus is hashed once per table either
    way. Measured on the sf fixtures: 4-plane/8-table recall@5 goes
    0.80/0.93/0.87 → 0.93/1.0/1.0 across sf0.001/0.01/0.1.

    All ``n_tables`` keys are computed in ONE corpus pass (a single
    projection + posexplode), so the scan cost is 1× the corpus
    regardless of table count — at 100 TB, n_tables separate scans is
    the difference between one pass and n passes over the lake.
    """
    # all n_tables bucket keys in ONE Arrow pass per side (bit-identical
    # to the posexplode(array(_lsh_bucket_expr...)) form — see
    # lsh_table_keys; the unrolled-codegen variant is Janino-capped)
    corpus_keys = lsh_table_keys(
        embeddings, "vec_id", n_planes, dim, n_tables, vec_col
    )
    q_keys = lsh_table_keys(
        queries, "query_id", n_planes, dim, n_tables, vec_col
    )
    if multiprobe:
        probes = F.array(
            F.col("bucket"),
            *[
                F.col("bucket").bitwiseXOR(F.lit(1 << i).cast("bigint"))
                for i in range(n_planes)
            ],
        )
        q_keys = q_keys.select(
            "query_id", "tbl", F.explode(probes).alias("bucket")
        )
    cand = (
        corpus_keys.join(F.broadcast(q_keys), ["tbl", "bucket"])
        .select("query_id", "vec_id")
        .dropDuplicates(["query_id", "vec_id"])
    )
    q = queries.select("query_id", F.col(vec_col).alias("q_vec"))
    pairs = (
        cand.join(embeddings.select("vec_id", vec_col), "vec_id")
        .join(F.broadcast(q), "query_id")
        .select("query_id", "vec_id", "q_vec", vec_col)
    )
    scored = cosine_pairs(pairs, "q_vec", vec_col, "__raw_cos").select(
        "query_id",
        "vec_id",
        F.round(F.col("__raw_cos"), 6).alias("cosine"),
    )
    w = W.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("vec_id").asc())
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", "rk", "vec_id", "cosine")
    )


def retrieval_contract(
    got: DataFrame, exact: DataFrame, floor: float = 0.8
) -> DataFrame:
    """The certifiable shape of an ANN result: per query, the row count
    and whether recall vs the exact reference clears ``floor``. Float
    scores are engine-specific, but (query_id, n_results, recall_ok)
    hash-certifies against a constant oracle — the knn_ivf_probe
    contract, shared by every ANN gate. ``got``/``exact`` need columns
    (query_id, vec_id). ``got`` is consumed twice (count + hit semi-
    join), so it is pinned here — without this the whole retrieval
    subtree (shortlist, rerank, hash tables, …) evaluates twice."""
    got = got.localCheckpoint(eager=True)
    exact = exact.select("query_id", F.col("vec_id").alias("__exact_id"))
    hits = got.join(
        F.broadcast(exact),
        (got["query_id"] == exact["query_id"])
        & (got["vec_id"] == exact["__exact_id"]),
        "left_semi",
    )
    return (
        got.groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_results"))
        .join(
            hits.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_hit")),
            "query_id",
        )
        .select(
            "query_id",
            "n_results",
            (F.col("n_hit") >= floor * F.col("n_results")).alias("recall_ok"),
        )
        .orderBy("query_id")
    )


def centroid_per_label(embeddings: DataFrame, dim: int = 64) -> DataFrame:
    """Mean vector per label — the IVF coarse-quantizer building block.
    Element-wise mean via posexplode + groupBy (map-side combinable), then
    array reassembly ordered by position."""
    pos = embeddings.select(
        "label", F.posexplode(F.col("embedding")).alias("pos", "x")
    )
    means = pos.groupBy("label", "pos").agg(F.avg(F.col("x").cast("double")).alias("m"))
    return (
        means.groupBy("label")
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("pos"), F.col("m")))
                ),
                lambda s: s.m,
            ).alias("centroid")
        )
    )


def ivf_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 3,
    vec_col: str = "embedding",
    n_lists: int = 8,
    n_iter: int = 2,
) -> DataFrame:
    """X3 scale path, IVF variant: k-means coarse quantizer -> probe lists.

    1. Lloyd's k-means (``operators.clustering``, ``n_iter`` rounds) builds
       ``n_lists`` inverted lists: per-round cost is one broadcast-centroid
       assignment (no corpus shuffle) + one map-side-combinable mean,
    2. each query scores the (tiny, broadcast) centroid table and keeps its
       ``nprobe`` nearest lists,
    3. candidates = equi-join on list id — the corpus is scanned only for
       probed lists, and at scale the corpus is materialized partitioned BY
       list id so a probe touches few partitions.

    ``ivf_topk_by_label`` keeps the degenerate quantizer (a pre-existing
    label column as list id) for comparison; k-means lists track the actual
    vector geometry, which is what recall depends on.
    """
    from .clustering import kmeans

    centroids, assigned = kmeans(embeddings, k=n_lists, n_iter=n_iter, vec_col=vec_col)
    return _ivf_probe_lists(
        embeddings=assigned.select("vec_id", "cid", vec_col),
        cents=centroids.select("cid", "c_vec"),
        queries=queries,
        k=k,
        nprobe=nprobe,
        vec_col=vec_col,
    )


def ivf_topk_by_label(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 3,
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF with the ``label`` column as the (degenerate) coarse quantizer —
    the search shape of ``ivf_topk`` without the k-means build; useful as a
    recall baseline and when a domain partitioning column already exists."""
    cents = centroid_per_label(embeddings).select(
        F.col("label").alias("cid"), F.col("centroid").alias("c_vec")
    )
    return _ivf_probe_lists(
        embeddings=embeddings.select("vec_id", F.col("label").alias("cid"), vec_col),
        cents=cents,
        queries=queries,
        k=k,
        nprobe=nprobe,
        vec_col=vec_col,
    )


def _ivf_probe_lists(
    embeddings: DataFrame,
    cents: DataFrame,
    queries: DataFrame,
    k: int,
    nprobe: int,
    vec_col: str,
) -> DataFrame:
    """Shared IVF probe: nearest-``nprobe`` lists per query (broadcast
    centroids), then exact cosine rerank over only the probed lists."""
    q = queries.select("query_id", F.col(vec_col).alias("q_vec"))
    probe_scores = q.join(F.broadcast(cents)).select(
        "query_id",
        "cid",
        "q_vec",
        (
            _dot(F.col("q_vec"), F.col("c_vec"))
            / (_norm(F.col("q_vec")) * _norm(F.col("c_vec")))
        ).alias("c_cos"),
    )
    wp = W.partitionBy("query_id").orderBy(F.col("c_cos").desc(), F.col("cid").asc())
    probes = (
        probe_scores.withColumn("pr", F.row_number().over(wp))
        .filter(F.col("pr") <= nprobe)
        .select("query_id", "cid", "q_vec")
    )
    scored = cosine_pairs(
        probes.join(embeddings, "cid").select(
            "query_id", "vec_id", "q_vec", vec_col
        ),
        "q_vec",
        vec_col,
        "__raw_cos",
    ).select(
        "query_id", "vec_id", F.round(F.col("__raw_cos"), 6).alias("cosine")
    )
    w = W.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("vec_id").asc())
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", "rk", "vec_id", "cosine")
    )


def quantize_int8(embeddings: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Symmetric per-vector int8 quantization: scale = max|x| / 127,
    q_i = floor(x_i/scale + 0.5).

    The vector-compression step a 100 TB embedding store runs before ANN —
    4× smaller scan + cheaper dot products, with the scale kept per vector
    for dequantization. All JVM-side array lambdas; ``floor(x + 0.5)`` is
    used instead of ``round`` because engines disagree on double rounding
    but agree bit-for-bit on floor of identical IEEE ops.
    """
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    amax = F.array_max(F.transform(v, F.abs))
    scale = (amax / F.lit(127.0)).alias("scale")
    q = F.transform(v, lambda x: F.floor(x / (amax / 127.0) + 0.5).cast("int"))
    return embeddings.select(
        "vec_id",
        scale,
        q.alias("qvec"),
    )


def quantization_error(embeddings: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Max absolute reconstruction error per vector after int8 round-trip —
    the quality audit for the quantized store (bounded by scale/2)."""
    qd = quantize_int8(embeddings, vec_col)
    joined = embeddings.select("vec_id", vec_col).join(qd, "vec_id")
    deq = F.zip_with(
        F.col(vec_col),
        F.col("qvec"),
        lambda x, q: F.abs(x.cast("double") - q.cast("double") * F.col("scale")),
    )
    return joined.select(
        "vec_id",
        "scale",
        F.array_max(deq).alias("max_abs_err"),
    )


def brute_force_topk_arrow(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
) -> DataFrame:
    """X3 baseline, Arrow-vectorized variant: same join + window shape as
    ``brute_force_topk`` but the cosine is a batched numpy einsum inside a
    scalar ``pandas_udf`` instead of interpreted ``aggregate``/``zip_with``
    lambdas.

    When to use which (measured, sf0.1 embeddings, 64-dim, 50 queries,
    local[32], warm): JVM HOF form 3.2 s, this Arrow form 1.4 s — the HOF
    lambda is evaluated per element, so the gap widens with dim x queries,
    while Arrow transfer is amortized by BLAS batch math. The documented X6
    escape hatch applied to the X3 hot loop; both variants share identical
    top-k semantics (equivalence-tested in tests/test_similarity.py).
    """
    import numpy as np
    import pandas as pd

    def _cos_batch(a, b):
        A = np.stack(a.to_numpy())
        B = np.stack(b.to_numpy())
        num = np.einsum("ij,ij->i", A, B)
        den = np.linalg.norm(A, axis=1) * np.linalg.norm(B, axis=1)
        return pd.Series(num / den)

    # explicit form: postponed annotations (PEP 563) leave the hint strings
    # unresolvable for pyspark's hint parser with function-local imports
    _cos = F.pandas_udf(_cos_batch, "double")

    q = queries.select(F.col("query_id"), F.col(vec_col).alias("q_vec"))
    scored = embeddings.join(F.broadcast(q)).select(
        "query_id",
        "vec_id",
        F.round(_cos(F.col("q_vec"), F.col(vec_col)), 6).alias("cosine"),
    )
    w = W.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("vec_id").asc())
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", "rk", "vec_id", "cosine")
    )


#: one small prime per dimension — the deterministic projection basis for
#: synthetic_embeddings (no RNG: identical vectors on every run/engine)
_SYNTH_PRIMES = [
    2, 3, 5, 7, 11, 13, 17, 19, 23, 29, 31, 37, 41, 43, 47, 53, 59, 61,
    67, 71, 73, 79, 83, 89, 97, 101, 103, 107, 109, 113, 127, 131, 137,
    139, 149, 151, 157, 163, 167, 173, 179, 181, 191, 193, 197, 199, 211,
    223, 227, 229, 233, 239, 241, 251, 257, 263, 269, 271, 277, 281, 283,
    293, 307, 311,
]


def synthetic_embeddings(spark, n: int) -> DataFrame:
    """``n`` deterministic pseudo-random 64-dim vectors as one codegen
    projection (dim j of id i = sin(i*p_j + 0.7j), p_j prime) — the
    cardinality harness behind the ANN recall/latency measurement
    (scripts/ann_recall_curve.py) and the 1M-row recall-bound test. No
    RNG, no driver-side materialization: generating 100M vectors is the
    same one-stage plan as 10k."""
    return spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.array(
            *[
                F.sin(F.col("id") * F.lit(float(p)) + F.lit(j * 0.7))
                for j, p in enumerate(_SYNTH_PRIMES)
            ]
        ).alias("embedding"),
    )


def perturbed_queries(spark, ids: list[int], noise: float = 0.1) -> DataFrame:
    """Queries = corpus vectors for ``ids`` plus small deterministic
    additive noise (flips ~5% of sign bits at noise=0.1) — the
    near-neighbor regime ANN recall is measured in."""
    base = local_df(
        spark, [(int(i), q) for q, i in enumerate(ids)], "vec_id long, query_id int"
    )
    return base.select(
        "query_id",
        F.array(
            *[
                (
                    F.sin(F.col("vec_id") * F.lit(float(p)) + F.lit(j * 0.7))
                    + noise * F.sin(F.col("vec_id") * 31.0 + F.lit(j * 1.3))
                )
                for j, p in enumerate(_SYNTH_PRIMES)
            ]
        ).alias("embedding"),
    )


def boundary_queries(
    spark, ids: list[int], prefix_bits: int, eps: float = 0.02
) -> DataFrame:
    """ADVERSARIAL ANN recall regime: corpus vectors whose PREFIX
    dimensions — the hyperplane cuts the bucket id hashes on — are driven
    onto the margin (|value| ~ ``eps``, sign scrambled deterministically),
    while the other 64-prefix_bits dimensions stay the perturbed-neighbor
    regime. The true nearest neighbor still agrees on every non-prefix
    bit, but the query's bucket id is ~uniform over the prefix space, so
    a radius-r probe finds the neighbor only when <= r prefix bits
    disagree — the worst case for bucketed multi-probe, and the regime
    where the easy perturbed-neighbor measurement (recall 1.0 by
    construction) says nothing."""
    base = local_df(
        spark, [(int(i), q) for q, i in enumerate(ids)], "vec_id long, query_id int"
    )
    return base.select(
        "query_id",
        F.array(
            *[
                (
                    # margin-pinned prefix dim: tiny magnitude, scrambled sign
                    F.lit(eps) * F.sin(F.col("vec_id") * 57.0 + F.lit(j * 2.13))
                    if j < prefix_bits
                    else F.sin(F.col("vec_id") * F.lit(float(p)) + F.lit(j * 0.7))
                    + 0.1 * F.sin(F.col("vec_id") * 31.0 + F.lit(j * 1.3))
                )
                for j, p in enumerate(_SYNTH_PRIMES)
            ]
        ).alias("embedding"),
    )


def clustered_embeddings(
    spark, n: int, prefix_bits: int, bias: float = 1.2
) -> DataFrame:
    """Non-uniform corpus for the ANN skew measurement: the prefix
    dimensions carry a positive ``bias``, so nearly every vector's prefix
    sign bits agree and the corpus collapses into one hot bucket. Bucketed
    probing stays CORRECT here (the neighbor shares the hot bucket) but
    stops paying: the probe reads ~the whole corpus, speedup -> 1x —
    the failure curve a 100 TB retrieval user needs alongside recall."""
    return spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.array(
            *[
                (
                    F.sin(F.col("id") * F.lit(float(p)) + F.lit(j * 0.7))
                    + (F.lit(bias) if j < prefix_bits else F.lit(0.0))
                )
                for j, p in enumerate(_SYNTH_PRIMES)
            ]
        ).alias("embedding"),
    )


def binary_quantize(embeddings: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """1-bit binary quantization: the sign bit of each of the 64 dimensions,
    packed into two 32-bit words (``b_lo`` dims 0-31, ``b_hi`` dims 32-63 —
    two words keep every packed value positive, no sign-bit edge case).
    64 floats become 8 bytes: the compressed store for memory-resident ANN
    at corpus scale; distance becomes XOR + popcount (codegen integer ops,
    no float math at query time)."""
    # one F.expr per word instead of a 32-iteration Column-arithmetic
    # loop: the py4j round trips of building ~200 JVM Column objects per
    # word dominated driver time when quantize is constructed repeatedly
    # (profiled: ~1.4 s per call, pure plan construction). The SQL text
    # parses JVM-side in one call to the SAME expression tree shape
    # (CASE WHEN chain summed left-to-right from a 0 seed).
    def word(lo: int) -> F.Column:
        terms = " + ".join(
            f"(CASE WHEN element_at(`{vec_col}`, {lo + i + 1}) > 0 "
            f"THEN CAST({1 << i} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
            for i in range(32)
        )
        return F.expr(f"CAST(0 AS BIGINT) + {terms}")

    return embeddings.withColumn("b_lo", word(0)).withColumn("b_hi", word(32))


def knn_hamming_topk(
    embeddings: DataFrame, queries: DataFrame, k: int = 5, vec_col: str = "embedding"
) -> DataFrame:
    """Top-k nearest neighbors under Hamming distance on the binary
    quantization — the classic compressed first-stage retrieval (re-rank
    survivors with exact cosine if needed). The corpus side carries 8 bytes
    per vector; the (tiny) query side broadcasts; distance is
    bit_count(xor) per word — exact integer arithmetic, which is why this
    X3 path is fully DuckDB-oracle-able where float ANN is rows-only."""
    corp = binary_quantize(embeddings, vec_col).select("vec_id", "b_lo", "b_hi")
    q = binary_quantize(queries, vec_col).select(
        F.col("query_id"), F.col("b_lo").alias("q_lo"), F.col("b_hi").alias("q_hi")
    )
    ham = F.bit_count(F.col("b_lo").bitwiseXOR(F.col("q_lo"))) + F.bit_count(
        F.col("b_hi").bitwiseXOR(F.col("q_hi"))
    )
    scored = corp.join(F.broadcast(q)).select(
        "query_id", "vec_id", ham.cast("int").alias("hamming")
    )
    w = W.partitionBy("query_id").orderBy(F.col("hamming").asc(), F.col("vec_id").asc())
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", "rk", "vec_id", "hamming")
    )


def _prefix_bucket_expr(dims: list[int], lo: str = "b_lo", hi: str = "b_hi"):
    """Bucket id from the sign bits of ``dims`` (bit *pos* of the bucket =
    dimension ``dims[pos]``'s sign bit) — one integer expression, codegen
    all the way."""
    terms = []
    for pos, d in enumerate(dims):
        word = lo if d < 32 else hi
        terms.append(f"(({word} >> {d % 32}) & 1) * {1 << pos}")
    return F.expr(f"CAST({' + '.join(terms)} AS INT)")


def choose_balanced_prefix_dims(
    embeddings: DataFrame, prefix_bits: int, vec_col: str = "embedding"
) -> list[int]:
    """Balance-aware prefix-dimension selection — the fix for the
    measured clustered-skew failure (scripts/ann_recall_curve.py regime
    ``clustered``: biased prefix dims collapse the corpus into one hot
    bucket, recall stays 1.0 but file pruning stops paying). One
    aggregation pass scores every dimension's sign-bit balance
    (|P(bit=1) - 0.5|, smaller = splits the corpus more evenly) and the
    ``prefix_bits`` most balanced dims become the bucket hash — maximal
    bucket entropy without per-vector state, the axis-aligned analog of
    choosing balanced hyperplanes."""
    bq = binary_quantize(embeddings, vec_col)
    aggs = []
    for d in range(64):
        word = "b_lo" if d < 32 else "b_hi"
        aggs.append(
            F.avg(F.expr(f"({word} >> {d % 32}) & 1")).alias(f"p{d}")
        )
    row = bq.agg(*aggs).first()
    scored = sorted(
        range(64), key=lambda d: (abs((row[f"p{d}"] or 0.0) - 0.5), d)
    )
    return sorted(scored[:prefix_bits])


def materialize_binary_codes(
    embeddings: DataFrame,
    table_dir: str,
    prefix_bits: int = 4,
    vec_col: str = "embedding",
    auto_bits: bool = False,
):
    """Stage-0 layout for Hamming ANN at corpus scale: the 8-byte binary
    codes materialized as a txlog table hive-partitioned by a coarse LSH
    prefix — ``prefix_bits`` sign bits of the code (the sign of dimension
    *i* IS an axis-aligned hyperplane hash, the same family the rest of
    this module uses). ``probed_hamming_topk`` then opens ONLY the
    partitions within a Hamming radius of each query's prefix, so the
    stage-1 scan cost drops from O(corpus) per query batch to
    O(corpus x probed_buckets / 2^prefix_bits) — log-level partition
    pruning doing for ANN what it does for date filters.

    ``auto_bits`` selects the prefix dimensions by measured sign-bit
    BALANCE instead of taking dims 0..prefix_bits-1 (see
    ``choose_balanced_prefix_dims``) and persists the choice in the
    table's own properties (``ann.prefixDims`` — TBLPROPERTIES as the
    index's policy store), so every later probe derives query buckets
    from the same dims with no side channel. Returns the ``TxTable``."""
    from ..txlog import TxTable

    dims = (
        choose_balanced_prefix_dims(embeddings, prefix_bits, vec_col)
        if auto_bits
        else list(range(prefix_bits))
    )
    bq = (
        binary_quantize(embeddings, vec_col)
        .select("vec_id", "b_lo", "b_hi")
        .withColumn("bucket", _prefix_bucket_expr(dims))
    )
    t = TxTable(embeddings.sparkSession, table_dir)
    # ALWAYS publish the layout property, in the SAME commit as the data:
    # writing it only-when-non-default left a stale ann.prefixDims behind a
    # rebuild back to the default layout (probes would open the wrong
    # partitions), and a separate set_properties commit left a window where
    # a concurrent probe saw the new layout under the old policy.
    t.overwrite(
        bq,
        partition_by=["bucket"],
        props={"ann.prefixDims": ",".join(str(d) for d in dims)},
    )
    return t


def prefix_probe_buckets(prefix: int, prefix_bits: int, radius: int) -> list[int]:
    """All bucket ids within Hamming distance ``radius`` of ``prefix`` —
    the multi-probe set (flip up to ``radius`` of the prefix bits). A
    neighbor whose full-code distance is small can still differ in a few
    PREFIX bits, so probing radius r bounds the recall loss to candidates
    with >r of their bit errors concentrated in the prefix."""
    from itertools import combinations

    out = {prefix}
    for r in range(1, radius + 1):
        for bits in combinations(range(prefix_bits), r):
            m = 0
            for b in bits:
                m |= 1 << b
            out.add(prefix ^ m)
    return sorted(out)


def min_radius_for_recall(prefix_bits: int, min_recall: float) -> int:
    """Smallest probe radius whose ADVERSARIAL recall floor
    (plans/planner.ann_recall_floor — the measured binomial
    probed-fraction bound, SCALING.md 1M table) clears ``min_recall``.
    radius == prefix_bits probes every bucket (floor 1.0), so any
    ``min_recall <= 1`` is reachable; above 1 is a caller error."""
    if not (0.0 <= min_recall <= 1.0):
        raise ValueError(f"min_recall must be in [0, 1], got {min_recall}")
    from ..plans.planner import ann_recall_floor

    for r in range(prefix_bits + 1):
        if ann_recall_floor(prefix_bits, r) >= min_recall:
            return r
    return prefix_bits


def probed_hamming_topk(
    codes_table,
    queries: DataFrame,
    k: int = 5,
    prefix_bits: int = 4,
    radius: int = 1,
    vec_col: str = "embedding",
    min_recall: float | None = None,
    as_of: int | None = None,
    allowed: DataFrame | None = None,
) -> DataFrame:
    """Stage-1 Hamming retrieval against a ``materialize_binary_codes``
    table, scanning only the probed buckets: query prefixes are a bounded
    driver-side read (at most 2^prefix_bits distinct buckets regardless of
    query count — the same metadata-sized collect the IVF probe planner
    makes), the probe set feeds a ``bucket in (...)`` predicate the txlog
    prunes FILES with, and the XOR+popcount top-k runs over the surviving
    partitions only. Approximate by design: recall vs the full scan is
    bounded by the prefix-error argument on ``prefix_probe_buckets`` and
    asserted in tests.

    The bucket hash is read from the TABLE's own policy: a build with
    ``auto_bits`` logged its balanced prefix dims as the
    ``ann.prefixDims`` property, and the probe derives query buckets from
    exactly those dims — index layout and probe can never disagree.

    ``min_recall`` makes the probe FLOOR-AWARE: the requested radius is
    escalated until the adversarial recall floor
    (``min_radius_for_recall`` / planner.ann_recall_floor, the measured
    binomial bound) clears it — a guard against the measured sharp edge
    where e.g. prefix_bits=8/radius=1 collapses worst-case recall to
    0.035 (SCALING.md, 1M adversarial curve). Callers who know their
    query stream is neighbor-like (measured recall 1.0) may leave it
    unset and keep the cheaper probe."""
    # as_of pins both the layout property and the bucket read to ONE
    # version (time travel / prefix-consistency replay); default = head
    prop = codes_table.properties(as_of=as_of).get("ann.prefixDims")
    dims = (
        [int(x) for x in prop.split(",")]
        if prop
        else list(range(prefix_bits))
    )
    prefix_bits = len(dims)  # the logged layout always wins
    if min_recall is not None:
        radius = max(radius, min_radius_for_recall(prefix_bits, min_recall))
    q = binary_quantize(queries, vec_col).select(
        F.col("query_id"),
        F.col("b_lo").alias("q_lo"),
        F.col("b_hi").alias("q_hi"),
        _prefix_bucket_expr(dims).alias("q_bucket"),
    ).localCheckpoint(eager=True)
    probe: set[int] = set()
    rows = q.select("q_bucket").distinct().collect()  # plan-bounded: <=2^prefix_bits bucket ids, probe planning only
    for r in rows:
        probe.update(prefix_probe_buckets(r.q_bucket, prefix_bits, radius))
    corp = codes_table.read(
        predicates=[("bucket", "in", sorted(probe))], as_of=as_of
    )
    if allowed is not None:
        # FILTERED vector search (the metadata-predicate top-k every
        # production vector store needs): restrict candidates to the
        # allowed key set BEFORE ranking — a distributed semi-join, so
        # the predicate's result never lands on the driver and bucket
        # file-pruning still applies. This is post-filtering: under a
        # highly selective predicate raise ``radius``/``min_recall`` to
        # keep enough allowed candidates in the probe set.
        corp = corp.join(allowed.select("vec_id").distinct(), "vec_id", "semi")
    ham = F.bit_count(F.col("b_lo").bitwiseXOR(F.col("q_lo"))) + F.bit_count(
        F.col("b_hi").bitwiseXOR(F.col("q_hi"))
    )
    # each query scores only rows in ITS probed buckets: prefix distance
    # <= radius, an integer filter on the broadcast join — the file-level
    # `in` predicate above is the UNION of probes, this is the per-query cut
    scored = (
        corp.join(F.broadcast(q))
        .filter(
            F.bit_count(F.col("bucket").bitwiseXOR(F.col("q_bucket"))) <= radius
        )
        .select("query_id", "vec_id", ham.cast("int").alias("hamming"))
    )
    w = W.partitionBy("query_id").orderBy(
        F.col("hamming").asc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", "rk", "vec_id", "hamming")
    )
