"""Incrementally-maintained bucketed ANN index fed by a table's own
change feed (X3/X2 × S2/T1 — the composition the stack was missing).

``materialize_binary_codes`` (operators/similarity.py) builds the
prefix-bucketed binary-code table FROM SCRATCH per build: fine for a
static corpus, wrong for the reference's pipeline shape where
embeddings arrive as CDC (/root/reference/README.md:135-138 — rows
flow changefeed → lake → serving continuously). At 100 TB the corpus
table takes a trickle of upserts and tombstones forever; rebuilding a
billion-row index per refresh is O(corpus), while the change feed is
O(changed rows). This module maintains the SAME index table
incrementally from the source table's CDF:

- a CDF batch reduces to ONE net operation per vec_id (last change
  wins; an update's delete+insert pair at one version nets to the
  post-image insert),
- upserts re-quantize only the changed vectors (sign-bit packing +
  prefix bucket — integer codegen expressions, no Python in the row
  path),
- tombstones delete by key GLOBALLY (an updated vector may cross
  buckets, so matching is on ``vec_id``, never bucket-local),
- the whole net batch lands as a Delta-style ``MERGE INTO`` on the
  index txlog table, partitioned by bucket so probes keep their
  file-level pruning.

The lifecycle of all three vector indexes here (Hamming, IVF, IVF-PQ) —
bootstrap, watermark, catch-up, stream, scratch check, commit protocol —
is shared, in operators/cdf_index.py; this module holds what
differs: quantize vs. assign vs. assign+encode, model training and the
IVF drift policy.

Equality contract (asserted by the ``ann_index_incremental`` gate and
tests/test_ann_index_incremental.py): after ANY commit sequence, the
incrementally-maintained index content equals a from-scratch
``materialize_binary_codes`` of the source's head snapshot. Replay
safety: re-applying a delivered batch is a content no-op (the merge is
keyed and the net-change reduction is deterministic), the same
effectively-once contract the latest-state materializers use.

Scale shape: per batch cost tracks the CHANGED rows. The merge runs
``mode="dv"`` by DEFAULT — measured at 1M vectors / 1% spread-key
churn, a CoW merge rewrote every candidate file (uniformly-spread keys
defeat span pruning, O(corpus) write) while the DV merge writes only
the deletion vectors plus the changed rows' new code files. Bootstrap
is a straight partitioned append of the quantized snapshot (same plan
as ``materialize_binary_codes`` — no change-feed machinery until there
are changes). The index stays partitioned by the probe prefix, so
``probed_hamming_topk`` keeps opening only the probed buckets;
schedule OPTIMIZE out-of-band to fold accumulated DVs.
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..localrel import local_df
from .cdf_index import (
    IndexFamily,
    _lay_down,
    assert_matches_scratch,
    catchup,
    stream,
)
from .similarity import _prefix_bucket_expr, binary_quantize

_PREFIX_PROP = "ann.prefixDims"
_WATERMARK = "ann.srcVersion"

#: rows per clustered index file: bounds each file to a tight vec_id
#: span inside its bucket/cid partition, so a keyed MERGE's key-set
#: pruning touches O(changed keys) files, not every file (at 24 B/row
#: this is ~1.5 MB files locally; cluster deployments raise it toward
#: the object-store sweet spot and keep the SAME pruning shape)
_CLUSTER_ROWS_PER_FILE = 65536


def _bloom_bits(rows_per_file: int) -> int:
    """Bloom sizing for the vec_id point-key index: ~16 bits/row with 7
    hashes gives ~0.1% false-positive per (key, file) probe, so a
    trickle merge's candidate set stays O(changed keys) instead of
    O(files). Cost: 2 B/row of log metadata per file — the same trade
    Delta's bloom index makes (theirs defaults looser at fpp 0.1).
    Power of two so txlog's per-file right-sizing can fold small files'
    filters down (md5 %% m' == (md5 %% m) %% m' for m' | m)."""
    m = 1024
    while m < 16 * max(rows_per_file, 1):
        m <<= 1
    return m


def _net_changes(changes: DataFrame) -> DataFrame:
    """Reduce a CDF slice to one net row per vec_id: the change at the
    highest ``_commit_version`` wins; within one version an insert beats
    the delete it replaced (Delta renders an update as delete+insert at
    the same version — the post-image is the surviving row).

    Carried pairs cancel: a key whose earliest change is a delete and
    whose latest is an insert with null-safe-equal (``<=>``) data
    columns (every column but ``vec_id`` and the ``_``-prefixed CDF
    metadata) did not change across the range — a copy-on-write rewrite
    carried it over — so it yields no row and a fold re-encodes only the
    vectors that changed. ``<=>`` treats ±0.0 and NaN as equal, as every
    encoder does (``binary_quantize`` tests ``> 0``)."""
    # one hash aggregate (map-side partial agg, no sort) instead of the
    # former row_number window: max_by on the lexicographic
    # (_commit_version, is-insert) key picks exactly the window's top
    # row — highest version, insert over delete within it (guide §2.3:
    # aggregate before the shuffle; the window shipped every change row);
    # min_by on the same key picks the earliest change
    cols = changes.columns
    key = F.struct(
        F.col("_commit_version"),
        (F.col("_change_type") == "insert").cast("int"),
    )
    payload = [c for c in cols if c != "vec_id"]
    data = [c for c in payload if not c.startswith("_")]
    first = F.struct(F.col("_change_type"), *data)
    carried = (
        (F.col("__first._change_type") == "delete")
        & (F.col("__top._change_type") == "insert")
        & F.struct(*[F.col(f"__first.{c}") for c in data]).eqNullSafe(
            F.struct(*[F.col(f"__top.{c}") for c in data])
        )
    )
    return (
        changes.groupBy("vec_id")
        .agg(
            F.max_by(F.struct(*payload), key).alias("__top"),
            F.min_by(first, key).alias("__first"),
        )
        .filter(~carried)
        .select("vec_id", *[F.col(f"__top.{c}").alias(c) for c in payload])
        .select(*cols)
    )


def _vec_bloom(rows_per_file: int) -> dict:
    """Point-key skipping for the keyed MERGE on ``vec_id``: every
    bucket/list partition tiles the full vec_id domain, so min/max spans
    alone cannot prune scattered-key increments — the per-file bloom
    proves keys absent where ranges cannot."""
    return {
        "cols": ["vec_id"], "bits": _bloom_bits(rows_per_file), "hashes": 7,
        "auto_size": True,
    }


def _hamming_rows(vecs: DataFrame, dims: list[int]) -> DataFrame:
    """(vec_id, b_lo, b_hi, bucket): sign-bit codes + prefix bucket."""
    return (
        binary_quantize(vecs)
        .select("vec_id", "b_lo", "b_hi")
        .withColumn("bucket", _prefix_bucket_expr(dims))
    )


def _dims_prop(dims: list[int]) -> dict:
    return {_PREFIX_PROP: ",".join(str(d) for d in dims)}


def _index_dims(index, prefix_bits: int) -> list[int]:
    prop = index.properties().get(_PREFIX_PROP)
    if prop:
        return [int(x) for x in prop.split(",")]
    return list(range(prefix_bits))


def _net_source(changes: DataFrame, encode) -> DataFrame:
    """Merge source for one CDF batch of a vector index: one net change
    per vec_id, inserts turned into index rows by ``encode`` (only the
    CHANGED vectors), deletes as key-only tombstones — matched by key
    GLOBALLY, since an updated vector may cross buckets/lists.
    Materialized ONCE: the merge references its source several times
    (matched update, no-match anti-join, delete clause), and
    re-evaluating the encode per reference multiplies the batch cost."""
    net = _net_changes(changes)
    ins = net.filter(F.col("_change_type") == "insert").select("vec_id", "embedding")
    dels = net.filter(F.col("_change_type") == "delete").select("vec_id")
    return (
        encode(ins)
        .withColumn("_tombstone", F.lit(False))
        .unionByName(dels.withColumn("_tombstone", F.lit(True)), allowMissingColumns=True)
        .localCheckpoint(eager=True)
    )


def _vector_family(
    label: str,
    rows: tuple[str, ...],
    partition: str,
    encode,
    props=lambda index: {},
    rows_per_file: int = _CLUSTER_ROWS_PER_FILE,
    **hooks,
) -> IndexFamily:
    """What the three vector indexes share: the (vec_id, embedding) feed,
    the vec_id merge key, vec_id clustering + bloom inside bucket/list
    partitions and the net-change merge source, where
    ``encode(index, inserts)`` turns changed vectors into index rows."""
    return IndexFamily(
        label=label,
        watermark=_WATERMARK,
        columns=("vec_id", "embedding"),
        rows=rows,
        key=("vec_id",),
        cluster_by=("vec_id",),
        partition_by=(partition,),
        bloom=_vec_bloom(rows_per_file),
        rows_per_file=rows_per_file,
        delta=lambda index, changes: (
            _net_source(changes, lambda ins: encode(index, ins)), props(index)
        ),
        **hooks,
    )


def _retrain(fam: IndexFamily, src, index, name: str) -> int:
    """Atomic retrain-and-swap: the family's bootstrap trains fresh models
    on the CURRENT source snapshot and commits them to their tables
    (probes stay pinned to the old generations), then ONE overwrite
    swaps in the lists with the new generation pins — probes see
    entirely-old or entirely-new, never a half-built index or a
    cross-generation pairing. Returns the new source watermark."""
    head = src.version()
    built = fam.bootstrap(src, index, head)
    if built is None:
        raise RuntimeError(
            f"{name}: source {src.path!r} is empty at v{head} — nothing to "
            "train on; drop the index tables instead"
        )
    rows, props = built
    _lay_down(fam, index, rows, {**props, _WATERMARK: str(head)}, overwrite=True)
    return head


def _hamming(
    prefix_bits: int = 4,
    mode: str = "dv",
    rows_per_file: int = _CLUSTER_ROWS_PER_FILE,
    auto_bits: bool = False,
    dims: list[int] | None = None,
) -> IndexFamily:
    def bootstrap(src, index, head):
        # quantize the snapshot STRAIGHT into a partitioned append — the
        # plan of materialize_binary_codes, so the initial build costs
        # what a from-scratch build costs
        snap = src.read(as_of=head).select("vec_id", "embedding")
        if not snap.take(1):
            return None
        if auto_bits:
            from .similarity import choose_balanced_prefix_dims

            d = choose_balanced_prefix_dims(snap, prefix_bits)
        else:
            d = _index_dims(index, prefix_bits)
        return _hamming_rows(snap, d), _dims_prop(d)

    def layout(index):
        return dims or _index_dims(index, prefix_bits)

    return _vector_family(
        "ANN index",
        ("vec_id", "b_lo", "b_hi", "bucket"),
        "bucket",
        lambda index, ins: _hamming_rows(ins, layout(index)),
        # the probe layout rides the first commit of a stream-first index
        # (the policy-store contract of materialize_binary_codes)
        props=lambda index: (
            {} if _PREFIX_PROP in index.properties() else _dims_prop(layout(index))
        ),
        rows_per_file=rows_per_file,
        bootstrap=bootstrap,
        scratch=lambda index, src: _hamming_rows(
            src.read().select("vec_id", "embedding"), layout(index)
        ),
        mode=mode,
    )


def catchup_ann_index(
    src,
    index,
    prefix_bits: int = 4,
    step: int | None = None,
    mode: str = "dv",
    auto_bits: bool = False,
    rows_per_file: int = _CLUSTER_ROWS_PER_FILE,
) -> int:
    """Batch catch-up (``cdf_index.catchup``): advance the index from its
    recorded source watermark (``ann.srcVersion`` property) to the source
    table's head by applying the CDF in ``step``-sized version slices
    (default: one slice for the whole gap). Returns the new watermark
    version. Calling it with no new source commits is a no-op.

    ``auto_bits`` (bootstrap only): pick the ``prefix_bits`` most
    BALANCED sign-bit dimensions from the initial snapshot instead of
    dims 0..n-1 — the clustered-corpus fix measured in SCALING.md's
    adversarial recall section. The choice persists in the index's
    ``ann.prefixDims`` property, and every later increment and probe
    derives buckets from the SAME dims (layout is a bootstrap-time
    decision; changing it means rebuilding, exactly like re-keying a
    partition spec)."""
    fam = _hamming(prefix_bits, mode, rows_per_file, auto_bits)
    return catchup(fam, src, index, step)


def stream_ann_index_to_tx_table(
    spark: SparkSession,
    src_dir: str,
    index_dir: str,
    checkpoint_dir: str,
    prefix_bits: int = 4,
    available_now: bool = True,
    mode: str = "dv",
):
    """Streaming maintenance (``cdf_index.stream``): consume the source
    table's change feed as a native Structured Streaming source and fold
    every micro-batch into the index via the same net-change merge as
    the batch path. Offsets checkpoint with the stream, so a restart
    resumes after the last folded commit; a fresh checkpoint over a
    maintained index tails from its ``ann.srcVersion`` watermark, and a
    virgin index bootstraps from the snapshot images (Hamming
    quantization needs no training). Buckets derive from the INDEX's own
    ``ann.prefixDims`` per batch, so an ``auto_bits`` layout is kept."""
    return stream(
        spark, src_dir, [(index_dir, lambda s: _hamming(prefix_bits, mode))],
        checkpoint_dir, available_now,
    )


def assert_index_matches_scratch(index, src) -> None:
    """The equality proof: incrementally-maintained index content ==
    from-scratch quantization of the source head. Raises on divergence."""
    assert_matches_scratch(_hamming(), index, src)


def _drift_policy(
    src, index, prefix: str, probe, rebuild, models: str, rebuild_call: str
) -> int:
    """Post-catch-up drift check shared by IVF (``prefix="ann.ivf"``) and
    IVF-PQ (``"ann.ivfpq"``): with ``<prefix>.maxDrift`` set, a drift
    ratio past it raises an actionable error (default) or triggers the
    atomic retrain-and-swap (``<prefix>.onDrift=rebuild``).
    ``<prefix>.driftSampleMod`` = s makes the probe a deterministic ~1/s
    key sample — a policy CHECK must be o(corpus) at billion scale.
    Returns the index's source watermark."""
    props = index.properties()
    head = int(props.get(_WATERMARK, -1))
    max_drift = props.get(f"{prefix}.maxDrift")
    if not max_drift:
        return head
    mod = props.get(f"{prefix}.driftSampleMod")
    d = probe(int(mod) if mod else None)
    if mod and d["mean_d2"] is None:
        # sample_mod larger than the corpus can leave the key sample
        # empty (avg over zero rows = NULL); treating that as no-drift
        # would silently disable the retrain guard forever — fall back
        # to the exact probe (cheap by definition at that size)
        d = probe(None)
    ratio = d["drift_ratio"]
    if ratio is None or ratio <= float(max_drift):
        return head
    if props.get(f"{prefix}.onDrift", "error") == "rebuild":
        return rebuild()
    raise RuntimeError(
        f"{models} drifted {ratio:.2f}x past the bootstrap geometry "
        f"({prefix}.maxDrift={max_drift}): probe recall is degrading. "
        f"Either {rebuild_call} for an atomic retrain-and-swap, or set "
        f"the {prefix}.onDrift=rebuild property to do it automatically "
        "at catch-up time."
    )


def _key_sample(df: DataFrame, sample_mod: int | None) -> DataFrame:
    """The deterministic ``xxhash64(vec_id) % s == 0`` ~1/s key sample
    (stable across catch-ups, no RNG state)."""
    if sample_mod is None or sample_mod <= 1:
        return df
    return df.filter(F.pmod(F.xxhash64(F.col("vec_id")), F.lit(int(sample_mod))) == 0)


def _drift_report(cur, boot) -> dict:
    boot_f = float(boot) if boot is not None else None
    return {
        "mean_d2": float(cur) if cur is not None else None,
        "bootstrap_mean_d2": boot_f,
        "drift_ratio": (
            float(cur) / boot_f if cur is not None and boot_f else None
        ),
    }


# -- IVF variant: frozen coarse quantizer + CDF-maintained lists -------------


def _pinned_cents(index, cents, as_of: int | None = None) -> DataFrame:
    """The quantizer GENERATION this index was built against: the index's
    ``ann.ivf.centsVersion`` property names a centroid-table snapshot,
    and every consumer (probes, increments, drift, equality proofs)
    time-travels to it. Because the property commits ATOMICALLY with
    index content (overwrite carries props in the same commit), a
    rebuild-and-swap can overwrite the centroid table first and flip
    lists + pin together — no reader ever pairs a new quantizer with
    old lists or vice versa. Falls back to head for pre-pinning
    indexes."""
    pin = index.properties(as_of=as_of).get("ann.ivf.centsVersion")
    if pin is not None:
        return cents.read(as_of=int(pin))
    return cents.read()


def _train_ivf(src, cents, head: int, n_lists: int, n_iter: int):
    """Train the coarse quantizer on the source snapshot at ``head``,
    commit it to ``cents`` and assign the snapshot under it: the list
    rows plus the properties that pin this generation. ``None`` when the
    snapshot is empty — k-means on zero rows would freeze an EMPTY
    centroid table, and every later increment's assign_clusters would
    inner-join against zero centroids, dropping inserts forever."""
    from .clustering import assign_clusters, kmeans

    snap = src.read(as_of=head).select("vec_id", "embedding")
    if not snap.take(1):
        return None
    centroids, _ = kmeans(snap, k=n_lists, n_iter=n_iter)
    cents.overwrite(centroids.select("cid", "c_vec"))
    cv = cents.version()
    # assign under the FINAL (frozen) centroids — kmeans() returns
    # assignments made against the pre-update centroids of its last
    # round, but every later increment and the scratch check assign
    # against the frozen table, so the bootstrap must too
    assigned = assign_clusters(snap, cents.read(as_of=cv)).localCheckpoint(
        eager=True
    )
    boot_d2 = assigned.agg(F.avg("d2")).collect()[0][0]
    return assigned.select("vec_id", "embedding", "cid"), {
        "ann.ivf.nLists": str(n_lists),
        # generation pin: consumers time-travel the centroid table to
        # THIS snapshot (see _pinned_cents)
        "ann.ivf.centsVersion": str(cv),
        # drift baseline: ivf_index_drift compares the current mean
        # squared assignment distance against it
        "ann.ivf.bootMeanD2": repr(float(boot_d2)),
    }


def _ivf(cents, n_lists: int = 8, n_iter: int = 2, mode: str = "dv") -> IndexFamily:
    from .clustering import assign_clusters

    # the pinned generation, read once per catch-up
    pinned = functools.cache(
        lambda index: _pinned_cents(index, cents).localCheckpoint(eager=True)
    )

    def after(src, index):
        n = int(index.properties().get("ann.ivf.nLists", 8))
        return _drift_policy(
            src, index, "ann.ivf",
            lambda mod: ivf_index_drift(index, cents, sample_mod=mod),
            lambda: rebuild_ivf_index(src, index, cents, n_lists=n, n_iter=n_iter),
            f"IVF quantizer at {cents.path!r}",
            "rebuild_ivf_index(src, index, cents)",
        )

    return _vector_family(
        "IVF index",
        ("vec_id", "embedding", "cid"),
        "cid",
        # only the CHANGED vectors are assigned to their nearest frozen
        # centroid (broadcast join, no corpus shuffle)
        lambda index, ins: assign_clusters(ins, pinned(index)).select(
            "vec_id", "embedding", "cid"
        ),
        bootstrap=lambda src, index, head: _train_ivf(
            src, cents, head, n_lists, n_iter
        ),
        scratch=lambda index, src: assign_clusters(
            src.read().select("vec_id", "embedding"), _pinned_cents(index, cents)
        ),
        mode=mode,
        after=after,
    )


def rebuild_ivf_index(
    src,
    index,
    cents,
    n_lists: int = 8,
    n_iter: int = 2,
) -> int:
    """Atomic retrain-and-swap for a drifted quantizer (``_retrain``):
    fresh centroids from the CURRENT source snapshot, swapped in with the
    re-assigned lists in ONE commit. The old centroid snapshot stays
    time-travel-readable until the cents table's vacuum retention passes
    it (vacuum it only after every index pinning that generation has
    moved on). Returns the new source watermark."""
    return _retrain(_ivf(cents, n_lists, n_iter), src, index, "rebuild_ivf_index")


def catchup_ivf_index(
    src,
    index,
    cents,
    n_lists: int = 8,
    n_iter: int = 2,
    step: int | None = None,
    mode: str = "dv",
) -> int:
    """Incrementally-maintained IVF index — the float-ANN twin of
    ``catchup_ann_index`` (``cdf_index.catchup``). Bootstrap trains the
    coarse quantizer (Lloyd's k-means, operators/clustering.py) on the
    initial snapshot and FREEZES it: the centroid table (``cents``)
    becomes the index's layout contract, exactly like ``ann.prefixDims``
    for the Hamming index. Increments assign only the CHANGED vectors to
    their nearest frozen centroid and fold them into the cid-partitioned
    list table with the same net-change keyed merge. Probes
    (``ivf_index_topk``) equi-join probed list ids and prune FILES via
    the partition predicate.

    Freezing is the honest contract: re-training per increment would
    re-assign the whole corpus (O(corpus) — a rebuild in disguise) and
    silently change every probe's geometry. When corpus drift degrades
    recall, the drift policy (``ann.ivf.maxDrift``/``ann.ivf.onDrift``,
    see ``_drift_policy``) raises or runs ``rebuild_ivf_index`` after
    each catch-up."""
    return catchup(_ivf(cents, n_lists, n_iter, mode), src, index, step)


def ivf_index_topk(
    index,
    cents,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 3,
    as_of: int | None = None,
    allowed: DataFrame | None = None,
) -> DataFrame:
    """Probed cosine top-k against a ``catchup_ivf_index`` table: each
    query keeps its ``nprobe`` nearest frozen centroids, the UNION of
    probed list ids becomes a partition predicate (file pruning on the
    cid-partitioned table — bounded driver-side read, at most n_lists
    ids), and the exact rerank runs only over the probed lists.
    ``as_of`` pins the read (and its quantizer-generation pin) to one
    historical index version; ``allowed`` (vec_id keys) scopes the
    candidates via a distributed semi-join before ranking — the
    filtered-search convention shared with probed_hamming_topk."""
    from .similarity import _dot, _norm, _ivf_probe_lists

    cents_df = _pinned_cents(index, cents, as_of=as_of)
    q = queries.select("query_id", F.col("embedding").alias("q_vec"))
    scored = q.join(F.broadcast(cents_df)).select(
        "query_id",
        "cid",
        (
            _dot(F.col("q_vec"), F.col("c_vec"))
            / (_norm(F.col("q_vec")) * _norm(F.col("c_vec")))
        ).alias("c_cos"),
    )
    wp = W.partitionBy("query_id").orderBy(
        F.col("c_cos").desc(), F.col("cid").asc()
    )
    probe_ids = sorted(
        {
            r.cid
            for r in scored.withColumn("pr", F.row_number().over(wp))
            .filter(F.col("pr") <= nprobe)
            .select("cid")
            .distinct()
            .collect()  # bounded by n_lists: probe planning, not data
        }
    )
    corp = index.read(predicates=[("cid", "in", probe_ids)], as_of=as_of)
    if allowed is not None:
        corp = corp.join(allowed.select("vec_id").distinct(), "vec_id", "semi")
    return _ivf_probe_lists(
        embeddings=corp.select("vec_id", "cid", "embedding"),
        cents=cents_df.select("cid", "c_vec"),
        queries=queries.select("query_id", "embedding"),
        k=k,
        nprobe=nprobe,
        vec_col="embedding",
    )


def assert_ivf_index_matches_scratch(index, cents, src) -> None:
    """Equality proof for the IVF variant: the incrementally-maintained
    list table equals a from-scratch assignment of the source head under
    the SAME frozen centroids. Raises on divergence."""
    assert_matches_scratch(_ivf(cents), index, src)


def ivf_index_drift(index, cents, sample_mod: int | None = None) -> dict:
    """Retrain signal for the frozen quantizer: mean squared assignment
    distance of the CURRENT list table vs the value logged at bootstrap
    (``ann.ivf.bootMeanD2``). A drifting corpus pulls vectors away from
    the frozen centroids, inflating the ratio — probe recall degrades
    with it, and past a policy threshold (e.g. 1.5×) the answer is a
    rebuild (drop index + centroids, bootstrap on the current snapshot;
    the quantizer is layout, and layout changes are rebuilds, exactly
    like re-keying a partition spec). One broadcast join + one global
    aggregate over the index — no source-table access. ``sample_mod``
    = s restricts the probe to the deterministic ``xxhash64(vec_id) %
    s == 0`` key sample (the IVF-PQ twin's o(corpus) policy shape —
    the list table is corpus-sized too)."""
    lists = _key_sample(index.read(), sample_mod)
    # the pinned centroids are model-sized: collect once so the drift
    # aggregate knows the dimension driver-side and the corpus-sized d2
    # runs through the codegen'd _sq_dist_expr twin (bit-identical fold;
    # the HOF form's interpreted lambdas cost ~1.5 s / 512k evals) over
    # a JVM local relation instead of a re-read of the cents table
    from .clustering import _sq_dist_expr

    cent_rows = [
        (int(r["cid"]), [float(x) for x in r["c_vec"]])
        for r in _pinned_cents(index, cents).collect()
    ]
    dims = len(cent_rows[0][1]) if cent_rows else 0
    cents_df = local_df(
        index.spark, cent_rows, "cid int, c_vec array<double>"
    )
    cur = (
        lists
        .join(F.broadcast(cents_df), "cid")
        .agg(
            F.avg(_sq_dist_expr("embedding", "c_vec", dims)).alias("m")
        )
        .collect()[0]["m"]
    )
    return _drift_report(cur, index.properties().get("ann.ivf.bootMeanD2"))


# -- IVF-PQ variant: compressed lists, CDF-maintained ------------------------
#
# The billion-scale production shape (Jégou et al. IVFADC, the FAISS
# default): inverted lists store 8-byte PQ codes instead of raw vectors
# (32× compression — at 100 TB of embeddings the lists fit in ~3 TB),
# probes ADC-score only the probed lists' codes, and the final top-k
# re-ranks a bounded shortlist against full-precision vectors fetched
# BY KEY from the source table. Both models freeze at bootstrap (the
# coarse quantizer AND the per-subspace codebooks are layout, like
# ann.prefixDims); generation pins (`ann.ivf.centsVersion`,
# `ann.ivfpq.booksVersion`) commit atomically with index content so a
# rebuild-and-swap never splits a reader across generations. The whole
# pipeline runs in the NORMALIZED space (cosine == L2 there, so ADC's
# squared-L2 ranks by the retrieval metric — the knn_pq_adc lesson).


def _unit_vecs(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    from .similarity import unit_vectors

    return unit_vectors(df, vec_col)


def _residuals_from_assigned(
    assigned: DataFrame, cents_df: DataFrame, keep_d2: bool = False
) -> DataFrame:
    """(vec_id, cid, embedding=residual) from an assigned frame (vec_id,
    embedding, cid): canonical IVFADC encodes the RESIDUAL (vector −
    assigned centroid), not the raw vector (Jégou et al. §IV-A) —
    residuals concentrate around the origin whichever list the vector
    sits in, so the shared per-subspace codebooks spend their 4 bits on
    a far smaller dynamic range and the same 8-byte code buys a finer
    ADC shortlist. Assignment ties break to the lowest cid
    (assign_clusters), as in list placement, so code and cid always
    agree. ``keep_d2`` carries the
    assignment distance through so the bootstrap can take its drift
    baseline off THIS relation's one materialization instead of
    checkpointing the assignment separately (one corpus-sized
    materialization instead of two)."""
    return assigned.join(
        F.broadcast(cents_df.select("cid", "c_vec")), "cid"
    ).select(
        "vec_id",
        "cid",
        F.zip_with("embedding", "c_vec", lambda x, c: x - c).alias(
            "embedding"
        ),
        *(["d2"] if keep_d2 else []),
    )


def _encode_residuals(res: DataFrame, model) -> DataFrame:
    """(vec_id, cid, pq_code) from residual rows (vec_id, cid, embedding)."""
    from .pq import pq_encode_arrow

    return (
        pq_encode_arrow(res.select("vec_id", "embedding"), model)
        .join(res.select("vec_id", "cid"), "vec_id")
        .select("vec_id", "cid", "pq_code")
    )


def _assign_encode_residual(
    ins: DataFrame, cents_df: DataFrame, model: list[list[list[float]]]
) -> DataFrame:
    """(vec_id, cid, pq_code): nearest-centroid assignment, residual
    subtraction and PQ encoding in ONE Arrow pass over the (unit)
    batch vectors — the incremental fold's former shape was three
    relations (assign kernel → broadcast-join+zip_with residuals →
    encode kernel) with two checkpoints and a join between them
    (guide §4: cross the Python boundary once). Bit-identical to
    assign_clusters + _residuals_from_assigned + pq_encode_arrow:
    all three already compute in float64 numpy / IEEE-double JVM ops
    with the same subtract/argmin semantics (first minimum == lowest
    cid / lowest code)."""
    import numpy as np
    import pandas as pd

    cents = sorted(
        (int(r["cid"]), [float(x) for x in r["c_vec"]])
        for r in cents_df.collect()  # k-bounded: model, not data
    )
    cids = np.asarray([c for c, _ in cents], dtype=np.int64)
    cmat = np.asarray([v for _, v in cents], dtype=np.float64)
    m = len(model)
    sub = len(model[0][0])
    cbook = np.asarray(model, dtype=np.float64)  # (m, kq, sub)

    def kern(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            vecs = np.array(
                [np.asarray(v, dtype=np.float64) for v in pdf["embedding"]]
            )
            d2 = ((vecs[:, None, :] - cmat[None]) ** 2).sum(-1)
            j = d2.argmin(1)  # first minimum == lowest cid (cents sorted)
            res = (vecs - cmat[j]).reshape(len(pdf), m, sub)
            dq = ((res[:, :, None, :] - cbook[None]) ** 2).sum(-1)
            codes = dq.argmin(-1).astype(np.int64)
            packed = np.zeros(len(pdf), dtype=np.int64)
            for t in range(m):
                packed |= codes[:, t] << np.int64(4 * t)
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"], "cid": cids[j], "pq_code": packed}
            )

    return ins.select("vec_id", "embedding").mapInPandas(
        kern, "vec_id long, cid int, pq_code long"
    )


def _books_rows(spark, model: list[list[list[float]]]) -> DataFrame:
    rows = [
        (j, c, model[j][c])
        for j in range(len(model))
        for c in range(len(model[0]))
    ]
    return local_df(spark, rows, "j int, cid int, c_vec array<double>")


def _pinned_books(index, books, as_of: int | None = None) -> list[list[list[float]]]:
    """Driver-side codebook model of the generation the index pins (m·k·(d/m)
    floats — a few KB, the same boundedness class as the centroid table)."""
    pin = index.properties(as_of=as_of).get("ann.ivfpq.booksVersion")
    rows = {
        (r.j, r.cid): list(r.c_vec)
        for r in books.read(as_of=int(pin) if pin is not None else None).collect()
    }
    m = 1 + max(j for j, _ in rows)
    kq = 1 + max(c for _, c in rows)
    return [[rows[(j, c)] for c in range(kq)] for j in range(m)]


def _train_ivfpq(
    src, index, cents, books, head: int, n_lists: int, m: int, kq: int,
    n_iter: int, sample: int,
):
    """Train and freeze both IVF-PQ models on the source snapshot at
    ``head`` (coarse centroids -> ``cents``, per-subspace codebooks ->
    ``books``) and encode the snapshot under them: the list rows plus
    the properties pinning both generations. ``None`` when the snapshot
    is empty (nothing to train on)."""
    from .clustering import assign_clusters, kmeans
    from .pq import train_pq_codebooks

    snap = _unit_vecs(
        src.read(as_of=head).select("vec_id", "embedding")
    ).localCheckpoint(eager=True)
    if not snap.take(1):
        return None
    centroids, _ = kmeans(snap, k=n_lists, n_iter=n_iter)
    cents.overwrite(centroids.select("cid", "c_vec"))
    cv = cents.version()
    # RESIDUAL encoding (canonical IVFADC, see _residuals_from_assigned):
    # the training input and every later encode derive from the SAME
    # pinned cents generation, so codes never mix encodings across a
    # retrain. ONE corpus-sized materialization: the residual checkpoint
    # carries d2 so the drift baseline reads off it.
    res = _residuals_from_assigned(
        assign_clusters(snap, cents.read(as_of=cv)),
        cents.read(as_of=cv),
        keep_d2=True,
    ).localCheckpoint(eager=True)
    boot_d2 = res.agg(F.avg("d2")).collect()[0][0]
    model = train_pq_codebooks(res, m=m, k=kq, n_iter=n_iter, sample=sample)
    books.overwrite(_books_rows(index.spark, model))
    bv = books.version()
    rows = _encode_residuals(res, model).localCheckpoint(eager=True)
    return rows, {
        "ann.ivf.nLists": str(n_lists),
        "ann.ivf.centsVersion": str(cv),
        "ann.ivfpq.booksVersion": str(bv),
        "ann.ivfpq.m": str(m),
        "ann.ivfpq.k": str(kq),
        # encoding is LAYOUT, frozen at bootstrap: every later
        # encode/read derives it from here ("raw" = pre-residual
        # indexes, which keep working unchanged)
        "ann.ivfpq.encoding": "residual",
        # drift baseline in the NORMALIZED space (the index's metric
        # space): ivfpq_index_drift compares the current source
        # snapshot's assignment distance against it
        "ann.ivfpq.bootMeanD2": repr(float(boot_d2)),
    }


def _ivfpq_encode(index, ins: DataFrame, centroids: DataFrame, model) -> DataFrame:
    """(vec_id, cid, pq_code) for the changed vectors under the PINNED
    generations, in the index's frozen encoding."""
    from .clustering import assign_clusters
    from .pq import pq_encode_arrow

    ins = _unit_vecs(ins)
    if index.properties().get("ann.ivfpq.encoding") == "residual":
        # encode (vector − assigned centroid) under the SAME pinned
        # generation the bootstrap trained on. Assign+residual+encode is
        # ONE Arrow pass landing directly in the merge-source checkpoint —
        # the former shape paid two extra checkpoints and a join.
        return _assign_encode_residual(ins, centroids, model)
    ins = ins.localCheckpoint(eager=True)  # feeds encode AND assign
    return (
        pq_encode_arrow(ins, model)
        .join(assign_clusters(ins, centroids).select("vec_id", "cid"), "vec_id")
        .select("vec_id", "cid", "pq_code")
    )


def _ivfpq_scratch(index, cents, books, src) -> DataFrame:
    """From-scratch assign+encode of the source head under the index's
    pinned generations — the unfused shape, so the scratch check also
    proves the fold's fused Arrow pass bit-identical to it."""
    from .clustering import assign_clusters
    from .pq import pq_encode_arrow

    snap = _unit_vecs(src.read().select("vec_id", "embedding"))
    model = _pinned_books(index, books)
    cents_df = _pinned_cents(index, cents)
    assigned = assign_clusters(snap, cents_df)
    if index.properties().get("ann.ivfpq.encoding") == "residual":
        res = _residuals_from_assigned(assigned, cents_df)
        return _encode_residuals(res.localCheckpoint(eager=True), model)
    return pq_encode_arrow(snap, model).join(
        assigned.select("vec_id", "cid"), "vec_id"
    )


def _ivfpq(
    cents,
    books,
    n_lists: int = 8,
    m: int = 16,
    kq: int = 16,
    n_iter: int = 2,
    sample: int = 4096,
    mode: str = "dv",
    models: tuple | None = None,
) -> IndexFamily:
    # the pinned generations (centroids, codebooks), read once per catch-up
    pinned = functools.cache(
        lambda index: models
        or (
            _pinned_cents(index, cents).localCheckpoint(eager=True),
            _pinned_books(index, books),
        )
    )

    def after(src, index):
        return _drift_policy(
            src, index, "ann.ivfpq",
            lambda mod: ivfpq_index_drift(src, index, cents, sample_mod=mod),
            lambda: rebuild_ivfpq_index(
                src, index, cents, books, n_iter=n_iter, sample=sample
            ),
            f"IVF-PQ models at {cents.path!r}/{books.path!r}",
            "rebuild_ivfpq_index(src, index, cents, books)",
        )

    return _vector_family(
        "IVF-PQ index",
        ("vec_id", "cid", "pq_code"),
        "cid",
        lambda index, ins: _ivfpq_encode(index, ins, *pinned(index)),
        bootstrap=lambda src, index, head: _train_ivfpq(
            src, index, cents, books, head, n_lists, m, kq, n_iter, sample
        ),
        scratch=lambda index, src: _ivfpq_scratch(index, cents, books, src),
        mode=mode,
        after=after,
    )


def catchup_ivfpq_index(
    src,
    index,
    cents,
    books,
    n_lists: int = 8,
    m: int = 16,
    kq: int = 16,
    n_iter: int = 2,
    sample: int = 4096,
    step: int | None = None,
    mode: str = "dv",
) -> int:
    """Incrementally-maintained IVF-PQ index (``cdf_index.catchup``):
    bootstrap trains and FREEZES both models (coarse centroids ->
    ``cents``, per-subspace codebooks -> ``books``), the list table
    stores (vec_id, cid, pq_code) — 8 bytes of payload per vector — and
    every increment assigns + encodes only the CHANGED vectors under the
    pinned generations before the same net-change keyed merge as the
    raw-IVF twin. Same deferred-empty-bootstrap, CDF-retention and drift
    policy contracts (``ann.ivfpq.*``)."""
    fam = _ivfpq(cents, books, n_lists, m, kq, n_iter, sample, mode)
    return catchup(fam, src, index, step)


def ivfpq_index_drift(src, index, cents, sample_mod: int | None = None) -> dict:
    """Retrain signal for the frozen IVF-PQ models: mean squared
    assignment distance of the CURRENT source snapshot (normalized — the
    index's metric space) to the pinned coarse centroids, vs the value
    logged at bootstrap (``ann.ivfpq.bootMeanD2``). The compressed lists
    store 8-byte codes, not embeddings, so unlike the raw-IVF twin the
    metric reads the SOURCE — one broadcast assign + one global
    aggregate. Scale-invariant by construction (unit vectors), so only
    DIRECTIONAL corpus drift registers — exactly the drift that degrades
    ADC recall.

    ``sample_mod`` = s makes the probe o(corpus): only vectors with
    ``xxhash64(vec_id) % s == 0`` (a deterministic ~1/s key sample —
    stable across catch-ups, no RNG state) are assigned. A mean over a
    hash-uniform sample estimates the full mean; the policy compares a
    RATIO of two means, so sampling noise enters once, and the
    fire/no-fire decision agrees with the exact probe away from the
    knife's edge (receipted at 1M vectors in scripts/ann_index_scale.py).
    The bootstrap baseline stays EXACT — it falls out of the bootstrap's
    own full assignment pass for free."""
    from .clustering import assign_clusters

    head = _key_sample(_unit_vecs(src.read().select("vec_id", "embedding")), sample_mod)
    cur = (
        assign_clusters(head, _pinned_cents(index, cents))
        .agg(F.avg("d2").alias("m"))
        .collect()[0]["m"]
    )
    return _drift_report(cur, index.properties().get("ann.ivfpq.bootMeanD2"))


def rebuild_ivfpq_index(
    src,
    index,
    cents,
    books,
    n_lists: int | None = None,
    m: int | None = None,
    kq: int | None = None,
    n_iter: int = 2,
    sample: int = 4096,
) -> int:
    """Atomic retrain-and-swap for drifted IVF-PQ models (``_retrain``):
    fresh coarse quantizer AND codebooks from the CURRENT source
    snapshot, swapped in with the re-encoded lists in ONE commit. Retrain
    always lands the residual encoding, so a raw-era index upgrades in
    that commit. Geometry defaults to the index's recorded values.
    Returns the new source watermark."""
    props = index.properties()
    n_lists = n_lists or int(props.get("ann.ivf.nLists", 8))
    m = m or int(props.get("ann.ivfpq.m", 16))
    kq = kq or int(props.get("ann.ivfpq.k", 16))
    fam = _ivfpq(cents, books, n_lists, m, kq, n_iter, sample)
    return _retrain(fam, src, index, "rebuild_ivfpq_index")


def stream_ivfpq_index_to_tx_table(
    spark: SparkSession,
    src_dir: str,
    index_dir: str,
    cents_dir: str,
    books_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
    mode: str = "dv",
):
    """Streaming maintenance for the IVF-PQ index (``cdf_index.stream``):
    the source's change feed as a native Structured Streaming source,
    each micro-batch folded under the index's pinned quantizer/codebook
    generations, tailing from the index's ``ann.srcVersion`` watermark.

    Unlike the Hamming twin (quantization needs no training, so its
    stream can bootstrap from the snapshot images), the IVF-PQ models
    must be TRAINED on a corpus snapshot — bootstrap with
    :func:`catchup_ivfpq_index` first; an untrained index refuses the
    stream with an actionable error instead of silently encoding under a
    missing codebook."""
    from ..txlog import TxTable

    if TxTable(spark, index_dir).properties().get("ann.ivfpq.booksVersion") is None:
        raise RuntimeError(
            f"IVF-PQ index at {index_dir!r} has no trained codebooks: "
            "bootstrap with catchup_ivfpq_index() before starting "
            "streaming maintenance (model training needs a corpus "
            "snapshot; a stream micro-batch is not one)."
        )
    return stream(
        spark,
        src_dir,
        [(
            index_dir,
            lambda s: _ivfpq(TxTable(s, cents_dir), TxTable(s, books_dir), mode=mode),
        )],
        checkpoint_dir,
        available_now,
    )


def ivfpq_index_topk(
    index,
    cents,
    books,
    src,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 3,
    shortlist: int = 200,
    as_of: int | None = None,
    allowed: DataFrame | None = None,
) -> DataFrame:
    """Probed ADC top-k with exact re-rank — the full IVFADC+R read
    path over the incrementally-maintained tables: probe ``nprobe``
    lists (cid partition predicate -> file pruning), ADC-score ONLY
    those lists' 8-byte codes against the broadcast per-query LUT,
    keep a ``shortlist`` per query, then fetch the shortlist's
    full-precision vectors BY KEY from the source table
    (``TxTable.read_keys``: bloom/span file skipping for a shortlist
    under its key cap, a distributed semi-join for an offline batch of
    queries past it) and re-rank by exact cosine. Generation pins make
    this consistent under concurrent rebuilds."""
    from .pq import _adc_dist, _pq_lut
    from .similarity import _dot, _norm

    cents_df = _pinned_cents(index, cents, as_of=as_of)
    model = _pinned_books(index, books, as_of=as_of)
    qn = _unit_vecs(queries.select("query_id", "embedding"))
    from .clustering import _sq_dist

    scored = qn.join(F.broadcast(cents_df)).select(
        "query_id",
        "cid",
        _sq_dist(F.col("embedding"), F.col("c_vec")).alias("__d"),
    )
    wp = W.partitionBy("query_id").orderBy(F.col("__d").asc(), F.col("cid").asc())
    # per-query probe assignment: each query scores EXACTLY its own
    # nprobe lists (canonical IVF semantics). The relation is
    # |queries|·nprobe short rows — broadcast-sized at any batch, so it
    # collects ONCE and rebuilds as a JVM local relation: one job yields
    # both the per-query cut (broadcast below) and the cid union for
    # FILE pruning (the former shape paid a checkpoint job plus a
    # distinct-collect job for the same rows).
    qid_t = dict(
        (f.name, f.dataType.simpleString()) for f in qn.schema.fields
    )["query_id"]
    probe_rows = [
        (r["query_id"], int(r["cid"]))
        for r in scored.withColumn("pr", F.row_number().over(wp))
        .filter(F.col("pr") <= nprobe)
        .select("query_id", "cid")
        .collect()
    ]
    probes = local_df(
        index.spark, probe_rows, f"query_id {qid_t}, cid int"
    )
    probe_ids = sorted({c for _, c in probe_rows})  # bounded by n_lists
    lists = index.read(
        predicates=[("cid", "in", probe_ids)], as_of=as_of
    ).select("vec_id", "cid", "pq_code")
    if allowed is not None:
        # filtered search: scope candidates BEFORE the ADC ranking
        # (distributed semi-join — the probed_hamming_topk convention)
        lists = lists.join(allowed.select("vec_id").distinct(), "vec_id", "semi")
    if index.properties(as_of=as_of).get("ann.ivfpq.encoding") == "residual":
        # residual ADC (IVFADC proper): codes quantize (x − c_list), so
        # the LUT must be built from the SHIFTED query (q − c_list) — one
        # LUT per (query, probed cid), nprobe·m·k doubles per query, the
        # published IVFADC table cost. Σ_j LUT[j][code_j] then estimates
        # ||q − c − r̂||² = ||q − x̂||² exactly as the raw form did.
        # LUTs are keyed to each query's OWN probe assignment (join on
        # query_id), never the batch's probe union — per-query LUT count
        # stays nprobe however large the offline query batch gets.
        shifted = (
            qn.join(probes, "query_id")
            .join(F.broadcast(cents_df), "cid")
            .select(
                "query_id",
                "cid",
                F.zip_with(
                    "embedding", "c_vec", lambda x, c: x - c
                ).alias("embedding"),
            )
        )
        lut = _pq_lut(shifted, model, passthrough={"cid": "int"})
        adc = lists.join(F.broadcast(lut.drop("embedding")), "cid").select(
            "query_id", "vec_id", _adc_dist(len(model)).alias("adc_dist")
        )
    else:
        lut = _pq_lut(qn, model)
        # the probes join is the same per-query cut: a list row joins
        # only the queries that probed ITS cid (the file predicate above
        # is the probe UNION — pruning only, not the candidate set)
        adc = (
            lists.join(F.broadcast(probes), "cid")
            .join(F.broadcast(lut.drop("embedding")), "query_id")
            .select(
                "query_id", "vec_id", _adc_dist(len(model)).alias("adc_dist")
            )
        )
    ws = W.partitionBy("query_id").orderBy(
        F.col("adc_dist").asc(), F.col("vec_id").asc()
    )
    short = (
        adc.withColumn("rk", F.row_number().over(ws))
        .filter(F.col("rk") <= shortlist)
        .select("query_id", "vec_id")
        .localCheckpoint(eager=True)
    )
    # the re-rank fetch reads the SOURCE at the index's own watermark —
    # index content and full-precision vectors always come from the same
    # corpus snapshot (and an as_of query time-travels BOTH coherently);
    # pre-watermark indexes (no prop) fall back to the source head
    wm = index.properties(as_of=as_of).get("ann.srcVersion")
    src_v = int(wm) if wm is not None else None
    try:
        full = src.read_keys(short, "vec_id", as_of=src_v)
    except (FileNotFoundError, ValueError):
        # a STALE index pinned past the source's vacuum/restore horizon:
        # the watermark snapshot is unreconstructible. For a HEAD query
        # (as_of unset) degrade to the head read with a warning — the
        # pre-r11 behavior, trading snapshot coherence for availability.
        # An EXPLICIT as_of must stay loud: silently re-ranking against
        # a different corpus version would break time-travel symmetry.
        if as_of is not None:
            raise
        import warnings

        warnings.warn(
            f"IVF-PQ re-rank: source snapshot v{src_v} (the index's "
            "ann.srcVersion watermark) is unreconstructible — vacuum or "
            "restore pruned it. Falling back to the source HEAD; advance "
            "the index (catchup_ivfpq_index) or extend source retention "
            "to restore snapshot-coherent re-ranking.",
            RuntimeWarning,
            stacklevel=2,
        )
        full = src.read_keys(short, "vec_id")
    full = full.select("vec_id", "embedding")
    q = queries.select("query_id", F.col("embedding").alias("__q"))
    reranked = (
        short.join(full, "vec_id")
        .join(F.broadcast(q), "query_id")
        .select(
            "query_id",
            "vec_id",
            (
                _dot(F.col("__q"), F.col("embedding"))
                / (_norm(F.col("__q")) * _norm(F.col("embedding")))
            ).alias("cosine"),
        )
    )
    wr = W.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id").asc()
    )
    return (
        reranked.withColumn("rk", F.row_number().over(wr))
        .filter(F.col("rk") <= k)
        .select("query_id", "rk", "vec_id", "cosine")
    )


def assert_ivfpq_index_matches_scratch(index, cents, books, src) -> None:
    """Equality proof: the incrementally-maintained (vec_id, cid,
    pq_code) table equals a from-scratch assign+encode of the source
    head under the SAME pinned generations."""
    assert_matches_scratch(_ivfpq(cents, books), index, src)
