"""Incrementally-maintained MinHash-LSH bands index over a txlog
documents table, fed by the table's own change feed — the dedup-family
member of the CDF-maintained index quartet (Hamming ANN, IVF, IVF-PQ,
BM25): near-dup candidate generation becomes a join against PRECOMPUTED
band entries instead of re-shingling and re-signing the corpus per run,
and maintenance is O(changed docs' bands) via keyed merges. The
lifecycle (bootstrap, watermark, catch-up, stream, scratch check, commit
protocol) is shared, in operators/cdf_index.py; this module
holds the banding and the probes (the md5-based MinHash family is
operators/dedup.py's — engine-portable, DuckDB-mirrorable bit-for-bit).

Index layout: ONE bands table, rows ``(band_key, doc_id, band_id)`` —
each doc contributes exactly ``bands`` rows. Files are GLOBALLY
CLUSTERED by (band_key, doc_id) with per-file band_key blooms: a probe
batch's candidate lookup opens only the files whose band_key span can
hold its keys, and a maintenance merge's candidate set is bounded by
the changed docs' band keys (merge key-set pruning against the same
tight spans — the BM25 token-major lesson applied to band keys; a
doc-major layout would leave every file a merge candidate). The merge
key is the FULL row (band_key, doc_id, band_id): an update's pre-image
bands tombstone, its post-image bands upsert — the index never reads
itself to find a changed doc's old bands, the CDF pre-image text
carries them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .bm25_index import _image_source, _tagged_images
from .cdf_index import IndexFamily, assert_matches_scratch, catchup, stream
from .dedup import _band_entries, _band_pairs

ROWS_PER_FILE = 65536

#: merge key = the FULL band row (see module docstring)
_KEY = ("band_key", "doc_id", "band_id")

#: signature geometry properties and their defaults — layout, frozen at
#: bootstrap like ann.prefixDims
_GEOMETRY = (("lsh.nHashes", 16), ("lsh.bands", 4), ("lsh.shingleK", 3))


def _entries(docs: DataFrame, n_hashes: int, bands: int, shingle_k: int) -> DataFrame:
    return _band_entries(docs, n_hashes, bands, shingle_k).select(
        "band_key", "doc_id", "band_id"
    )


def _geometry(props: dict) -> tuple[int, int, int]:
    """(nHashes, bands, shingleK) frozen in the index's properties."""
    return tuple(int(props.get(k, d)) for k, d in _GEOMETRY)


def _geometry_props(geom: tuple[int, int, int]) -> dict:
    return {k: str(v) for (k, _d), v in zip(_GEOMETRY, geom)}


def _delta(index, changes: DataFrame, text_col: str):
    """Merge source for one change-image batch: band the per-doc pre/post
    images, anti-join pre-only rows into tombstones, upsert post rows."""
    props = index.properties()
    geom = _geometry(props)
    # ONE banding pass over both image sides: the doc key becomes a
    # (id, _new) struct — every stage of the MinHash pipeline treats
    # doc_id as an opaque grouping key, so per-side band entries are
    # identical to two separate passes, and one eager checkpoint
    # replaces the former three (net + old entries + new entries)
    tagged = _tagged_images(changes, text_col).select(
        F.struct(F.col("doc_id").alias("id"), "_new").alias("doc_id"), "text"
    )
    ent = (
        _entries(tagged, *geom)
        .select(
            "band_key",
            F.col("doc_id._new").alias("_new"),
            F.col("doc_id.id").alias("doc_id"),
            "band_id",
        )
        .localCheckpoint(eager=True)
    )
    source = _image_source(ent, list(_KEY)).localCheckpoint(eager=True)
    # a virgin index maintained stream-first has no geometry recorded
    # yet: persist the defaults WITH the first fold's commit, so every
    # later fold/probe/scratch-check derives the same layout (geometry
    # is a bootstrap-time contract, like ann.prefixDims)
    return source, {} if "lsh.nHashes" in props else _geometry_props(geom)


def _family(
    text_col: str = "text",
    mode: str = "dv",
    geometry: tuple[int, int, int] = (16, 4, 3),
) -> IndexFamily:
    def bootstrap(src, index, head):
        rows = _entries(
            src.read(as_of=head).select("doc_id", text_col).withColumnRenamed(
                text_col, "text"
            ),
            *geometry,
        ).localCheckpoint(eager=True)
        return (rows, _geometry_props(geometry)) if rows.take(1) else None

    def scratch(index, src):
        return _entries(
            src.read().select("doc_id", text_col).withColumnRenamed(text_col, "text"),
            *_geometry(index.properties()),
        )

    return IndexFamily(
        label="LSH bands index",
        watermark="lsh.srcVersion",
        columns=("doc_id", text_col),
        rows=_KEY,
        key=_KEY,
        cluster_by=_KEY[:2],
        bloom={"cols": ["band_key"], "auto_size": True},
        rows_per_file=ROWS_PER_FILE,
        bootstrap=bootstrap,
        delta=lambda index, changes: _delta(index, changes, text_col),
        scratch=scratch,
        mode=mode,
    )


def catchup_lsh_index(
    src,
    index,
    text_col: str = "text",
    n_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 3,
    step: int | None = None,
    mode: str = "dv",
) -> int:
    """Advance the bands table from its ``lsh.srcVersion`` watermark to
    the source head (``cdf_index.catchup``). Bootstrap bands the snapshot
    straight into a (band_key, doc_id)-clustered, band_key-bloomed
    append; increments pay change-feed machinery only. The signature
    geometry (nHashes / bands / shingleK) freezes at bootstrap as table
    properties — it is layout, like ann.prefixDims: changing it means
    rebuilding."""
    fam = _family(text_col, mode, (n_hashes, bands, shingle_k))
    return catchup(fam, src, index, step)


def lsh_index_pairs(index, max_bucket: int | None = 4096) -> DataFrame:
    """Near-dup candidate pairs from the PRECOMPUTED band entries — the
    corpus is never re-shingled or re-signed. Equi-self-join on
    (band_id, band_key) with the same hot-bucket skew guard as
    ``dedup.lsh_candidates`` (one near-universal band key would emit
    B²/2 pairs; hot keys are found with one map-side-combined count and
    anti-joined out — mass-identical docs stay caught by exact dedup).
    Returns (doc_a, doc_b, n_shared_bands), doc_a < doc_b — identical
    to ``lsh_candidates`` over the same corpus by construction."""
    return _band_pairs(
        index.read().select("doc_id", "band_id", "band_key"), max_bucket
    )


def lsh_index_probe(
    index,
    batch: DataFrame,
    text_col: str = "text",
    as_of: int | None = None,
) -> DataFrame:
    """Near-dups of an INCOMING batch against the indexed corpus: band
    the batch (tiny), read ONLY the index files whose band_key span /
    bloom can hold the batch's keys (``TxTable.read_keys`` — batch docs
    × bands keys; past its key cap the entries read semi-joins instead,
    still never re-signing the corpus), and equi-join. The
    cross_corpus_dedup shape with the corpus side answered from the
    index instead of recomputed. Returns
    (batch_doc, corpus_doc, n_shared_bands)."""
    # as_of pins geometry AND entries to one historical version (the
    # time-travel / prefix-consistency replay discipline); default = head
    props = index.properties(as_of=as_of)
    qe = _entries(
        batch.select("doc_id", text_col).withColumnRenamed(text_col, "text"),
        *_geometry(props),
    ).localCheckpoint(eager=True)
    corp = index.read_keys(qe, "band_key", as_of=as_of).select(
        "doc_id", "band_id", "band_key"
    )
    return (
        qe.alias("q")
        .join(
            corp.alias("c"),
            (F.col("q.band_id") == F.col("c.band_id"))
            & (F.col("q.band_key") == F.col("c.band_key"))
            & (F.col("q.doc_id") != F.col("c.doc_id")),
        )
        .groupBy(
            F.col("q.doc_id").alias("batch_doc"),
            F.col("c.doc_id").alias("corpus_doc"),
        )
        .agg(F.count(F.lit(1)).alias("n_shared_bands"))
    )


def assert_lsh_index_matches_scratch(index, src, text_col: str = "text") -> None:
    """Equality proof: incrementally-maintained band entries == a
    from-scratch banding of the source head."""
    assert_matches_scratch(_family(text_col), index, src)


def stream_lsh_index_to_tx_table(
    spark: SparkSession,
    src_dir: str,
    index_dir: str,
    checkpoint_dir: str,
    text_col: str = "text",
    available_now: bool = True,
    mode: str = "dv",
):
    """Streaming maintenance twin (``cdf_index.stream``): tail the
    documents table's CDF from the ``lsh.srcVersion`` watermark (a
    virgin index bootstraps from the snapshot images — banding needs no
    training) and fold micro-batches with the batch path's merge,
    exactly-once under replays."""
    return stream(
        spark, src_dir, [(index_dir, lambda s: _family(text_col, mode))],
        checkpoint_dir, available_now,
    )
