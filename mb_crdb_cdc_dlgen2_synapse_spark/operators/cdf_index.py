"""One change-data-feed fold driver for the five retrieval indexes (BM25
postings, MinHash-LSH bands, Hamming ANN, IVF lists, IVF-PQ lists).

Each index consumes one lake table's change feed — the reference
pipeline's changefeed -> lake -> serving shape — so the lifecycle lives
here once: bootstrap, watermark, ``read_changes``, fold, compact,
stream, scratch-equality. As in Structured Streaming, one incremental
implementation serves batch and stream: ``catchup`` and ``stream`` both
fold through ``apply``. A family module supplies only what differs
(``IndexFamily``).

The commit protocol, the same for every family:

- a bootstrap's properties (watermark, layout, models, exact scalars)
  ride its first data commit; the clustering and bloom declarations
  follow as layout-only commits (a crash between them degrades pruning,
  not correctness, and the next compaction restores the layout);
- an empty snapshot defers the bootstrap: nothing is committed, so the
  first non-empty catch-up lays the real layout down;
- every fold lands its rows and its watermark in ONE commit
  (``merge_into(props=...)``), or in one metadata commit when nothing
  changed, so a crash never separates applied rows (or BM25's exact
  scalar deltas) from the watermark that marks them applied.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..txlog import _foreach_batch, maybe_compact_index

#: CDF metadata columns every fold reads besides the family's payload
_CDF_META = ("_change_type", "_commit_version")


@dataclass(frozen=True)
class IndexFamily:
    """How one index family differs from the others.

    - ``watermark``: property holding the last folded source version;
      ``label`` names the index in errors.
    - ``columns``: source payload columns a fold reads; ``rows``: index
      row columns; ``key``: merge key (``_tombstone`` rows delete).
    - layout: ``cluster_by``, ``partition_by``, ``bloom`` (keyword
      arguments of ``TxTable.set_bloom_index``), ``rows_per_file``.
    - ``bootstrap(src, index, head)``: ``(rows, props)`` from the source
      snapshot at ``head``, or ``None`` when it is empty.
    - ``delta(index, changes)``: ``(source, props)`` — the eagerly
      materialized merge source and the properties that commit with it.
    - ``scratch(index, src)``: from-scratch index rows of the source head.
    - ``after(src, index)``: optional post-catch-up policy returning the
      watermark (the IVF drift check).
    - ``fold``/``compact``: per-batch fold (default ``apply``) and
      auto-compaction cadence. BM25 routes both through its module-level
      names so a wrapper installed on them (the tests' crash injector,
      the benchmark's tracer) sees every call.
    """

    label: str
    watermark: str
    columns: tuple[str, ...]
    rows: tuple[str, ...]
    key: tuple[str, ...]
    cluster_by: tuple[str, ...]
    bloom: dict
    rows_per_file: int
    bootstrap: Callable
    delta: Callable
    scratch: Callable
    partition_by: tuple[str, ...] | None = None
    mode: str = "dv"
    after: Callable | None = None
    fold: Callable | None = None
    compact: Callable = maybe_compact_index


def _lay_down(fam: IndexFamily, index, rows: DataFrame, props: dict, overwrite=False):
    """First data commit in the family's layout: rows clustered (and
    partitioned) with ``props`` in the same commit. Blooms only cover
    writes after their declaration, so the rows are clustered by the
    write itself and the declarations follow it."""
    write = index.overwrite if overwrite else index.append
    write(
        rows,
        partition_by=list(fam.partition_by) if fam.partition_by else None,
        cluster_by=list(fam.cluster_by),
        max_records_per_file=fam.rows_per_file,
        props=props,
    )
    if not overwrite:
        index.set_clustering(list(fam.cluster_by))
        index.set_bloom_index(**fam.bloom)


def apply(
    fam: IndexFamily, index, changes: DataFrame, watermark: int | None = None
) -> dict:
    """Fold one change batch under the commit protocol. A virgin index
    (no data ever written) bootstraps from the batch's post-images —
    tombstones target rows it never held, so they are dropped — and a
    batch with no post-images leaves it virgin. Returns the merge report
    ({} when no merge ran)."""
    source, props = fam.delta(index, changes)
    if watermark is not None:
        props = {**props, fam.watermark: str(watermark)}
    if index.snapshot()[2] is None:
        rows = source.filter(~F.col("_tombstone")).drop("_tombstone")
        if rows.take(1):
            _lay_down(fam, index, rows, props)
        return {}
    if source.take(1):
        return index.merge_into(
            source,
            on=list(fam.key),
            delete_when="_tombstone",
            partition_by=list(fam.partition_by) if fam.partition_by else None,
            mode=fam.mode,
            props=props or None,
            source_materialized=True,
        )
    if props:
        index.set_properties(props)
    return {}


def _fold(fam: IndexFamily) -> Callable:
    return fam.fold or (lambda index, changes, hi: apply(fam, index, changes, hi))


def catchup(fam: IndexFamily, src, index, step: int | None = None) -> int:
    """Advance ``index`` from its watermark to the source head: bootstrap
    a virgin index from the head snapshot, else fold the change feed in
    ``step``-sized version slices (default: one slice), then run the
    auto-compaction cadence. Returns the watermark (or the ``after``
    policy's). No new source commits is a no-op (``after`` still runs:
    drift that accrued on earlier folds must still trip it)."""
    head = src.version()
    done = int(index.properties().get(fam.watermark, -1))
    if head > done:
        if index.snapshot()[2] is None:
            boot = fam.bootstrap(src, index, head)
            if boot is None:
                return done  # empty snapshot: defer the bootstrap
            rows, props = boot
            _lay_down(fam, index, rows, {**props, fam.watermark: str(head)})
        else:
            fold = _fold(fam)
            v = done
            while v < head:
                hi = head if step is None else min(v + step, head)
                try:
                    changes = src.read_changes(v, hi)
                except FileNotFoundError as e:
                    raise RuntimeError(
                        f"{fam.label} at {index.path!r} is stale beyond the "
                        f"source's CDF retention (watermark v{v}, source "
                        "vacuumed past it): the gap can no longer be "
                        "replayed. Rebuild: drop the index tables and catch "
                        "up from scratch (bootstrap reads the current "
                        "snapshot, no feed needed)."
                    ) from e
                fold(index, changes, hi)
                v = hi
            fam.compact(index, fam.rows_per_file)
        done = head
    return fam.after(src, index) if fam.after else done


def stream(
    spark: SparkSession,
    src_dir: str,
    targets: list[tuple[str, Callable[[SparkSession], IndexFamily]]],
    checkpoint_dir: str,
    available_now: bool = True,
):
    """One stream over the source's change feed folding every micro-batch
    into each ``(index_dir, family_for(session))`` target: the feed is
    read and materialized once however many indexes consume it, and each
    fold moves every index to the batch's high commit version.
    Exactly-once is per index: each filters the batch by its own
    watermark, which commits with its rows.

    Start position: an un-positioned txtable stream delivers the current
    snapshot first — right for virgin indexes (they bootstrap from its
    images), wrong for maintained ones (a snapshot cannot express
    interim deletions and would re-add BM25's scalar deltas). So
    maintained indexes tail from the oldest watermark + 1, and a mixed
    start first catches the virgin ones up to the head in batch."""
    from ..streaming.source import register_tx_source
    from ..txlog import TxTable

    register_tx_source(spark)
    src = TxTable(spark, src_dir)
    sides = [(TxTable(spark, d), make(spark)) for d, make in targets]
    wms = [t.properties().get(fam.watermark) for t, fam in sides]
    if any(w is None for w in wms) and any(w is not None for w in wms):
        # only the virgin side: lagging-but-maintained indexes are served
        # by the tail plus their own watermark filter
        wms = [
            str(catchup(fam, src, t)) if w is None else w
            for (t, fam), w in zip(sides, wms)
        ]
    reader = spark.readStream.format("txtable").option("readChangeFeed", "true")
    if all(w is not None for w in wms):
        # only honoured by a fresh checkpoint; resumes ignore it
        reader = reader.option("startingVersion", str(min(int(w) for w in wms) + 1))
    feed = reader.load(src_dir)
    cols = list(dict.fromkeys(c for _, fam in sides for c in fam.columns))

    def fold(batch: DataFrame, txn) -> None:
        s = batch.sparkSession
        batch = batch.select(*cols, *_CDF_META).localCheckpoint(eager=True)
        for index_dir, make in targets:
            index, fam = TxTable(s, index_dir), make(s)
            done = int(index.properties().get(fam.watermark, -1))
            part = batch.filter(F.col("_commit_version") > done)
            hi = part.agg(F.max("_commit_version")).collect()[0][0]
            if hi is None:
                continue  # folded already (a replay): exactly-once no-op
            _fold(fam)(index, part, hi)
            fam.compact(index, fam.rows_per_file)

    return _foreach_batch(feed, checkpoint_dir, fold, available_now, "update")


def assert_matches_scratch(fam: IndexFamily, index, src) -> None:
    """The equality proof: index content == a from-scratch build of the
    source head (symmetric exceptAll — order- and layout-insensitive).
    Raises on divergence."""
    want = fam.scratch(index, src).select(*fam.rows)
    got = index.read().select(*fam.rows)
    extra = got.exceptAll(want).count()
    missing = want.exceptAll(got).count()
    if extra or missing:
        raise RuntimeError(
            f"incremental {fam.label} diverged from a from-scratch build: "
            f"{extra} extra row(s), {missing} missing row(s)"
        )
