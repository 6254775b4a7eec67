"""User-facing facade: one object with the reference pipeline's whole
surface, so a user of the reference can switch step-for-step.

Reference step (/root/reference/README.md)      ->  Engine method
------------------------------------------------------------------
``CREATE CHANGEFEED ... INTO 'azure://...'``        start_changefeed_ingestion
``WITH updated`` event-time semantics                (envelope ``updated_ts``)
date-dir NDJSON landing (README.md:182)              raw_lines / landing layout
``OPENROWSET ... WITH (line varchar(max))``          raw_lines
``JSON_VALUE(line, '$.after."city"')``               extract / flagship_revenue
Synapse SQL pool                                     sql (Spark SQL + views)
(nothing — the reference re-parses per query)        materialize_silver
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from .operators import cdc, lake
from .sources import ndjson, tables


class Engine:
    """The PySpark-native analytics engine over a testdata/lake directory."""

    def __init__(self, spark: SparkSession, sf_dir: str | None = None):
        self.spark = spark
        self.sf_dir = sf_dir

    # -- query surface -----------------------------------------------------
    def table(self, name: str) -> DataFrame:
        return tables.load_table(self.spark, self.sf_dir, name)

    def sql(self, query: str) -> DataFrame:
        """Spark SQL over the registered star-schema views (the Synapse
        serverless analog; register_views is idempotent)."""
        tables.register_views(self.spark, self.sf_dir)
        return self.spark.sql(query)

    def sql_tx(
        self,
        query: str,
        tables_map: dict[str, str],
        as_of: dict[str, int | str] | None = None,
        changes: dict[str, tuple[int | None, int | None]] | None = None,
    ) -> DataFrame:
        """Spark SQL over txlog-table SNAPSHOTS: each {view: table_dir}
        entry registers one snapshot-consistent temp view (resolved once,
        at registration — concurrent commits don't shift results
        mid-query), then the query runs over them. The serverless-SQL
        analog pointed at the transactional lake zone instead of raw
        files. ``as_of`` pins named views to a VERSION (int) or a UTC
        TIMESTAMP string (``"2026-01-01T00:00:00Z"``) — SQL time travel,
        Delta's ``VERSION AS OF`` / ``TIMESTAMP AS OF``.

        ``changes`` registers CHANGE-FEED views on top — Databricks'
        ``table_changes('t', from, to)`` TVF as a view named
        ``<name>__changes``: ``changes={"t": (2, None)}`` exposes ``t``'s
        row images committed AFTER version 2 through head (``read_changes``
        semantics) with the CDF columns (``_change_type``,
        ``_commit_version``), so a SQL consumer builds incremental
        pipelines without the Python API."""
        from .txlog import TxTable

        as_of = as_of or {}
        for name, d in tables_map.items():
            pin = as_of.get(name)
            t = TxTable(self.spark, d)
            df = (
                t.read()
                if pin is None
                else t.read(as_of=pin)
                if isinstance(pin, int)
                else t.read(as_of_ts=pin)
            )
            df.createOrReplaceTempView(name)
        for name, (from_v, to_v) in (changes or {}).items():
            if name not in tables_map:
                raise ValueError(
                    f"changes view {name!r} needs a tables_map entry"
                )
            if not isinstance(from_v, int):
                raise ValueError(
                    f"changes[{name!r}]: from_version must be an int "
                    "(the version the consumer last processed)"
                )
            t = TxTable(self.spark, tables_map[name])
            t.read_changes(
                from_version=from_v, to_version=to_v
            ).createOrReplaceTempView(f"{name}__changes")
        return self.spark.sql(query)

    def ddl(self, statement: str, tables_map: dict[str, str]):
        """SQL DDL/maintenance over txlog tables (sql_ddl.execute_ddl):
        ALTER TABLE RENAME/ADD/DROP COLUMN (dotted nested paths included),
        SET/UNSET TBLPROPERTIES, ADD/DROP CONSTRAINT, OPTIMIZE [ZORDER],
        VACUUM [RETAIN n HOURS], RESTORE TO VERSION AS OF, DESCRIBE
        DETAIL/HISTORY, DELETE/UPDATE ... WHERE — the day-2 statement
        surface, so a SQL-speaking user never drops to the Python API."""
        from .sql_ddl import execute_ddl

        return execute_ddl(self.spark, statement, tables_map)

    # -- lake surface (reference-compat) -----------------------------------
    def raw_lines(self, paths) -> DataFrame:
        """OPENROWSET-compatible whole-line scan (README.md:181-190)."""
        return ndjson.read_raw_lines(self.spark, paths)

    def extract(self, lines: DataFrame, paths: dict[str, str]) -> DataFrame:
        """Generalized JSON_VALUE projection (README.md:174-177)."""
        return ndjson.extract_json_fields(lines, "line", paths)

    def flagship_revenue(self, lines: DataFrame) -> DataFrame:
        """The reference's own query (README.md:173-192)."""
        return cdc.revenue_by_city_from_lines(lines)

    def typed_envelopes(self, paths, after_schema: T.StructType) -> DataFrame:
        return ndjson.read_typed_envelopes(self.spark, paths, after_schema)

    def materialize_silver(self, landing_glob, after_schema, out_dir, **kw) -> None:
        lake.materialize_silver(self.spark, landing_glob, after_schema, out_dir, **kw)

    # -- streaming surface (changefeed analog) ------------------------------
    def start_changefeed_ingestion(
        self,
        landing_dir: str,
        after_schema: T.StructType,
        state_dir: str,
        checkpoint_dir: str,
        available_now: bool = True,
    ):
        """The full ingestion half of the reference pipeline: unbounded
        envelope stream -> watermark dedup -> keyed latest-state merge."""
        from .streaming.ingest import changefeed_stream, materialize_latest_state

        stream = changefeed_stream(self.spark, landing_dir, after_schema)
        return materialize_latest_state(
            stream, state_dir, checkpoint_dir, available_now=available_now
        )

    def read_state(self, state_dir: str) -> DataFrame:
        """Live rows of a materialized latest-state table (tombstone delete
        markers filtered out — see streaming.ingest.read_latest_state)."""
        from .streaming.ingest import read_latest_state

        return read_latest_state(self.spark, state_dir)

    # -- CDC batch surface ---------------------------------------------------
    def latest_state(self, changes: DataFrame, key_cols, ts_col, **kw) -> DataFrame:
        return cdc.latest_state(changes, key_cols, ts_col, **kw)

    def merge_full_image(self, changes: DataFrame, key_cols, ts_col) -> DataFrame:
        return cdc.merge_full_image(changes, key_cols, ts_col)

    # -- transactional lake (txlog table format) -----------------------------
    def tx_table(self, path: str):
        """Open/create a transaction-logged parquet table (atomic commits,
        snapshot-isolated reads, exactly-once streaming appends)."""
        from .txlog import TxTable

        return TxTable(self.spark, path)

    def start_tx_ingestion(
        self,
        landing_dir: str,
        after_schema: T.StructType,
        table_dir: str,
        checkpoint_dir: str,
        available_now: bool = True,
    ):
        """Changefeed stream -> transactional latest-state merge (one atomic
        commit per micro-batch); read with ``read_tx_state``."""
        from .streaming.ingest import changefeed_stream, materialize_latest_state_tx

        stream = changefeed_stream(self.spark, landing_dir, after_schema)
        return materialize_latest_state_tx(
            stream, table_dir, checkpoint_dir, available_now=available_now
        )

    def read_tx_state(self, table_dir: str) -> DataFrame:
        from .streaming.ingest import read_latest_state_tx

        return read_latest_state_tx(self.spark, table_dir)

    def read_tx_stream(self, table_dir: str, **options) -> DataFrame:
        """A txlog table as a Structured Streaming SOURCE (the Delta
        streaming-source design): initial snapshot + exactly-once commit
        tailing. Options (same vocabulary as Delta's): ``startingVersion``
        (int | "latest"), ``maxFilesPerTrigger``, ``skipChangeCommits``,
        ``ignoreChanges``. Chain tables with ``stream_to_tx_table`` for an
        end-to-end exactly-once bronze -> silver pipeline."""
        from .streaming.source import register_tx_source

        register_tx_source(self.spark)
        reader = self.spark.readStream.format("txtable").option("path", table_dir)
        for k, v in options.items():
            reader = reader.option(k, str(v))
        return reader.load()

    def read_manifest(self, table_dir: str) -> DataFrame:
        """Read a txlog table the way an EXTERNAL engine does (Presto/
        Trino/Synapse serverless over a published symlink manifest): scan
        only the files listed under ``_symlink_format_manifest/`` — raw
        parquet + hive partition inference, never the transaction log.
        Requires a prior ``generate_manifest()`` / the ``manifest.
        autoUpdate`` property; the snapshot is whatever the manifest
        published, exactly the external-reader contract."""
        import os

        from .txlog import TxTable

        root = os.path.join(table_dir, TxTable.MANIFEST_DIR)
        manifests = [
            os.path.join(dirpath, "manifest")
            for dirpath, _d, files in os.walk(root)
            if "manifest" in files
        ]
        if not manifests:
            raise ValueError(
                f"no symlink manifest under {root!r}: run generate_manifest()"
                " (or set manifest.autoUpdate) on the table first"
            )
        uris = [
            r.value.removeprefix("file://")
            for r in self.spark.read.text(manifests).collect()
            if r.value.strip()
        ]
        return self.spark.read.option("basePath", table_dir).parquet(*uris)

    def write_tx_stream(
        self,
        stream_df: DataFrame,
        table_dir: str,
        checkpoint_dir: str,
        app_id: str,
        available_now: bool = True,
    ):
        """A txlog table as a native Structured Streaming SINK
        (``writeStream.format("txtable")``): executors stage Arrow batches
        straight to parquet, the driver lands ONE txn-marked commit per
        micro-batch — exactly-once under replays keyed by ``app_id``
        (Delta's txnAppId contract). Hive partitioning comes from the
        table's partition spec (or a ``partitionBy`` option on the
        writer). Use ``stream_to_tx_table`` for checks/generated/
        identity/default tables."""
        from .streaming.source import register_tx_source

        register_tx_source(self.spark)
        w = (
            stream_df.writeStream.format("txtable")
            .option("path", table_dir)
            .option("txnAppId", app_id)
            .option("checkpointLocation", checkpoint_dir)
        )
        if available_now:
            w = w.trigger(availableNow=True)
        return w.start()

    # -- LLM-data-pipeline surface -------------------------------------------
    def dedup_clusters(self, documents: DataFrame, pairs: DataFrame, **kw) -> DataFrame:
        """Candidate pairs -> connected-component cluster per doc."""
        from .operators.dedup import duplicate_clusters

        return duplicate_clusters(documents, pairs, **kw)

    def lsh_candidate_pairs(self, documents: DataFrame, **kw) -> DataFrame:
        from .operators.dedup import lsh_candidates

        return lsh_candidates(documents, **kw)

    def knn(self, embeddings: DataFrame, queries: DataFrame, k: int = 5) -> DataFrame:
        from .operators.similarity import brute_force_topk

        return brute_force_topk(embeddings, queries, k=k)

    def quantize_embeddings(self, embeddings: DataFrame, **kw) -> DataFrame:
        from .operators.similarity import quantize_int8

        return quantize_int8(embeddings, **kw)

    def paragraph_dedup(self, documents: DataFrame, **kw) -> DataFrame:
        """CCNet-style sub-document dedup: the reassembled corpus."""
        from .operators import textops

        return textops.paragraph_dedup(documents, **kw)

    def pack_sequences(self, documents: DataFrame, budget: int = 256, **kw) -> DataFrame:
        """Concatenate-and-chop documents into fixed-token training sequences."""
        from .operators import textops

        return textops.sequence_packing(documents, budget=budget, **kw)

    def decontaminate(self, documents: DataFrame, **kw) -> DataFrame:
        """n-gram overlap report of training docs vs the benchmark subset."""
        from .operators import textops

        return textops.benchmark_contamination(documents, **kw)

    def asof_join(self, left: DataFrame, right: DataFrame, **kw) -> DataFrame:
        """Nearest-prior-match join (see operators.relational.asof_join)."""
        from .operators.relational import asof_join

        return asof_join(left, right, **kw)

    def start_dedup_ingestion(self, stream: DataFrame, table_dir: str, checkpoint_dir: str, **kw):
        """Dedup-on-ingest: stream -> txlog table keeping first-seen content only."""
        from .txlog import stream_dedup_to_tx_table

        return stream_dedup_to_tx_table(stream, table_dir, checkpoint_dir, **kw)

    def matview(self, base, path: str, keys, sum_cols, **kw):
        """Incrementally-maintained grouped COUNT/SUM view over a tx table
        (see matview.IncrementalAggView: refresh reads only commit deltas)."""
        from .matview import IncrementalAggView

        return IncrementalAggView(self.spark, base, path, keys, sum_cols, **kw)

    def link_records(self, dirty: DataFrame, master: DataFrame, **kw) -> DataFrame:
        """Entity resolution: blocked equi-join + Levenshtein argmin
        (see operators.linkage.block_link)."""
        from .operators.linkage import block_link

        return block_link(dirty, master, **kw)

    def importance_weights(self, documents: DataFrame, **kw) -> DataFrame:
        """DSIR-style corpus-selection scores (operators.textops.dsir_importance)."""
        from .operators.textops import dsir_importance

        return dsir_importance(documents, **kw)

    def route_dead_letters(self, lines: DataFrame, after_schema, **kw) -> DataFrame:
        """Tag corrupt/incomplete changefeed lines for DLQ routing
        (operators.cdc.route_dead_letters)."""
        from .operators.cdc import route_dead_letters

        return route_dead_letters(lines, after_schema, **kw)

    # -- session-4 surface ---------------------------------------------------
    def semantic_dedup(self, embeddings: DataFrame, **kw) -> DataFrame:
        """SemDeDup-style centroid-cosine dedup over an embedding column
        (operators.dedup.semantic_dedup)."""
        from .operators.dedup import semantic_dedup

        return semantic_dedup(embeddings, **kw)

    def knn_compressed(self, embeddings: DataFrame, queries: DataFrame, k: int = 5) -> DataFrame:
        """Binary-quantized Hamming top-k — the 8-bytes-per-vector first
        stage (operators.similarity.knn_hamming_topk)."""
        from .operators.similarity import knn_hamming_topk

        return knn_hamming_topk(embeddings, queries, k=k)

    def distinct_sketches(self, df: DataFrame, keys, value_col: str, **kw) -> DataFrame:
        """Mergeable per-group HLL sketches (operators.sketches) — persist,
        then re-aggregate any coarser grouping with sketch_rollup()."""
        from .operators.sketches import hll_group_sketches

        return hll_group_sketches(df, list(keys), value_col, **kw)

    def sketch_rollup(self, sketches: DataFrame, keys, out_col: str = "approx_distinct") -> DataFrame:
        from .operators.sketches import hll_rollup

        return hll_rollup(sketches, list(keys), out_col)

    def scd2(self, table, **kw) -> DataFrame:
        """Type-2 SCD history from a TxTable's change feed (txlog.scd2_history)."""
        from .txlog import scd2_history

        return scd2_history(table, **kw)

    def lm_quality_scores(self, documents: DataFrame) -> DataFrame:
        """Self-trained bigram-LM perplexity scores (textops.lm_bigram_scores)."""
        from .operators.textops import lm_bigram_scores

        return lm_bigram_scores(documents)

    def start_dv_ingestion(
        self, stream, table_dir: str, checkpoint_dir: str, **kw
    ):
        """CDC latest-state via merge-on-read commits (streaming.ingest.
        materialize_latest_state_dv): per-batch write cost tracks the
        batch, not the touched buckets' state."""
        from .streaming.ingest import materialize_latest_state_dv

        return materialize_latest_state_dv(stream, table_dir, checkpoint_dir, **kw)

    def start_silver_ingestion(
        self, stream, table_dir: str, checkpoint_dir: str, key_col: str,
        columns: dict, **kw
    ):
        """Typed SILVER latest-state from a changefeed envelope stream
        (streaming.ingest.materialize_silver_tx): net-image reduce + one
        keyed merge per batch — upserts for live images, PHYSICAL deletes
        for tombstones — yielding a plain domain table whose own change
        feed the CDF-maintained indexes (BM25/ANN/LSH) consume directly.
        The full production loop is then: changefeed NDJSON ->
        start_silver_ingestion -> start_*_index_maintenance ->
        hybrid_search (certified end-to-end by the llm_pipeline_e2e
        gate)."""
        from .streaming.ingest import materialize_silver_tx

        return materialize_silver_tx(
            stream, table_dir, checkpoint_dir, key_col, columns, **kw
        )

    def start_bloom_dedup_ingestion(
        self, stream, table_dir: str, bloom_dir: str, checkpoint_dir: str, **kw
    ):
        """Dedup-on-ingest with the bloom pre-filter (txlog.
        stream_dedup_to_tx_table_bloom): bloom misses skip the exact
        anti-join; the bloom commits before the state append, so it stays a
        superset of committed hashes across crashes."""
        from .txlog import stream_dedup_to_tx_table_bloom

        return stream_dedup_to_tx_table_bloom(
            stream, table_dir, bloom_dir, checkpoint_dir, **kw
        )

    def knn_pruned(
        self, codes_dir: str, embeddings: DataFrame, queries: DataFrame, k: int = 5, **kw
    ) -> DataFrame:
        """Bucket-pruned Hamming top-k: materialize (or reuse) the
        LSH-prefix-partitioned binary-code table at ``codes_dir``, then
        probe only the buckets within the Hamming radius of each query's
        prefix (operators.similarity.materialize_binary_codes /
        probed_hamming_topk)."""
        from .operators.similarity import (
            materialize_binary_codes,
            probed_hamming_topk,
        )
        from .txlog import TxTable

        table = TxTable(self.spark, codes_dir)
        if table.version() < 0:
            table = materialize_binary_codes(embeddings, codes_dir, **{
                k_: v for k_, v in kw.items() if k_ in ("prefix_bits", "vec_col")
            })
        return probed_hamming_topk(
            table, queries, k=k,
            **{k_: v for k_, v in kw.items() if k_ in ("prefix_bits", "radius", "vec_col")},
        )

    def start_neardedup_ingestion(
        self, stream, table_dir: str, sig_dir: str, checkpoint_dir: str, **kw
    ):
        """NEAR-dup dedup-on-ingest (txlog.stream_neardedup_to_tx_table):
        per batch, within-batch Jaccard components then cross-corpus LSH
        verify against the incrementally-maintained signature table; only
        novel docs commit. Signature table commits first (superset
        invariant) so a crash never loses a duplicate check."""
        from .txlog import stream_neardedup_to_tx_table

        return stream_neardedup_to_tx_table(
            stream, table_dir, sig_dir, checkpoint_dir, **kw
        )

    def fingerprint_documents(self, documents: DataFrame, **kw) -> DataFrame:
        """Winnowing fingerprints (MOSS): detect PARTIAL/contained
        duplication via window-minimum gram-hash selection
        (operators/textops.winnowing_fingerprints)."""
        from .operators.textops import winnowing_fingerprints

        return winnowing_fingerprints(documents, **kw)

    def dedup_against_corpus(self, incoming: DataFrame, corpus: DataFrame, **kw) -> DataFrame:
        """Incremental dedup of a new batch vs an existing corpus
        (operators/dedup.cross_corpus_dedup): broadcast-banded LSH
        candidates + Jaccard verify; the corpus is never re-clustered."""
        from .operators.dedup import cross_corpus_dedup

        return cross_corpus_dedup(incoming, corpus, **kw)

    def semantic_dedup_against_corpus(
        self, codes_dir: str, src_dir: str, batch: DataFrame, **kw
    ) -> DataFrame:
        """EMBEDDING-space twin of ``dedup_against_corpus``
        (operators/dedup.semantic_dedup_incremental): dedup an incoming
        (vec_id, embedding) batch against the corpus by probing the
        CDF-maintained Hamming codes index at ``codes_dir`` and
        exact-cosine-verifying candidates against the source table at
        the index's watermark — never re-bucketing the corpus. Returns
        (vec_id, n_dup_matches, best_cosine, is_novel)."""
        from .operators.dedup import semantic_dedup_incremental
        from .txlog import TxTable

        return semantic_dedup_incremental(
            TxTable(self.spark, codes_dir),
            TxTable(self.spark, src_dir),
            batch,
            **kw,
        )

    def start_semantic_dedup_ingestion(
        self, stream, table_dir: str, codes_dir: str, checkpoint_dir: str, **kw
    ):
        """SEMANTIC dedup-on-ingest (txlog.stream_semantic_dedup_to_tx_table):
        per micro-batch, within-batch cosine components, then a
        vs-corpus verdict through the codes index the sink maintains
        ITSELF from the state table's CDF; only novel vectors commit."""
        from .txlog import stream_semantic_dedup_to_tx_table

        return stream_semantic_dedup_to_tx_table(
            stream, table_dir, codes_dir, checkpoint_dir, **kw
        )

    def planned_join(self, left_dir: str, right_dir: str, on, **kw):
        """Metadata-costed equi join of two txlog tables (plans/planner.py):
        sides sized from logged per-file rows/bytes — zero file I/O — and
        the broadcast decision applied as an explicit hint. Returns
        (DataFrame, decision record)."""
        from .plans.planner import planned_equi_join, tx_size_estimate
        from .txlog import TxTable

        lt, rt = TxTable(self.spark, left_dir), TxTable(self.spark, right_dir)
        return planned_equi_join(
            lt.read(), rt.read(), on, tx_size_estimate(lt), tx_size_estimate(rt), **kw
        )

    def clone_table(self, src_dir: str, dst_dir: str, as_of: int | None = None):
        """Zero-copy shallow CLONE of a txlog table (txlog.TxTable.clone_to):
        hard-linked data files + one metadata commit; the clone then evolves
        independently (dev/test sandboxes, reproducible experiment pins)."""
        from .txlog import TxTable

        return TxTable(self.spark, src_dir).clone_to(dst_dir, as_of=as_of)

    def maintain(
        self,
        table_dir: str,
        max_files: int = 64,
        target_files: int = 8,
        retain_versions: int = 2,
        vacuum_now: bool = True,
        retain_hours: float | None = None,
        sweep_orphans: bool = False,
    ) -> dict:
        """One-call table maintenance for a txlog table — the job a
        production pipeline schedules on a cadence next to its streaming
        sinks: compact when the active-file count passes ``max_files``
        (Z-ordering by the table's declared clustering policy), then vacuum
        data files AND prune log segments outside the retained window
        (metadata checkpoints keep every retained version resolvable).
        Wall-clock retention defaults to the TABLE's own
        ``vacuum.retainHours`` property when set — the operational policy
        lives with the table, not in every maintenance caller. Returns
        what ran: {"compacted": bool, "files_deleted": int,
        "version": int}."""
        from .txlog import TxTable, maybe_autocompact

        t = TxTable(self.spark, table_dir)
        compacted = maybe_autocompact(t, max_files, target_files)
        if retain_hours is None:
            prop = t.properties().get("vacuum.retainHours")
            try:
                retain_hours = float(prop) if prop is not None else None
            except ValueError:
                retain_hours = None
        deleted = (
            t.vacuum(retain_versions=retain_versions, retain_hours=retain_hours)
            if vacuum_now
            else 0
        )
        out = {
            "compacted": compacted,
            "files_deleted": deleted,
            "version": t.version(),
        }
        if sweep_orphans:
            # crash-residue reclaim (files no snapshot references);
            # mtime grace inside orphan_sweep keeps in-flight stages safe
            out["orphans_removed"] = len(t.orphan_sweep()["removed"])
        return out

    def build_ann_index(self, src_dir: str, index_dir: str, **kw) -> int:
        """Bring the bucketed binary-code ANN index at ``index_dir`` up to
        date with the embedding table's head by folding its change feed —
        bootstrap on first call, O(changed rows) per catch-up after
        (operators.ann_index.catchup_ann_index). Returns the new source-
        version watermark. Pair with ``knn_pruned`` for probed queries."""
        from .operators.ann_index import catchup_ann_index
        from .txlog import TxTable

        return catchup_ann_index(
            TxTable(self.spark, src_dir), TxTable(self.spark, index_dir), **kw
        )

    def start_ann_index_maintenance(
        self, src_dir: str, index_dir: str, checkpoint_dir: str, **kw
    ):
        """Streaming twin of ``build_ann_index``: consume the embedding
        table's CDF as a native stream and fold every micro-batch into the
        index (operators.ann_index.stream_ann_index_to_tx_table)."""
        from .operators.ann_index import stream_ann_index_to_tx_table

        return stream_ann_index_to_tx_table(
            self.spark, src_dir, index_dir, checkpoint_dir, **kw
        )

    def build_ivf_index(
        self, src_dir: str, index_dir: str, cents_dir: str, **kw
    ) -> int:
        """IVF twin of ``build_ann_index``: frozen k-means coarse
        quantizer at ``cents_dir``, cid-partitioned lists at
        ``index_dir``, maintained from the embedding table's change feed
        (operators.ann_index.catchup_ivf_index). Query with
        ``ivf_index_topk``."""
        from .operators.ann_index import catchup_ivf_index
        from .txlog import TxTable

        return catchup_ivf_index(
            TxTable(self.spark, src_dir),
            TxTable(self.spark, index_dir),
            TxTable(self.spark, cents_dir),
            **kw,
        )

    def build_ivfpq_index(
        self, src_dir: str, index_dir: str, cents_dir: str, books_dir: str, **kw
    ) -> int:
        """IVF-PQ twin (the billion-scale shape): frozen coarse quantizer
        + frozen per-subspace codebooks, cid-partitioned COMPRESSED lists
        (8-byte PQ codes), maintained from the embedding table's change
        feed (operators.ann_index.catchup_ivfpq_index). Query with
        ``ivfpq_index_topk`` (ADC shortlist + exact re-rank)."""
        from .operators.ann_index import catchup_ivfpq_index
        from .txlog import TxTable

        return catchup_ivfpq_index(
            TxTable(self.spark, src_dir),
            TxTable(self.spark, index_dir),
            TxTable(self.spark, cents_dir),
            TxTable(self.spark, books_dir),
            **kw,
        )

    def build_bm25_index(self, src_dir: str, index_dir: str, **kw) -> int:
        """Bring the BM25 inverted index (postings + exact corpus
        scalars) up to date with the documents table's head by folding
        its change feed (operators.bm25_index.catchup_bm25_index).
        Query with ``bm25_search``."""
        from .operators.bm25_index import catchup_bm25_index
        from .txlog import TxTable

        return catchup_bm25_index(
            TxTable(self.spark, src_dir), TxTable(self.spark, index_dir), **kw
        )

    def start_bm25_index_maintenance(
        self, src_dir: str, index_dir: str, checkpoint_dir: str, **kw
    ):
        """Streaming twin of ``build_bm25_index`` (watermark-tailed CDF,
        exactly-once scalar deltas under replay)."""
        from .operators.bm25_index import stream_bm25_index_to_tx_table

        return stream_bm25_index_to_tx_table(
            self.spark, src_dir, index_dir, checkpoint_dir, **kw
        )

    def bm25_search(self, index_dir: str, queries: DataFrame, k: int = 10) -> DataFrame:
        """Ranked BM25 top-k through the inverted index — a pruned read
        of the query terms' postings, never a corpus scan."""
        from .operators.bm25_index import bm25_index_topk
        from .txlog import TxTable

        return bm25_index_topk(TxTable(self.spark, index_dir), queries, k=k)

    def build_lsh_index(self, src_dir: str, index_dir: str, **kw) -> int:
        """Bootstrap-or-advance the CDF-maintained MinHash-LSH bands
        index (near-dup candidates from precomputed entries — the corpus
        is never re-shingled/re-signed per run)."""
        from .operators.lsh_index import catchup_lsh_index
        from .txlog import TxTable

        return catchup_lsh_index(
            TxTable(self.spark, src_dir), TxTable(self.spark, index_dir), **kw
        )

    def start_lsh_index_maintenance(
        self, src_dir: str, index_dir: str, checkpoint_dir: str, **kw
    ):
        """Streaming twin of ``build_lsh_index`` (watermark-tailed CDF,
        exactly-once folds under replay)."""
        from .operators.lsh_index import stream_lsh_index_to_tx_table

        return stream_lsh_index_to_tx_table(
            self.spark, src_dir, index_dir, checkpoint_dir, **kw
        )

    def start_document_index_maintenance(
        self,
        src_dir: str,
        bm25_dir: str,
        lsh_dir: str,
        checkpoint_dir: str,
        **kw,
    ):
        """Maintain BOTH document-side indexes (BM25 postings +
        MinHash-LSH bands) from ONE read of the documents table's
        change feed — each micro-batch is materialized once and folded
        into both merges, and both indexes advance to the same source
        watermark every fold (aligned by construction, not scheduling).
        Prefer this over running ``start_bm25_index_maintenance`` and
        ``start_lsh_index_maintenance`` side by side whenever both
        indexes exist: half the CDF read cost, and the hybrid pair can
        never sit at different source versions mid-catch-up
        (operators.doc_indexes.stream_document_indexes_to_tx_tables)."""
        from .operators.doc_indexes import stream_document_indexes_to_tx_tables

        return stream_document_indexes_to_tx_tables(
            self.spark, src_dir, bm25_dir, lsh_dir, checkpoint_dir, **kw
        )

    def export_training_snapshot(
        self,
        out_dir: str,
        tables: dict[str, str],
        pins: dict[str, int] | None = None,
        indexes: dict[str, tuple[str, str, str]] | None = None,
    ) -> dict:
        """Freeze a TRAINING SNAPSHOT (snapshot.export_snapshot): every
        named table's pinned version + exact active-file URI list lands
        in ``out_dir`` for external raw-parquet reads, and every index —
        given as ``name: (index_dir, watermark_prop, source_table_name)``
        — is resolved to the version whose watermark covers its source
        table's pin (the ``resolve_hybrid_pins`` machinery). One export
        = one reproducible corpus, while ingestion and maintenance keep
        running underneath."""
        from .snapshot import export_snapshot
        from .txlog import TxTable

        return export_snapshot(
            out_dir,
            {n: TxTable(self.spark, d) for n, d in tables.items()},
            pins=pins,
            indexes={
                n: {
                    "index": TxTable(self.spark, d),
                    "prop": prop,
                    "source": src,
                }
                for n, (d, prop, src) in (indexes or {}).items()
            },
        )

    def read_training_snapshot(self, out_dir: str, name: str) -> DataFrame:
        """Read one table of an exported training snapshot the external
        way: manifest URI list + raw parquet + hive partition inference,
        no transaction-log access (snapshot.read_snapshot_table)."""
        from .snapshot import read_snapshot_table

        return read_snapshot_table(self.spark, out_dir, name)

    def neardup_pairs(self, index_dir: str, **kw) -> DataFrame:
        """All near-dup candidate pairs of the indexed corpus, from the
        precomputed band entries (hot-bucket skew guard on)."""
        from .operators.lsh_index import lsh_index_pairs
        from .txlog import TxTable

        return lsh_index_pairs(TxTable(self.spark, index_dir), **kw)

    def neardup_search(
        self, index_dir: str, batch: DataFrame, **kw
    ) -> DataFrame:
        """Near-dups of an incoming batch against the indexed corpus —
        a band_key-pruned index read, never a corpus recompute."""
        from .operators.lsh_index import lsh_index_probe
        from .txlog import TxTable

        return lsh_index_probe(TxTable(self.spark, index_dir), batch, **kw)

    def hybrid_search(
        self,
        bm25_index_dir: str,
        ann_index_dir: str,
        term_queries: DataFrame,
        vector_queries: DataFrame,
        k: int = 10,
        per_system_k: int = 20,
        radius: int = 1,
        allowed: DataFrame | None = None,
        id_map: DataFrame | None = None,
        as_of_source: int | tuple[int, int] | None = None,
    ) -> DataFrame:
        """Production hybrid retrieval: lexical top-k through the BM25
        inverted index (pruned token-IN read), vector top-k through the
        CDF-maintained Hamming ANN index (bucket-probed), fused with
        reciprocal-rank fusion — every stage an incremental index read,
        no corpus scan anywhere. ``term_queries`` carries (query_id,
        term); ``vector_queries`` carries (query_id, embedding) with
        matching query_ids. ``allowed`` (one ``doc_id`` column) scopes
        BOTH systems to a metadata predicate's keys via distributed
        semi-joins before each top-k — tenant/source/date-filtered
        retrieval with corpus-global scoring stats.

        ``id_map`` (columns ``doc_id``, ``vec_id``) declares the
        document↔embedding id correspondence for corpora whose two id
        spaces DIFFER (e.g. chunked embeddings with their own key
        range): the vector stage is scoped through the map and its hits
        map back to doc ids before fusion (a doc with several mapped
        vectors fuses at its best vector rank). When omitted the engine
        assumes the SHARED-id convention ``doc_id == vec_id`` (the
        testdata corpus contract) and applies it by rename — deploying
        over distinct id spaces without a map silently scopes and fuses
        the wrong vectors, which is exactly what the parameter exists
        to prevent.

        ``as_of_source`` makes time travel ONE parameter: a source
        version (or a ``(docs_v, embeddings_v)`` pair when the two
        indexes ride different silver tables) is resolved through each
        index's watermark history into a consistent index-pin pair
        (``resolve_hybrid_pins``) — the answer at a pinned source
        version is bit-stable while maintenance keeps folding. Returns
        (query_id, rk, doc_id, rrf)."""
        from .operators.bm25_index import bm25_index_topk
        from .operators.retrieval import rrf_fuse
        from .operators.similarity import probed_hamming_topk
        from .txlog import TxTable

        from pyspark.sql import functions as F

        vb = va = None
        if as_of_source is not None:
            vb, va = self.resolve_hybrid_pins(
                bm25_index_dir, ann_index_dir, as_of_source
            )
        lex = bm25_index_topk(
            TxTable(self.spark, bm25_index_dir), term_queries, k=per_system_k,
            allowed=allowed, as_of=vb,
        ).select("query_id", "doc_id", F.col("rk").alias("lex_rk"))
        vec = probed_hamming_topk(
            TxTable(self.spark, ann_index_dir),
            vector_queries,
            k=per_system_k,
            radius=radius,
            allowed=self._vec_allowed(allowed, id_map),
            as_of=va,
        )
        vec = self._vec_to_doc_ranks(vec, "vec_rk", id_map)
        return rrf_fuse(lex, vec, "lex_rk", "vec_rk", k=k)

    @staticmethod
    def _index_version_at_source(index, prop_key: str, src_version: int) -> int:
        """The index version that corresponds to a SOURCE version.
        Resolution is two monotone binary searches (O(log V) property
        reads): first the largest recorded watermark W <= ``src_version``
        (watermarks only advance), then the FIRST index version carrying
        W. Every index family commits a fold's rows and its watermark
        together (operators/cdf_index.py), so the first version with
        wm == W is exactly the state whose content folded source version
        W. Later commits can still repeat W — the clustering and bloom
        declarations after a bootstrap, auto-compactions — and they are
        content-identical but lay the rows out in different files; the
        first-occurrence rule keeps the resolved version fixed while
        they land. Once a source version is in the past its resolved
        state is frozen, so a pinned-source query is bit-stable while
        maintenance advances. Raises when the index's first watermark
        postdates the requested source version."""
        head = index.version()
        if head < 0:
            raise ValueError(
                f"index at {index.path!r} has no committed state to pin"
            )

        def wm(v: int) -> int:
            p = index.properties(as_of=v).get(prop_key)
            return int(p) if p is not None else -1

        # largest watermark <= src_version (monotone over versions)
        lo, hi, target = 0, head, None
        while lo <= hi:
            mid = (lo + hi) // 2
            w = wm(mid)
            if w <= src_version:
                target = w if target is None else max(target, w)
                lo = mid + 1
            else:
                hi = mid - 1
        if target is None or target < 0:
            raise ValueError(
                f"index at {index.path!r} first folded source version "
                f"{wm(head)} — source v{src_version} predates it; rebuild "
                "or query a later source version"
            )
        # first version carrying that watermark
        lo, hi, ans = 0, head, head
        while lo <= hi:
            mid = (lo + hi) // 2
            if wm(mid) >= target:
                ans = mid
                hi = mid - 1
            else:
                lo = mid + 1
        return ans

    def resolve_hybrid_pins(
        self,
        bm25_index_dir: str,
        ann_index_dir: str,
        as_of_source: int | tuple[int, int],
        ann_prop: str = "ann.srcVersion",
    ) -> tuple[int, int]:
        """Consistent-PAIR time travel (VERDICT r11 item 4): derive BOTH
        hybrid index pins from ONE source pin, via each index's
        watermark history. ``as_of_source`` is a single source version
        when both indexes consume the same source table (the multiplexed
        document-index case), or a ``(bm25_src_v, ann_src_v)`` pair when
        the lexical and vector indexes ride different silver tables
        (documents vs embeddings — their version counters are
        independent). Returns ``(bm25_as_of, ann_as_of)`` — the pair
        every answer at this pin is computed from, bit-stable under
        ongoing maintenance."""
        from .txlog import TxTable

        sb, sa = (
            (as_of_source, as_of_source)
            if isinstance(as_of_source, int)
            else as_of_source
        )
        return (
            self._index_version_at_source(
                TxTable(self.spark, bm25_index_dir), "bm25.srcVersion", sb
            ),
            self._index_version_at_source(
                TxTable(self.spark, ann_index_dir), ann_prop, sa
            ),
        )

    @staticmethod
    def _vec_allowed(
        allowed: DataFrame | None, id_map: DataFrame | None
    ) -> DataFrame | None:
        """Vector-side allowed keys: through the explicit doc→vec map
        when given, else the shared-id rename (see ``hybrid_search``)."""
        from pyspark.sql import functions as F

        if allowed is None:
            return None
        if id_map is not None:
            return allowed.join(id_map, "doc_id").select("vec_id")
        return allowed.select(F.col("doc_id").alias("vec_id"))

    @staticmethod
    def _vec_to_doc_ranks(
        vec: DataFrame, rank_alias: str, id_map: DataFrame | None
    ) -> DataFrame:
        """Map vector hits (query_id, rk, vec_id) into doc-id space for
        fusion. With a map, a doc reached by several of its vectors
        keeps its BEST rank (max-pooling — the standard multi-vector
        collapse); without one, the shared-id rename is exact 1:1."""
        from pyspark.sql import functions as F

        if id_map is None:
            return vec.select(
                "query_id",
                F.col("vec_id").alias("doc_id"),
                F.col("rk").alias(rank_alias),
            )
        return (
            vec.join(id_map.select("doc_id", "vec_id"), "vec_id")
            .groupBy("query_id", "doc_id")
            .agg(F.min("rk").alias(rank_alias))
        )

    def hybrid_search_ivfpq(
        self,
        bm25_index_dir: str,
        ivfpq_index_dir: str,
        cents_dir: str,
        books_dir: str,
        src_dir: str,
        term_queries: DataFrame,
        vector_queries: DataFrame,
        k: int = 10,
        per_system_k: int = 20,
        nprobe: int = 3,
        shortlist: int = 200,
        allowed: DataFrame | None = None,
        id_map: DataFrame | None = None,
        as_of_source: int | tuple[int, int] | None = None,
    ) -> DataFrame:
        """The billion-scale hybrid: lexical top-k through the BM25
        inverted index, vector top-k through the CDF-maintained IVF-PQ
        compressed lists (IVFADC+R — cid-pruned ADC shortlist + exact
        re-rank against source vectors fetched by key), RRF-fused. Same
        contract as ``hybrid_search`` with the Hamming stage swapped for
        the compressed one — at 100 TB of embeddings the 8-byte lists
        are the only vector index that fits warm storage, so this is the
        composition a production deployment actually runs. ``allowed``
        (one ``doc_id`` column) scopes both systems and ``id_map``
        declares a distinct doc↔vec id correspondence, exactly as in
        ``hybrid_search`` (omitting the map asserts the shared-id
        convention by rename); ``as_of_source`` resolves ONE source pin
        (or a (docs_v, embeddings_v) pair) into a consistent index-pin
        pair via ``resolve_hybrid_pins``."""
        from .operators.ann_index import ivfpq_index_topk
        from .operators.bm25_index import bm25_index_topk
        from .operators.retrieval import rrf_fuse
        from .txlog import TxTable

        from pyspark.sql import functions as F

        vb = va = None
        if as_of_source is not None:
            vb, va = self.resolve_hybrid_pins(
                bm25_index_dir, ivfpq_index_dir, as_of_source
            )
        lex = bm25_index_topk(
            TxTable(self.spark, bm25_index_dir), term_queries, k=per_system_k,
            allowed=allowed, as_of=vb,
        ).select("query_id", "doc_id", F.col("rk").alias("lex_rk"))
        vec = ivfpq_index_topk(
            TxTable(self.spark, ivfpq_index_dir),
            TxTable(self.spark, cents_dir),
            TxTable(self.spark, books_dir),
            TxTable(self.spark, src_dir),
            vector_queries,
            k=per_system_k,
            nprobe=nprobe,
            shortlist=shortlist,
            allowed=self._vec_allowed(allowed, id_map),
            as_of=va,
        )
        vec = self._vec_to_doc_ranks(vec, "vec_rk", id_map)
        return rrf_fuse(lex, vec, "lex_rk", "vec_rk", k=k)

    def start_ivfpq_index_maintenance(
        self,
        src_dir: str,
        index_dir: str,
        cents_dir: str,
        books_dir: str,
        checkpoint_dir: str,
        **kw,
    ):
        """Streaming twin of ``build_ivfpq_index``: tail the embedding
        table's CDF from the index's watermark and fold micro-batches
        under the pinned generations (requires a batch bootstrap first —
        model training needs a corpus snapshot)."""
        from .operators.ann_index import stream_ivfpq_index_to_tx_table

        return stream_ivfpq_index_to_tx_table(
            self.spark, src_dir, index_dir, cents_dir, books_dir,
            checkpoint_dir, **kw,
        )
