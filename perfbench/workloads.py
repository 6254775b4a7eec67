"""The benchmark's workloads. Each drives the engine's public surface
(``Engine``, ``TxTable``, ``streaming.ingest``, ``operators.*``) from one
client thread, in rounds of timed ops, and checks the outputs against the
generator's golden answers.

- ``cdc_ingest``: the write path and the lake reads over what it wrote.
  Each round lands one changefeed batch and ingests it with deletion
  vectors, then runs ``Engine.maintain`` (op ``ingest``); then runs the
  reference query over raw NDJSON (op ``raw_scan``) and a ``sql_tx``
  query over the live rows (op ``table_query``).
- ``index_refresh``: CDF folds next to retrieval. Each round commits
  document and vector upserts (op ``commit``), folds them into the BM25
  and ANN indexes (op ``fold``) and runs a hybrid search (op ``search``).
"""

from __future__ import annotations

import json
import os
import random
from time import perf_counter as _now

from . import gen


def _land(landing: str, day: int, name: str, text: str) -> None:
    """Atomically land one NDJSON file in the date directory of ``day``."""
    d = os.path.join(landing, gen.date_dir(day))
    os.makedirs(d, exist_ok=True)
    tmp = os.path.join(d, f".{name}.tmp")
    with open(tmp, "w") as f:
        f.write(text)
    os.rename(tmp, os.path.join(d, f"{name}.ndjson"))


class CdcIngest:
    name = "cdc_ingest"
    #: Engine.maintain compacts once the table has more active files than
    #: this; each ingested batch adds about one, so compaction runs about
    #: every 5 batches, in the warm-up and in the timed loop alike
    MAINTAIN_MAX_FILES = 8
    MAINTAIN_TARGET_FILES = 4
    #: rounds timed as one step: one compaction cycle. Round time moves
    #: through the cycle (fastest right after a compaction, slowest when
    #: compacting), so a run times whole cycles
    STEP_ROUNDS = 5
    RAW_WINDOW_DAYS = 2
    #: untimed rounds in set-up, one compaction cycle. Round time falls by
    #: about a third over the first four rounds as the JIT warms up, and
    #: only slowly after that; the timed step is always rounds 5 to 9.
    #: More rounds would not fit the run budget on a slow host
    WARMUP_ROUNDS = 5

    def __init__(self, h, engine, work: str, seed: int):
        from pyspark.sql import types as T

        self.h, self.eng, self.spark = h, engine, engine.spark
        self.landing = os.path.join(work, "landing")
        self.table = os.path.join(work, "rides")
        self.ckpt = os.path.join(work, "ckpt")
        self.feed = gen.RidesFeed(seed)
        self.after = T.StructType([
            T.StructField("city", T.StringType()),
            T.StructField("id", T.StringType()),
            T.StructField("rider_id", T.StringType()),
            T.StructField("revenue", T.DoubleType()),
        ])
        self._ops_rng = random.Random(f"ops/{seed}")
        self._boot_sums: list[dict] = []  # per bootstrap day: city -> revenue
        self._boot_lines: list[int] = []
        self._n_files = 0
        self.mismatches: list[str] = []

    # -- ops -------------------------------------------------------------------
    def _ingest_stream(self):
        from mb_crdb_cdc_dlgen2_synapse_spark.streaming.ingest import changefeed_stream

        q = self.eng.start_dv_ingestion(
            changefeed_stream(self.spark, self.landing, self.after),
            self.table,
            self.ckpt,
            available_now=True,
        )
        q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(f"ingestion query failed: {q.exception()}")
        return q

    def _maintain(self) -> dict:
        return self.eng.maintain(
            self.table,
            max_files=self.MAINTAIN_MAX_FILES,
            target_files=self.MAINTAIN_TARGET_FILES,
        )

    def _land_batch(self, batch) -> None:
        self._n_files += 1
        _land(self.landing, batch.day, f"b{self._n_files:06d}", batch.text)

    def setup(self) -> None:
        for b in self.feed.bootstrap():
            self._land_batch(b)
            self._boot_sums.append(gen.revenue_by_city(b.lines))
            self._boot_lines.append(len(b.lines))
        self._ingest_stream()
        self.eng.maintain(self.table, max_files=0, target_files=self.MAINTAIN_TARGET_FILES)
        for _ in range(self.WARMUP_ROUNDS):
            self._ingest_batch(timed=False)
            self._raw_scan(timed=False)
            self._table_query(timed=False)

    def _ingest_batch(self, timed: bool = True) -> None:
        batch = self.feed.next_batch()
        state = {}

        def ingest():
            t0 = _now()
            self._land_batch(batch)
            q = self._ingest_stream()
            state["commit_s"] = _now() - t0
            state["progress"] = q.recentProgress
            self._maintain()

        if not timed:
            ingest()
            return
        self.h.op("ingest", ingest, tables=[self.table], events=len(batch.lines),
                  landed_bytes=len(batch.text.encode()))
        rec = self.h.ops[-1]
        if rec.ok:
            rec.extra.update(
                commit_s=state["commit_s"], progress=_sum_progress(state["progress"])
            )

    def _raw_scan(self, timed: bool = True) -> None:
        first = self._ops_rng.randrange(self.feed.spec.boot_days - self.RAW_WINDOW_DAYS + 1)
        glob = os.path.join(
            self.landing, gen.window_globs(first, self.RAW_WINDOW_DAYS), "*.ndjson"
        )

        def scan():
            df = self.eng.flagship_revenue(self.eng.raw_lines(glob))
            with self.h.span("exec"):
                return df.collect()

        days = range(first, first + self.RAW_WINDOW_DAYS)
        rows = self.h.op("raw_scan", scan) if timed else scan()
        want: dict = {}
        for d in days:
            for city, v in self._boot_sums[d].items():
                want[city] = want.get(city, 0) + v
        if rows is not None:
            if timed:
                self.h.ops[-1].extra.update(
                    lines=sum(self._boot_lines[d] for d in days), result_rows=len(rows)
                )
            got = {r["city"]: r["total_revenue"] for r in rows}
            exp = {c: float(v) for c, v in want.items()}
            if got != exp:
                self.mismatches.append(f"raw_scan days {first}+{self.RAW_WINDOW_DAYS}: {got} != {exp}")

    def _table_query(self, timed: bool = True) -> None:
        cities = sorted(self._ops_rng.sample(gen.CITIES, 3))
        in_list = ", ".join(f"'{c}'" for c in cities)
        sql = (
            "SELECT after.city AS city, "
            "SUM(CAST(after.revenue AS DECIMAL(30,6))) AS revenue "
            f"FROM rides WHERE after IS NOT NULL AND after.city IN ({in_list}) "
            "GROUP BY after.city"
        )

        def query():
            df = self.eng.sql_tx(sql, {"rides": self.table})
            with self.h.span("exec"):
                return df.collect()

        rows = self.h.op("table_query", query) if timed else query()
        if rows is not None:
            got = {r["city"]: r["revenue"] for r in rows}
            exp = gen.live_revenue_by_city(self.feed.live, cities)
            if got != exp:
                self.mismatches.append(f"table_query {cities}: {got} != {exp}")

    def run_round(self) -> None:
        self._ingest_batch()
        self._raw_scan()
        self._table_query()

    # -- correctness ----------------------------------------------------------
    def check(self) -> list[str]:
        errs = list(self.mismatches)
        rows = (
            self.eng.read_tx_state(self.table)
            .select("after.id", "after.city", "after.rider_id", "after.revenue")
            .collect()
        )
        got = {tuple(r) for r in rows}
        want = self.feed.live_rows()
        if len(rows) != len(got) or got != want:
            errs.append(
                f"read_tx_state != golden latest-per-key state: {len(rows)} rows "
                f"({len(got - want)} unexpected, {len(want - got)} missing)"
            )
        return errs

    # -- metrics --------------------------------------------------------------
    def live_json_bytes(self) -> int:
        """Bytes of the live rows' JSON images (the space_amp base)."""
        return sum(len(json.dumps(r, sort_keys=True).encode()) for r in self.feed.live.values())

    def tables(self) -> list[str]:
        return [self.table]

    def op_tables(self, kind: str) -> list[str]:
        """Tables an op of ``kind`` writes or reads through the txlog."""
        return [] if kind == "raw_scan" else [self.table]


class IndexRefresh:
    name = "index_refresh"
    TOP_K = 10
    #: rounds timed as one step. Consecutive folds alternate between two
    #: ANN code paths (22 and 13 jobs); at the default run length a run
    #: times one round, the first catch-up, whatever the host's speed
    STEP_ROUNDS = 1

    def __init__(self, h, engine, work: str, seed: int):
        self.h, self.eng, self.spark = h, engine, engine.spark
        self.docs = os.path.join(work, "documents")
        self.emb = os.path.join(work, "embeddings")
        self.bm25 = os.path.join(work, "bm25")
        self.ann = os.path.join(work, "ann")
        self.work = work
        self.corpus = gen.Corpus(seed)
        self.last_search = None  # (term rows, vector rows, result rows)
        self.mismatches: list[str] = []

    def _docs_df(self, docs):
        import pandas as pd

        pdf = pd.DataFrame({"doc_id": [d for d, _ in docs], "text": [t for _, t in docs]})
        return self.spark.createDataFrame(pdf, "doc_id long, text string")

    def _vecs_df(self, vecs):
        import pandas as pd

        pdf = pd.DataFrame({"vec_id": [v for v, _ in vecs], "embedding": [e for _, e in vecs]})
        return self.spark.createDataFrame(pdf, "vec_id long, embedding array<float>")

    def _table(self, path):
        from mb_crdb_cdc_dlgen2_synapse_spark.txlog import TxTable

        return TxTable(self.spark, path)

    def setup(self) -> None:
        c = self.corpus
        docs, vecs = sorted(c.docs.items()), sorted(c.vecs.items())
        self._table(self.docs).append(self._docs_df(docs))
        self._table(self.emb).append(self._vecs_df(vecs))
        self.eng.build_bm25_index(self.docs, self.bm25)
        self.eng.build_ann_index(self.emb, self.ann)
        # warm-up that leaves the measured tables alone: merges into small
        # scratch tables, and a search over the fresh indexes. A warm-up
        # fold would need a commit to the measured sources, so the timed
        # fold stays the first catch-up.
        for name, rows, to_df, key in (
            ("warmup_docs", docs[:20], self._docs_df, "doc_id"),
            ("warmup_vecs", vecs[:20], self._vecs_df, "vec_id"),
        ):
            t = self._table(os.path.join(self.work, name))
            t.append(to_df(rows))
            t.merge_into(to_df(rows[:5]), on=[key])
        tq = self.spark.createDataFrame(
            [(0, gen.VOCAB[0]), (0, gen.VOCAB[1])], "query_id int, term string"
        )
        vq = self.spark.createDataFrame([(0, vecs[0][1])], "query_id int, embedding array<float>")
        self.eng.hybrid_search(self.bm25, self.ann, tq, vq, k=self.TOP_K).collect()

    def _queries(self, rnd):
        tq = self.spark.createDataFrame(
            [(0, t) for t in rnd.terms], "query_id int, term string"
        )
        vq = self.spark.createDataFrame([(0, rnd.query_vec)], "query_id int, embedding array<float>")
        return tq, vq

    def run_round(self) -> None:
        rnd = self.corpus.next_round()
        docs_df, vecs_df = self._docs_df(rnd.docs), self._vecs_df(rnd.vecs)
        tq, vq = self._queries(rnd)

        def commit():
            self._table(self.docs).merge_into(docs_df, on=["doc_id"])
            self._table(self.emb).merge_into(vecs_df, on=["vec_id"])

        def fold():
            self.eng.build_bm25_index(self.docs, self.bm25)
            self.eng.build_ann_index(self.emb, self.ann)

        def search():
            df = self.eng.hybrid_search(self.bm25, self.ann, tq, vq, k=self.TOP_K)
            with self.h.span("exec"):
                return df.collect()

        self.h.op("commit", commit, tables=[self.docs, self.emb])
        self.h.op("fold", fold, tables=[self.bm25, self.ann])
        rows = self.h.op("search", search)
        if rows is not None:
            self.last_search = (tq, vq, rows)
            if not rows:
                self.mismatches.append(f"round {rnd.index}: hybrid_search returned no rows")

    def check(self) -> list[str]:
        from mb_crdb_cdc_dlgen2_synapse_spark.operators import ann_index
        from mb_crdb_cdc_dlgen2_synapse_spark.operators.bm25_index import (
            assert_bm25_index_matches_scratch,
        )

        errs = list(self.mismatches)
        for name, fn in (
            ("bm25", lambda: assert_bm25_index_matches_scratch(
                self._table(self.bm25), self._table(self.docs))),
            ("ann", lambda: ann_index.assert_index_matches_scratch(
                self._table(self.ann), self._table(self.emb))),
        ):
            try:
                fn()
            except RuntimeError as e:
                errs.append(f"{name} index != scratch: {e}")
        if self.last_search is not None:
            tq, vq, rows = self.last_search
            bm, an = os.path.join(self.work, "bm25_scratch"), os.path.join(self.work, "ann_scratch")
            self.eng.build_bm25_index(self.docs, bm)
            self.eng.build_ann_index(self.emb, an)
            want = self.eng.hybrid_search(bm, an, tq, vq, k=self.TOP_K).collect()
            if sorted(map(tuple, rows)) != sorted(map(tuple, want)):
                errs.append(f"final hybrid_search {rows} != scratch-index answer {want}")
        return errs

    def tables(self) -> list[str]:
        return [self.docs, self.emb, self.bm25, self.ann]

    def op_tables(self, kind: str) -> list[str]:
        return [self.docs, self.emb] if kind == "commit" else [self.bm25, self.ann]


_SOURCE_PARTS = ("latestOffset", "getBatch", "queryPlanning", "walCommit", "commitOffsets")


def _sum_progress(progress) -> dict:
    """Seconds summed over the query's micro-batches."""
    out = {"trigger_s": 0.0, "add_batch_s": 0.0, "source_s": 0.0}
    for p in progress or ():
        d = p.get("durationMs", {})
        out["trigger_s"] += d.get("triggerExecution", 0) / 1000.0
        out["add_batch_s"] += d.get("addBatch", 0) / 1000.0
        out["source_s"] += sum(d.get(k, 0) for k in _SOURCE_PARTS) / 1000.0
    return out


WORKLOADS = {w.name: w for w in (CdcIngest, IndexRefresh)}
