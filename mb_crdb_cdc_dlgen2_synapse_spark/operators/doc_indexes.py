"""Multiplexed document-side index maintenance: ONE read of the
documents table's change feed fanning into BOTH document indexes — the
BM25 inverted postings and the MinHash-LSH bands — through the shared
fold driver (operators/cdf_index.py ``stream`` with two targets).

Why one fold instead of the two single-index streams
(``bm25_index.stream_bm25_index_to_tx_table`` +
``lsh_index.stream_lsh_index_to_tx_table``, which remain available for
single-index deployments):

- **The CDF is read once.** Both document indexes consume the SAME
  change feed of the silver documents table (the reference pipeline's
  lake zone, /root/reference/README.md:173-192). Two streams read and
  net-reduce every changed document twice; the multiplexed fold
  materializes each micro-batch once and folds it into both indexes.
- **The hybrid pair is aligned BY CONSTRUCTION.** Each fold advances
  both indexes to the batch's high commit version, so after every
  micro-batch ``bm25.srcVersion == lsh.srcVersion``.

Exactly-once stays PER INDEX (each index filters the batch by its own
watermark, which commits with its merge), and a staggered start (one
index maintained, one virgin) batch-catches the virgin one up first —
see ``cdf_index.stream``.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from . import bm25_index, lsh_index
from .cdf_index import stream


def stream_document_indexes_to_tx_tables(
    spark: SparkSession,
    src_dir: str,
    bm25_dir: str,
    lsh_dir: str,
    checkpoint_dir: str,
    text_col: str = "text",
    available_now: bool = True,
    mode: str = "dv",
):
    """One CDF-tailing stream maintaining BOTH document indexes (see
    module docstring)."""
    return stream(
        spark,
        src_dir,
        [
            (bm25_dir, lambda s: bm25_index._family(text_col, mode)),
            (lsh_dir, lambda s: lsh_index._family(text_col, mode)),
        ],
        checkpoint_dir,
        available_now,
    )
