"""NDJSON lake readers: raw-line (reference-compat) and typed (silver path).

The reference exposes changefeed NDJSON as a one-column varchar relation —
``OPENROWSET(... FORMAT='csv', FIELDQUOTE='0x0b', FIELDTERMINATOR='0x0b')
WITH (line varchar(max))`` (/root/reference/README.md:181-190) — and imposes
structure per query with ``JSON_VALUE`` (README.md:174-179).  Spark's exact
analog is ``spark.read.text`` + ``get_json_object``; the typed path applies a
``StructType`` at scan time instead, which is what the README's "place the
keys you see in JSON documents in the WITH clause" comment generalizes to.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: CockroachDB changefeed envelope (README.md:135-138): full post-image under
#: ``after`` (null for DELETE tombstones), primary key array under ``key``,
#: MVCC commit timestamp string under ``updated`` (decimal nanoseconds).
CDC_ENVELOPE_FIELDS = ("after", "key", "updated")


def cdc_envelope_schema(after_schema: T.StructType) -> T.StructType:
    """Envelope StructType for a given row schema (FIXTURES.md §B)."""
    return T.StructType(
        [
            T.StructField("after", after_schema, True),
            T.StructField("key", T.ArrayType(T.StringType()), True),
            T.StructField("updated", T.StringType(), True),
        ]
    )


def read_raw_lines(spark: SparkSession, paths: str | Sequence[str]) -> DataFrame:
    """Reference-compat scan: every NDJSON line as one ``line`` string column.

    Mirrors README.md:181-190's whole-line varchar trick; partition pruning
    happens via path globs exactly like the ``2022-12-12/*.ndjson`` glob at
    README.md:182 (or via ``ingest_date`` filters on the typed path).
    """
    if isinstance(paths, str):
        paths = [paths]
    # one list argument: ``text(*paths)`` would bind a second path to
    # ``wholetext``
    return spark.read.text(list(paths)).withColumnRenamed("value", "line")


def read_typed_envelopes(
    spark: SparkSession,
    paths: str | Sequence[str],
    after_schema: T.StructType,
) -> DataFrame:
    """Typed envelope scan with event-time column.

    Adds ``updated_ts`` (TimestampType) parsed from the changefeed's decimal-
    nanosecond ``updated`` string — the event-time basis (README.md:137-138).
    """
    if isinstance(paths, str):
        paths = [paths]
    # one list argument: ``json(*paths)`` would bind a second path to
    # ``schema``
    df = spark.read.schema(cdc_envelope_schema(after_schema)).json(list(paths))
    return df.withColumn(
        "updated_ts",
        F.timestamp_micros(
            (F.col("updated").cast("decimal(38,10)") / F.lit(1000)).cast("long")
        ),
    )


def extract_json_fields(df: DataFrame, line_col: str, paths: dict[str, str]) -> DataFrame:
    """Generalized multi-key JSON extraction (P4, README.md:174-177).

    ``paths`` maps output column name -> JSON path (e.g. ``"$.after.city"``).
    NULL on missing path matches ``JSON_VALUE`` semantics (README.md:178).
    """
    return df.select(
        *[F.get_json_object(F.col(line_col), p).alias(name) for name, p in paths.items()]
    )


def read_raw_lines_csv_compat(spark: SparkSession, paths: str | Sequence[str]) -> DataFrame:
    """Byte-for-byte port of the reference's OPENROWSET trick
    (/root/reference/README.md:183-190): read NDJSON through the CSV reader
    with quote and delimiter both set to 0x0b (vertical tab — a byte that
    never appears in the data), which disables field splitting so each line
    survives as one varchar. Semantically identical to ``read_raw_lines``;
    kept for reference parity and as the escape hatch for lines containing
    characters the text source would mangle."""
    if isinstance(paths, str):
        paths = [paths]
    return (
        spark.read.option("sep", "\x0b")
        .option("quote", "\x0b")
        .schema("line string")
        .csv(list(paths))
    )
