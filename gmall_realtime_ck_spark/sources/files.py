"""File and socket sources (SURVEY.md §2.1 S5).

The reference uses socket streams only in join demos
(Test01_IntervalJoin.java:26,49); file streams are this repo's bounded
test carrier (every parquet/JSON fixture can play a stream).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..session import configure_runtime


def socket_stream(spark: SparkSession, host: str, port: int) -> DataFrame:
    """S5 — line-delimited text stream (test-only, like the reference's
    demo sources)."""
    return (
        spark.readStream.format("socket")
        .option("host", host)
        .option("port", port)
        .load()
    )


def text_stream(spark: SparkSession, path: str) -> DataFrame:
    """Line stream over a directory of text/JSON-lines files."""
    configure_runtime(spark)
    return spark.readStream.format("text").load(path)


def parquet_stream(spark: SparkSession, path: str, schema: str) -> DataFrame:
    """Schema-pinned parquet file stream (streaming needs an explicit
    schema; inference is a batch-only convenience)."""
    configure_runtime(spark)
    return spark.readStream.schema(schema).format("parquet").load(path)


def read_csv(spark: SparkSession, path: str, schema: str) -> DataFrame:
    """Batch CSV reader (header line, comma-separated) with an EXPLICIT
    schema — inference double-scans the input (a full extra pass over
    100 TB) and guesses types per file, so it is deliberately not
    offered. Malformed rows are kept and flagged (PERMISSIVE +
    corrupt-record column) — the same dirty-data-to-the-side posture as
    the reference's dirty topic (BaseDbTableProcessFunction's dirty
    stream, SURVEY §2.3 P1/K10).
    """
    return (
        spark.read.schema(schema + ", _corrupt string")
        .option("header", "true")
        .option("sep", ",")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .csv(path)
    )


def read_jsonl(spark: SparkSession, path: str, schema: str) -> DataFrame:
    """Batch JSON-lines reader, schema-pinned for the same reason as
    ``read_csv`` (inference = an extra full scan). The standard
    training-corpus interchange format (one doc per line).

    Note: Spark refuses queries that reference ONLY the corrupt
    column over raw JSON/CSV (QUERY_ONLY_CORRUPT_RECORD_COLUMN) —
    ``.cache()`` the parsed frame before splitting good/dirty rows,
    as the dirty-side tests do."""
    return (
        spark.read.schema(schema + ", _corrupt string")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .json(path)
    )

