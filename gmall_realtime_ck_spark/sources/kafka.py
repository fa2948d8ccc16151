"""Kafka sources (SURVEY.md §2.1 S1/S2).

The reference consumes every topic as strings with a null-tolerant
deserializer (upsert-kafka tombstones must not crash —
COMMON/util/FlinkSourceUtil.java:38-58) from latest offsets (:35).
Spark's kafka source is already null-tolerant (``value`` is nullable
binary); tombstone handling is an explicit filter so downstream code
states its intent (P9).

Requires the spark-sql-kafka package on the cluster; in this test
container there is no broker, so these builders are exercised only for
plan construction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def read_kafka_stream(
    spark: SparkSession,
    topic: str,
    bootstrap_servers: str,
    group_id: str | None = None,
    starting_offsets: str = "latest",
) -> DataFrame:
    """S1 — string stream over a topic, latest offsets, group id
    (FlinkSourceUtil.java:25-62). ``value`` stays nullable; use
    :func:`filter_tombstones` where the reference's null-deserializer
    mattered."""
    reader = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
    )
    if group_id:
        reader = reader.option("kafka.group.id", group_id)
    return reader.load().select(
        F.col("key").cast("string").alias("key"),
        F.col("value").cast("string").alias("value"),
        "topic",
        "timestamp",
    )


def read_kafka_json_table(
    spark: SparkSession,
    topic: str,
    bootstrap_servers: str,
    schema: StructType,
) -> DataFrame:
    """S2 — declarative JSON table over a topic with event time +
    watermark, the ``readOdsDb`` pattern (SQLUtil.java:12-22,
    BaseSQLApp.java:53-65): parse, add ``et`` from the epoch-second
    ``ts`` column, watermark 3 s.
    """
    raw = read_kafka_stream(spark, topic, bootstrap_servers)
    return (
        raw.filter(F.col("value").isNotNull())
        .select(F.from_json("value", schema).alias("e"))
        .select("e.*")
        .withColumn("et", F.timestamp_seconds(F.col("ts")))
        .withWatermark("et", "3 seconds")
    )


def filter_tombstones(df: DataFrame) -> DataFrame:
    """P9 — drop upsert-kafka retraction tombstones (a NULL ``value``)
    before parsing (DwsTradeSkuOrderWindow.java:138-147)."""
    return df.filter(F.col("value").isNotNull())


def read_file_topic_stream(spark: SparkSession, topic_dir: str) -> DataFrame:
    """Null-tolerant streaming consumer for a file-backed topic written
    by :func:`sinks.kafka.write_file_topic_segment` — the broker-less
    twin of :func:`read_kafka_stream` (FlinkSourceUtil.java:38-58):
    ``value`` stays nullable so tombstones flow to
    :func:`filter_tombstones` instead of crashing the deserializer.
    """
    return spark.readStream.schema("key string, value string, segment bigint").parquet(
        topic_dir
    )


def read_file_topic(spark: SparkSession, topic_dir: str) -> DataFrame:
    """Batch replay of a file-backed topic (for backfills/tests)."""
    return spark.read.schema("key string, value string, segment bigint").parquet(topic_dir)


def upsert_snapshot(df: DataFrame) -> DataFrame:
    """Materialize the upsert-kafka TABLE view of a keyed (``key``,
    ``value``) log ordered by ``segment``: the latest record per key
    wins, and a key whose latest record is a tombstone is deleted —
    exactly what Flink's upsert-kafka source reconstructs via
    retractions and what a compacted topic converges to
    (SQLUtil.java:38-46; SURVEY §7 H1 maps retractions to latest-wins). One keyed aggregation: max_by(value, offset) — no
    window, no sort.
    """
    latest = df.groupBy("key").agg(
        F.max_by(F.struct(F.col("value").alias("v")), F.col("segment")).alias("s")
    )
    return latest.select(F.col("key"), F.col("s.v").alias("value")).filter(
        F.col("value").isNotNull()
    )
