"""Deploy-day live-connector round-trips (``pytest -m broker``).

The sandbox has no Kafka broker and no ClickHouse/Doris server, so the
connector builders (`sources/kafka.py`, `sinks/kafka.py`,
`sinks/jdbc.py`) are wire-untested here: their SEMANTICS are covered by
the broker-less file-topic round-trip in ``test_sources_sinks.py`` (the
keyed log + tombstone → null-tolerant re-consume → latest-wins cycle),
but the actual Kafka protocol / JDBC driver handshake is not
(VERDICT r4 "What's missing" #2).

These tests close that gap on deploy day. They skip cleanly unless the
matching environment variable points at a live endpoint:

    KAFKA_BOOTSTRAP=host:9092         pytest -m broker -k kafka
    CLICKHOUSE_JDBC_URL=jdbc:...      pytest -m broker -k clickhouse
    DORIS_JDBC_URL=jdbc:...           pytest -m broker -k doris

The Spark session additionally needs the connector jars on deploy day
(none are baked into this container):

    spark-submit --packages org.apache.spark:spark-sql-kafka-0-10_2.13:4.0.0 \
                 --jars clickhouse-jdbc.jar,mysql-connector-j.jar ...
"""

from __future__ import annotations

import os
import time
import uuid

import pytest

pytestmark = pytest.mark.broker

KAFKA = os.environ.get("KAFKA_BOOTSTRAP")
CK_URL = os.environ.get("CLICKHOUSE_JDBC_URL")
DORIS_URL = os.environ.get("DORIS_JDBC_URL")


@pytest.mark.skipif(not KAFKA, reason="KAFKA_BOOTSTRAP not set — no live broker")
def test_kafka_fixed_sink_then_source_round_trip(spark, tmp_path):
    """K1 → S1 over the wire: write N keyed JSON records to a fresh
    topic with the batch kafka sink, re-read them with
    ``read_kafka_stream`` from earliest, assert count + tombstone
    filter semantics against the same data."""
    from pyspark.sql import functions as F

    from gmall_realtime_ck_spark.sources.kafka import filter_tombstones, read_kafka_stream

    topic = f"sparkgraft_rt_{uuid.uuid4().hex[:8]}"
    df = spark.range(100).select(
        F.col("id").cast("string").alias("key"),
        F.when(F.col("id") % 10 == 0, F.lit(None).cast("string"))
        .otherwise(F.to_json(F.struct("id")))
        .alias("value"),
    )
    (
        df.write.format("kafka")
        .option("kafka.bootstrap.servers", KAFKA)
        .option("topic", topic)
        .save()
    )

    stream = read_kafka_stream(spark, topic, KAFKA, starting_offsets="earliest")
    out = tmp_path / "sink"
    q = (
        filter_tombstones(stream)
        .writeStream.format("parquet")
        .option("path", str(out))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.read.parquet(str(out))
    assert got.count() == 90  # 100 minus the 10 tombstones
    assert got.filter("value IS NULL").count() == 0


@pytest.mark.skipif(not KAFKA, reason="KAFKA_BOOTSTRAP not set — no live broker")
def test_kafka_upsert_tombstone_cycle_live(spark, tmp_path):
    """K3 → S1/P9 over the wire: the same upsert/tombstone cycle the
    broker-less e2e proves semantically (test_sources_sinks.py), against
    a real topic — latest-wins snapshot after deletes."""
    from pyspark.sql import functions as F

    from gmall_realtime_ck_spark.sources.kafka import read_kafka_stream, upsert_snapshot

    topic = f"sparkgraft_up_{uuid.uuid4().hex[:8]}"
    rows = [("k1", '{"v": 1}'), ("k2", '{"v": 1}'), ("k1", '{"v": 2}'), ("k2", None)]
    df = spark.createDataFrame(rows, "key string, value string")
    (
        df.coalesce(1)  # one partition ⇒ per-key append order preserved
        .write.format("kafka")
        .option("kafka.bootstrap.servers", KAFKA)
        .option("topic", topic)
        .save()
    )
    time.sleep(2)
    stream = read_kafka_stream(spark, topic, KAFKA, starting_offsets="earliest")
    out = tmp_path / "log"
    q = (
        stream.writeStream.format("parquet")
        .option("path", str(out))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    log = spark.read.parquet(str(out))
    snap = upsert_snapshot(log.withColumn("segment", F.monotonically_increasing_id()))
    got = {r["key"]: r["value"] for r in snap.collect()}
    assert got == {"k1": '{"v": 2}'}  # k1 updated, k2 tombstoned away


def _jdbc_round_trip(spark, url):
    from gmall_realtime_ck_spark.sinks.jdbc import jdbc_batch_writer

    table = f"sparkgraft_smoke_{uuid.uuid4().hex[:8]}"
    df = spark.range(1000).selectExpr("id", "id * 2 AS doubled", "'x' AS transient_note")
    writer = jdbc_batch_writer(url, table, transient_cols=("transient_note",))
    writer(df, 0)
    back = spark.read.jdbc(url, table)
    assert back.count() == 1000
    assert "transient_note" not in back.columns  # @TransientSink drop
    assert back.agg({"doubled": "sum"}).collect()[0][0] == 999 * 1000


@pytest.mark.skipif(not CK_URL, reason="CLICKHOUSE_JDBC_URL not set — no live server")
def test_clickhouse_jdbc_round_trip(spark):
    """K6-K8 over the wire: batched JDBC write with @TransientSink-style
    column drop, then read-back."""
    _jdbc_round_trip(spark, CK_URL)


@pytest.mark.skipif(not DORIS_URL, reason="DORIS_JDBC_URL not set — no live server")
def test_doris_jdbc_round_trip(spark):
    """K4/K5 over the wire: same contract against Doris."""
    _jdbc_round_trip(spark, DORIS_URL)
