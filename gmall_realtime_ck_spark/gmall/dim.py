"""DIM layer: config-driven dimension maintenance.

The reference's DimApp (DIM/app/DimApp.java:87-237) consumes topic_db,
matches rows against the broadcast table_process_dim config
(TableProcessFunction.java:22-96), prunes columns to sink_columns
(:91-95), and writes to HBase with Redis-cache invalidation
(HBaseSinkFunction.java:36-65).

Spark-first: dim tables are parquet (Delta-style MERGE semantics done
manually — last-write-wins by (rowkey, ts), deletes applied), kept
small and broadcast-joined by consumers, which removes the need for
the Redis/HBase cache hierarchy entirely (SURVEY §2.4 J6).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..schemas import TABLE_PROCESS_DIM
from .dwd import parse_topic_db


def dim_config(spark: SparkSession, rows: list[tuple]) -> DataFrame:
    """Config snapshot as a DataFrame. The reference preloads the JDBC
    snapshot in open() to beat broadcast races
    (TableProcessFunction.java:29-37); in Spark the config is re-read
    per micro-batch inside foreachBatch, so there is no race window.
    """
    return spark.createDataFrame(rows, TABLE_PROCESS_DIM)


def dim_changes(db: DataFrame, config: DataFrame) -> DataFrame:
    """J5/P5 — match CDC rows to configured dim tables, prune ``data``
    to sink_columns, stamp the rowkey. bootstrap-insert is an upsert
    like insert/update (DimApp.java:223-229 keeps it for dims).
    """
    cfg = F.broadcast(
        config.select(
            "source_table",
            "sink_table",
            F.split("sink_columns", ",").alias("keep_cols"),
            "sink_row_key",
        )
    )
    joined = db.join(cfg, F.col("table") == cfg.source_table)
    return joined.select(
        "sink_table",
        F.element_at("data", F.col("sink_row_key")).alias("row_key"),
        F.map_filter("data", lambda k, _: F.array_contains(F.col("keep_cols"), k)).alias("data"),
        F.when(F.col("type") == "delete", F.lit("D")).otherwise(F.lit("U")).alias("op"),
        "ts",
    )


def merge_dim_batch(
    spark: SparkSession, changes: DataFrame, store_dir: str
) -> dict[str, DataFrame]:
    """K9 — apply a batch of dim changes to the parquet dim store:
    per sink_table, last-write-wins by (row_key, ts desc), deletes
    removed. Returns the new snapshots (also written to store_dir).
    Called from foreachBatch in streaming; idempotent per batch
    (replays converge to the same snapshot).
    """
    out: dict[str, DataFrame] = {}
    tables = [r[0] for r in changes.select("sink_table").distinct().collect()]
    for table in sorted(tables):
        batch = changes.filter(F.col("sink_table") == table).select(
            "row_key", "data", "op", "ts"
        )
        path = os.path.join(store_dir, table)
        merged = batch
        if os.path.isdir(path):  # an unreadable store raises: never overwrite it
            existing = spark.read.parquet(path).select(
                "row_key", "data", F.lit("U").alias("op"), "ts"
            )
            merged = existing.unionByName(batch)
        w = Window.partitionBy("row_key").orderBy(F.desc("ts"), F.desc("op"))
        snapshot = (
            merged.withColumn("rn", F.row_number().over(w))
            .filter((F.col("rn") == 1) & (F.col("op") != "D"))
            .select("row_key", "data", "ts")
        )
        snapshot.write.mode("overwrite").parquet(path + "_new")
        # atomic-ish swap: write new, point readers at the fresh copy
        final = spark.read.parquet(path + "_new")
        final.write.mode("overwrite").parquet(path)
        out[table] = spark.read.parquet(path)
    return out


def dim_snapshot(spark: SparkSession, store_dir: str, table: str, columns: list[str]) -> DataFrame:
    """Read one dim table from the store, exploding the pruned map back
    to typed columns for broadcast joins."""
    df = spark.read.parquet(os.path.join(store_dir, table))
    return df.select(
        "row_key", *[F.element_at("data", c).alias(c) for c in columns]
    )


def scd2_merge(
    spark: SparkSession, changes: DataFrame, store_dir: str, table: str
) -> DataFrame:
    """SCD-Type-2 variant of the dim sink: instead of last-write-wins,
    keep full version history — each change closes the key's open
    version (valid_to = change ts) and, unless it is a delete, opens a
    new one (valid_from = ts, valid_to = NULL). Beyond the reference's
    overwrite-only HBase sink (HBaseSinkFunction.java:36-65): enables
    as-of dimension joins for backfills.

    ``changes``: dim_changes() output filtered to one sink_table.
    Returns the new history DataFrame (also persisted).
    """
    path = os.path.join(store_dir, table + "_scd2")
    batch = changes.select("row_key", "data", "op", "ts")
    hist = spark.read.parquet(path) if os.path.isdir(path) else None

    w = Window.partitionBy("row_key").orderBy("ts", "op")
    versioned = (
        batch.withColumn("valid_from", F.col("ts"))
        .withColumn("valid_to", F.lead("ts").over(w))
        .filter(F.col("op") != "D")
        .select("row_key", "data", "valid_from", "valid_to")
    )
    # deletes close the predecessor (lead already did) and add no row;
    # a delete with no successor leaves valid_to = its ts via a second pass
    closes = (
        batch.filter(F.col("op") == "D")
        .select("row_key", F.col("ts").alias("del_ts"))
    )
    versioned = (
        versioned.join(closes, "row_key", "left")
        .withColumn(
            "valid_to",
            F.when(
                F.col("valid_to").isNull()
                & F.col("del_ts").isNotNull()
                & (F.col("del_ts") > F.col("valid_from")),
                F.col("del_ts"),
            ).otherwise(F.col("valid_to")),
        )
        .drop("del_ts")
    )
    if hist is not None:
        # close open history rows at the batch's first new version per key
        first_new = batch.groupBy("row_key").agg(F.min("ts").alias("new_ts"))
        hist = (
            hist.join(first_new, "row_key", "left")
            .withColumn(
                "valid_to",
                F.when(
                    F.col("valid_to").isNull() & F.col("new_ts").isNotNull(),
                    F.col("new_ts"),
                ).otherwise(F.col("valid_to")),
            )
            .drop("new_ts")
        )
        merged = hist.unionByName(versioned)
    else:
        merged = versioned
    merged.write.mode("overwrite").parquet(path + "_new")
    final = spark.read.parquet(path + "_new")
    final.write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


def dim_as_of(spark: SparkSession, store_dir: str, table: str, ts: int) -> DataFrame:
    """Point-in-time dimension snapshot from the SCD2 history — the
    as-of join input for backfills (valid_from ≤ ts < valid_to)."""
    hist = spark.read.parquet(os.path.join(store_dir, table + "_scd2"))
    return hist.filter(
        (F.col("valid_from") <= ts)
        & (F.col("valid_to").isNull() | (F.col("valid_to") > ts))
    ).select("row_key", "data")


def run_dim_pipeline(
    spark: SparkSession, raw_topic_db: DataFrame, config_rows: list[tuple], store_dir: str
) -> dict[str, DataFrame]:
    """End-to-end DIM batch: parse ODS → match config → merge store."""
    db = parse_topic_db(raw_topic_db)
    cfg = dim_config(spark, config_rows)
    return merge_dim_batch(spark, dim_changes(db, cfg), store_dir)
