"""OLAP JDBC sinks (SURVEY.md §2.2 K4-K8): ClickHouse / Doris writers
for foreachBatch.

The reference's sinks are batched PreparedStatement fillers —
ClickHouse 1000 rows / 200 ms (DwsTrafficSourceKeywordPageViewWindowCK
.java:107-110), generic reflection-based writer skipping
@TransientSink fields (ClickHouseUtil.java:22-62), Doris stream-load
with 3×1 MB buffers (FlinkSinkUtil.java:69-94). In Spark a foreachBatch
JDBC write is naturally batched (1000 rows per JDBC batch, as in the
reference); transient fields are dropped with a select.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def clickhouse_url(host: str, port: int = 8123, database: str = "default") -> str:
    """gmall2024-publisher-ck/src/main/resources/application.properties:3-4."""
    return f"jdbc:clickhouse://{host}:{port}/{database}"


def doris_url(fe_host: str, port: int = 9030, database: str = "gmall") -> str:
    """Doris speaks MySQL protocol on the FE (PUB application.properties:3-4)."""
    return f"jdbc:mysql://{fe_host}:{port}/{database}"


def jdbc_batch_writer(
    url: str,
    table: str,
    driver: str | None = None,
    transient_cols: tuple[str, ...] = (),
    properties: dict | None = None,
):
    """K6/K7 — a foreachBatch writer: drops @TransientSink-style columns
    (TransientSink.java:13-16; the reference's reflection filler skips
    them at ClickHouseUtil.java:38-47), appends with JDBC batches of
    1000 rows unless ``properties`` sets ``batchsize``.

    Usage::

        q = df.writeStream.foreachBatch(
            jdbc_batch_writer(clickhouse_url("ck"), "dws_keyword",
                              transient_cols=("ts",))
        ).start()
    """
    props = dict(properties or {})
    props.setdefault("batchsize", "1000")
    if driver:
        props.setdefault("driver", driver)

    def write(batch_df: DataFrame, batch_id: int) -> None:
        out = batch_df.drop(*transient_cols) if transient_cols else batch_df
        out.write.jdbc(url, table, mode="append", properties=props)

    return write


def parquet_batch_writer(path: str, partition_by: tuple[str, ...] = ()):
    """Container-friendly stand-in for the OLAP sink with the same
    foreachBatch contract — each batch appends; DWS outputs land
    date-partitioned like the reference's ``PARTITION parYYYYMMDD``
    tables (PUB/mapper/TradeStatsMapper.java:27). A partitioned write is
    hash-repartitioned on the partition columns first, so each batch
    adds one file per date partition instead of one per (task, date)."""

    def write(batch_df: DataFrame, batch_id: int) -> None:
        if partition_by:
            batch_df.repartition(*partition_by).write.mode("append").partitionBy(
                *partition_by
            ).parquet(path)
        else:
            batch_df.write.mode("append").parquet(path)

    return write
