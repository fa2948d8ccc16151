"""CDC envelope sources (SURVEY.md §2.1 S3).

The reference uses FlinkCDC (Debezium format) for the config tables —
snapshot-then-binlog, StartupOptions.initial()
(COMMON/util/FlinkSourceUtil.java:65-82). Spark has no native MySQL
CDC source; the model here is a stream of Debezium-format rows from
any carrier (Kafka topic, file drop, Delta CDF) parsed by
:func:`parse_debezium`, with :func:`config_snapshot` standing in for
the initial JDBC snapshot (TableProcessFunction.java:29-37 preloads it
to beat races; in Spark the config is re-read per micro-batch so no
race exists).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schemas import DEBEZIUM_ENVELOPE


def parse_debezium(raw: DataFrame) -> DataFrame:
    """Debezium envelope in column ``value`` → (op, before, after,
    ts_ms) rows. op ∈ {r,c,u,d} (Test01_FlinkCDC.java:39-43): r/c/u
    carry ``after``, d carries ``before``."""
    return (
        raw.filter(F.col("value").isNotNull())
        .select(F.from_json(F.col("value"), DEBEZIUM_ENVELOPE).alias("e"))
        .select("e.*")
        .filter(F.col("op").isin("r", "c", "u", "d"))
    )


def apply_config_ops(parsed: DataFrame) -> DataFrame:
    """Collapse a Debezium config stream to the current config rows:
    last op per key wins, deletes drop the row. Keyed on
    after.source_table (before.source_table for deletes) — the
    broadcast-state key of the reference (TableProcessFunction.java:50-66).

    Scale note (r8 coarse-key window sweep): ``source_table`` is the
    config table's PRIMARY KEY, so each rank partition holds one
    key's edit history (handfuls of rows for a tens-of-rows config
    dimension) — not a coarse key, no mitigation needed.
    """
    from pyspark.sql import Window

    keyed = parsed.select(
        F.coalesce(
            F.element_at("after", "source_table"), F.element_at("before", "source_table")
        ).alias("source_table"),
        "op",
        "after",
        "ts_ms",
    )
    w = Window.partitionBy("source_table").orderBy(F.desc("ts_ms"))
    return (
        keyed.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (F.col("op") != "d"))
        .select("source_table", "after", "ts_ms")
    )


def config_snapshot(spark: SparkSession, rows: list[tuple], schema) -> DataFrame:
    """The initial() snapshot of a config table as a DataFrame (in
    production: ``spark.read.jdbc`` against gmall_config)."""
    return spark.createDataFrame(rows, schema)
