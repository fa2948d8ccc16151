"""SparkSession factory.

Defaults mirror what we would run on a large cluster (AQE on, skew-join
handling on, Arrow for any pandas exchange) while staying correct on
``local[N]``. The reference pins parallelism=4 per Flink app
(GM/realtime-dim/.../DimApp.java:87); here parallelism is a session-wide
knob and Catalyst/AQE re-plan at runtime.

Shuffle partitions default to one per task slot (``$SPARK_GRAFT_CPUS``).
Every stateful streaming operator opens one state store per shuffle
partition and commits each of them on every micro-batch, so partitions
beyond the slots only add near-empty store commits and extra task
waves. On a 4-vCPU host, 32 partitions spent 5.9 s of a traced
``perfbench`` ``pipelines`` run committing state stores against 1.1 s
at 4, and launched 1,508 tasks against 467. Batch stages lose nothing:
AQE coalesces small shuffles below the count anyway.

Migration: a streaming query keeps the partition count recorded in its
checkpoint's offset metadata, whatever the session says. An existing
checkpoint created under the old ``max(cpus, 32)`` default keeps 32
state-store partitions; to adopt the new count, start the query from a
fresh checkpoint.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Session timezone is UTC so that timestamp→string rendering agrees with
# the DuckDB oracle (which treats the parquet naive timestamps as-is).
# The reference's own date math is Asia/Shanghai
# (COMMON/util/DateFormatUtil.java:28); gmall-shaped pipelines that need
# it set it explicitly per-query.
SESSION_TZ = "UTC"

#: Runtime (non-static) confs every query needs regardless of who built
#: the session — applied idempotently by :func:`configure_runtime`.
RUNTIME_CONFS = {
    # driver testdata writes events.ts as parquet TIMESTAMP(NANOS),
    # which Spark only reads as a long with this legacy flag.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.session.timeZone": SESSION_TZ,
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # InferWindowGroupLimit only plants the per-partition top-k prune
    # under rank filters with k BELOW this threshold (default 1000).
    # corpus_vocab_coverage's 50k head slice — and any future big-k
    # rank — would otherwise sort whole partitions unpruned; a 100k
    # top-k heap per partition is trivially memory-safe, so raise it.
    "spark.sql.optimizer.windowGroupLimitThreshold": "100000",
}


def configure_runtime(spark: SparkSession) -> SparkSession:
    """Apply runtime confs to an externally-built session (idempotent)."""
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # static conf on this build — keep going
    return spark


def get_spark(
    app_name: str = "gmall-realtime-ck-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32)
    when no cluster master is configured — on a real cluster the master
    comes from spark-submit and this argument is left None.

    ``shuffle_partitions`` defaults to the same ``$SPARK_GRAFT_CPUS``:
    one shuffle partition, and so one state store per stateful
    operator, per task slot (see the module docstring for the measured
    commit cost and the checkpoint migration note).
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    builder = SparkSession.builder.appName(app_name)
    if master:
        builder = builder.config("spark.master", master)
    elif "SPARK_MASTER" not in os.environ:
        builder = builder.config("spark.master", f"local[{cpus}]")

    builder = (
        builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)

    spark = builder.getOrCreate()
    return configure_runtime(spark)
