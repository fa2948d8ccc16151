"""End-to-end replicas of reference apps: ODS fixture → DWD → DWS →
sink, streaming, with checkpoint-recovery semantics."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from gmall_realtime_ck_spark.gmall import dwd, dws, fixtures
from gmall_realtime_ck_spark.sinks.jdbc import parquet_batch_writer
from gmall_realtime_ck_spark.streaming import pipelines


@pytest.fixture(scope="module")
def log_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("log"))
    lines = fixtures.gen_log_lines(n_events=1200)
    spark.createDataFrame([(l,) for l in lines], "value string").coalesce(2).write.mode(
        "overwrite"
    ).text(d)
    return d


def test_traffic_window_app_stream_equals_batch(spark, log_dir):
    """The DwsTrafficVcChArIsNewPageViewWindow app end-to-end: raw log
    stream → split → page branch → windowed (vc,ch,ar,is_new) agg with
    UV/SV flags — streamed in complete mode, equal to the batch run.
    (The UV flag itself needs the batch oracle formulation inside the
    agg; the per-record stateful variant is covered by
    test_streaming.test_repair_is_new_stream + flow_daily_uv.)
    """
    batch = dws.traffic_page_view_window(
        dwd.split_log(spark.read.text(log_dir))["page"], size="1 hour"
    )
    b = sorted(map(tuple, batch.collect()))

    # complete-mode streaming run of pv/sv/dur (uv needs keyed state →
    # done via flow_daily_uv path); compare the stateless measures,
    # projected the same way on both sides
    def measures(page):
        return (
            page.select(
                F.col("common.vc").alias("vc"),
                F.col("common.ch").alias("ch"),
                F.col("common.ar").alias("ar"),
                F.col("common.is_new").alias("is_new"),
                (F.col("page.last_page_id").isNull() | (F.col("page.last_page_id") == ""))
                .cast("long")
                .alias("sv"),
                F.col("page.during_time").alias("during_time"),
                F.timestamp_millis("ts").alias("et"),
            )
            .groupBy(F.window("et", "1 hour").alias("w"), "vc", "ch", "ar", "is_new")
            .agg(
                F.count(F.lit(1)).alias("pv_ct"),
                F.sum("sv").alias("sv_ct"),
                F.sum("during_time").alias("dur_sum"),
            )
        )

    def rows(df):
        return {
            (r["vc"], r["ch"], r["ar"], r["is_new"], r["w"]["start"], r["pv_ct"], r["sv_ct"], r["dur_sum"])
            for r in df.collect()
        }

    raw = spark.readStream.format("text").load(log_dir)
    s = rows(pipelines._run_to_memory(measures(dwd.split_log(raw)["page"]), "complete"))
    b2 = rows(measures(dwd.split_log(spark.read.text(log_dir))["page"]))
    assert s == b2
    assert len(b) > 0  # the full DWS shape also materializes


def test_checkpoint_recovery_no_duplicates(spark, log_dir, tmp_path):
    """Exactly-once via checkpoint + availableNow: re-running the same
    pipeline with the same checkpoint must write NOTHING new (all input
    already committed) — the Spark answer to the reference's Kafka 2PC
    (FlinkSinkUtil.java:34-39)."""
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def run():
        raw = spark.readStream.format("text").load(log_dir)
        page = dwd.split_log(raw)["page"]
        counts = page.groupBy(F.col("common.ch").alias("ch")).count()

        def writer(batch_df, batch_id):
            batch_df.withColumn("batch_id", F.lit(batch_id)).write.mode("append").parquet(out_dir)

        q = (
            counts.writeStream.foreachBatch(writer)
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run()
    n1 = spark.read.parquet(out_dir).count()
    run()  # same checkpoint: no new input → no new writes
    n2 = spark.read.parquet(out_dir).count()
    assert n1 > 0
    assert n2 == n1


def test_dirty_branch_to_side_sink(spark, log_dir, tmp_path):
    """K10 end-to-end: dirty lines land in their own sink, clean count
    + dirty count = total."""
    raw = spark.readStream.format("text").load(log_dir)
    parts = dwd.split_log(raw)
    dirty_dir = str(tmp_path / "dirty")

    q = pipelines.foreach_batch_pipeline(
        parts["dirty"], lambda df: df, parquet_batch_writer(dirty_dir)
    )
    q.awaitTermination()
    n_dirty = spark.read.parquet(dirty_dir).count()
    total = spark.read.text(log_dir).count()
    n_page = dwd.split_log(spark.read.text(log_dir))["page"].count()
    assert n_dirty > 0
    # every fixture line is either garbage or a page-carrying event
    assert n_dirty + n_page == total
