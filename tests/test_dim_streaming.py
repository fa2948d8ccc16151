"""Streaming DIM maintenance: the DimApp loop under foreachBatch —
CDC stream → config match → merge store, converging across batches."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from gmall_realtime_ck_spark.gmall import dim, fixtures
from gmall_realtime_ck_spark.streaming.pipelines import foreach_batch_pipeline


def test_dim_merge_under_foreachbatch(spark, tmp_path):
    src = str(tmp_path / "cdc")
    store = str(tmp_path / "store")
    lines = fixtures.gen_topic_db_lines(n_orders=40)
    spark.createDataFrame([(l,) for l in lines], "value string").coalesce(2).write.mode(
        "overwrite"
    ).text(src)

    raw = spark.readStream.format("text").load(src)

    def transform(batch_raw):
        return batch_raw  # merge happens in the writer (needs SparkSession access)

    def writer(batch_df, batch_id):
        if batch_df.isEmpty():
            return
        dim.run_dim_pipeline(
            spark, batch_df, fixtures.TABLE_PROCESS_DIM_ROWS, store
        )

    q = foreach_batch_pipeline(raw, transform, writer, checkpoint=str(tmp_path / "ck"))
    q.awaitTermination()

    sku = dim.dim_snapshot(spark, store, "dim_sku_info", ["sku_name"])
    assert sku.count() == 35

    # a second stream delivering an update + delete converges the store
    src2 = str(tmp_path / "cdc2")
    more = [
        json.dumps({"database": "gmall", "table": "sku_info", "type": "update",
                    "ts": 9999999998,
                    "data": {"id": "3", "sku_name": "renamed", "spu_id": "1",
                             "price": "1.00", "tm_id": "0", "category3_id": "1"}}),
        json.dumps({"database": "gmall", "table": "sku_info", "type": "delete",
                    "ts": 9999999999, "data": {"id": "4"}}),
    ]
    spark.createDataFrame([(l,) for l in more], "value string").coalesce(1).write.mode(
        "overwrite"
    ).text(src2)
    raw2 = spark.readStream.format("text").load(src2)
    q2 = foreach_batch_pipeline(raw2, transform, writer, checkpoint=str(tmp_path / "ck2"))
    q2.awaitTermination()

    sku2 = dim.dim_snapshot(spark, store, "dim_sku_info", ["sku_name"])
    assert sku2.count() == 34  # delete applied
    renamed = sku2.filter(F.col("row_key") == "3").collect()[0]["sku_name"]
    assert renamed == "renamed"
