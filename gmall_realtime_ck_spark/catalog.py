"""Loaders for the driver's synthetic parquet tables (TESTDATA.md).

Tables: region nation customer supplier part orders lineitem events
documents embeddings. ``events.ts`` is parquet TIMESTAMP(NANOS) which
Spark reads only as a raw long (``spark.sql.legacy.parquet.nanosAsLong``)
— we convert it back to a proper TimestampType column here so every
downstream operator sees a normal timestamp.

At 100 TB these reads are plain distributed parquet scans; predicate
pushdown and column pruning flow from the declarative plans built on
top of these DataFrames (verify with ``.explain``: PushedFilters /
ReadSchema).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .session import configure_runtime

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one test table, normalizing types."""
    configure_runtime(spark)
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # nanos → micros → TimestampType. Integer division: ns epochs
        # (~1.7e18) exceed double's exact range, so `/ 1000` through a
        # double rounds the microsecond — `div` stays in int64.
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load every table and register each as a temp view so both the
    DataFrame API and ``spark.sql`` can address them by name."""
    out: dict[str, DataFrame] = {}
    for name in TABLES:
        df = load_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out
