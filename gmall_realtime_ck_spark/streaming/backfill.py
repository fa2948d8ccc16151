"""Batch-backfill → streaming-catchup handoff — the deployment seam of
every streaming warehouse (the reference stands up each Flink job
against a Kafka topic's retained history and lets it run forward,
SUGG: COMMON/base/BaseApp.java:33-68 + earliest/latest offset choices
in KafkaUtil; a Spark deployment instead backfills history as a BATCH
over the lake and lets the STREAM take over at a cutoff).

The pattern: ONE shared transform applied twice —

    full_result == transform(batch ≤ cutoff)  ∪  transform(stream > cutoff)

which holds exactly when the cutoff is aligned to the transform's
grouping boundary (no group straddles it): time-windowed aggregates
with a cutoff on a window edge, stateless maps with any cutoff.
``backfill_then_stream`` enforces alignment structurally by taking the
cutoff as a timestamp the caller derives from the window geometry, and
the equality is asserted against the single-batch run in
tests/test_backfill.py — the guarantee a migration signs off on.

Scale posture: the batch leg is an ordinary lake scan (pushdown prunes
``ts <= cutoff`` at the parquet footer level); the stream leg's state
starts EMPTY at the cutoff instead of replaying months of history
through the state store — the entire point of the pattern. Both legs
run the same transform object, so there is no drift between "backfill
logic" and "live logic" (the classic lambda-architecture failure).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from .pipelines import _run_to_memory, events_file_stream


def backfill_then_stream(
    spark: SparkSession,
    sf_dir: str,
    transform: Callable[[DataFrame], DataFrame],
    cutoff: str,
) -> DataFrame:
    """Run ``transform`` as a batch over events strictly BEFORE
    ``cutoff`` (a ``'YYYY-MM-DD HH:MM:SS'`` literal aligned to the
    transform's window geometry) and as a bounded stream over events
    AT/after it (complete mode), returning the union — row-identical to
    one batch pass over everything when the cutoff straddles no group.
    """
    cut = F.to_timestamp(F.lit(cutoff))
    batch_events = load_table(spark, sf_dir, "events")
    batch_leg = transform(batch_events.filter(F.col("ts") < cut))
    stream_leg = _run_to_memory(
        transform(events_file_stream(spark, sf_dir).filter(F.col("ts") >= cut)),
        "complete",
    )
    return batch_leg.unionByName(stream_leg)
