"""Runnable streaming pipelines (Structured Streaming).

Every pipeline shares its transformation code with the batch layer, so
batch ≡ stream is testable. Bounded runs use Trigger.AvailableNow with
a memory sink; production swaps the source for Kafka and the sink for
foreachBatch JDBC (sinks.jdbc) without touching the transforms —
mirroring how each reference app is Kafka-in/Kafka-or-OLAP-out
(COMMON/base/BaseApp.java:33-68).

A batch query whose builder runs unchanged on a stream gets its
streaming twin from one row of ``BATCH_TWINS`` — (batch query, stream
table, output mode) — not from a hand-written ``flow_*`` function; the
registry builds the twin and reuses the batch oracle. A builder
qualifies when it is a per-row map (append mode) or a re-associable
aggregate (complete mode): either way the bounded run's final table
equals the batch result. A batch builder written literally as
``poll(spine(t[table]))``, where ``spine`` is one keyed aggregate that
is legal in complete mode, gets its twin from one row of
``SPINE_TWINS`` — (batch query, stream table, spine, poll): the stream
keeps only the spine and each poll re-runs ``poll`` over its table, so
stream ≡ batch holds by construction. A twin whose state or poll step
differs from its batch builder's is written out below and listed in
``STREAM_BUILDERS``.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import threading
import uuid

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.behavior import retention_from_user_days, user_day_counts
from ..operators.privacy import (
    class_sensitive_counts,
    dp_cell_counts,
    dp_noisy_counts,
    dp_release_card,
    t_closeness_from_class_counts,
)
from ..operators.relational import ts_str
from ..operators.sampling import epoch_schedule_from_totals, source_token_totals
from ..operators.text import (
    gini_from_counts,
    simpson_from_counts,
    source_token_counts,
    zipf_topn_from_counts,
)
from ..operators.timeseries import cusum_from_daily, type_day_counts
from ..session import configure_runtime
from ..sources.files import parquet_stream, text_stream


# Staged source dirs and default checkpoints must outlive any stream
# started in this process (a builder can be re-invoked at any time), so
# they are removed at interpreter exit rather than per-run — without
# this, repeated bench/test invocations accumulated thousands of
# streamsrc_* symlink dirs and orphan foreach-batch ckpt_* dirs in /tmp.
_PROCESS_TEMP_DIRS: list[str] = []


def _cleanup_process_temp_dirs() -> None:
    for d in _PROCESS_TEMP_DIRS:
        shutil.rmtree(d, ignore_errors=True)


atexit.register(_cleanup_process_temp_dirs)


#: package-namespaced parent for every temp dir this module creates:
#: the stale sweep below removes ckpt_*/streamsrc_* dirs by PATTERN,
#: and those prefixes are generic enough that sweeping the shared
#: system tempdir could delete another tool's dirs (ADVICE r7) — so
#: both creation and sweep are confined to this directory.
_TEMP_ROOT = os.path.join(tempfile.gettempdir(), "gmall_ck_spark")


def _process_tempdir(prefix: str) -> str:
    os.makedirs(_TEMP_ROOT, exist_ok=True)
    d = tempfile.mkdtemp(prefix=prefix, dir=_TEMP_ROOT)
    _PROCESS_TEMP_DIRS.append(d)
    return d


#: atexit covers clean exits only — a SIGKILL'd run (driver timeout,
#: OOM-killer) strands its ckpt_*/streamsrc_* dirs forever. Sweep
#: same-pattern dirs under _TEMP_ROOT older than this from the bench /
#: test / preflight entrypoints (NOT at import — an importing process
#: is not necessarily entitled to reap siblings), when no live process
#: can still be using them (a live bounded run finishes in seconds).
_STALE_TEMP_AGE_S = 3600


def _sweep_stale_temp_dirs(tmp_root: str | None = None, max_age_s: int = _STALE_TEMP_AGE_S) -> int:
    """Remove orphaned ckpt_*/streamsrc_*/kwlog_* temp dirs older than
    ``max_age_s``; returns how many were removed. Errors are ignored —
    a concurrent sweep or an unreadable dir must never break a stream
    build."""
    import glob
    import time

    root = tmp_root or _TEMP_ROOT
    if not os.path.isdir(root):
        return 0
    removed = 0
    cutoff = time.time() - max_age_s

    def last_activity(d: str) -> float:
        # a LIVE streaming query touches commits/offsets/state subdirs
        # every batch without updating the top dir's mtime — take the
        # max over the dir and its first-level entries so a >1h-running
        # query in another process is never swept out from under itself.
        # follow_symlinks=False: streamsrc_* dirs hold symlinks whose
        # target may be gone (would raise and strand the orphan) or
        # forever-fresh (would keep a dead dir alive) — the entry's own
        # lstat mtime is the honest signal either way (ADVICE r7).
        ts = [os.path.getmtime(d)]
        for e in os.scandir(d):
            ts.append(e.stat(follow_symlinks=False).st_mtime)
        return max(ts)

    for d in (
        glob.glob(os.path.join(root, "ckpt_*"))
        + glob.glob(os.path.join(root, "streamsrc_*"))
        + glob.glob(os.path.join(root, "kwlog_*"))
    ):
        try:
            if os.path.isdir(d) and last_activity(d) < cutoff:
                shutil.rmtree(d, ignore_errors=True)
                removed += 1
        except OSError:
            continue
    return removed


def _as_stream_dir(file_path: str) -> str:
    """The file stream source requires a DIRECTORY; the driver tables
    are single parquet files. Stage a symlink dir (no data copied)."""
    d = _process_tempdir("streamsrc_")
    os.symlink(file_path, os.path.join(d, os.path.basename(file_path)))
    return d


def events_file_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5/S6-style bounded file stream over the driver's events table.

    The stream schema is taken from a batch read of the same file, so
    the stream sees exactly the types the file carries (``ts`` is a
    typed ``timestamp[us]`` parquet column in current testdata). Only
    when ``ts`` really arrives as a raw long (TIMESTAMP(NANOS) under
    the nanosAsLong flag) is the long→timestamp conversion applied —
    the identical guard the batch path uses (catalog.load_table), so
    batch and stream can never silently disagree on event time again.
    """
    configure_runtime(spark)
    path = os.path.join(sf_dir, "events.parquet")
    schema = spark.read.parquet(path).schema
    raw = (
        spark.readStream.schema(schema)
        .format("parquet")
        .load(_as_stream_dir(path))
    )
    return _event_time(raw)


def _event_time(raw: DataFrame) -> DataFrame:
    """Normalize an events stream's ``ts`` to TIMESTAMP, whatever
    physical type the file carries."""
    dtype = dict(raw.dtypes).get("ts")
    if dtype == "bigint":
        # integer div: ns epochs exceed double's exact range (see catalog)
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if dtype == "timestamp_ntz":
        # Watermarks require TIMESTAMP (LTZ); the cast keeps the wall
        # clock under the session timezone, so stream ≡ batch holds.
        return raw.withColumn("ts", F.col("ts").cast("timestamp"))
    return raw


#: shuffle partitions of every bounded run (see ``_run_to_memory``)
_RUN_SHUFFLE_PARTITIONS = 8


def _run_to_memory(
    df: DataFrame,
    output_mode: str,
    no_data_batches: bool = False,
) -> DataFrame:
    """Execute a bounded streaming query into a memory sink, return the
    final result table.

    Shuffle partitions are scoped down to ``_RUN_SHUFFLE_PARTITIONS``
    for the run: streaming state (window/dedup/join/
    applyInPandasWithState) creates one state store per shuffle
    partition and the per-store commit overhead dominates bounded runs
    (measured on the stream-stream join at sf0.1: 32 partitions →
    6.6 s, 8 → 2.1 s, same results). Sessions from
    ``session.get_spark`` already default to one partition per task
    slot for the same reason; the scoping keeps bounded runs cheap on
    sessions built elsewhere (a vanilla ``SparkSession.builder``
    session, ``tools/preflight.py``'s 32 partitions). The prior value is
    restored as soon as the query has started (it runs on its own copy
    of the conf), so the caller's session is untouched.

    No-data micro-batches are disabled by default for the run (r13):
    after the last data batch, AvailableNow otherwise appends an extra
    empty batch whose only purpose is watermark-driven state flush — a
    full stateful commit cycle across every state store that, for most
    of these bounded pipelines, can never emit a row. The invariant
    that makes the skip safe is NOT "all state timeouts are
    processing-time" but the per-operator property that no state
    timeout/eviction path EMITS rows on the flush batch — verify that
    property per operator before relying on the default here:
    complete-mode aggregates re-emit everything on the last data
    batch; the dedup/TTL states emit on arrival only (their evictions
    — ProcessingTimeTimeout for the applyInPandasWithState TTL maps,
    watermark eviction for dropDuplicatesWithinWatermark, event-time
    timeout for a day-keyed k_first_stream — discard state without
    emitting);
    and the sentinel pipelines (outer join) get their horizon advanced
    by far-future SENTINEL FILES riding real batches
    (_events_stream_sentineled), not by empty batches. Verified
    result-identical over every declared flow query (oracle preflight)
    and measured up to ~40% off stateful-join/dedup runs
    (flow_interval_join 2.5 → 1.6 s, flow_dedup_first 1.7 → 1.0 s,
    min-of-2 interleaved at sf0.1). Pass ``no_data_batches=True`` for
    a pipeline whose EMISSION mechanism is the flush batch itself — an
    append-mode watermark-windowed aggregate with no sentinels emits
    its closed windows only there (``flow_dp_release_closed``; caught
    by its preflight going 145 → 0 rows when this default first
    landed). A production (unbounded) stream keeps the engine default
    — this scoping exists precisely because bounded verification runs
    are where the flush batch is usually dead weight.
    """
    return _run_many_to_memory([(df, output_mode)], no_data_batches)[0]


def _run_many_to_memory(
    dfs_modes: list[tuple[DataFrame, str]],
    no_data_batches: bool = False,
) -> list[DataFrame]:
    """Start EVERY (df, output_mode) bounded query, then await them all
    — the guide-§2.6 overlap for pipelines composed of independent
    bounded streams (flow_anomaly_mad's histogram + raw-log pair): the
    second query's micro-batch back-fills executors the first one's
    tail has already freed, instead of paying two full sequential
    start→batch→commit cycles. Semantics per query are identical to
    ``_run_to_memory`` (same trigger, confs, checkpoint hygiene);
    result tables return in input order.

    The scoped confs are session-wide only while the queries START: a
    query copies the session conf when it starts, so they are restored
    before the awaits, and a query started elsewhere in the session
    during the run keeps the caller's values."""
    if not dfs_modes:
        raise ValueError("_run_many_to_memory: dfs_modes is empty")
    spark = dfs_modes[0][0].sparkSession
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    prev_nodata = spark.conf.get("spark.sql.streaming.noDataMicroBatches.enabled")
    spark.conf.set("spark.sql.shuffle.partitions", str(_RUN_SHUFFLE_PARTITIONS))
    spark.conf.set(
        "spark.sql.streaming.noDataMicroBatches.enabled",
        "true" if no_data_batches else "false",
    )
    started: list[tuple] = []  # (query | None, name, ckpt)
    try:
        try:
            for df, output_mode in dfs_modes:
                name = "m" + uuid.uuid4().hex[:12]
                # Under _TEMP_ROOT so a SIGKILL'd run (no atexit) still
                # lands in the directory the entrypoint sweep reaps —
                # mkdtemp in the shared system tempdir would strand
                # orphans exactly where the sweep no longer looks (the
                # r6 incident class; r8 advisor finding).
                ckpt = _process_tempdir("ckpt_")
                started.append((None, name, ckpt))
                q = (
                    df.writeStream.format("memory")
                    .queryName(name)
                    .outputMode(output_mode)
                    .option("checkpointLocation", ckpt)
                    .trigger(availableNow=True)
                    .start()
                )
                started[-1] = (q, name, ckpt)
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev)
            spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", prev_nodata)
        for q, _, _ in started:
            q.awaitTermination()
    finally:
        # The memory sink holds results driver-side; the checkpoint is
        # only needed while the bounded query runs. Without this, every
        # bench/test invocation leaks a ckpt_* dir in /tmp (same leak
        # class as flow_keyword_pipeline's staged topic dir, fixed r5).
        # Deleted on a daemon thread: the dir holds hundreds of
        # state-store delta files and a synchronous rmtree costs
        # 0.3-0.9 s on the caller's critical path (measured — it
        # uniformly inflated every streaming query ~1.5× in the bench).
        # Only when the query has actually terminated: if
        # awaitTermination raised/was interrupted with the query still
        # active, deleting state-store files under it produces
        # confusing secondary errors — defer those to atexit instead.
        for q, _, ckpt in started:
            try:
                active = q is not None and q.isActive
            except Exception:
                active = False
            if active:
                _PROCESS_TEMP_DIRS.append(ckpt)
            else:
                threading.Thread(
                    target=shutil.rmtree,
                    args=(ckpt,),
                    kwargs={"ignore_errors": True},
                    daemon=True,
                ).start()
    return [spark.table(name) for _, name, _ in started]


def compact_latest_snapshot(tbl: DataFrame, key: str) -> DataFrame:
    """Latest-``upd``-wins changelog compaction — the consumer-side
    contract of the bounded k-first-set state (``state.k_first_stream``,
    behind ``flow_kmv``, ``flow_overlap_kmv`` and ``flow_domain_cap``).

    That operator emits a key's ≤ K rows only when a micro-batch
    actually changes the kept set, stamped with a PER-KEY MONOTONE
    ``upd`` counter. This view keeps each key's highest-``upd``
    snapshot. Two cost regimes:

    * **Bounded runs (tests/bench/driver)**: the memory-sink table
      holds the whole (emit-on-change-bounded) changelog, and the
      window here re-scans it per poll. Fine when the run is bounded —
      the changelog is at most (changed snapshots) × K rows.
    * **Production (long-lived)**: do NOT point this window at an
      ever-growing raw changelog — a year of snapshots would be
      re-windowed on every poll (r8 verdict What's-wrong #2). The
      monotone ``upd`` is emitted precisely so the SINK can prune:
      land the changelog in a ClickHouse ``ReplacingMergeTree``
      versioned by ``upd`` (or a key-compacted Kafka topic keyed on
      ``(key, upd div ∞)``), and this same expression runs over a
      table that physically holds ~1 snapshot per key, making the
      poll cost O(keys × K) regardless of history.

    History-invariance — compacting a changelog with any prefix of
    historical snapshots equals compacting only each key's latest —
    is pinned by tests/test_streaming.py::
    test_compact_latest_snapshot_history_invariance.
    """
    latest = F.max("upd").over(Window.partitionBy(key))
    return tbl.withColumn("_mx", latest).filter(F.col("upd") == F.col("_mx")).drop("_mx")


def flow_daily_uv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T4 streaming — applyInPandasWithState daily-UV flags over the
    events stream, aggregated to per-day UV counts. Order-independent
    (each (user, day) emits exactly one flag), so the traffic_daily_uv batch
    oracle applies verbatim.
    """
    from .state import daily_uv_flags

    ev = events_file_stream(spark, sf_dir).select(
        "user_id", F.date_format("ts", "yyyy-MM-dd").alias("cur_date")
    )
    flags = daily_uv_flags(ev)
    collected = _run_to_memory(flags, "append")
    return (
        collected.filter(F.col("uv") == 1)
        .groupBy("cur_date")
        .agg(F.count(F.lit(1)).alias("uv_ct"))
    )


def flow_dedup_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1 streaming — dropDuplicatesWithinWatermark over (user_id,
    event_type). Keeps first ARRIVAL (arrival order ≈ file order, not
    strictly event order), so this is declared rows-only: the count per
    key is deterministic, the surviving record may differ from the
    batch oracle's ts-ordered pick.
    """
    ev = events_file_stream(spark, sf_dir)
    # the watermark delay bounds the dedup horizon (the reference's 10 s
    # state TTL, DwsTradeSkuOrderWindow.java:196-233); Spark evicts
    # state once the watermark passes
    dd = ev.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(
        ["user_id", "event_type"]
    )
    out = dd.select(
        "user_id", "event_type", F.col("event_id").alias("first_event_id"),
        ts_str("ts").alias("first_ts"),
    )
    return _run_to_memory(out, "append")


def keyword_pipeline_stream(spark: SparkSession, log_dir: str) -> DataFrame:
    """The reference's flagship SQL app as a stream
    (DwsTrafficSourceKeywordPageViewWindow.java:36-99): topic_log text
    stream → 5-way split's page branch → search filter → tokenize →
    1-hour tumbling count. Bounded run, complete mode.
    """
    from ..gmall.dwd import split_log
    from ..gmall.dws import keyword_window

    page = split_log(text_stream(spark, log_dir))["page"]
    return _run_to_memory(keyword_window(page, size="1 hour"), "complete")


def _typed(df: DataFrame, event_type: str) -> DataFrame:
    """One event type's rows as ``<type>_id``, ``<type>_user`` and
    ``<type>_ts``: a side of the stream-stream joins below."""
    return df.filter(F.col("event_type") == event_type).select(
        F.col("event_id").alias(f"{event_type}_id"),
        F.col("user_id").alias(f"{event_type}_user"),
        F.col("ts").alias(f"{event_type}_ts"),
    )


def flow_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1/J4 streaming — watermarked stream-stream interval join:
    purchases ⋈ views of the same user within the preceding hour, both
    sides watermarked so join state is bounded (the reference's
    idle-state TTL, DwdTradeOrderDetail.java:22 /
    DwdTradeOrderPaySucDetail.java:91-94). Inner-join matches on
    bounded data equal the batch join ⇒ the batch oracle applies.
    """
    ev = events_file_stream(spark, sf_dir)

    p = _typed(ev, "purchase").withWatermark("purchase_ts", "10 minutes")
    v = _typed(ev, "view").withWatermark("view_ts", "10 minutes")
    cond = (
        (F.col("purchase_user") == F.col("view_user"))
        & (F.col("view_ts") <= F.col("purchase_ts"))
        & (F.col("view_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 1 HOUR"))
    )
    return _run_to_memory(
        p.join(v, cond).select(
            F.col("purchase_id"), F.col("view_id"), F.col("purchase_user").alias("user_id")
        ),
        "append",
    )


def _events_stream_sentineled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events_file_stream plus two far-future sentinel files staged
    behind the real data (one file per micro-batch via
    maxFilesPerTrigger=1).

    Outer-join null rows and final windows emit only when the watermark
    PASSES them, and the watermark for batch N is computed from data
    seen through batch N-1 — so a bounded single-batch run can never
    flush its own tail. The sentinels (user_id = -1, one event of each
    joined type, ts far beyond the data) advance the watermark over all
    real rows in batch 2 and trigger the final state eviction in batch
    3 — the bounded-run equivalent of the reference jobs' idle-source
    watermark advance (DwdTradeOrderDetail.java withIdleness). All real
    data rides batch 1, so nothing is ever late-dropped and the result
    is deterministic. Sentinel rows are filtered out downstream by
    user_id.
    """
    import pyarrow as pa
    import pyarrow.parquet as pq

    configure_runtime(spark)
    path = os.path.join(sf_dir, "events.parquet")
    schema = spark.read.parquet(path).schema
    d = _as_stream_dir(path)

    arrow_schema = pq.read_schema(path)
    ts_field = arrow_schema.field("ts")
    tmax = pq.read_table(path, columns=["ts"])["ts"]
    import pyarrow.compute as pc

    far = []
    for bump_days in (30, 31):
        if pa.types.is_timestamp(ts_field.type):
            unit = {"s": 1, "ms": 1000, "us": 1_000_000, "ns": 1_000_000_000}[
                ts_field.type.unit
            ]
            base = pc.max(tmax.cast(pa.int64())).as_py()
            far.append(pa.scalar(base + bump_days * 86400 * unit, pa.int64()).cast(ts_field.type))
        else:  # TIMESTAMP(NANOS) refreshes read ts as a raw int64
            base = pc.max(tmax).as_py()
            far.append(pa.scalar(base + bump_days * 86400 * 10**9, ts_field.type))

    now = os.path.getmtime(os.path.join(d, os.path.basename(path)))
    for i, ts_val in enumerate(far):
        rows = {
            "event_id": pa.array([-1, -2], pa.int64()),
            "ts": pa.array([ts_val.as_py()] * 2, ts_field.type),
            "user_id": pa.array([-1, -1], pa.int64()),
            "event_type": pa.array(["view", "purchase"], pa.string()),
            "value": pa.array([0.0, 0.0], pa.float64()),
            "props": pa.array(["{}", "{}"], pa.string()),
        }
        sp = os.path.join(d, f"zz_sentinel_{i}.parquet")
        pq.write_table(
            pa.table({f.name: rows[f.name] for f in arrow_schema}, schema=arrow_schema), sp
        )
        os.utime(sp, (now + 100 + i * 100, now + 100 + i * 100))

    return _event_time(
        spark.readStream.schema(schema)
        .format("parquet")
        .option("maxFilesPerTrigger", 1)
        .load(d)
    )


def flow_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 streaming — watermarked stream-stream LEFT OUTER interval
    join: every view, with the purchase it led to within the following
    hour or NULL. The reference's left join emits Flink retractions
    (SURVEY §2.4 J2, DwdTradeOrderDetail's left joins); Structured
    Streaming instead holds the unmatched row in state and emits it
    exactly once, after the watermark passes its match horizon — the
    sentinel batches (see _events_stream_sentineled) drive that horizon
    past all real data, so the bounded result equals the batch left
    join and the SQL oracle applies verbatim.
    """
    ev = _events_stream_sentineled(spark, sf_dir)

    v = _typed(ev, "view").withWatermark("view_ts", "10 minutes")
    p = _typed(ev, "purchase").withWatermark("purchase_ts", "10 minutes")
    cond = (
        (F.col("view_user") == F.col("purchase_user"))
        & (F.col("purchase_ts") >= F.col("view_ts"))
        & (F.col("purchase_ts") <= F.col("view_ts") + F.expr("INTERVAL 1 HOUR"))
    )
    joined = v.join(p, cond, "leftOuter").select(
        F.col("view_id"),
        F.col("purchase_id"),
        F.col("view_user").alias("user_id"),
    )
    return _run_to_memory(joined, "append").filter(F.col("user_id") >= 0)


def flow_pseudonymize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming pseudonymization: the stateless keyed-hash pseudonym
    map applied to the live event stream — pseudonyms are assigned per
    row with NO lookup state (the point of keyed hashing). Streaming
    aggregation cannot COUNT(DISTINCT), so the stream maintains the
    finer (pseudonym, user, type, day) counts (one keyed complete-mode
    aggregation) and the per-pseudonym profile — including the exact
    distinct counts — derives per poll from that compressed table.
    Final profile equals the batch operator ⇒ its oracle applies
    verbatim.
    """
    from ..operators.privacy import PSEUDO_PEPPER

    ev = events_file_stream(spark, sf_dir)
    fine = (
        ev.select(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit(PSEUDO_PEPPER + ":"), F.col("user_id").cast("string")
                    )
                ),
                1,
                16,
            ).alias("pseudonym"),
            "user_id",
            "event_type",
            F.date_format("ts", "yyyy-MM-dd").alias("day"),
        )
        .groupBy("pseudonym", "user_id", "event_type", "day")
        .agg(F.count(F.lit(1)).alias("ct"))
    )
    counts = _run_to_memory(fine, "complete")
    return counts.groupBy("pseudonym").agg(
        F.sum("ct").alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        F.countDistinct("event_type").alias("n_types"),
        F.min("day").alias("first_day"),
        F.max("day").alias("last_day"),
    )


#: Prefix-sum bucket width for STREAMING percentile plans over event
#: values (r9 ADVICE #3). Batch callers may let the helper auto-derive
#: a width from the input's (min, max, count) — but a streaming caller
#: that did so would freeze a snapshot taken at pipeline-BUILD time
#: (an empty/small first batch ⇒ a degenerate width ⇒ one bucket, or
#: one bucket per value, for the stream's whole life; results stay
#: exact — width only affects balance — but the state-bounding goal is
#: silently lost). Streaming plans therefore pass THIS explicit width,
#: derived from the ingest contract's domain bound instead of the
#: data: event values are cent-granular monetary amounts in
#: [0, 10^4) (testdata max ≈ 560 at sf0.1, growing ~logarithmically),
#: so a width of 4.0 bounds BOTH window partitions of the two-level
#: scan forever: ≤ 10^4/4 = 2 500 bucket-total rows per key in the
#: offset pass, and ≤ 4·100 = 400 distinct cent values per
#: within-bucket partition — independent of how much data arrives.
EVENT_VALUE_STREAM_BUCKET = 4.0


def flow_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuously-maintained value-distribution monitor: the exact
    per-type percentiles as a live stream — the always-current
    latency/value dashboard a serving layer polls. Only the
    (type, value) → count HISTOGRAM streams (one keyed aggregate in
    complete mode — a count per distinct (type, value), distributed
    across the state store, instead of the built-in ``percentile``'s
    one value→count map per type inside a single state entry), and the
    exact selection/interpolation algebra
    (``exact_percentiles_from_counts``) re-runs per poll over the
    histogram table — the flow_t_closeness pattern, with the bucket
    width pinned to the domain-bound ``EVENT_VALUE_STREAM_BUCKET``
    instead of a build-time snapshot of the table's span (r9 ADVICE
    #3). Final result ≡ batch ``event_value_percentiles`` bit-for-bit
    (width never affects results) ⇒ the batch oracle applies
    verbatim."""
    from ..operators.relational import exact_percentiles_from_counts

    ev = events_file_stream(spark, sf_dir).filter(F.col("value").isNotNull())
    hist = ev.groupBy("event_type", "value").agg(F.count(F.lit(1)).alias("ct"))
    table = _run_to_memory(hist, "complete")
    return exact_percentiles_from_counts(
        table,
        ["event_type"],
        "value",
        "ct",
        {"p50": 0.5, "p95": 0.95, "p99": 0.99},
        n_col="n",
        bucket_size=EVENT_VALUE_STREAM_BUCKET,
    ).select("event_type", "p50", "p95", "p99", "n")


def flow_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation as a live stream — the customer-value dashboard
    a CRM team watches intra-day. The keyed stream state is the
    per-purchasing-user (recency, frequency, monetary) aggregate (one
    complete-mode keyed aggregate, one state row per purchasing user —
    behavior.rfm_per_user's algebra on the stream side: max/count/sum
    are all partial-aggregatable, and max(unix_micros(ts)) ≡
    unix_micros(max(ts)) by monotonicity). Each poll re-runs the
    boundary+bucketing algebra with the quartile boundaries derived
    IN-PLAN (behavior.rfm_segments_in_plan: the stacked histogram pass
    with keyed in-plan stats → 1-row boundary broadcast) — unlike the
    batch builder's driver-collected literals, nothing here freezes a
    build-time snapshot, so a long-lived stream's polls bucket against
    CURRENT boundaries. Boundary values are bit-identical to the batch
    literals, so the batch oracle applies verbatim."""
    from ..operators.behavior import rfm_segments_in_plan
    from ..operators.relational import cents

    ev = events_file_stream(spark, sf_dir).filter(
        F.col("event_type") == "purchase"
    )
    per_user = ev.groupBy("user_id").agg(
        F.max(F.unix_micros(F.col("ts").cast("timestamp"))).alias("last_us"),
        F.count(F.lit(1)).alias("freq"),
        F.sum(cents("value")).alias("monetary_cents"),
    )
    return rfm_segments_in_plan(_run_to_memory(per_user, "complete"))


def flow_dp_release_closed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RELEASE-ONCE differential privacy — the append-mode counterpart
    of ``flow_dp_counts``: a day's (event_type, day) counts are emitted
    exactly once, when the event-time watermark closes the day window,
    and only then does the noise draw + clamp run. This is the
    production DP cadence (a release is published once per closed
    period; the complete-mode twin models a continuously re-rendered
    dashboard, where the peppered PRF guarantees identical re-draws) —
    and the append semantics make the release-once property STRUCTURAL:
    a cell physically cannot be re-emitted, so no post-hoc dedup
    protects ε. The reference's DWS apps publish on exactly this
    watermark-closed-window cadence (window fire at watermark passage,
    SURVEY §7 H2).

    Bounded-run semantics (deterministic ⇒ oracle-able): with a
    0-second watermark delay the final watermark equals max(ts), so
    every day strictly before the max event day closes and is released;
    the max day itself stays open in state (withheld — the still-open
    period is never published early). The DuckDB oracle applies the
    same cutoff. Scale: one watermark-windowed keyed count (state = one
    row per open (day, type) cell, evicted at close) + the pure-map
    noise lookup over emitted cells."""
    from ..operators.privacy import dp_noisy_counts

    ev = events_file_stream(spark, sf_dir).withWatermark("ts", "0 seconds")
    counts = (
        ev.groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd").alias("day"),
            "event_type",
            "n",
        )
    )
    # no_data_batches=True: this pipeline's EMISSION is the watermark
    # flush — closed day windows are released exactly in the final
    # no-data batch (no sentinels here; a 0 s watermark over the single
    # data batch can only fire afterwards). Without it the bounded run
    # emits 0 rows (caught by the sf0.01 preflight when the bounded-run
    # default flipped to skip flush batches).
    return dp_noisy_counts(_run_to_memory(counts, "append", no_data_batches=True))


def flow_dup_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The repeated-line blacklist as a live stream — the cross-corpus
    state a streaming ingest dedup actually maintains (RefinedWeb line
    dedup, the ``text_line_dedup`` counterpart): as document shards
    arrive, every LINE_TOKENS-token block is counted corpus-wide, and
    each poll emits the CURRENT blacklist (blocks seen more than once,
    with occurrence counts) for the cleaning stage to broadcast-join
    against arriving docs.

    Scale: the block explode is stateless map fan-out; the only
    streaming state is the keyed (block-md5 → count) aggregate — one
    row per DISTINCT block, partial counts merged map-side (the
    flow_token_gini vocabulary-state precedent); the poll-side filter
    reads the materialized count table once. Batch-side blocks CTE
    oracles the blacklist verbatim."""
    from ..operators.dedup import line_blocks

    docs = documents_file_stream(spark, sf_dir)
    counts = line_blocks(docs).groupBy("bh").agg(F.count(F.lit(1)).alias("n_occ"))
    return (
        _run_to_memory(counts, "complete")
        .filter(F.col("n_occ") > 1)
        .select(F.col("bh").alias("block_hash"), F.col("n_occ").alias("n_occurrences"))
    )


def flow_dup_lines_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The repeated-line blacklist as a CHANGELOG with a bounded
    serving story (VERDICT r12 #6) — the production counterpart of
    ``flow_dup_lines``: complete mode re-emits the ENTIRE blacklist
    every poll, which a long-lived sink cannot afford; here the block
    counter runs in UPDATE mode, so each micro-batch emits only the
    keys whose count changed, stamped with a per-key MONOTONE version
    — the occurrence count ITSELF (a streaming count only grows, so
    ``upd = n_occ`` is exactly the ReplacingMergeTree/compacted-topic
    version column, no extra counter state needed; monotonicity is
    pinned by ``test_dup_lines_snapshot_changelog_contract``). The
    serving view is ``compact_latest_snapshot`` over the changelog +
    the >1-occurrence filter, so a sink that prunes on ``upd`` holds
    ~1 row per distinct block and the poll cost stays O(distinct
    blocks) for the run's whole life — the set-sketch contract
    (``state.k_first_stream``) applied to a plain keyed count.

    The latest snapshot per key equals the final count, so the
    compacted view equals the batch blacklist and the
    ``flow_dup_lines`` oracle applies verbatim.

    Scale: identical state to ``flow_dup_lines`` (one row per
    DISTINCT block, map-side partial counts); the changelog adds no
    state — only emission semantics change."""
    from ..operators.dedup import line_blocks

    docs = documents_file_stream(spark, sf_dir)
    counts = (
        line_blocks(docs)
        .groupBy("bh")
        .agg(F.count(F.lit(1)).alias("n_occ"))
        .withColumn("upd", F.col("n_occ"))
    )
    tbl = _run_to_memory(counts, "update")
    return (
        compact_latest_snapshot(tbl, "bh")
        .filter(F.col("n_occ") > 1)
        .select(F.col("bh").alias("block_hash"), F.col("n_occ").alias("n_occurrences"))
    )


def flow_shuffle_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deterministic training-order shuffle maintained live — the
    "current shard layout" a resumable ingest keeps as document shards
    arrive: every poll re-derives the full (position, shard)
    assignment from the CURRENT doc set (an arriving doc shifts the
    positions of later-hashing docs — the semantics of a global
    shuffle, which is why production pipelines freeze the order per
    snapshot; this twin IS that snapshot, always current). State is
    one row per doc_id (max-mergeable distinct aggregate — the
    ``flow_token_budget`` per-doc posture); the poll re-runs the
    shared no-key two-level rank (``layout.shuffle_order_from_docs``,
    in-plan bucket width so each poll buckets against current stats).
    Final table equals the batch manifest ⇒ the
    ``corpus_shuffle_order`` oracle applies verbatim."""
    from ..operators.layout import shuffle_order_from_docs

    docs = documents_file_stream(spark, sf_dir)
    per_doc = docs.groupBy("doc_id").agg(F.count(F.lit(1)).alias("_ct"))
    return shuffle_order_from_docs(_run_to_memory(per_doc, "complete").drop("_ct"))


def flow_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-ordered token-budget selection as a live stream — the
    "current best-B-tokens training slice" maintained as shards arrive:
    a doc admitted at one poll can be displaced by better-quality
    arrivals at the next, exactly how a budgeted corpus snapshot
    behaves mid-crawl. State is one row per doc — the per-doc
    (quality, token-count) aggregate (max-mergeable; each doc arrives
    once, the flow_rfm_segments per-user-state posture); every poll
    re-runs the shared two-phase selection (within-quality-level
    distributed prefix scan + ≤1001-row level offsets —
    ``sampling.token_budget_select``) over the materialized table, so
    boundaries derive from CURRENT data and the batch oracle applies
    verbatim."""
    from ..operators.sampling import doc_quality_tokens, token_budget_select

    docs = documents_file_stream(spark, sf_dir)
    per_doc = (
        doc_quality_tokens(docs)
        .groupBy("doc_id")
        .agg(
            F.max("n_tokens").alias("n_tokens"),
            F.max("stop_ratio_permille").alias("stop_ratio_permille"),
        )
    )
    return token_budget_select(_run_to_memory(per_doc, "complete"))


def flow_decayed_engagement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The recency-weighted engagement leaderboard as a live stream —
    the "active NOW" ranking re-anchored continuously: the keyed
    stream state is the (user, day) activity count (complete mode —
    bounded by |users| × |days|, far smaller than raw events), and
    every poll re-runs the shared integer-dyadic decay algebra
    (``behavior.decayed_engagement_from_day_counts``) against the
    CURRENT max day, so yesterday's scores decay as today's events
    arrive — the semantics a cached batch score cannot give. Batch
    oracle applies verbatim.

    Calendar-time bound (VERDICT r12 #5): the poll first folds day
    rows ≥ 20 days behind the current max day — weight exactly zero
    by the integer division, needed only for the lifetime count —
    into one per-user carry row (``behavior.compact_stale_day_counts``;
    score-identity pinned by ``test_decayed_engagement_compaction_law``),
    so everything downstream of the materialized frame, including the
    snapshot a serving sink would persist, is ≤ |users| × 21 rows
    regardless of calendar span. The in-flight complete-mode aggregate
    itself still keys on (user, day) — same posture as the other
    complete-mode twins; a deployment that must also bound THAT swaps
    the sink for the carry-row changelog this fold defines."""
    from ..operators.behavior import (
        compact_stale_day_counts,
        decayed_engagement_from_day_counts,
    )

    ev = events_file_stream(spark, sf_dir)
    dc = ev.groupBy("user_id", F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("n")
    )
    return decayed_engagement_from_day_counts(
        compact_stale_day_counts(_run_to_memory(dc, "complete"))
    )


def flow_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MAD outlier screen as a live stream, with the
    (type, value)-count HISTOGRAM as the keyed stream state (r10
    VERDICT #2, the flow_percentiles pattern): one complete-mode keyed
    aggregate maintains the compressed value distribution — state is
    |distinct (type, value)| counts, never raw events — and each poll
    runs the threshold algebra (operators.behavior.anomaly_mad_outliers:
    median/MAD via the distributed-histogram percentiles, in-plan
    widths) over that materialized table instead of re-deriving the
    histogram from the raw log. The raw log itself ingests in append
    mode (projection pruned to the three audit columns before anything
    buffers) solely for the outlier EMIT — the one step that
    inherently needs event ids — and is scanned exactly once per poll,
    against broadcast thresholds. At 100 TB the append leg lands in a
    real sink (Delta/parquet) and the emit is a filter over it;
    thresholds still come from the histogram state. The audited set
    equals the batch input and the algebra is shared, so the batch
    oracle applies verbatim."""
    from ..operators.behavior import anomaly_mad_outliers

    ev = (
        events_file_stream(spark, sf_dir)
        .select("event_id", "event_type", "value")
        .filter(F.col("value").isNotNull())
    )
    # memory-sink tables scan as a single-partition LocalTableScan; the
    # threshold algebra references the histogram from several branches
    # (stats, bucket scan, deviation re-key), so hash-repartitioning it
    # once both parallelizes every branch and gives the copies a shared
    # exchange shape (measured ~25% off the poll at sf0.1)
    # r13: the histogram and raw-log ingests are INDEPENDENT bounded
    # queries over the same staged source — start both, await both
    # (guide §2.6 job overlap) instead of paying two sequential
    # start→batch→commit cycles; the stateless log batch back-fills
    # the executors the histogram's commit tail leaves idle.
    hist_tbl, log = _run_many_to_memory(
        [
            (ev.groupBy("event_type", "value").agg(F.count(F.lit(1)).alias("hct")), "complete"),
            (ev, "append"),
        ]
    )
    hist = (
        hist_tbl.repartition(8, "event_type", "value")
        # r13: pin the repartitioned histogram once — the threshold
        # algebra's remaining ~6 plan references each re-ran the
        # LocalTableScan + hash repartition as their own shuffle
        # (Catalyst inlines references as copies); one materialization
        # feeds all of them, pairing with the med/adev_hist pins inside
        # anomaly_mad_outliers.
        .localCheckpoint()
    )
    return anomaly_mad_outliers(log, hist)


def flow_user_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key streaming rate limiting as a live stream — at most
    USER_DAY_QUOTA events admitted per (user, day), per-day counts in
    keyed state (streaming.state.user_quota_stream). The bounded
    single-batch run sorts each group by (ts, event_id) before
    counting, so the admissions equal the deterministic batch twin
    ``table_user_quota`` and the batch oracle applies verbatim."""
    from ..operators.stateful import USER_DAY_QUOTA
    from .state import user_quota_stream

    ev = events_file_stream(spark, sf_dir).select(
        "user_id", "event_id", "ts", F.date_format("ts", "yyyy-MM-dd").alias("cur_date")
    )
    return _run_to_memory(user_quota_stream(ev, USER_DAY_QUOTA), "append")


def flow_backfill_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The batch-backfill → streaming-catchup handoff as a verifiable
    query: OHLC history before a mid-range midnight cutoff is computed
    as a batch lake scan, the remainder as a stream with empty initial
    state, and the union is row-identical to one batch pass (the
    cutoff sits on an hour boundary, so no OHLC bucket straddles it) —
    hence the BATCH oracle applies verbatim. See streaming/backfill.py
    for the deployment rationale."""
    from ..catalog import load_table
    from ..operators.timeseries import ohlc_hourly
    from .backfill import backfill_then_stream

    ev = load_table(spark, sf_dir, "events")
    d0, d1 = ev.agg(F.min(F.to_date("ts")), F.max(F.to_date("ts"))).first()
    cutoff = f"{d0 + (d1 - d0) / 2} 00:00:00"
    return backfill_then_stream(spark, sf_dir, ohlc_hourly, cutoff)


def documents_file_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded file stream over the driver's documents table — the
    streaming-ingest shape of a training-corpus pipeline (new shards
    land in a directory; each micro-batch processes the new files)."""
    return parquet_stream(
        spark,
        _as_stream_dir(os.path.join(sf_dir, "documents.parquet")),
        "doc_id bigint, text string, lang string, source string, n_chars bigint",
    )


def embeddings_file_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded file stream over the driver's embeddings table — the
    shape of a live embedding feed (shards land as they are encoded)."""
    return parquet_stream(
        spark,
        _as_stream_dir(os.path.join(sf_dir, "embeddings.parquet")),
        "vec_id bigint, embedding array<float>, label int",
    )


def flow_sq8_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fit-batch / apply-stream: the SQ8 quantizer stats are fitted on
    the static corpus snapshot (one bounded dim-keyed aggregate — the
    'model artifact'), then FROZEN and applied to the embedding stream
    as a pure map — the standard hybrid for serving any fitted artifact
    (quantizer, linear classifier, centroid table) over a live feed
    without stream-side training. Encoding is per-row deterministic, so
    the ``embedding_sq8_codes`` batch oracle applies verbatim when the
    stream drains the same snapshot.
    """
    from ..operators.similarity import sq8_encode, sq8_fit

    stats = sq8_fit(spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet")))
    stream = embeddings_file_stream(spark, sf_dir)
    return _run_to_memory(sq8_encode(stream, stats), "append")


def flow_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ingest dedup — the per-shard admission gate a corpus
    pipeline runs as batches land: each incoming document's content
    hash is checked against the ACCEPTED-corpus manifest (a
    stream-static left join; the manifest is the batch side) and
    against earlier arrivals in the stream itself (keyed
    applyInPandasWithState, first-wins). Within-batch rows sort by
    doc_id, so the bounded run admits exactly the batch twin
    ``text_incremental_dedup`` and its oracle applies verbatim.

    Scale: manifest membership is a hash-keyed join (bucket-write the
    manifest on ``h`` and it is exchange-free on the corpus side);
    stream state is ONE long per hash seen — O(distinct incoming
    hashes), expirable by TTL in production.
    """
    from ..catalog import load_table
    from ..operators.dedup import INCR_MOD
    from .state import admit_first_per_hash

    docs = documents_file_stream(spark, sf_dir)
    incoming = docs.filter(F.col("doc_id") % INCR_MOD == 0).select(
        "doc_id", F.md5(F.lower(F.trim("text"))).alias("h")
    )
    corpus = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % INCR_MOD != 0
    )
    known = (
        corpus.select(F.md5(F.lower(F.trim("text"))).alias("h"))
        .distinct()
        .withColumn("known", F.lit(1))
    )
    joined = incoming.join(known, "h", "left").select(
        "doc_id", "h", F.coalesce("known", F.lit(0)).alias("known")
    )
    return _run_to_memory(admit_first_per_hash(joined), "append")


def flow_heavy_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """φ-heavy-hitter tokens as a live stream: per-token counts are
    maintained continuously (ONE keyed complete-mode aggregation on
    the exploded token stream) and each poll runs the heavy-hitter
    selection algebra — total, φ-threshold, permille share — over the
    count table, so the hot-vocabulary monitor is always current.
    Final counts equal the batch recount ⇒ the corpus_heavy_tokens
    oracle applies verbatim.

    The keyed state here is vocabulary-sized; at 100 TB the production
    twin swaps the exact count state for the bounded space-saving
    sketch (operators.text._space_saving_candidates) inside
    applyInPandasWithState and keeps the same poll-time selection —
    the batch operator documents that sketch's superset guarantee.
    """
    from ..operators.text import HH_K, TOKENS_SPARK

    docs = documents_file_stream(spark, sf_dir)
    toks = docs.select(F.explode(F.expr(TOKENS_SPARK.format(c="text"))).alias("token"))
    counts = _run_to_memory(
        toks.groupBy("token").agg(F.count(F.lit(1)).alias("ct")), "complete"
    )
    from pyspark.sql import Window

    total = F.sum("ct").over(Window.partitionBy())
    return (
        counts.withColumn("total", total)
        .filter(F.col("ct") * HH_K > F.col("total"))
        .select("token", "ct", F.expr("ct * 1000 div total").alias("share_permille"))
    )


def flow_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deterministic KMV UV sketch over the event stream with
    BOUNDED state: per event-day, ``state.k_first_stream`` keeps
    exactly the running K-smallest distinct user hashes (≤ K longs) +
    a ``full`` flag in ``applyInPandasWithState``, expiring closed
    days via an event-time watermark (the key is a date) — the
    md5-deterministic sibling of the engine-specific HLL path, live.
    A micro-batch that changes a day's set emits it in update mode;
    the poll-time read compacts to each day's latest snapshot
    (``compact_latest_snapshot``), takes its size, ``full`` and max
    hash h₍K₎, and applies the same integer estimator as
    ``approx_uv_kmv``: exact when unsaturated, (K−1)·2⁴⁴ div h₍K₎
    otherwise. The sketch's K-smallest set is arrival-order
    independent, so the result equals the batch sketch and the
    KMV_FLOW_ORACLE hash-checks it; the exposed size column is the
    sketch size min(n, K) — the full distinct count above K is
    precisely what bounded state cannot know.

    Scale: state is O(open days × K) longs total (vs the naive
    dropDuplicates twin's O(distinct (day, hash)) — the r6 verdict's
    one `weak`); inserts merge vectorized per Arrow batch.
    """
    from ..operators.relational import _H44_SPARK, _KMV_SPACE, KMV_K, date_str
    from .state import k_first_stream

    ev = events_file_stream(spark, sf_dir).withWatermark("ts", "1 day")
    dh = ev.select(
        "ts", F.to_date("ts").alias("d"), F.expr(_H44_SPARK).alias("h")
    )
    tbl = _run_to_memory(k_first_stream(dh, "d", ["h"], KMV_K), "update")
    agg = compact_latest_snapshot(tbl, "d").groupBy("d").agg(
        F.count(F.lit(1)).alias("sketch_size"),
        F.max("full").alias("sat"),
        F.max("h").alias("mk"),
    )
    return agg.select(
        date_str(F.col("d")).alias("day"),
        "sketch_size",
        F.expr(
            f"CASE WHEN sat = 0 THEN sketch_size"
            f" ELSE {KMV_K - 1} * {_KMV_SPACE} div greatest(mk, 1) END"
        ).alias("uv_kmv"),
    )


def flow_overlap_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The audience-overlap matrix LIVE: per event-type, bounded KMV
    set-sketch state (``state.k_first_stream`` over ``["h"]`` — K longs
    per type + a ``full`` flag, merged vectorized per Arrow batch) emits
    its current contents on change; each poll filters to the latest
    snapshot per type and re-runs the shared sketch-sized pair algebra
    (``relational.kmv_pair_overlap``) — pairwise union / intersection /
    Jaccard between the distinct-user sets of every event-type pair,
    always current, never rescanning raw events. The K-smallest set is
    arrival-order independent, so the final snapshot equals the batch
    sketch and the ``approx_overlap_kmv`` oracle applies verbatim.

    Scale: state is O(types × K) longs total; the poll-time algebra
    touches ≤ types×K emitted rows.
    """
    from ..operators.relational import _H44_SPARK, KMV_K, kmv_pair_overlap
    from .state import k_first_stream

    ev = events_file_stream(spark, sf_dir)
    dh = ev.select(F.col("event_type").alias("tp"), F.expr(_H44_SPARK).alias("h"))
    tbl = _run_to_memory(k_first_stream(dh, "tp", ["h"], KMV_K), "update")
    sk = compact_latest_snapshot(tbl, "tp").select("tp", "h", "full")
    return kmv_pair_overlap(sk)


def flow_bloom_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static Bloom contamination screen: the benchmark Bloom
    filter builds ONCE from the static corpus (bounded word-table
    collect, inlined as a literal array) and each arriving document's
    shingles test membership as a stateless map on the stream — the
    decontamination gate a live ingest runs per shard. The per-doc
    aggregation runs in complete mode; final table equals the batch
    screen ⇒ the sample_bloom_contamination oracle applies verbatim.
    """
    from ..catalog import load_tables
    from ..operators.sampling import (
        bloom_score,
        bloom_words_literal,
        doc_distinct_shingles,
    )

    bench = (
        doc_distinct_shingles(load_tables(spark, sf_dir)["documents"])
        .filter(F.col("doc_id") < 10)
        .select("s")
        .distinct()
    )
    sh_stream = doc_distinct_shingles(documents_file_stream(spark, sf_dir))
    scored = bloom_score(
        sh_stream.filter(F.col("doc_id") >= 10), bench, bloom_words_literal(bench)
    )
    return _run_to_memory(scored, "complete")


def flow_perplexity_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static perplexity gate: the Laplace bigram LM trains
    ONCE on the static corpus (vocab-sized keyed aggregates) and each
    arriving document's bigrams join the (lang, bigram, logp) model
    table stream-static — the KenLM-style quality screen CCNet runs
    per shard, with the per-doc average-NLL rollup in complete mode.
    Final table equals the batch scorer ⇒ its oracle applies verbatim.
    """
    from ..catalog import load_tables
    from ..operators.text import bigram_lm_table, doc_bigrams, score_bigram_nll

    model = bigram_lm_table(load_tables(spark, sf_dir)["documents"])
    bg_stream = doc_bigrams(documents_file_stream(spark, sf_dir))
    return _run_to_memory(score_bigram_nll(bg_stream, model), "complete")


def flow_ccnet_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static CCNet bucketing of arriving shards: the Laplace
    bigram LM fits ONCE on the static corpus (flow_perplexity_gate's
    model leg), every arriving document scores against it
    stream-static with the per-doc NLL rollup in complete mode, and
    the head/middle/tail tercile is assigned at poll time by the
    shared batch algebra (``operators.text.ccnet_tercile_assign`` —
    the distributed prefix-sum rank + NTILE closed form, no
    per-language corpus sort; the post-stream ranking step,
    flow_funnel's collect-then-aggregate pattern). Model and corpus
    coincide with the batch operator's, so the text_ccnet_buckets
    oracle applies verbatim.
    """
    from ..catalog import load_tables
    from ..operators.text import (
        bigram_lm_table,
        ccnet_tercile_assign,
        doc_bigrams,
        score_bigram_nll,
    )

    docs_static = load_tables(spark, sf_dir)["documents"]
    model = bigram_lm_table(docs_static)
    stream = documents_file_stream(spark, sf_dir)
    bg_stream = doc_bigrams(stream)
    scored = _run_to_memory(score_bigram_nll(bg_stream, model), "complete")
    ranked = scored.join(docs_static.select("doc_id", "lang"), "doc_id")
    return ccnet_tercile_assign(ranked)


def flow_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doc-internal repetition screening on the live ingest: the
    Gopher boilerplate signal (1000 × (1 − distinct/total 3-gram
    shingles)) computed per arriving document; each doc's score is
    independent of every other, so the final table equals the batch
    screen and the repetition_ratio oracle applies verbatim.

    Stream-legal twist: the batch operator counts distinct shingles
    via explode + countDistinct, which streaming forbids — but a
    document's shingles all live in ITS OWN row, so the whole screen
    collapses to a per-row map (``size`` / ``size∘array_distinct`` on
    the shingle array): no shuffle, no state, append mode. The batch
    rollup keys on doc_id anyway, so the values are identical.
    """
    from ..operators.sampling import TOKENS_SPARK, shingles_from_tokens

    docs = documents_file_stream(spark, sf_dir)
    # materialize the token array BEFORE the shingle HOF: a lambda body
    # re-evaluates outer expressions per element, so inlining the
    # tokenizer here re-ran the regex split once per shingle (the exact
    # anti-pattern shingles_from_tokens documents; measured 9.9 → ~5 s
    # at sf0.1 for this query — the remainder is the shingle concat +
    # array_distinct itself)
    # The ≥1-shingle row filter is expressed on the TOKEN count
    # (size(tk) >= 3 ⇔ size(sha) >= 1): a predicate on `sha` would be
    # pushdown-substituted through BOTH projections, planting the
    # tokenizer split inside the shingle lambda — the per-element
    # outer-expression re-evaluation this docstring already warns
    # about, re-introduced by the optimizer instead of the author
    # (measured: the sha-filter form ran 4.0 s vs 0.5 s at sf0.1; the
    # tk-filter pushes as ONE extra linear split, r12).
    toked = docs.select(
        "doc_id", F.expr(TOKENS_SPARK.format(c="text")).alias("tk")
    ).filter(F.size("tk") >= 3)
    sh = toked.select("doc_id", F.expr(shingles_from_tokens("tk", 3)).alias("sha"))
    out = sh.select(
        "doc_id",
        F.size("sha").cast("bigint").alias("total_shingles"),
        F.size(F.array_distinct("sha")).cast("bigint").alias("distinct_shingles"),
    ).withColumn(
        "repetition_permille",
        F.expr("((total_shingles - distinct_shingles) * 1000) DIV total_shingles"),
    )
    return _run_to_memory(out, "append")


def flow_dsir_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static DSIR gate: the per-feature log importance ratio
    table fits ONCE on the static corpus (≤ DSIR_DIM rows, broadcast)
    and each arriving document's hashed-bigram features score through
    it as a stream-static join with a complete-mode per-doc rollup —
    the data-selection gate a live ingest applies per shard. Final
    table equals the batch weigher ⇒ its oracle applies verbatim.
    """
    from ..catalog import load_tables
    from ..operators.sampling import dsir_features, dsir_ratio_table, dsir_score

    static_feat = dsir_features(load_tables(spark, sf_dir)["documents"])
    ratios = dsir_ratio_table(static_feat)
    stream_feat = dsir_features(documents_file_stream(spark, sf_dir))
    return _run_to_memory(
        dsir_score(stream_feat.filter(F.col("doc_id") >= 10), ratios), "complete"
    )


def flow_countmin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming count-min sketch: the D×W grid is maintained
    continuously over the live token stream — 1024 keys of state
    regardless of corpus size, THE reason this sketch streams where
    exact vocab counts cannot — and each poll probes it for the
    corpus's top exact-count tokens (probe set from the static side;
    in production the heavy-hitters sketch nominates it). Final table
    equals the batch operator ⇒ its oracle applies verbatim.
    """
    from pyspark.sql import Window

    from ..catalog import load_tables
    from ..operators.text import (
        CMS_PROBE_TOP,
        TOKENS_SPARK,
        countmin_cells,
        countmin_probe,
    )

    toks_stream = documents_file_stream(spark, sf_dir).select(
        F.explode(F.expr(TOKENS_SPARK.format(c="text"))).alias("token")
    )
    cells = _run_to_memory(countmin_cells(toks_stream), "complete")
    toks_static = load_tables(spark, sf_dir)["documents"].select(
        F.explode(F.expr(TOKENS_SPARK.format(c="text"))).alias("token")
    )
    exact = toks_static.groupBy("token").agg(F.count(F.lit(1)).alias("true_ct"))
    w = Window.orderBy(F.desc("true_ct"), F.asc("token"))
    probes = (
        exact.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= CMS_PROBE_TOP)
        .select("token", "true_ct")
    )
    return countmin_probe(cells, probes)


def flow_keyword_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship gmall streaming app end-to-end
    (DwsTrafficSourceKeywordPageViewWindow.java:36-99): topic_log text
    lines → dirty-line split → page branch → search filter → tokenize →
    tumbling keyword counts.

    Hash-oracled since r5 (VERDICT r4 #4): the topic_log lines are
    derived DETERMINISTICALLY from the ``documents`` driver view (each
    doc becomes one nested-JSON page event; every 5th doc is a search
    with ``item = text``; every 7th doc's referrer breaks the
    last_page_id filter; every 11th line is deliberately dirty), so a
    DuckDB oracle over ``documents`` reproduces the exact keyword
    counts — the same complete-mode-equals-batch pattern as
    flow_cumulate / flow_ohlc. Tokenizer is the shared JVM regex
    (SURVEY §7 H5), identical in DuckDB's RE2 on the ASCII corpus. The
    log materialization is a distributed Spark text write (map-only,
    no collect), then re-read as a stream — at scale this is exactly a
    Kafka topic dump replayed from object storage.
    """
    # Same orphan class as _run_to_memory's checkpoint: stage under
    # _TEMP_ROOT so the entrypoint sweep reaps a SIGKILL'd run's dir.
    d = _process_tempdir("kwlog_")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    did = F.col("doc_id")
    line = F.when(
        did % 11 == 0, F.concat(F.lit("@@not-json-"), did.cast("string"), F.lit("@@"))
    ).otherwise(
        F.to_json(
            F.struct(
                F.struct(
                    F.concat(F.lit("mid_"), (did % 100).cast("string")).alias("mid"),
                    (did % 400).cast("string").alias("uid"),
                    F.lit("v2.1.0").alias("vc"),
                    F.lit("oracle").alias("ch"),
                    F.lit("1").alias("ar"),
                    F.lit("0").alias("is_new"),
                ).alias("common"),
                F.struct(
                    F.when(did % 5 == 0, F.lit("search")).otherwise(F.lit("good_list")).alias("page_id"),
                    F.when(did % 7 == 0, F.lit("good_detail"))
                    .when(did % 2 == 0, F.lit("search"))
                    .otherwise(F.lit("home"))
                    .alias("last_page_id"),
                    F.when(did % 5 == 0, F.col("text")).alias("item"),
                    F.when(did % 5 == 0, F.lit("keyword")).alias("item_type"),
                    F.lit(1000).alias("during_time"),
                ).alias("page"),
                ((F.lit(1704067200) + did % 10800) * 1000).alias("ts"),
            )
        )
    )
    docs.select(line.alias("value")).coalesce(4).write.mode("overwrite").text(d)
    try:
        # the memory-sink result is fully materialized by the bounded
        # run, so the staged topic files can be deleted immediately —
        # at sf0.1+ they are tens of MB per invocation and bench/tests
        # call this repeatedly
        return keyword_pipeline_stream(spark, d)
    finally:
        shutil.rmtree(d, ignore_errors=True)


def flow_user_register(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 streaming — DwsUserUserRegisterWindow.java:40-84 with the
    reference's own geometry: 5 s tumbling windowAll count over the
    register stream (signup events), 5 s bounded-out-of-orderness
    watermark. Complete mode → final table equals the batch 5 s-window
    result, so a SQL oracle applies verbatim (the append+watermark
    variant, where the watermark withholds the tail window, is asserted
    in test_streaming). The 120 s idleness knob has no Spark
    counterpart — see gmall.dws.dws_user_register_window for the mapping.
    """
    from ..gmall.dws import dws_user_register_window as urw

    ev = (
        events_file_stream(spark, sf_dir)
        .filter(F.col("event_type") == "signup")
        .withWatermark("ts", "5 seconds")
        .select(F.col("ts").alias("et"))
    )
    return _run_to_memory(urw(ev, size="5 seconds"), "complete")


def flow_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Beyond-reference stateful streaming: the ordered view→click→
    purchase funnel as a per-user 3-stage state machine
    (``applyInPandasWithState``, state = 3 longs/user). The bounded
    availableNow run delivers each user's history in one group call, so
    the monotone update is exact and the BATCH funnel oracle applies
    verbatim; the collected per-user stages aggregate order-
    independently via max(stage).
    """
    from .state import funnel_stage_state

    ev = (
        events_file_stream(spark, sf_dir)
        .filter(F.col("event_type").isin("view", "click", "purchase"))
        .select("user_id", "event_type", F.unix_micros(F.col("ts")).alias("us"))
    )
    collected = _run_to_memory(funnel_stage_state(ev), "append")
    final = collected.groupBy("user_id").agg(F.max("stage").alias("s"))
    parts = [
        final.filter(F.col("s") >= k).agg(
            F.lit(lbl).alias("stage"), F.count(F.lit(1)).alias("users")
        )
        for k, lbl in ((1, "1_view"), (2, "2_click"), (3, "3_purchase"))
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


def flow_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming per-domain quota admission: per source, bounded
    keyed state holds exactly the running CAP-first (content-hash,
    doc_id) set (``state.k_first_stream`` over ``["h", "doc_id"]`` —
    2·CAP longs per source, merged vectorized per Arrow batch,
    re-emitted only on change) — the live form of
    ``sample_domain_cap``, so an ingest pipeline enforces "no domain
    floods the mixture" between batch re-caps. Each poll filters to the latest snapshot per source and
    ranks the ≤ CAP survivors. The CAP-first set is arrival-order
    independent, so the final snapshot equals the batch cap and its
    oracle applies verbatim.

    Scale: state O(sources × CAP) longs; the poll-time rank window
    sorts ≤ CAP rows per source — never raw documents. The changelog
    contract (why a long-lived run's poll cost stays at the latest
    snapshot rather than growing with history) is
    ``compact_latest_snapshot``'s docstring: production sinks prune on
    the per-key monotone ``upd`` (ReplacingMergeTree / compacted
    topic), so this window only ever sees ~1 snapshot per source.
    """
    from ..operators.sampling import DOMAIN_CAP
    from ..operators.text import H28_SPARK
    from .state import k_first_stream

    docs = documents_file_stream(spark, sf_dir)
    sh = docs.select(
        "source", F.expr(H28_SPARK.format(c="text")).alias("h"), "doc_id"
    )
    tbl = _run_to_memory(k_first_stream(sh, "source", ["h", "doc_id"], DOMAIN_CAP), "update")
    snap = compact_latest_snapshot(tbl, "source")
    w = Window.partitionBy("source").orderBy("h", "doc_id")
    return (
        snap.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= DOMAIN_CAP)
        .select("doc_id", "source", "rank")
    )


#: Streaming twins that run a batch query's builder unchanged on a file
#: stream: flow name → (batch query, stream table, output mode). The
#: registry builds each twin's (spark, sf_dir) builder from its row and
#: gives it the batch query's oracle.
BATCH_TWINS = {
    # re-associable aggregates over the events stream
    "flow_window_counts": ("agg_tumbling_typed", "events", "complete"),
    "flow_session_windows": ("session_window_events", "events", "complete"),
    "flow_cumulate": ("win_cumulate_counts", "events", "complete"),
    "flow_ohlc": ("ts_ohlc_hourly", "events", "complete"),
    "flow_histogram": ("quality_value_histogram", "events", "complete"),
    "flow_k_anonymity": ("privacy_k_anonymity", "events", "complete"),
    "flow_value_tiers": ("range_join_value_tiers", "events", "complete"),
    # re-associable aggregates over the documents stream
    "flow_tokenizer_fertility": ("corpus_tokenizer_fertility", "documents", "complete"),
    # per-row maps over the documents stream
    "flow_frame_sample": ("xmodal_frame_sample", "documents", "append"),
    "flow_gopher_rules": ("doc_gopher_rules", "documents", "append"),
    "flow_lang_id": ("text_lang_id", "documents", "append"),
    "flow_readability": ("text_readability", "documents", "append"),
    "flow_token_count": ("doc_token_count", "documents", "append"),
    "flow_chunking": ("corpus_chunk_sliding", "documents", "append"),
    "flow_pii_redaction": ("text_pii_redaction", "documents", "append"),
    "flow_quality_filter": ("text_quality_score", "documents", "append"),
}


#: Streaming twins of batch queries written as ``poll(spine(t[table]))``:
#: flow name → (batch query, stream table, spine, poll). The stream keeps
#: only ``spine`` — one keyed aggregate, run in complete mode — and each
#: poll re-runs ``poll`` over its result table, so the final table is the
#: batch result by construction. The registry builds each twin and gives
#: it the batch query's oracle.
SPINE_TWINS = {
    "flow_cusum": ("ts_cusum_changepoints", "events", type_day_counts, cusum_from_daily),
    "flow_dp_counts": ("privacy_dp_counts", "events", dp_cell_counts, dp_noisy_counts),
    "flow_dp_release_card": (
        "privacy_dp_release_card",
        "events",
        dp_cell_counts,
        lambda counts: dp_release_card(dp_noisy_counts(counts)),
    ),
    "flow_t_closeness": (
        "privacy_t_closeness",
        "events",
        class_sensitive_counts,
        t_closeness_from_class_counts,
    ),
    "flow_retention_cohorts": (
        "events_retention_cohorts",
        "events",
        user_day_counts,
        retention_from_user_days,
    ),
    "flow_token_gini": ("corpus_token_gini", "documents", source_token_counts, gini_from_counts),
    "flow_simpson_diversity": (
        "corpus_simpson_diversity",
        "documents",
        source_token_counts,
        simpson_from_counts,
    ),
    "flow_zipf_topn": (
        "text_zipf_topn_fit",
        "documents",
        source_token_counts,
        lambda counts: zipf_topn_from_counts(counts, n=25),
    ),
    "flow_epoch_schedule": (
        "sample_epoch_schedule",
        "documents",
        source_token_totals,
        epoch_schedule_from_totals,
    ),
}


# Hand-written streaming queries (driver contract): signature
# (spark, sf_dir) → DataFrame. Each needs a source, join, state
# operator or poll step that is not its batch builder's. A new twin of
# a batch query over the events or documents table goes in a table
# instead: in ``BATCH_TWINS`` when the batch builder is a per-row map
# (append mode) or a re-associable aggregate (complete mode); in
# ``SPINE_TWINS`` when the batch builder is literally
# ``poll(spine(t[table]))`` and ``spine`` is one keyed aggregate that is
# legal in complete mode. Oracles reuse the batch queries' SQL where the
# final table is batch-equivalent.
STREAM_BUILDERS = {
    "flow_funnel": flow_funnel,
    "flow_daily_uv": flow_daily_uv,
    "flow_dedup_first": flow_dedup_first,  # rows-only: arrival-order pick
    "flow_keyword_pipeline": flow_keyword_pipeline,
    "flow_interval_join": flow_interval_join,
    "flow_left_outer": flow_left_outer,
    "flow_backfill_ohlc": flow_backfill_ohlc,
    "flow_user_quota": flow_user_quota,
    "flow_anomaly_mad": flow_anomaly_mad,
    "flow_heavy_tokens": flow_heavy_tokens,
    "flow_kmv": flow_kmv,
    "flow_overlap_kmv": flow_overlap_kmv,
    "flow_domain_cap": flow_domain_cap,
    "flow_ccnet_gate": flow_ccnet_gate,
    "flow_repetition": flow_repetition,
    "flow_bloom_contamination": flow_bloom_contamination,
    "flow_perplexity_gate": flow_perplexity_gate,
    "flow_dsir_gate": flow_dsir_gate,
    "flow_pseudonymize": flow_pseudonymize,
    "flow_countmin": flow_countmin,
    "flow_percentiles": flow_percentiles,
    "flow_dp_release_closed": flow_dp_release_closed,
    "flow_rfm_segments": flow_rfm_segments,
    "flow_dup_lines": flow_dup_lines,
    "flow_dup_lines_snapshot": flow_dup_lines_snapshot,
    "flow_shuffle_order": flow_shuffle_order,
    "flow_token_budget": flow_token_budget,
    "flow_decayed_engagement": flow_decayed_engagement,
    "flow_incremental_dedup": flow_incremental_dedup,
    "flow_sq8_encode": flow_sq8_encode,
    "flow_user_register": flow_user_register,
}


def stream_oracles() -> dict[str, str]:
    from ..operators import dedup as _DEDUP_MOD
    from ..operators.behavior import ORACLES as BEH
    from ..operators.dedup import ORACLES as DD
    from ..operators.privacy import ORACLES as PRIV
    from ..operators.privacy import _DP_IDX_DUCK, _DP_NOISE_DUCK
    from ..operators.sampling import ORACLES as SAMP
    from ..operators import relational as _REL_MOD
    from ..operators.relational import ORACLES as REL
    from ..operators.similarity import ORACLES as SIM
    from ..operators.stateful import ORACLES as ST
    from ..operators.text import ORACLES as TXT

    from ..operators.layout import ORACLES as LAY
    from ..operators.timeseries import ORACLES as TS

    # the live blacklist = the batch blocks CTE's >1-occurrence slice
    dup_lines = _DEDUP_MOD._LINE_BLOCKS_CTE.format(toks=_DEDUP_MOD._TOKS_D) + """
            SELECT bh AS block_hash, n_occ AS n_occurrences
            FROM c WHERE n_occ > 1
        """
    return {
        # flow_keyword_pipeline's topic_log lines are a deterministic
        # function of the documents view (see its docstring): searches
        # are docs with doc_id%5=0, minus the %7 referrer-filter leg and
        # the %11 dirty lines; et = 2024-01-01Z + doc_id%10800 s; 1-hour
        # tumble; stt/edt/cur_date rendered in UTC+8 like the reference.
        "flow_keyword_pipeline": """
            WITH search AS (
                SELECT doc_id, text,
                       TIMESTAMP '2024-01-01 00:00:00'
                         + (doc_id % 10800) * INTERVAL 1 SECOND AS et
                FROM documents
                WHERE doc_id % 5 = 0 AND doc_id % 7 <> 0 AND doc_id % 11 <> 0
            ), words AS (
                SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS keyword,
                       time_bucket(INTERVAL '1 hour', et) AS ws
                FROM search
            )
            SELECT strftime(ws + INTERVAL 8 HOUR, '%Y-%m-%d %H:%M:%S') AS stt,
                   strftime(ws + INTERVAL 9 HOUR, '%Y-%m-%d %H:%M:%S') AS edt,
                   strftime(ws + INTERVAL 8 HOUR, '%Y-%m-%d') AS cur_date,
                   keyword,
                   count(*)::BIGINT AS keyword_count
            FROM words
            GROUP BY ws, keyword
        """,
        "flow_backfill_ohlc": TS["ts_ohlc_hourly"],
        "flow_user_quota": ST["table_user_quota"],
        "flow_percentiles": REL["event_value_percentiles"],
        "flow_incremental_dedup": DD["text_incremental_dedup"],
        "flow_sq8_encode": SIM["embedding_sq8_codes"],
        "flow_anomaly_mad": BEH["events_anomaly_mad"],
        "flow_heavy_tokens": TXT["corpus_heavy_tokens"],
        "flow_kmv": _REL_MOD.KMV_FLOW_ORACLE,
        "flow_overlap_kmv": REL["approx_overlap_kmv"],
        "flow_domain_cap": SAMP["sample_domain_cap"],
        "flow_ccnet_gate": TXT["text_ccnet_buckets"],
        "flow_repetition": SAMP["repetition_ratio"],
        "flow_bloom_contamination": SAMP["sample_bloom_contamination"],
        "flow_perplexity_gate": TXT["doc_perplexity_bigram"],
        "flow_dsir_gate": SAMP["sample_dsir_weights"],
        "flow_pseudonymize": PRIV["privacy_pseudonymize"],
        "flow_countmin": TXT["corpus_countmin_tokens"],
        # release-once append twin: only watermark-CLOSED days are
        # released — with a 0 s delay that is every day strictly before
        # the max event day (see flow_dp_release_closed's docstring)
        "flow_dp_release_closed": """
            WITH counts AS (
                SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
                       COUNT(*)::BIGINT AS n
                FROM events
                WHERE strftime(ts, '%Y-%m-%d')
                      < (SELECT strftime(max(ts), '%Y-%m-%d') FROM events)
                GROUP BY 1, 2
            )
            SELECT event_type, day,
                   round(greatest(n + (_NOISE_)[_IDX_], 0.0), 6)
                       AS noisy_count
            FROM counts
        """.replace("_NOISE_", _DP_NOISE_DUCK).replace("_IDX_", _DP_IDX_DUCK),
        "flow_rfm_segments": BEH["user_rfm_segments"],
        "flow_dup_lines": dup_lines,
        # the update-mode changelog compacts to the same final counts
        "flow_dup_lines_snapshot": dup_lines,
        "flow_shuffle_order": LAY["corpus_shuffle_order"],
        "flow_token_budget": SAMP["sample_token_budget"],
        "flow_decayed_engagement": BEH["events_decayed_engagement"],
        "flow_funnel": BEH["funnel_conversion"],
        "flow_daily_uv": ST["traffic_daily_uv"],
        "flow_user_register": """
            SELECT strftime(time_bucket(INTERVAL '5 seconds', ts) + INTERVAL 8 HOUR,
                            '%Y-%m-%d %H:%M:%S') AS stt,
                   strftime(time_bucket(INTERVAL '5 seconds', ts) + INTERVAL 8 HOUR
                            + INTERVAL 5 SECOND, '%Y-%m-%d %H:%M:%S') AS edt,
                   strftime(time_bucket(INTERVAL '5 seconds', ts) + INTERVAL 8 HOUR
                            + INTERVAL 5 SECOND, '%Y-%m-%d') AS cur_date,
                   COUNT(*) AS register_ct
            FROM events WHERE event_type = 'signup'
            GROUP BY 1, 2, 3
        """,
        "flow_left_outer": """
            SELECT v.event_id AS view_id, p.event_id AS purchase_id,
                   v.user_id AS user_id
            FROM (SELECT * FROM events WHERE event_type = 'view') v
            LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
              ON p.user_id = v.user_id
             AND p.ts >= v.ts
             AND p.ts <= v.ts + INTERVAL '1 hour'
        """,
        "flow_interval_join": """
            SELECT p.event_id AS purchase_id, v.event_id AS view_id,
                   p.user_id AS user_id
            FROM (SELECT * FROM events WHERE event_type = 'purchase') p
            JOIN (SELECT * FROM events WHERE event_type = 'view') v
              ON p.user_id = v.user_id
             AND v.ts <= p.ts
             AND v.ts >= p.ts - INTERVAL '1 hour'
        """,
    }


def foreach_batch_pipeline(
    source: DataFrame, transform, writer, checkpoint: str | None = None
):
    """K4-K9 harness — ``readStream → transform → foreachBatch(writer)``
    with checkpointing: the engine's equivalent of each reference app's
    main() (BaseApp.java:33-68). ``writer(batch_df, batch_id)`` is any
    sinks.* batch writer. A caller-supplied ``checkpoint`` is durable:
    a restart resumes after the last committed batch, and re-runs a
    batch that had not committed. That gives at-least-once delivery,
    not exactly-once: neither ``sinks.jdbc.parquet_batch_writer`` nor
    ``jdbc_batch_writer`` reads ``batch_id``, so a re-run batch appends
    its rows twice (Flink's 2PC, FlinkSinkUtil.java:34-39, has no
    equivalent yet; ROADMAP item 4). The DIM merge converges under
    replay. The default checkpoint is a throwaway for bounded
    runs/tests and is removed at process exit.
    """
    ckpt = checkpoint or _process_tempdir("ckpt_")

    def _apply(batch_df: DataFrame, batch_id: int):
        writer(transform(batch_df), batch_id)

    return (
        source.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
