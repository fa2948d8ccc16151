"""Streaming layer tests: batch ≡ stream for shared transforms, keyed
state operators, watermark semantics, foreachBatch sinks."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from gmall_realtime_ck_spark.streaming import pipelines, state
from tests.conftest import SF_DIR


def test_stream_source_sees_batch_event_time(spark, tables):
    """Guard (round-2 verdict): the stream source must see the same
    event-time range as the batch path regardless of the parquet
    physical type of ``events.ts`` (TIMESTAMP(NANOS)-as-long vs typed
    timestamp[us]). A silent testdata type change collapses every
    event-time window downstream; this fails loudly at the source."""
    ev = pipelines.events_file_stream(spark, SF_DIR)
    got = pipelines._run_to_memory(ev.select("ts"), "append")
    s_min, s_max = got.agg(F.min("ts"), F.max("ts")).first()
    b_min, b_max = tables["events"].agg(F.min("ts"), F.max("ts")).first()
    assert (s_min, s_max) == (b_min, b_max)


def test_run_many_to_memory_equals_sequential_runs(spark, tables):
    """The r13 job-overlap runner (start all bounded queries, then
    await all — flow_anomaly_mad's histogram+log pair) must be a pure
    scheduling change: results in input order, each identical to its
    own sequential _run_to_memory run, and the scoped confs restored."""
    ev = pipelines.events_file_stream(spark, SF_DIR).select(
        "event_id", "event_type", "value"
    )
    agg = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("ct"))
    prev_sp = spark.conf.get("spark.sql.shuffle.partitions")
    prev_nd = spark.conf.get("spark.sql.streaming.noDataMicroBatches.enabled")
    both = pipelines._run_many_to_memory([(agg, "complete"), (ev, "append")])
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev_sp
    assert spark.conf.get("spark.sql.streaming.noDataMicroBatches.enabled") == prev_nd
    seq_agg = pipelines._run_to_memory(agg, "complete")
    seq_ev = pipelines._run_to_memory(ev, "append")
    assert sorted(map(tuple, both[0].collect())) == sorted(map(tuple, seq_agg.collect()))
    assert sorted(map(tuple, both[1].collect())) == sorted(map(tuple, seq_ev.collect()))


def test_stream_dedup_counts_match_batch(spark, tables):
    out = pipelines.flow_dedup_first(spark, SF_DIR)
    n_keys = tables["events"].select("user_id", "event_type").distinct().count()
    assert out.count() == n_keys
    assert out.select("user_id", "event_type").distinct().count() == n_keys


def test_append_watermark_withholds_open_window(spark, tables):
    """Append-mode windowed agg emits only watermark-closed windows —
    the Spark analogue of the reference's window firing at watermark
    passage; the final open window stays in state (SURVEY §7 H2/H4)."""
    ev = pipelines.events_file_stream(spark, SF_DIR)
    agg = (
        ev.withWatermark("ts", "1 second")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .count()
    )
    # no_data_batches=True: the closed windows of an un-sentineled
    # append-mode aggregate emit exactly in the final flush batch —
    # the semantics this test pins (the flow_dp_release_closed cadence).
    result = pipelines._run_to_memory(agg, "append", no_data_batches=True)
    batch_windows = (
        tables["events"].groupBy(F.window("ts", "1 hour").alias("w"), "event_type").count()
    )
    n_stream, n_batch = result.count(), batch_windows.count()
    assert n_stream < n_batch  # tail windows withheld…
    assert n_stream >= n_batch - 2 * 5  # …but only around the last hour (≤2 windows × 5 types)


def test_run_to_memory_default_skips_flush_batch(spark, tables):
    """The bounded-run default (no_data_batches=False) skips the final
    no-data micro-batch, so an un-sentineled append-mode watermark
    aggregate emits NOTHING — the r13 contract that makes every other
    bounded pipeline one stateful commit cycle cheaper. Any pipeline
    whose emission depends on the flush batch must opt in (see
    flow_dp_release_closed), and this test pins the default so a silent
    flip back would surface here instead of in the bench."""
    ev = pipelines.events_file_stream(spark, SF_DIR)
    agg = (
        ev.withWatermark("ts", "1 second")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .count()
    )
    result = pipelines._run_to_memory(agg, "append")
    assert result.count() == 0  # watermark from batch 0 only applies in a batch that never runs


def test_user_register_stream_equals_batch(spark, tables):
    """A3 — DwsUserUserRegisterWindow: the complete-mode 5 s register
    window stream equals the batch computation exactly."""
    from gmall_realtime_ck_spark.gmall.dws import dws_user_register_window

    out = pipelines.flow_user_register(spark, SF_DIR)
    reg = tables["events"].filter(F.col("event_type") == "signup").select(
        F.col("ts").alias("et")
    )
    batch = dws_user_register_window(reg, size="5 seconds")
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, batch.collect()))


def test_user_register_append_watermark_5s(spark, tables):
    """The reference's 5 s bounded-out-of-orderness watermark
    (DwsUserUserRegisterWindow.java:43-45) in append mode: emitted
    windows are exactly the batch windows minus the watermark-open tail.
    (The 120 s idleness knob is a Flink per-partition device with no
    Spark analogue needed — watermark is global over the input.)"""
    from gmall_realtime_ck_spark.gmall.dws import dws_user_register_window

    ev = (
        pipelines.events_file_stream(spark, SF_DIR)
        .filter(F.col("event_type") == "signup")
        .withWatermark("ts", "5 seconds")
        .select(F.col("ts").alias("et"))
    )
    # no_data_batches=True: this test pins watermark-FIRED window
    # emission (the reference's fire-at-watermark-passage), which for
    # an un-sentineled append aggregate happens in the flush batch.
    result = pipelines._run_to_memory(
        dws_user_register_window(ev, size="5 seconds", ts_col="et"),
        "append",
        no_data_batches=True,
    )
    reg = tables["events"].filter(F.col("event_type") == "signup").select(
        F.col("ts").alias("et")
    )
    batch_rows = {tuple(r) for r in dws_user_register_window(reg, size="5 seconds").collect()}
    stream_rows = {tuple(r) for r in result.collect()}
    assert stream_rows <= batch_rows  # never an extra/incorrect window
    withheld = batch_rows - stream_rows
    assert len(withheld) <= 2  # only the tail within watermark horizon
    if withheld:
        max_edt = max(r[1] for r in batch_rows)
        assert all(r[1] == max_edt for r in withheld)


def test_repair_is_new_stream_matches_batch_oracle(spark):
    from pyspark.sql.types import StringType, StructField, StructType

    rows = [
        ("m1", "1", "2024-11-24"),
        ("m1", "1", "2024-11-25"),  # mislabeled new on day 2 → repaired to 0
        ("m1", "0", "2024-11-24"),
        ("m2", "0", "2024-11-24"),  # claims old with no state → backfilled, stays 0
        ("m2", "1", "2024-11-25"),  # after backfill this is NOT its first date → 0
        ("m3", "1", "2024-11-25"),
    ]
    schema = "mid string, is_new string, cur_date string"
    src = spark.createDataFrame(rows, schema)
    out_schema = StructType(
        [StructField("mid", StringType()), StructField("is_new", StringType()),
         StructField("cur_date", StringType())]
    )
    # run through the real streaming operator on a bounded stream
    import tempfile

    d = tempfile.mkdtemp(prefix="isnew_")
    src.coalesce(1).write.mode("overwrite").json(d)
    stream = spark.readStream.schema(schema).json(d)
    repaired = state.repair_is_new_stream(stream, out_schema)
    got = {
        (r["mid"], r["cur_date"], r["is_new"])
        for r in pipelines._run_to_memory(repaired, "append").collect()
    }
    assert ("m1", "2024-11-25", "0") in got
    assert ("m1", "2024-11-24", "1") in got
    assert ("m2", "2024-11-25", "0") in got
    assert ("m3", "2024-11-25", "1") in got


def test_login_flags_back_gap(spark):
    import tempfile

    rows = [
        (1, "2024-11-01"),
        (1, "2024-11-02"),
        (1, "2024-11-15"),  # gap 13 ≥ 8 → back=1
        (2, "2024-11-10"),
        (2, "2024-11-10"),  # same day → uu=0
    ]
    d = tempfile.mkdtemp(prefix="login_")
    spark.createDataFrame(rows, "user_id long, cur_date string").coalesce(1).write.mode(
        "overwrite"
    ).json(d)
    stream = spark.readStream.schema("user_id long, cur_date string").json(d)
    out = pipelines._run_to_memory(state.login_flags(stream), "append")
    rows_out = {(r["user_id"], r["cur_date"], r["uu"], r["back"]) for r in out.collect()}
    assert (1, "2024-11-15", 1, 1) in rows_out
    assert (1, "2024-11-02", 1, 0) in rows_out
    total_uu = sum(r[2] for r in rows_out)
    assert total_uu == 4  # 3 distinct days for u1 + 1 for u2


def test_keyword_pipeline_stream_equals_batch(spark, tmp_path):
    from gmall_realtime_ck_spark.gmall import dwd, dws, fixtures

    lines = fixtures.gen_log_lines(n_events=500)
    log_dir = str(tmp_path / "log")
    spark.createDataFrame([(l,) for l in lines], "value string").coalesce(2).write.mode(
        "overwrite"
    ).text(log_dir)

    streamed = pipelines.keyword_pipeline_stream(spark, log_dir, size="1 hour")
    batch = dws.keyword_window(
        dwd.split_log(spark.read.text(log_dir))["page"], size="1 hour"
    )
    s = sorted(map(tuple, streamed.collect()))
    b = sorted(map(tuple, batch.collect()))
    assert s == b  # batch ≡ stream


def test_foreach_batch_parquet_sink(spark, tmp_path):
    """A date-partitioned sink write adds one file per date partition
    per batch, even when the batch's rows for one date are spread over
    many tasks (here: a fixed-count repartition on event_type, which AQE
    does not coalesce)."""
    from pathlib import Path

    from gmall_realtime_ck_spark.sinks.jdbc import parquet_batch_writer

    ev = pipelines.events_file_stream(spark, SF_DIR)
    out_dir = str(tmp_path / "dws_out")

    def transform(df):
        return df.select(
            F.date_format("ts", "yyyy-MM-dd").alias("cur_date"), "event_type"
        ).repartition(4, "event_type")

    q = pipelines.foreach_batch_pipeline(
        ev, transform, parquet_batch_writer(out_dir, partition_by=("cur_date",))
    )
    q.awaitTermination()
    written = spark.read.parquet(out_dir)
    assert written.count() > 0
    parts = [p for p in Path(out_dir).iterdir() if p.name.startswith("cur_date=")]
    assert "cur_date=2024-01-01" in [p.name for p in parts]
    n_batches = sum(1 for p in q.recentProgress if p["numInputRows"] > 0)
    for part in parts:
        assert len(list(part.glob("*.parquet"))) <= n_batches, part


def test_daily_uv_checkpoint_keeps_its_partition_count(spark, tmp_path):
    """Migration contract behind the session's shuffle-partition default:
    a stateful query restarted under a different
    ``spark.sql.shuffle.partitions`` keeps the count recorded in its
    checkpoint's offset metadata, so its state stays addressable and no
    (user, date) pair already flagged is flagged uv=1 again."""
    import json
    from pathlib import Path

    src, ckpt = tmp_path / "src", tmp_path / "ckpt"
    src.mkdir()
    schema = "user_id long, cur_date string"

    def feed(name, pairs):
        with open(src / name, "w") as f:
            for u, d in pairs:
                f.write(json.dumps({"user_id": u, "cur_date": d}) + "\n")

    def run(partitions):
        spark.conf.set("spark.sql.shuffle.partitions", str(partitions))
        rows = []
        q = (
            state.daily_uv_flags(spark.readStream.schema(schema).json(str(src)))
            .writeStream.foreachBatch(lambda df, _: rows.extend(df.collect()))
            .option("checkpointLocation", str(ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return {(r["user_id"], r["cur_date"]): r["uv"] for r in rows}

    first = [(u, "2024-01-01") for u in range(1, 9)]
    repeated, new = first[:5], [(u, "2024-01-02") for u in range(1, 4)] + [(9, "2024-01-01")]
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        feed("b0.json", first)
        assert run(3) == {p: 1 for p in first}
        feed("b1.json", repeated + new)
        got = run(5)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev
    assert got == {**{p: 0 for p in repeated}, **{p: 1 for p in new}}
    offsets = (ckpt / "offsets" / "1").read_text().splitlines()
    assert json.loads(offsets[1])["conf"]["spark.sql.shuffle.partitions"] == "3"
    assert sorted(p.name for p in Path(ckpt, "state", "0").iterdir()
                  if p.name.isdigit()) == ["0", "1", "2"]


def test_kafka_sink_builders_construct(spark):
    """No broker in the container — verify the writers build valid
    plans (S1/K1/K2 wiring) without starting them."""
    from gmall_realtime_ck_spark.sinks import kafka as ks

    df = spark.readStream.format("rate").load().select(
        F.col("value").cast("string").alias("value"),
        F.lit("topic_a").alias("topic"),
        F.col("value").cast("string").alias("key"),
    )
    assert ks.to_kafka_fixed(df, "t", "broker:9092") is not None
    assert ks.to_kafka_dynamic(df, "broker:9092") is not None
    assert ks.to_kafka_upsert(df, "t", "broker:9092", key_col="key") is not None


def test_t_closeness_stream_equals_batch(spark, tables):
    """flow_t_closeness: the complete-mode class×sensitive count
    stream fed through the shared EMD spine
    (privacy.t_closeness_from_class_counts) equals the batch audit
    exactly — the streaming twin re-runs only class-level algebra per
    poll, so equality is structural, not approximate."""
    from gmall_realtime_ck_spark.operators.privacy import t_closeness_audit

    out = pipelines.flow_t_closeness(spark, SF_DIR)
    batch = t_closeness_audit(tables)
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, batch.collect()))


def test_flow_kmv_bounded_state_matches_batch(spark, tables):
    """r6 verdict #2: the KMV streaming twin must hold BOUNDED state —
    one state-store row per open day (each carrying ≤ K longs), not
    the naive O(distinct (day, hash)) dropDuplicates set — and its
    per-day estimate must still equal the batch sketch exactly."""
    import json
    import uuid

    from gmall_realtime_ck_spark.operators.relational import (
        _H44_SPARK,
        KMV_K,
        approx_uv_kmv,
    )

    ev = pipelines.events_file_stream(spark, SF_DIR).withWatermark("ts", "1 day")
    dh = ev.select("ts", F.to_date("ts").alias("d"), F.expr(_H44_SPARK).alias("h"))
    name = "kmvstate" + uuid.uuid4().hex[:8]
    ckpt = pipelines._process_tempdir("ckpt_")
    q = (
        state.kmv_sketch_stream(dh, KMV_K)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    days = tables["events"].select(F.to_date("ts")).distinct().count()
    state_rows = max(
        sum(s.get("numRowsTotal", 0) for s in json.loads(p.json).get("stateOperators") or [])
        for p in q.recentProgress
    )
    assert 0 < state_rows <= days, (state_rows, days)
    emitted = spark.table(name)
    assert emitted.agg(F.max("sketch_size")).first()[0] <= KMV_K

    got = {
        r["day"]: (r["sketch_size"], r["uv_kmv"])
        for r in pipelines.flow_kmv(spark, SF_DIR).collect()
    }
    want = {
        r["day"]: (min(r["n_hashes"], KMV_K), r["uv_kmv"])
        for r in approx_uv_kmv(tables).collect()
    }
    assert got == want


def test_stale_temp_dir_sweep(tmp_path):
    """atexit hygiene covers clean exits only — a SIGKILL'd run (the
    documented 08:38 r6 incident left 40 orphan dirs) strands its
    ckpt_*/streamsrc_* dirs. The entrypoint sweep must remove
    same-pattern dirs older than the age cutoff and leave fresh ones
    (possibly owned by a live process) untouched."""
    import os
    import time

    old_ckpt = tmp_path / "ckpt_dead"
    old_src = tmp_path / "streamsrc_dead"
    fresh = tmp_path / "ckpt_live"
    other = tmp_path / "unrelated_old"
    for d in (old_ckpt, old_src, fresh, other):
        d.mkdir()
        (d / "state.delta").write_text("x")
    stale = time.time() - 7200
    for d in (old_ckpt, old_src, other):
        os.utime(d, (stale, stale))
        os.utime(d / "state.delta", (stale, stale))  # contents aged too

    removed = pipelines._sweep_stale_temp_dirs(tmp_root=str(tmp_path), max_age_s=3600)
    assert removed == 2
    assert not old_ckpt.exists() and not old_src.exists()
    assert fresh.exists() and other.exists()


def test_flow_overlap_kmv_bounded_state_matches_batch(spark, tables):
    """The set-sketch twin's state must be one state-store row per
    event type (each ≤ K longs), and the poll-time pair algebra over
    the latest snapshot must equal the batch overlap sketch exactly
    (the K-smallest set is arrival-order independent)."""
    import json
    import uuid

    from gmall_realtime_ck_spark.operators.relational import (
        _H44_SPARK,
        KMV_K,
        approx_overlap_kmv,
    )

    ev = pipelines.events_file_stream(spark, SF_DIR)
    dh = ev.select(F.col("event_type").alias("tp"), F.expr(_H44_SPARK).alias("h"))
    name = "kmvset" + uuid.uuid4().hex[:8]
    ckpt = pipelines._process_tempdir("ckpt_")
    q = (
        state.kmv_set_sketch_stream(dh, KMV_K)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    n_types = tables["events"].select("event_type").distinct().count()
    state_rows = max(
        sum(s.get("numRowsTotal", 0) for s in json.loads(p.json).get("stateOperators") or [])
        for p in q.recentProgress
    )
    assert 0 < state_rows <= n_types, (state_rows, n_types)
    emitted = spark.table(name)
    per_upd = emitted.groupBy("tp", "upd").count()
    assert per_upd.agg(F.max("count")).first()[0] <= KMV_K

    got = sorted(map(tuple, pipelines.flow_overlap_kmv(spark, SF_DIR).collect()))
    want = sorted(map(tuple, approx_overlap_kmv(tables).collect()))
    assert got == want


def test_kmv_merge_property_matches_set_model():
    """Property (hypothesis, no Spark): for ANY hash sequence, ANY
    batch boundaries, and ANY k, folding _kmv_merge over the batches
    yields exactly the k smallest distinct hashes, with the saturation
    flag ≡ (distinct count > k). This is the state transition both KMV
    streaming twins share — arrival order and batching must be
    invisible."""
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from gmall_realtime_ck_spark.streaming.state import _kmv_decode, _kmv_merge

    @settings(max_examples=200, deadline=None)
    @given(
        st.lists(st.integers(min_value=0, max_value=40), max_size=60),
        st.integers(min_value=1, max_value=10),
        st.randoms(use_true_random=False),
    )
    def check(seq, k, rng):
        # random batch boundaries over a random permutation
        rng.shuffle(seq)
        cur, sat = _kmv_decode(""), 0
        i = 0
        while i < len(seq):
            j = i + rng.randint(1, max(1, len(seq) - i))
            cur, sat = _kmv_merge(
                cur, np.array(seq[i:j], dtype="int64"), k, sat
            )
            i = j
        distinct = sorted(set(seq))
        assert cur.tolist() == distinct[:k]
        assert sat == (1 if len(distinct) > k else 0)
        # round-trip through the state-store string encoding
        assert _kmv_decode(",".join(map(str, cur.tolist()))).tolist() == distinct[:k]

    check()


def test_stale_sweep_spares_recently_active_checkpoint(tmp_path):
    """A >1h-old checkpoint whose commits/ subdir is still being
    written (a live long-running query in another process) must NOT be
    swept — activity is the max mtime over the dir and its first-level
    entries, not the top dir alone (which streaming never touches
    after creation)."""
    import os
    import time

    live = tmp_path / "ckpt_longrunning"
    (live / "commits").mkdir(parents=True)
    stale = time.time() - 7200
    os.utime(live, (stale, stale))  # top dir looks old...
    (live / "commits" / "42").write_text("x")  # ...but commits are fresh

    dead = tmp_path / "ckpt_dead"
    (dead / "commits").mkdir(parents=True)
    for p in (dead / "commits", dead):
        os.utime(p, (stale, stale))

    removed = pipelines._sweep_stale_temp_dirs(tmp_root=str(tmp_path), max_age_s=3600)
    assert removed == 1
    assert live.exists() and not dead.exists()


def test_kmv_set_sketch_emits_only_on_change(spark, tmp_path):
    """Output-contract pin (VERDICT r7 #6): kmv_set_sketch_stream is a
    CHANGELOG — a micro-batch that does not change a key's K-smallest
    set (duplicate hashes, or hashes above a full set's max) must emit
    NOTHING for that key, a batch that does change it must emit a new
    ``upd`` snapshot, and the latest-``upd``-wins compaction view is
    always ≤ keys × K rows."""
    import os
    import time
    import uuid

    from gmall_realtime_ck_spark.operators.relational import KMV_K

    src = tmp_path / "src"
    src.mkdir()
    batches = [
        # b1: fills + saturates the sketch (100 distinct > K)
        [("a", h) for h in range(1, 101)],
        # b2: pure duplicates -> sketch unchanged, must emit nothing
        [("a", h) for h in range(1, 51)],
        # b3: hash above the full set's max -> rejected, emit nothing
        [("a", 10_000)],
        # b4: hash below the min -> sketch changes, must emit upd=2
        [("a", 0)],
    ]
    import pyarrow as pa
    import pyarrow.parquet as pq

    now = time.time() - 60
    for i, rows in enumerate(batches):
        p = str(src / f"b{i}.parquet")
        pq.write_table(
            pa.table(
                {
                    "tp": pa.array([r[0] for r in rows], pa.string()),
                    "h": pa.array([r[1] for r in rows], pa.int64()),
                }
            ),
            p,
        )
        os.utime(p, (now + i, now + i))  # force source file order

    dh = (
        spark.readStream.schema("tp string, h long")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    name = "kmvchg" + uuid.uuid4().hex[:8]
    q = (
        state.kmv_set_sketch_stream(dh, KMV_K)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    emitted = spark.table(name).collect()
    upds = sorted({r["upd"] for r in emitted})
    # b2/b3 were no-ops: only the saturating fill and the b4 insert emitted
    assert upds == [1, 2], upds
    per_upd = {u: [r["h"] for r in emitted if r["upd"] == u] for u in upds}
    assert len(per_upd[1]) == KMV_K and len(per_upd[2]) == KMV_K
    assert min(per_upd[2]) == 0 and 10_000 not in per_upd[2]
    # compaction view (latest upd per key) is bounded by keys x K
    assert len(per_upd[max(upds)]) <= 1 * KMV_K
    # and the raw changelog grew by exactly the changed snapshots
    assert len(emitted) == 2 * KMV_K


def test_stale_sweep_handles_symlink_entries(tmp_path):
    """ADVICE r7: streamsrc_* dirs hold symlinks. A stale dir whose
    link TARGET was deleted must still be swept (stat() on the entry
    would raise and strand the orphan), and a stale dir whose target
    is a still-fresh shared file must not be kept alive by the
    target's mtime — the entry's own lstat mtime decides."""
    import os
    import time

    stale = time.time() - 7200

    broken = tmp_path / "streamsrc_broken"
    broken.mkdir()
    os.symlink(str(tmp_path / "gone.parquet"), broken / "gone.parquet")
    fresh_target = tmp_path / "shared.parquet"
    fresh_target.write_text("x")  # fresh mtime, shared with live runs
    aliased = tmp_path / "streamsrc_freshtarget"
    aliased.mkdir()
    os.symlink(str(fresh_target), aliased / "shared.parquet")
    for d in (broken, aliased):
        os.utime(d, (stale, stale))
        for e in os.scandir(d):
            os.utime(e.path, (stale, stale), follow_symlinks=False)

    removed = pipelines._sweep_stale_temp_dirs(tmp_root=str(tmp_path), max_age_s=3600)
    assert removed == 2
    assert not broken.exists() and not aliased.exists()
    assert fresh_target.exists()


def test_flow_domain_cap_bounded_state_matches_batch(spark, tables):
    """The domain-cap twin's state must be one state-store row per
    source (each holding ≤ 2·CAP longs — never the source's documents),
    and the poll-time rank over the latest snapshot must equal the
    batch quota exactly (the CAP-first set under (h, doc_id) is
    arrival-order independent)."""
    import json
    import uuid

    from gmall_realtime_ck_spark.operators.sampling import (
        DOMAIN_CAP,
        sample_domain_cap,
    )
    from gmall_realtime_ck_spark.operators.text import H28_SPARK

    docs = pipelines.documents_file_stream(spark, SF_DIR)
    sh = docs.select(
        "source", F.expr(H28_SPARK.format(c="text")).alias("h"), "doc_id"
    )
    name = "domcap" + uuid.uuid4().hex[:8]
    ckpt = pipelines._process_tempdir("ckpt_")
    q = (
        state.domain_cap_stream(sh, DOMAIN_CAP)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    n_sources = tables["documents"].select("source").distinct().count()
    state_rows = max(
        sum(s.get("numRowsTotal", 0) for s in json.loads(p.json).get("stateOperators") or [])
        for p in q.recentProgress
    )
    assert 0 < state_rows <= n_sources, (state_rows, n_sources)
    emitted = spark.table(name)
    per_upd = emitted.groupBy("source", "upd").count()
    assert per_upd.agg(F.max("count")).first()[0] <= DOMAIN_CAP

    got = sorted(map(tuple, pipelines.flow_domain_cap(spark, SF_DIR).collect()))
    want = sorted(map(tuple, sample_domain_cap(tables).collect()))
    assert got == want


def test_flow_epoch_schedule_matches_batch(spark, tables):
    """The epoch-planner twin re-runs the shared |sources|-row algebra
    over complete-mode token totals — equality with the batch planner
    is structural, not approximate."""
    from gmall_realtime_ck_spark.operators.sampling import sample_epoch_schedule

    got = sorted(map(tuple, pipelines.flow_epoch_schedule(spark, SF_DIR).collect()))
    want = sorted(map(tuple, sample_epoch_schedule(tables).collect()))
    assert got == want


def test_pair_merge_property_matches_set_model():
    """Property (hypothesis, no Spark): folding _pair_merge over ANY
    batching/permutation of (h, doc_id) pairs — duplicates included —
    yields exactly the K lexicographically-first DISTINCT pairs. The
    law flow_domain_cap's bounded state rests on."""
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from gmall_realtime_ck_spark.streaming.state import _pair_decode, _pair_merge

    @settings(max_examples=200, deadline=None)
    @given(
        st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=8),
                st.integers(min_value=0, max_value=30),
            ),
            max_size=60,
        ),
        st.integers(min_value=1, max_value=10),
        st.randoms(use_true_random=False),
    )
    def check(pairs, k, rng):
        rng.shuffle(pairs)
        cur_h, cur_d = _pair_decode(""), _pair_decode("")
        i = 0
        while i < len(pairs):
            j = i + rng.randint(1, 7)
            bh = np.array([p[0] for p in pairs[i:j]], dtype="int64")
            bd = np.array([p[1] for p in pairs[i:j]], dtype="int64")
            cur_h, cur_d = _pair_merge(cur_h, cur_d, bh, bd, k)
            i = j
        want = sorted(set(pairs))[:k]
        assert list(zip(cur_h.tolist(), cur_d.tolist())) == want

    check()


def test_domain_cap_emits_only_on_change(spark, tmp_path):
    """domain_cap_stream shares kmv_set_sketch_stream's changelog
    contract: a micro-batch of already-kept or above-the-cut pairs
    emits nothing; a batch that displaces a kept doc emits a fresh
    ``upd`` snapshot of ≤ CAP rows."""
    import os
    import time
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    from gmall_realtime_ck_spark.operators.sampling import DOMAIN_CAP

    src = tmp_path / "src"
    src.mkdir()
    batches = [
        # b1: 40 docs with h = doc_id*10 -> keeps the CAP smallest
        [("srcA", i * 10, i) for i in range(40)],
        # b2: replay of already-kept pairs -> no emit
        [("srcA", i * 10, i) for i in range(5)],
        # b3: h above every kept hash, set full -> rejected, no emit
        [("srcA", 99_999, 99)],
        # b4: h below the min -> displaces the max kept pair, emits upd=2
        [("srcA", 1, 77)],
    ]
    now = time.time() - 60
    for i, rows in enumerate(batches):
        p = str(src / f"b{i}.parquet")
        pq.write_table(
            pa.table(
                {
                    "source": pa.array([r[0] for r in rows], pa.string()),
                    "h": pa.array([r[1] for r in rows], pa.int64()),
                    "doc_id": pa.array([r[2] for r in rows], pa.int64()),
                }
            ),
            p,
        )
        os.utime(p, (now + i, now + i))

    sh = (
        spark.readStream.schema("source string, h long, doc_id long")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    name = "domchg" + uuid.uuid4().hex[:8]
    q = (
        state.domain_cap_stream(sh, DOMAIN_CAP)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    emitted = spark.table(name).collect()
    upds = sorted({r["upd"] for r in emitted})
    assert upds == [1, 2], upds
    per_upd = {u: sorted((r["h"], r["doc_id"]) for r in emitted if r["upd"] == u) for u in upds}
    assert len(per_upd[1]) == DOMAIN_CAP and len(per_upd[2]) == DOMAIN_CAP
    assert (1, 77) in per_upd[2]             # the displacing pair got kept
    displaced = ((DOMAIN_CAP - 1) * 10, DOMAIN_CAP - 1)  # b1's old max kept pair
    assert displaced in per_upd[1] and displaced not in per_upd[2]
    assert (99_999, 99) not in per_upd[2]    # the rejected pair never entered
    assert len(emitted) == 2 * DOMAIN_CAP    # b2/b3 emitted nothing


def test_compact_latest_snapshot_history_invariance(spark):
    """The changelog-compaction contract (r8 verdict What's-wrong #2):
    compact_latest_snapshot over a changelog holding EVERY historical
    snapshot must equal it over a changelog already pruned to each
    key's latest ``upd`` — i.e. history contributes nothing to the
    poll-time result, so a production sink that prunes on the monotone
    ``upd`` (ReplacingMergeTree / compacted topic) is semantically
    free. Also pins that a key whose set never changed (single upd)
    survives compaction untouched."""
    from gmall_realtime_ck_spark.streaming.pipelines import compact_latest_snapshot

    full_changelog = [
        # srcA: three snapshots; upd=3 is current
        ("srcA", 1, 10, 100), ("srcA", 1, 20, 101),
        ("srcA", 2, 10, 100), ("srcA", 2, 15, 102),
        ("srcA", 3, 5, 103), ("srcA", 3, 10, 100),
        # srcB: never changed after its first snapshot
        ("srcB", 1, 7, 200),
    ]
    schema = "source string, upd long, h long, doc_id long"
    full_df = spark.createDataFrame(full_changelog, schema)
    pruned_df = spark.createDataFrame(
        [r for r in full_changelog if (r[0], r[1]) in {("srcA", 3), ("srcB", 1)}],
        schema,
    )
    got_full = sorted(map(tuple, compact_latest_snapshot(full_df, "source").collect()))
    got_pruned = sorted(map(tuple, compact_latest_snapshot(pruned_df, "source").collect()))
    assert got_full == got_pruned
    assert got_full == sorted(
        [("srcA", 3, 5, 103), ("srcA", 3, 10, 100), ("srcB", 1, 7, 200)]
    )
    # no helper column leaks into the compacted view
    assert compact_latest_snapshot(full_df, "source").columns == [
        "source", "upd", "h", "doc_id",
    ]


def test_flow_anomaly_mad_histogram_state_matches_batch(spark, tables):
    """r10 verdict #2: the MAD twin's streamed aggregate must hold the
    (type, value)-count HISTOGRAM as its keyed state — one state-store
    row per distinct (event_type, value) pair, never O(raw events) —
    and the twin's outliers must equal the batch audit exactly."""
    import json
    import uuid

    from gmall_realtime_ck_spark.operators.behavior import events_anomaly_mad

    ev = (
        pipelines.events_file_stream(spark, SF_DIR)
        .select("event_id", "event_type", "value")
        .filter(F.col("value").isNotNull())
    )
    name = "madstate" + uuid.uuid4().hex[:8]
    ckpt = pipelines._process_tempdir("ckpt_")
    q = (
        ev.groupBy("event_type", "value")
        .agg(F.count(F.lit(1)).alias("hct"))
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    batch_ev = tables["events"].filter(F.col("value").isNotNull())
    pairs = batch_ev.select("event_type", "value").distinct().count()
    raw = batch_ev.count()
    state_rows = max(
        sum(s.get("numRowsTotal", 0) for s in json.loads(p.json).get("stateOperators") or [])
        for p in q.recentProgress
    )
    assert 0 < state_rows <= pairs < raw, (state_rows, pairs, raw)
    # the streamed histogram equals the batch histogram row-for-row
    got_hist = {
        (r["event_type"], r["value"]): r["hct"] for r in spark.table(name).collect()
    }
    want_hist = {
        (r["event_type"], r["value"]): r["hct"]
        for r in batch_ev.groupBy("event_type", "value")
        .agg(F.count(F.lit(1)).alias("hct"))
        .collect()
    }
    assert got_hist == want_hist
    # twin output ≡ batch audit
    got = sorted(
        tuple(r) for r in pipelines.flow_anomaly_mad(spark, SF_DIR).collect()
    )
    want = sorted(
        tuple(r) for r in events_anomaly_mad({"events": tables["events"]}).collect()
    )
    assert got == want and len(got) > 0


def test_flow_rfm_segments_per_user_state_and_inplan_boundaries(spark, tables):
    """flow_rfm_segments (r11): the streamed aggregate must hold ONE
    state row per purchasing user (never raw purchase events), and the
    in-plan boundary path must equal the batch builder's
    driver-collected literals bit-for-bit — including the quartile
    assignments they produce."""
    import json
    import uuid

    from gmall_realtime_ck_spark.operators.behavior import user_rfm_segments
    from gmall_realtime_ck_spark.operators.relational import cents

    ev = pipelines.events_file_stream(spark, SF_DIR).filter(
        F.col("event_type") == "purchase"
    )
    per_user = ev.groupBy("user_id").agg(
        F.max(F.unix_micros(F.col("ts").cast("timestamp"))).alias("last_us"),
        F.count(F.lit(1)).alias("freq"),
        F.sum(cents("value")).alias("monetary_cents"),
    )
    name = "rfmstate" + uuid.uuid4().hex[:8]
    ckpt = pipelines._process_tempdir("ckpt_")
    q = (
        per_user.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    purchases = tables["events"].filter(F.col("event_type") == "purchase")
    n_users = purchases.select("user_id").distinct().count()
    n_events = purchases.count()
    state_rows = max(
        sum(s.get("numRowsTotal", 0) for s in json.loads(p.json).get("stateOperators") or [])
        for p in q.recentProgress
    )
    assert 0 < state_rows <= n_users < n_events, (state_rows, n_users, n_events)
    got = sorted(tuple(r) for r in pipelines.flow_rfm_segments(spark, SF_DIR).collect())
    want = sorted(tuple(r) for r in user_rfm_segments(tables).collect())
    assert got == want and len(got) == n_users


def test_flow_dp_release_closed_release_once(spark, tables):
    """flow_dp_release_closed (r11): the append-mode DP release must
    (a) emit each closed (type, day) cell exactly once, (b) equal the
    batch release restricted to closed days — same peppered draw, so
    ε accounting is shared — and (c) WITHHOLD the still-open max event
    day entirely (publishing a period early would release a count that
    can still change, breaking the one-draw-per-cell budget)."""
    from collections import Counter

    from gmall_realtime_ck_spark.operators.privacy import dp_count_release

    rows = pipelines.flow_dp_release_closed(spark, SF_DIR).collect()
    assert rows
    seen = Counter((r["event_type"], r["day"]) for r in rows)
    assert max(seen.values()) == 1, "a cell was released twice"
    max_day = (
        tables["events"]
        .agg(F.date_format(F.max("ts"), "yyyy-MM-dd"))
        .first()[0]
    )
    assert all(r["day"] < max_day for r in rows), "open day released"
    batch = {
        (r["event_type"], r["day"]): r["noisy_count"]
        for r in dp_count_release(tables).collect()
        if r["day"] < max_day
    }
    got = {(r["event_type"], r["day"]): r["noisy_count"] for r in rows}
    assert got == batch


def test_flow_dp_release_closed_midnight_boundary(spark, tmp_path):
    """r11 ADVICE #3: when max(ts) lands EXACTLY on a day boundary the
    prior day's window end equals the final watermark, and Spark's
    append-mode eviction boundary decides whether that day is emitted.
    Measured (Spark 4.1): eviction is INCLUSIVE on window.end
    (window.end <= watermark ⇒ emit), so the 00:00:00 event puts the
    watermark at midnight and the prior day IS released — exactly what
    the oracle's strict before-max-DAY cutoff predicts (the midnight
    event's own day has a later window end and stays open). Pin both
    edges: max(ts) exactly at midnight, and one microsecond before."""
    import pandas as pd

    def release_days(ts_list):
        d = tmp_path / ("ev_" + str(len(ts_list)) + ts_list[-1][-2:])
        d.mkdir()
        pd.DataFrame(
            {
                "event_id": range(len(ts_list)),
                "ts": [pd.Timestamp(t) for t in ts_list],
                "user_id": [i % 3 for i in range(len(ts_list))],
                "event_type": ["view"] * len(ts_list),
                "value": [1.0] * len(ts_list),
                "props": ["{}"] * len(ts_list),
            }
        ).to_parquet(str(d / "events.parquet"))
        rows = pipelines.flow_dp_release_closed(spark, str(d)).collect()
        return sorted({r["day"] for r in rows})

    # max ts exactly at midnight: watermark == day-04 window end →
    # inclusive eviction releases 03 AND 04; day 05 (the event's own
    # day-window) stays open
    assert release_days(
        ["2024-01-03 10:00:00", "2024-01-04 09:00:00", "2024-01-05 00:00:00"]
    ) == ["2024-01-03", "2024-01-04"]
    # one microsecond earlier: watermark < day-04 window end → day 04
    # still open, only 03 released — the same answer the oracle's
    # strict before-max-day cutoff gives (max day is now the 4th)
    assert release_days(
        ["2024-01-03 10:00:00", "2024-01-04 09:00:00", "2024-01-04 23:59:59.999999"]
    ) == ["2024-01-03"]


def test_dup_lines_snapshot_changelog_contract(spark, tmp_path):
    """flow_dup_lines_snapshot (VERDICT r12 #6): the blacklist's
    update-mode changelog must (a) emit a key ONLY in batches where
    its count changed, (b) stamp every emission with upd == the new
    count — per-key strictly increasing, i.e. a valid
    ReplacingMergeTree / compacted-topic version — and (c) compact to
    exactly the final batch counts, whose >1-occurrence slice is the
    serving blacklist."""
    import os
    import time
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    from gmall_realtime_ck_spark.operators.dedup import line_blocks
    from gmall_realtime_ck_spark.streaming.pipelines import compact_latest_snapshot
    from pyspark.sql import functions as F

    # one 8-token block per doc (LINE_TOKENS = 8)
    X = "x1 x2 x3 x4 x5 x6 x7 x8"
    Y = "y1 y2 y3 y4 y5 y6 y7 y8"
    Z = "z1 z2 z3 z4 z5 z6 z7 z8"
    batches = [
        [(1, X), (2, X), (3, Y)],  # b1: X→2, Y→1 (both emit)
        [(4, X)],                  # b2: X→3 (only X emits)
        [(5, Z)],                  # b3: Z→1 (only Z emits)
        [(6, "")],                 # b4: zero-token doc — nothing emits
    ]
    src = tmp_path / "docs"
    src.mkdir()
    now = time.time() - 60
    for i, rows in enumerate(batches):
        p = str(src / f"b{i}.parquet")
        pq.write_table(
            pa.table(
                {
                    "doc_id": pa.array([r[0] for r in rows], pa.int64()),
                    "text": pa.array([r[1] for r in rows], pa.string()),
                }
            ),
            p,
        )
        os.utime(p, (now + i, now + i))

    docs = (
        spark.readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    counts = (
        line_blocks(docs)
        .groupBy("bh")
        .agg(F.count(F.lit(1)).alias("n_occ"))
        .withColumn("upd", F.col("n_occ"))
    )
    name = "dupchg" + uuid.uuid4().hex[:8]
    q = (
        counts.writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    emitted = spark.table(name).collect()
    # block hashes for the three texts
    import hashlib

    hx, hy, hz = (hashlib.md5(s.encode()).hexdigest() for s in (X, Y, Z))
    per_key = {}
    for r in emitted:
        assert r["upd"] == r["n_occ"]  # (b) version IS the count
        per_key.setdefault(r["bh"], []).append(r["n_occ"])
    # (a)+(b): exactly the changed snapshots, strictly increasing
    assert sorted(per_key[hx]) == [2, 3]
    assert per_key[hy] == [1]
    assert per_key[hz] == [1]
    assert len(emitted) == 4  # b4 emitted nothing
    # (c) compaction = final counts; serving slice = blocks seen >1×
    snap = {
        r["bh"]: r["n_occ"]
        for r in compact_latest_snapshot(spark.table(name), "bh").collect()
    }
    assert snap == {hx: 3, hy: 1, hz: 1}
    serving = {k: v for k, v in snap.items() if v > 1}
    assert serving == {hx: 3}
