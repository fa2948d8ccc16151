"""``traffic_log``: open-loop replay of nested topic_log segments, about
1% dirty, keyed by Zipf-skewed device ids.

Two Structured Streaming queries read the same topic directory, like the
reference's separate log apps:

* ``log_dws`` — per micro-batch ``dwd.split_log`` → page rows →
  ``dws.traffic_page_view_window`` and ``dws.keyword_window`` → sinks,
  plus the dirty side output.
* ``log_uv`` — ``dwd.split_log`` page rows → ``state.daily_uv_flags``
  (applyInPandasWithState: Python workers and the state store) → a
  per-date UV sink.

A segment is committed once both queries have written it.
"""

from __future__ import annotations

import os

from . import gen
from .replay import (WARM_SEGMENTS, Replay, SourceLog, StreamStats, parquet_files,
                     stream_outcome, warm_up)

SEGMENT_INTERVAL_S = 0.1
EVENTS_PER_SEGMENT = 40
MS_PER_SEGMENT = 4000  # event time per segment


class Workload:
    def __init__(self, ctx):
        self.ctx = ctx
        self.segments = []

    @property
    def offered(self) -> dict:
        return {"segments_per_s": 1 / SEGMENT_INTERVAL_S,
                "events_per_s": EVENTS_PER_SEGMENT / SEGMENT_INTERVAL_S}

    def setup(self, spark, root: str) -> None:
        # the warm-up segments, then the segments due within the window
        n = WARM_SEGMENTS + max(1, round(self.ctx.seconds / SEGMENT_INTERVAL_S))
        self.segments = gen.log_segments(self.ctx.seed, n, EVENTS_PER_SEGMENT,
                                         ms_per_segment=MS_PER_SEGMENT)
        self.dirs = {k: os.path.join(root, k) for k in
                     ("topic", "ckpt_dws", "ckpt_uv", "dws_traffic", "dws_keyword", "dwd_dirty",
                      "dws_uv")}
        os.makedirs(self.dirs["topic"])

    # -- the two queries' batch bodies

    def _dws_batch(self, raw, tid) -> None:
        from gmall_realtime_ck_spark.gmall import dwd, dws
        from gmall_realtime_ck_spark.sinks.jdbc import parquet_batch_writer

        tr = self.ctx.tracer
        split = tr.layer("dwd.split_log", tid, dwd.split_log, raw)
        page = split["page"]
        if tr.enabled:
            tr.count("dwd.dirty_rows", split["dirty"].count())
        traffic = tr.layer("dws.traffic_window", tid, dws.traffic_page_view_window, page,
                           f"{gen.WINDOW_S} seconds")
        keyword = tr.layer("dws.keyword_window", tid, dws.keyword_window, page,
                           f"{gen.WINDOW_S} seconds")
        with tr.span("sinks.write", tid):
            for df, key, parts in ((traffic, "dws_traffic", ("cur_date",)),
                                   (keyword, "dws_keyword", ("cur_date",)),
                                   (split["dirty"], "dwd_dirty", ())):
                if tr.enabled:
                    tr.count("sinks.rows", df.count())
                parquet_batch_writer(self.dirs[key], parts)(df, tid)
        tr.release()

    def _uv_batch(self, flags, tid) -> None:
        from pyspark.sql import functions as F

        from gmall_realtime_ck_spark.sinks.jdbc import parquet_batch_writer

        tr = self.ctx.tracer
        # the stateful operator runs when this batch's plan executes
        flags = tr.layer("state.daily_uv", tid, lambda: flags)
        per_date = flags.groupBy("cur_date").agg(F.sum("uv").alias("uv"),
                                                 F.count(F.lit(1)).alias("pv"))
        with tr.span("sinks.write", tid):
            parquet_batch_writer(self.dirs["dws_uv"])(per_date, tid)
        tr.release()

    # -- measured phase

    def start(self, spark) -> None:
        """Start both queries and run the warm-up segments through them."""
        self.open(spark)
        warm_up([self])

    def open(self, spark) -> None:
        """Start both queries; the warm-up follows."""
        from pyspark.sql import functions as F

        from gmall_realtime_ck_spark.gmall import dwd
        from gmall_realtime_ck_spark.sources.files import text_stream
        from gmall_realtime_ck_spark.streaming import state

        self.stats = stats = StreamStats(("dws", "uv"))
        tr = self.ctx.tracer

        def body(kind, fn):
            def run(batch_df, tid):
                with tr.span(f"batch.{kind}", tid):
                    fn(batch_df, tid)
            return stats.batch(kind, SourceLog(self.dirs[f"ckpt_{kind}"]), run)

        dws_q = (text_stream(spark, self.dirs["topic"]).writeStream
                 .foreachBatch(body("dws", self._dws_batch))
                 .option("checkpointLocation", self.dirs["ckpt_dws"]).start())
        page = dwd.split_log(text_stream(spark, self.dirs["topic"]))["page"]
        keyed = page.select(
            F.regexp_extract("common.mid", r"(\d+)", 1).cast("long").alias("user_id"),
            dwd.cst_date(F.timestamp_millis("ts")).alias("cur_date"))
        uv_q = (state.daily_uv_flags(keyed).writeStream
                .foreachBatch(body("uv", self._uv_batch))
                .option("checkpointLocation", self.dirs["ckpt_uv"]).start())
        self.replay = Replay(self.dirs["topic"], [s.payload for s in self.segments],
                             SEGMENT_INTERVAL_S)
        stats.attach({"dws": dws_q, "uv": uv_q})
        stats.events = {s.seq: len(s.lines) for s in self.segments}

    def measure(self, spark) -> StreamStats:
        self.stats.run(self.replay)
        return self.stats

    # -- correctness

    def expected(self, committed: set[int]) -> tuple[dict, dict]:
        """The outputs the committed segments must produce, in the shape
        ``read_outputs`` returns, and the segments behind each key."""
        acc: dict[str, dict] = {"traffic": {}, "keyword": {}, "uv": {}}
        segs: dict[str, dict] = {"traffic": {}, "keyword": {}, "uv": {}}
        seen: set[tuple] = set()
        dirty = 0
        for seg in self.segments:
            if seg.seq not in committed:
                continue
            dirty += seg.dirty
            for mid, date, ts, ch, dur, sv in seg.pages:
                key = (gen.window_stt(ts // 1000), ch)
                a = acc["traffic"].setdefault(key, [0, 0, 0])
                a[0] += 1
                a[1] += dur
                a[2] += sv
                segs["traffic"].setdefault(key, set()).add(seg.seq)
                u = acc["uv"].setdefault(date, [0, 0])
                u[0] += (mid, date) not in seen
                u[1] += 1
                segs["uv"].setdefault(date, set()).add(seg.seq)
                seen.add((mid, date))
            for key in seg.keywords:
                acc["keyword"][key] = acc["keyword"].get(key, 0) + 1
                segs["keyword"].setdefault(key, set()).add(seg.seq)
        want = {"traffic": {k: tuple(v) for k, v in acc["traffic"].items()},
                "keyword": {k: (v,) for k, v in acc["keyword"].items()},
                "uv": {k: tuple(v) for k, v in acc["uv"].items()},
                "dirty": dirty}
        return want, segs

    def read_outputs(self, spark) -> dict:
        """The sinks' contents, summed per key."""
        from pyspark.sql import functions as F

        def rows(key, by, *agg):
            path = self.dirs[key]
            if not os.path.isdir(path):
                return {}
            out = spark.read.parquet(path).groupBy(*by).agg(*agg).collect()
            k = len(by)
            return {(tuple(r[:k]) if k > 1 else r[0]): tuple(r[k:]) for r in out}

        dirty = self.dirs["dwd_dirty"]
        return {
            "traffic": rows("dws_traffic", ("stt", "ch"), F.sum("pv_ct"), F.sum("dur_sum"),
                            F.sum("sv_ct"), F.sum("uv_ct")),
            "keyword": rows("dws_keyword", ("stt", "keyword"), F.sum("keyword_count")),
            "uv": rows("dws_uv", ("cur_date",), F.sum("uv"), F.sum("pv")),
            "dirty": spark.read.parquet(dirty).count() if os.path.isdir(dirty) else 0,
        }

    def bad_segments(self, got: dict, done: dict[str, set[int]]) -> set[int]:
        """Segments whose events are missing or wrong in ``got``.

        The traffic window flags a device's first page of the day once
        per micro-batch, so its ``uv_ct`` depends on where batches cut
        and is only bounded (0 <= uv_ct <= pv_ct); the stateful
        ``daily_uv_flags`` output must match exactly.  ``done`` holds the
        segments each query wrote; a segment only one query reached is
        expected in that query's outputs alone."""
        committed = done["dws"] & done["uv"]
        bad = {s.seq for s in self.segments if s.seq not in committed}
        want_dws, segs_dws = self.expected(done["dws"])
        want_uv, segs_uv = self.expected(done["uv"])
        for table in ("traffic", "keyword", "uv"):
            want, segs = (want_uv, segs_uv) if table == "uv" else (want_dws, segs_dws)
            extra = dict(got[table])
            for key, w in want[table].items():
                g = extra.pop(key, None)
                if table == "traffic" and g is not None:
                    g = g[:3] if 0 <= g[3] <= g[0] else None
                if g != w:
                    bad |= segs[table][key]
            if extra:  # rows no written segment explains
                bad |= done["dws"] | done["uv"]
        if got["dirty"] != want_dws["dirty"]:
            bad |= done["dws"]
        return bad

    def check(self, spark, stats: StreamStats) -> tuple[StreamStats, set[int], int]:
        """The run's stats, its failed segments and its sinks' file count."""
        bad = self.bad_segments(self.read_outputs(spark), stats.done)
        return stats, bad, parquet_files(self.dirs[k] for k in ("dws_traffic", "dws_keyword",
                                                                 "dwd_dirty", "dws_uv"))

    def outcome(self, spark, stats: StreamStats):
        return stream_outcome([self.check(spark, stats)])
