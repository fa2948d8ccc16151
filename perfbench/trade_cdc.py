"""``trade_cdc``: open-loop replay of Maxwell topic_db segments through
DIM merge → DWD star/pay joins → DWS sku/province windows → sinks.

One Structured Streaming query reads the topic directory; each
micro-batch runs the whole chain in ``foreachBatch``.  A segment is
committed when the sink writes of the micro-batch that read it return.
"""

from __future__ import annotations

import os
from decimal import Decimal

from . import gen
from .replay import (WARM_SEGMENTS, Replay, SourceLog, StreamStats, parquet_files,
                     stream_outcome, warm_up)

SEGMENT_INTERVAL_S = 0.1
ORDERS_PER_SEGMENT = 10
SECONDS_PER_SEGMENT = 3  # event time per segment


class Workload:
    def __init__(self, ctx):
        self.ctx = ctx
        self.segments = []

    @property
    def offered(self) -> dict:
        return {"segments_per_s": 1 / SEGMENT_INTERVAL_S,
                "orders_per_s": ORDERS_PER_SEGMENT / SEGMENT_INTERVAL_S}

    # -- setup

    def setup(self, spark, root: str) -> None:
        from gmall_realtime_ck_spark.gmall import dim

        # the warm-up segments, then the segments due within the window
        n = WARM_SEGMENTS + max(1, round(self.ctx.seconds / SEGMENT_INTERVAL_S))
        self.segments = gen.trade_segments(self.ctx.seed, n, ORDERS_PER_SEGMENT,
                                           SECONDS_PER_SEGMENT)
        self.dirs = {k: os.path.join(root, k) for k in
                     ("topic", "ckpt", "dim", "dws_sku", "dws_province", "dwd_pay")}
        os.makedirs(self.dirs["topic"])
        gen.write_dim_store(self.dirs["dim"])
        self.cfg = dim.dim_config(spark, gen.DIM_CONFIG_ROWS)

    # -- one micro-batch

    def _chain(self, spark, raw, tid) -> None:
        from gmall_realtime_ck_spark.gmall import dim, dwd, dws
        from gmall_realtime_ck_spark.sinks.jdbc import parquet_batch_writer

        tr = self.ctx.tracer
        db = tr.layer("dwd.parse_topic_db", tid, dwd.parse_topic_db, raw)
        changes = tr.layer("dim.changes", tid, dim.dim_changes, db, self.cfg)
        with tr.span("dim.merge", tid):
            merged = dim.merge_dim_batch(spark, changes, self.dirs["dim"])
        tr.count("dim.merge_calls")
        if tr.enabled:
            tr.count("dim.change_rows", changes.count())
            tr.count("dim.store_rows", sum(df.count() for df in merged.values()))
        dims = {t: dim.dim_snapshot(spark, self.dirs["dim"], t, cols)
                for t, cols in gen.DIM_COLUMNS.items()}
        star = tr.layer("dwd.order_detail_star", tid, dwd.order_detail_star, db)
        pay = tr.layer("dwd.pay_interval", tid,
                       lambda: dwd.pay_success_detail_interval(dwd.pay_success(db), star))
        sku = tr.layer("dws.sku_window", tid, dws.sku_order_window, star, dims,
                       f"{gen.WINDOW_S} seconds")
        prov = tr.layer("dws.province_window", tid, dws.province_order_window, star,
                        dims["dim_base_province"], f"{gen.WINDOW_S} seconds")
        with tr.span("sinks.write", tid):
            for df, key, parts in ((sku, "dws_sku", ("cur_date",)),
                                   (prov, "dws_province", ("cur_date",)),
                                   (pay, "dwd_pay", ())):
                if tr.enabled:
                    tr.count("sinks.rows", df.count())
                parquet_batch_writer(self.dirs[key], parts)(df, tid)
        tr.release()

    # -- measured phase

    def start(self, spark) -> None:
        """Start the query and run the warm-up segments through it."""
        self.open(spark)
        warm_up([self])

    def open(self, spark) -> None:
        """Start the query; the warm-up follows."""
        from gmall_realtime_ck_spark.sources.files import text_stream

        self.stats = StreamStats()
        tr = self.ctx.tracer

        def body(batch_df, tid):
            with tr.span("batch", tid):
                self._chain(spark, batch_df, tid)

        query = (text_stream(spark, self.dirs["topic"]).writeStream
                 .foreachBatch(self.stats.batch("main", SourceLog(self.dirs["ckpt"]), body))
                 .option("checkpointLocation", self.dirs["ckpt"]).start())
        self.replay = Replay(self.dirs["topic"], [s.payload for s in self.segments],
                             SEGMENT_INTERVAL_S)
        self.stats.attach({"main": query})
        self.stats.events = {s.seq: len(s.lines) for s in self.segments}

    def measure(self, spark) -> StreamStats:
        self.stats.run(self.replay)
        return self.stats

    # -- correctness

    def expected(self, committed: set[int]) -> tuple[dict, dict]:
        """The outputs the committed segments must produce, in the shape
        ``read_outputs`` returns, and the segments behind each key."""
        want: dict[str, dict] = {"sku": {}, "prov": {}, "pay": {}}
        acc: dict[str, dict] = {"sku": {}, "prov": {}, "pay": {}}
        segs: dict[str, dict] = {"sku": {}, "prov": {}, "pay": {}}
        for seg in self.segments:
            if seg.seq not in committed:
                continue
            for o in seg.orders:
                key = (o.stt, str(o.province))
                a = acc["prov"].setdefault(key, [Decimal(0), 0])
                a[0] += o.total
                a[1] += 1
                segs["prov"].setdefault(key, set()).add(seg.seq)
                for _, sku, *amounts in o.details:
                    key = (o.stt, str(sku))
                    a = acc["sku"].setdefault(key, [Decimal(0)] * 4)
                    for i, v in enumerate(amounts):
                        a[i] += v
                    segs["sku"].setdefault(key, set()).add(seg.seq)
                if o.paid:
                    acc["pay"][str(o.oid)] = [o.total, len(o.details)]
                    segs["pay"][str(o.oid)] = {seg.seq}
        for key, a in acc["sku"].items():
            sku = int(key[1])
            c3 = sku % gen.N_C3 + 1
            want["sku"][key] = (*a, (f"sku-{sku}",), (f"c1-{gen.c2_parent(gen.c3_parent(c3))}",),
                                (f"c3-{c3}",), (f"tm-{sku % gen.N_TM}",))
        for key, (amount, n) in acc["prov"].items():
            want["prov"][key] = (amount, n, (gen.province_name(int(key[1])),))
        want["pay"] = {k: tuple(v) for k, v in acc["pay"].items()}
        return want, segs

    def read_outputs(self, spark) -> dict:
        """The sinks' contents, summed per key (a window split across
        micro-batches appears as several partial rows)."""
        from pyspark.sql import functions as F

        def rows(key, by, *agg):
            path = self.dirs[key]
            if not os.path.isdir(path):
                return {}
            out = spark.read.parquet(path).groupBy(*by).agg(*agg).collect()
            k = len(by)
            return {(tuple(r[:k]) if k > 1 else r[0]):
                    tuple(tuple(sorted(v)) if isinstance(v, list) else v for v in r[k:])
                    for r in out}

        names = [F.collect_set(c) for c in ("sku_name", "category1_name", "category3_name",
                                            "tm_name")]
        return {
            "sku": rows("dws_sku", ("stt", "sku_id"), F.sum("original_amount"),
                        F.sum("activity_reduce_amount"), F.sum("coupon_reduce_amount"),
                        F.sum("order_amount"), *names),
            "prov": rows("dws_province", ("stt", "province_id"), F.sum("order_amount"),
                         F.sum("order_count"), F.collect_set("province_name")),
            "pay": rows("dwd_pay", ("order_id",),
                        F.sum(F.col("split_total_amount").cast("decimal(16,2)")),
                        F.count(F.lit(1))),
        }

    def bad_segments(self, got: dict, committed: set[int]) -> set[int]:
        """Segments whose orders are missing or wrong in ``got``.  A sku
        row may carry any renamed version of the sku's name, since the
        DIM store changes while the stream runs."""
        want, segs = self.expected(committed)
        bad = {s.seq for s in self.segments if s.seq not in committed}
        for table in ("sku", "prov", "pay"):
            extra = dict(got[table])
            for key, w in want[table].items():
                g = extra.pop(key, None)
                if table == "sku" and g is not None:
                    sku = key[1]
                    renamed = bool(g[4]) and all(n == f"sku-{sku}"
                                                 or n.startswith(f"sku-{sku}-v") for n in g[4])
                    g = (*g[:4], w[4] if renamed else g[4], *g[5:])
                if g != w:
                    bad |= segs[table][key]
            if extra:  # rows no committed order explains
                bad |= committed
        return bad

    def check(self, spark, stats: StreamStats) -> tuple[StreamStats, set[int], int]:
        """The run's stats, its failed segments and its sinks' file count."""
        bad = self.bad_segments(self.read_outputs(spark), stats.done["main"])
        return stats, bad, parquet_files(self.dirs[k] for k in ("dws_sku", "dws_province",
                                                                 "dwd_pay"))

    def outcome(self, spark, stats: StreamStats):
        return stream_outcome([self.check(spark, stats)])
