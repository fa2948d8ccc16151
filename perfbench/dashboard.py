"""``dashboard``: closed-loop reads beside live writes on the DWS tables.

Setup stages ~30 seeded dates of the trade province window and the
traffic channel window, in the output schema of the ``dws`` functions,
and serves them with ``serving_http``.  During the run, 3 client threads call ``/gmv``,
``/province`` and ``/ch`` (80% on the live date) and 1 writer
thread appends a batch of live-date orders through
``sinks.jdbc.parquet_batch_writer`` every couple of seconds, then
re-binds the service with ``serving.load_dws``.  The clients run until
at least ten live-date reads were sent after a write had committed.

Every response is checked against answers computed in plain Python
from the generated orders and events.  A live-date answer must equal
the committed state at some moment between the request's send and its
receipt; an older answer is a stale read and fails the request.
"""

from __future__ import annotations

import json
import os
import random
import sys
import threading
import time
import urllib.request
from datetime import datetime, timedelta
from decimal import Decimal

from . import gen
from .harness import Outcome, pct

N_DATES = 30
ORDERS_PER_DATE = 200
WINDOWS_PER_CHANNEL = 12
CLIENTS = 3
#: every fifth request of a client reads a seeded history date, the rest
#: the live date; endpoints rotate.  A fixed mix keeps the seed from
#: changing how many requests of each kind a run holds.
HISTORY_EVERY = 5
WRITE_EVERY_S = 3.0
ORDERS_PER_WRITE = 15
ENDPOINTS = ("/gmv", "/province", "/ch")
#: the clients run past --seconds until this many requests have completed,
#: so the median always has ten samples beyond it
MIN_REQUESTS = 40
#: ... and until this many live-date /gmv and /province reads were sent
#: after a write had committed, so every run checks freshness under writes
MIN_FRESH_READS = 10


def _ch_top5(rows: list[dict]) -> list[dict]:
    """/ch answer for one date: uv summed per channel, top 5 by uv, then
    channel name."""
    counts: dict[str, int] = {}
    for r in rows:
        counts[r["ch"]] = counts.get(r["ch"], 0) + r["uv_ct"]
    top = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:5]
    return [{"ch": ch, "uv_ct": n} for ch, n in top]


def _province_rows(orders: list) -> list[dict]:
    """The rows ``dws.province_order_window`` makes of these orders."""
    acc: dict[tuple, list] = {}
    for o in orders:
        a = acc.setdefault((o.date, o.stt, o.province), [Decimal(0), 0])
        a[0] += o.total
        a[1] += 1
    rows = []
    for (date, stt, prov), (amount, n) in sorted(acc.items()):
        edt = datetime.strptime(stt, "%Y-%m-%d %H:%M:%S") + timedelta(seconds=gen.WINDOW_S)
        rows.append({"stt": stt, "edt": edt.strftime("%Y-%m-%d %H:%M:%S"), "cur_date": date,
                     "province_id": str(prov), "order_count": n, "order_amount": amount,
                     "province_name": gen.province_name(prov)})
    return rows


def _stage(spark_schema, rows: list[dict], path: str) -> None:
    """Write DWS rows as date-partitioned parquet in the schema the dws
    function's plan declares (read from its analysed plan, not run)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.types import DecimalType, IntegerType, LongType, StringType

    def arrow(t):
        if isinstance(t, DecimalType):
            return pa.decimal128(t.precision, t.scale)
        return {LongType: pa.int64(), IntegerType: pa.int32(), StringType: pa.string()}[type(t)]

    fields = [f for f in spark_schema.fields if f.name != "cur_date"]
    schema = pa.schema([(f.name, arrow(f.dataType)) for f in fields])
    by_date: dict[str, list] = {}
    for r in rows:
        by_date.setdefault(r["cur_date"], []).append(r)
    for date, rs in by_date.items():
        part = os.path.join(path, f"cur_date={date}")
        os.makedirs(part, exist_ok=True)
        table = pa.table({f.name: pa.array([r[f.name] for r in rs], schema.field(f.name).type)
                          for f in fields}, schema=schema)
        pq.write_table(table, os.path.join(part, "part-00000-staged.parquet"))


class Committed:
    """The live date's trade totals, one version per completed write."""

    def __init__(self, gmv: Decimal, provinces: dict[str, Decimal]):
        self.lock = threading.Lock()
        self.versions = [(gmv, dict(provinces))]

    def current(self) -> int:
        with self.lock:
            return len(self.versions) - 1

    def add(self, orders: list) -> None:
        with self.lock:
            gmv, prov = self.versions[-1]
            prov = dict(prov)
            for o in orders:
                name = gen.province_name(o.province)
                prov[name] = prov.get(name, Decimal(0)) + o.total
                gmv += o.total
            self.versions.append((gmv, prov))

    def between(self, lo: int, hi: int) -> list[tuple]:
        with self.lock:
            return self.versions[lo: hi + 1]


def _gmv_ok(value, gmv: Decimal) -> bool:
    return abs(Decimal(str(value)) - gmv) < Decimal("0.005")


def _province_ok(data, prov: dict[str, Decimal]) -> bool:
    got = {d["name"]: d["value"] for d in data}
    return got.keys() == prov.keys() and all(_gmv_ok(got[k], v) for k, v in prov.items())


class Workload:
    def __init__(self, ctx):
        self.ctx = ctx

    @property
    def offered(self) -> dict:
        return {"clients": CLIENTS, "writers": 1, "live_share": 1 - 1 / HISTORY_EVERY,
                "write_every_s": WRITE_EVERY_S, "orders_per_write": ORDERS_PER_WRITE}

    # -- setup

    def setup(self, spark, root: str) -> None:
        from gmall_realtime_ck_spark import serving
        from gmall_realtime_ck_spark.gmall import dwd, dws
        from gmall_realtime_ck_spark.serving_http import PublisherService, serve_background

        self.close()
        dates, orders, traffic = gen.dashboard_history(self.ctx.seed, N_DATES, ORDERS_PER_DATE,
                                                       WINDOWS_PER_CHANNEL)
        self.dates, self.live = dates, dates[-1]
        self.prov_path = os.path.join(root, "dws_province")
        self.traffic_path = os.path.join(root, "dws_traffic")
        self.province_dim = spark.createDataFrame(
            [(str(p), gen.province_name(p)) for p in range(1, gen.N_PROVINCE + 1)],
            "id string, name string")
        # history staged in the exact output schema of the dws functions
        empty = spark.createDataFrame([], "value string")
        prov_schema = dws.province_order_window(
            dwd.order_detail_star(dwd.parse_topic_db(empty)), self.province_dim).schema
        traffic_schema = dws.traffic_page_view_window(dwd.split_log(empty)["page"]).schema
        _stage(prov_schema, _province_rows(orders), self.prov_path)
        _stage(traffic_schema, traffic, self.traffic_path)

        # the answers, from the generated data alone
        self.gmv = {d: Decimal(0) for d in dates}
        self.prov = {d: {} for d in dates}
        for o in orders:
            self.gmv[o.date] += o.total
            p = self.prov[o.date]
            name = gen.province_name(o.province)
            p[name] = p.get(name, Decimal(0)) + o.total
        self.ch = {d: _ch_top5([r for r in traffic if r["cur_date"] == d]) for d in dates}
        self.committed = Committed(self.gmv[self.live], self.prov[self.live])
        self.next_oid = len(orders) + 1_000_000
        self.next_detail = 10_000_000

        self.service = PublisherService(serving.load_dws(spark, self.prov_path),
                                        serving.load_dws(spark, self.traffic_path))
        self.server, self.url = serve_background(self.service)

    def start(self, spark) -> None:
        """One request per endpoint: first use compiles the serving plans."""
        for ep in ENDPOINTS:
            self._get(f"{ep}?date={self.live}")

    def close(self) -> None:
        server = getattr(self, "server", None)
        if server is not None:
            server.shutdown()
            server.server_close()
            self.server = None

    def _get(self, path: str):
        with urllib.request.urlopen(self.url + path, timeout=60) as resp:
            return json.loads(resp.read())

    # -- measured phase

    def measure(self, spark):
        tr = self.ctx.tracer
        stop = threading.Event()
        results: list[tuple] = []  # (latency s, ok, stale, error, fresh read)
        writes: list[tuple] = []  # (ok, seconds)
        lock = threading.Lock()
        query_s = [0.0]

        if tr.enabled:  # time the handler (Spark query + collect) per request
            handle = self.service.handle

            def timed_handle(path, params):
                rid = (params.get("rid") or [None])[0]
                t = time.perf_counter()
                with tr.span("serving.query", rid):
                    out = handle(path, params)
                with lock:
                    query_s[0] += time.perf_counter() - t
                return out

            self.service.handle = timed_handle

        def client(k: int) -> None:
            rng = random.Random(self.ctx.seed * 7919 + k)
            n = 0
            while not stop.is_set():
                n += 1
                rid = f"c{k}-{n}"
                date = rng.choice(self.dates[:-1]) if n % HISTORY_EVERY == 0 else self.live
                ep = ENDPOINTS[(n + k) % len(ENDPOINTS)]
                v_send = self.committed.current()
                t = time.perf_counter()
                try:
                    with tr.span("serving.http", rid):
                        body = self._get(f"{ep}?date={date.replace('-', '')}&rid={rid}")
                    err = body.get("status") != 0
                except OSError:
                    body, err = None, True
                lat = time.perf_counter() - t
                ok, stale = (False, False) if err else self._check(ep, date, body["data"], v_send)
                # a read sent after a commit: a stale answer would show
                fresh = date == self.live and ep != "/ch" and v_send >= 1
                with lock:
                    results.append((lat, ok, stale, err, fresh))

        def writer() -> None:
            spark.sparkContext.setJobGroup("perfbench-writer", "live DWS appends")
            k = 0
            t_next = time.perf_counter() + WRITE_EVERY_S / 2
            while not stop.wait(max(0.0, t_next - time.perf_counter())):
                k += 1
                t = time.perf_counter()
                try:
                    self._write(spark, k)
                    writes.append((True, time.perf_counter() - t))
                except Exception as exc:  # a failed write is a counted failure
                    writes.append((False, time.perf_counter() - t))
                    print(f"live write {k} failed: {exc!r}", file=sys.stderr)
                t_next += WRITE_EVERY_S

        clients = [threading.Thread(target=client, args=(k,)) for k in range(CLIENTS)]
        writer_thread = threading.Thread(target=writer)
        t0 = time.perf_counter()
        for t in (*clients, writer_thread):
            t.start()
        def enough() -> bool:
            with lock:
                return (len(results) >= MIN_REQUESTS
                        and sum(r[4] for r in results) >= MIN_FRESH_READS)

        stop.wait(self.ctx.seconds)
        while not enough() and time.perf_counter() - t0 < 120:
            time.sleep(0.05)
        stop.set()
        for t in clients:
            t.join(timeout=120)
        wall = time.perf_counter() - t0  # the clients' time, not the last write's
        writer_thread.join(timeout=120)
        self.close()
        spark.sparkContext.setJobGroup("perfbench-check", "checks")
        return {"results": results, "writes": writes, "wall": wall, "query_s": query_s[0]}

    def _write(self, spark, k: int) -> None:
        from gmall_realtime_ck_spark import serving
        from gmall_realtime_ck_spark.gmall import dwd, dws
        from gmall_realtime_ck_spark.sinks.jdbc import parquet_batch_writer

        tr = self.ctx.tracer
        lines, orders = gen.live_orders(self.ctx.seed, k, self.next_oid, self.next_detail,
                                        self.live, ORDERS_PER_WRITE)
        self.next_oid += ORDERS_PER_WRITE
        self.next_detail += 10 * ORDERS_PER_WRITE
        tid = f"w{k}"
        raw = spark.createDataFrame([(x,) for x in lines], "value string")
        db = tr.layer("dwd.parse_topic_db", tid, dwd.parse_topic_db, raw)
        star = tr.layer("dwd.order_detail_star", tid, dwd.order_detail_star, db)
        window = tr.layer("dws.province_window", tid, dws.province_order_window, star,
                          self.province_dim)
        with tr.span("sinks.write", tid):
            parquet_batch_writer(self.prov_path, ("cur_date",))(window, k)
        with tr.span("serving.rebind", tid):
            self.service.province_window = serving.load_dws(spark, self.prov_path)
        tr.release()
        self.committed.add(orders)

    def _check(self, ep: str, date: str, data, v_send: int) -> tuple[bool, bool]:
        """(correct, stale) for one response."""
        if ep == "/ch":
            return data == self.ch[date], False
        if date != self.live:
            if ep == "/gmv":
                return _gmv_ok(data, self.gmv[date]), False
            return _province_ok(data, self.prov[date]), False
        window = self.committed.between(v_send, self.committed.current())
        ok = (any(_gmv_ok(data, g) for g, _ in window) if ep == "/gmv"
              else any(_province_ok(data, p) for _, p in window))
        if ok:
            return True, False
        older = self.committed.between(0, max(v_send - 1, 0))
        stale = (any(_gmv_ok(data, g) for g, _ in older) if ep == "/gmv"
                 else any(_province_ok(data, p) for _, p in older))
        return False, stale

    def outcome(self, spark, m) -> Outcome:
        res, writes = m["results"], m["writes"]
        lat = [r[0] for r in res]
        failed = sum(1 for r in res if not r[1]) + sum(1 for w in writes if not w[0])
        fresh = sum(1 for r in res if r[4])
        if fresh < MIN_FRESH_READS:  # the freshness check did not run: not a pass
            print(f"only {fresh} live reads after a committed write", file=sys.stderr)
            failed += 1
        tr = self.ctx.tracer
        times = tr.self_times()
        live = os.path.join(self.prov_path, f"cur_date={self.live}")
        layers = {
            "serving.query_s": m["query_s"],
            "serving.http_s": max(0.0, times.get("serving.http", 0.0) - m["query_s"]),
            "serving.stale_reads": float(sum(1 for r in res if r[2])),
            "serving.errors": float(sum(1 for r in res if r[3])),
            "sinks.files": float(sum(1 for f in os.listdir(live) if f.endswith(".parquet"))),
            "serving.requests": float(len(res)),
        }
        throughput = len(res) / m["wall"]
        lat_ms = [x * 1000 for x in lat]
        named = {"req_p50_ms": (pct(lat_ms, 50), "ms"), "req_p90_ms": (pct(lat_ms, 90), "ms"),
                 "req_p99_ms": (pct(lat_ms, 99), "ms"), "req_per_s": (throughput, "1/s"),
                 "writes": (len(writes), "count"), "fresh_reads": (fresh, "count"),
                 "write_s_max": (max((w[1] for w in writes), default=0.0), "s")}
        return Outcome(lat, throughput, len(res) + len(writes), failed, layers, named)
