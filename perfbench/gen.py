"""Seeded input generators for the benchmark workloads.

Every generator takes the run seed and nothing else that varies, so the
same seed gives byte-identical inputs.  Each generator also returns the
facts the correctness checkers need (per-order amounts, per-event keys),
computed here in plain Python, independent of Spark.

The shapes follow ``gmall.fixtures`` (Maxwell ``topic_db`` envelopes,
nested ``topic_log`` events); the dimensions are larger and the topic_db
stream is cut into segments on order boundaries.
"""

from __future__ import annotations

import bisect
import json
import random
import re
from dataclasses import dataclass, field
from datetime import datetime, timedelta, timezone
from decimal import Decimal

CST = timezone(timedelta(hours=8))
#: event-time origin of the replayed streams (a CST midnight)
DAY0 = datetime(2024, 11, 24, 0, 0, 0, tzinfo=CST)
EPOCH0 = int(DAY0.timestamp())

#: tumbling window of every DWS function the workloads call
WINDOW_S = 10
N_SKU = 1200
N_PROVINCE = 120
N_TM = 60
N_C3, N_C2, N_C1 = 150, 40, 10
CHANNELS = ["xiaomi", "huawei", "oppo", "vivo", "appstore", "web", "wechat", "honor"]
KEYWORDS = ["图书", "手机", "平板电视", "小米", "苹果", "book phone", "tv", "laptop bag",
            "耳机 earphone", "running shoes"]
PAGE_IDS = ["home", "good_detail", "search", "login", "cart", "order", "payment", "mine"]

CENT = Decimal("0.01")


def cst_date(epoch_s: int) -> str:
    return datetime.fromtimestamp(epoch_s, CST).strftime("%Y-%m-%d")


def cst_datetime(epoch_s: int) -> str:
    return datetime.fromtimestamp(epoch_s, CST).strftime("%Y-%m-%d %H:%M:%S")


def window_stt(epoch_s: int) -> str:
    """``stt`` of the tumbling event-time window holding ``epoch_s``."""
    return cst_datetime(epoch_s - epoch_s % WINDOW_S)


# -- dimension names: pure functions of the id, so enrichment is checkable


def sku_row(sku: int, version: int = 0) -> dict:
    name = f"sku-{sku}" if version == 0 else f"sku-{sku}-v{version}"
    return {"id": sku, "spu_id": sku // 4, "price": f"{(sku % 97 + 1) * 10}.00",
            "sku_name": name, "tm_id": sku % N_TM, "category3_id": sku % N_C3 + 1}


def province_name(pid: int) -> str:
    return f"province-{pid}"


def c3_parent(c3: int) -> int:
    return c3 % N_C2 + 1


def c2_parent(c2: int) -> int:
    return c2 % N_C1 + 1


#: table_process_dim rows for every dimension the trade chain reads
#: (F3 shape: source_table, sink_table, sink_columns, family, row key)
DIM_CONFIG_ROWS = [
    ("sku_info", "dim_sku_info", "id,spu_id,price,sku_name,tm_id,category3_id", "info", "id"),
    ("spu_info", "dim_spu_info", "id,spu_name", "info", "id"),
    ("base_trademark", "dim_base_trademark", "id,tm_name", "info", "id"),
    ("base_category3", "dim_base_category3", "id,name,category2_id", "info", "id"),
    ("base_category2", "dim_base_category2", "id,name,category1_id", "info", "id"),
    ("base_category1", "dim_base_category1", "id,name", "info", "id"),
    ("base_province", "dim_base_province", "id,name,region_id", "info", "id"),
]

#: dim table → the columns the DWS enrichment reads from its snapshot
DIM_COLUMNS = {
    "dim_sku_info": ["id", "sku_name", "spu_id", "tm_id", "category3_id"],
    "dim_spu_info": ["id", "spu_name"],
    "dim_base_trademark": ["id", "tm_name"],
    "dim_base_category3": ["id", "name", "category2_id"],
    "dim_base_category2": ["id", "name", "category1_id"],
    "dim_base_category1": ["id", "name"],
    "dim_base_province": ["id", "name"],
}


def _env(table: str, typ: str, ts: int, data: dict, old: dict | None = None) -> str:
    env = {"database": "gmall", "table": table, "type": typ, "ts": ts,
           "data": {k: (None if v is None else str(v)) for k, v in data.items()}}
    if old is not None:
        env["old"] = {k: str(v) for k, v in old.items()}
    return json.dumps(env, ensure_ascii=False)


def write_dim_store(store_dir: str) -> int:
    """Stage the DIM store's initial load directly as parquet, in the
    layout ``gmall.dim.merge_dim_batch`` keeps (row_key, data map, ts),
    one directory per dim table.  Returns the rows written."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    cols = {src: (sink, keep.split(","), key) for src, sink, keep, _, key in DIM_CONFIG_ROWS}
    tables: dict[str, list] = {}
    for line in dim_bootstrap_lines():
        env = json.loads(line)
        sink, keep, key = cols[env["table"]]
        data = env["data"]
        tables.setdefault(sink, []).append(
            (data[key], [(k, data[k]) for k in keep if k in data], env["ts"]))
    schema = pa.schema([("row_key", pa.string()), ("data", pa.map_(pa.string(), pa.string())),
                        ("ts", pa.int64())])
    n = 0
    for sink, rows in tables.items():
        path = os.path.join(store_dir, sink)
        os.makedirs(path, exist_ok=True)
        t = pa.table([pa.array([r[i] for r in rows], schema.field(i).type) for i in range(3)],
                     schema=schema)
        pq.write_table(t, os.path.join(path, "part-00000.parquet"))
        n += len(rows)
    return n


def dim_bootstrap_lines() -> list[str]:
    """Maxwell bootstrap-inserts for every dimension row (the DIM store's
    initial load)."""
    out = [_env("sku_info", "bootstrap-insert", EPOCH0, sku_row(s)) for s in range(N_SKU)]
    out += [_env("spu_info", "bootstrap-insert", EPOCH0, {"id": s, "spu_name": f"spu-{s}"})
            for s in range(N_SKU // 4 + 1)]
    out += [_env("base_trademark", "bootstrap-insert", EPOCH0, {"id": t, "tm_name": f"tm-{t}"})
            for t in range(N_TM)]
    out += [_env("base_category3", "bootstrap-insert", EPOCH0,
                 {"id": c, "name": f"c3-{c}", "category2_id": c3_parent(c)})
            for c in range(1, N_C3 + 1)]
    out += [_env("base_category2", "bootstrap-insert", EPOCH0,
                 {"id": c, "name": f"c2-{c}", "category1_id": c2_parent(c)})
            for c in range(1, N_C2 + 1)]
    out += [_env("base_category1", "bootstrap-insert", EPOCH0, {"id": c, "name": f"c1-{c}"})
            for c in range(1, N_C1 + 1)]
    out += [_env("base_province", "bootstrap-insert", EPOCH0,
                 {"id": p, "name": province_name(p), "region_id": p % 7})
            for p in range(1, N_PROVINCE + 1)]
    return out


@dataclass
class Order:
    """What the checkers need to know about one generated order."""

    oid: int
    province: int
    date: str
    stt: str  # window of the order's detail rows
    paid: bool
    details: list[tuple[int, int, Decimal, Decimal, Decimal, Decimal]] = field(default_factory=list)
    # (detail id, sku, original, activity, coupon, total)

    @property
    def total(self) -> Decimal:
        return sum((d[5] for d in self.details), Decimal(0))


@dataclass
class Segment:
    seq: int
    lines: list[str]
    orders: list[Order]
    payload: bytes = b""

    def __post_init__(self):
        self.payload = ("\n".join(self.lines) + "\n").encode()


def _order_lines(rng: random.Random, oid: int, detail_id: int, t0: int,
                 province: int | None = None) -> tuple[list[str], Order, int]:
    """All envelopes of one order's life (insert, details, legs, payment)."""
    user = rng.randrange(50_000)
    prov = province if province is not None else rng.randrange(1, N_PROVINCE + 1)
    lines = [_env("order_info", "insert", t0, {
        "id": oid, "user_id": user, "province_id": prov, "order_status": "1001",
        "create_time": cst_datetime(t0), "operate_time": None, "total_amount": "0"})]
    order = Order(oid, prov, cst_date(t0), window_stt(t0), paid=False)
    for _ in range(rng.randrange(1, 5)):
        detail_id += 1
        sku = min(int(rng.paretovariate(1.2)) - 1, N_SKU - 1)  # skewed sku popularity
        num = rng.randrange(1, 5)
        price = Decimal((sku % 97 + 1) * 10)
        original = (price * num).quantize(CENT)
        total = (original * Decimal("0.9")).quantize(CENT)
        act = (original * Decimal("0.1")).quantize(CENT) if rng.random() < 0.3 else Decimal("0.0")
        cou = (original * Decimal("0.05")).quantize(CENT) if rng.random() < 0.2 else Decimal("0.0")
        lines.append(_env("order_detail", "insert", t0, {
            "id": detail_id, "order_id": oid, "sku_id": sku, "sku_name": f"sku-{sku}",
            "create_time": cst_datetime(t0), "source_id": None, "source_type": "2401",
            "sku_num": num, "order_price": f"{price:.2f}", "split_total_amount": f"{total:.2f}",
            "split_activity_amount": f"{act}", "split_coupon_amount": f"{cou}"}))
        if rng.random() < 0.3:
            lines.append(_env("order_detail_activity", "insert", t0, {
                "order_detail_id": detail_id, "order_id": oid,
                "activity_id": rng.randrange(1, 6), "activity_rule_id": rng.randrange(1, 12)}))
        if rng.random() < 0.2:
            lines.append(_env("order_detail_coupon", "insert", t0, {
                "order_detail_id": detail_id, "order_id": oid, "coupon_id": rng.randrange(1, 8)}))
        order.details.append((detail_id, sku, original, act, cou, total))
    t1 = t0 + rng.randrange(30, 600)
    r = rng.random()
    if r < 0.15:
        lines.append(_env("order_info", "update", t1,
                          {"id": oid, "order_status": "1003", "operate_time": cst_datetime(t1)},
                          {"order_status": "1001"}))
    elif r < 0.8:
        order.paid = True
        lines.append(_env("order_info", "update", t1,
                          {"id": oid, "order_status": "1002", "operate_time": cst_datetime(t1)},
                          {"order_status": "1001"}))
        lines.append(_env("payment_info", "update", t1, {
            "id": oid, "order_id": oid, "user_id": user,
            "payment_type": rng.choice(["1101", "1102", "1103"]), "payment_status": "1602",
            "callback_time": cst_datetime(t1), "total_amount": f"{order.total:.2f}"},
            {"payment_status": "1601"}))
    return lines, order, detail_id


def trade_segments(seed: int, n_segments: int, orders_per_segment: int,
                   seconds_per_segment: int = 3) -> list[Segment]:
    """The topic_db replay: ``n_segments`` segments of whole orders.

    Event time advances ``seconds_per_segment`` per segment, so windows
    fill in order.  Every segment also carries one ``sku_info`` update (a
    renamed sku version) for the DIM merge, so every micro-batch runs the
    merge and a batch's cost does not hinge on whether its segments
    happened to hold one.
    """
    rng = random.Random(seed)
    segments = []
    oid = detail_id = 0
    versions: dict[int, int] = {}
    for seq in range(n_segments):
        base = EPOCH0 + 3600 + seq * seconds_per_segment
        lines: list[str] = []
        orders = []
        for _ in range(orders_per_segment):
            oid += 1
            t0 = base + rng.randrange(seconds_per_segment)
            ol, order, detail_id = _order_lines(rng, oid, detail_id, t0)
            lines += ol
            orders.append(order)
        sku = rng.randrange(N_SKU)
        versions[sku] = versions.get(sku, 0) + 1
        old = sku_row(sku, versions[sku] - 1)
        lines.append(_env("sku_info", "update", base, sku_row(sku, versions[sku]),
                          {"sku_name": old["sku_name"]}))
        segments.append(Segment(seq, lines, orders))
    return segments


# -- topic_log


class ZipfKeys:
    """Bounded Zipf sampler over ``n`` keys (key 0 is the hottest)."""

    def __init__(self, n: int, s: float):
        acc, cum = 0.0, []
        for k in range(1, n + 1):
            acc += 1.0 / k ** s
            cum.append(acc)
        self.cum = cum

    def sample(self, rng: random.Random) -> int:
        return bisect.bisect_left(self.cum, rng.random() * self.cum[-1])


@dataclass
class LogSegment:
    seq: int
    lines: list[str]
    pages: list[tuple]  # (mid number, cur_date, ts ms, ch, during_time, session start)
    keywords: list[tuple[str, str]]  # (window stt, keyword) per token occurrence
    dirty: int
    payload: bytes = b""

    def __post_init__(self):
        self.payload = ("\n".join(self.lines) + "\n").encode()


def _tokens(text: str) -> list[str]:
    """Python twin of ``dws.tokenize`` (ASCII word runs + single CJK chars)."""
    return re.findall(r"[a-z0-9]+|[一-鿿]", text.lower())


N_MIDS = 200_000
ZIPF_S = 1.1
#: every 100th event is dirty (1%), the first one included, so the warm-up
#: already takes the dirty-row path and no seed moves its first use into
#: the measured phase
DIRTY_EVERY = 100


def log_segments(seed: int, n_segments: int, events_per_segment: int,
                 ms_per_segment: int = 4000) -> list[LogSegment]:
    """The topic_log replay: nested page events keyed by Zipf-skewed mids.

    Event time starts at 23:59 CST of DAY0 and advances with the
    segments, so the replay crosses a day boundary (daily-UV state sees
    the same mid on two dates)."""
    rng = random.Random(seed)
    keys = ZipfKeys(N_MIDS, ZIPF_S)
    t_base = (EPOCH0 + 86400 - 60) * 1000
    out = []
    i = 0
    for seq in range(n_segments):
        lines, pages, kws, dirty = [], [], [], 0
        for _ in range(events_per_segment):
            i += 1
            if i % DIRTY_EVERY == 1:
                lines.append(f"@@not-json-{i}@@")
                dirty += 1
                continue
            mid = keys.sample(rng)
            ts = t_base + seq * ms_per_segment + rng.randrange(ms_per_segment)
            page_id = rng.choice(PAGE_IDS)
            last = rng.choice([None, "home", "search", "login", "good_detail"])
            item = None
            if page_id == "search":
                item = rng.choice(KEYWORDS)
                if last not in ("search", "home"):
                    last = rng.choice(["search", "home"])
            ch = rng.choice(CHANNELS)
            ev = {
                "common": {"mid": f"mid_{mid}", "uid": str(rng.randrange(400)),
                           "vc": f"v2.1.{rng.randrange(3)}", "ch": ch,
                           "ar": str(rng.randrange(1, 35)), "is_new": rng.choice("01"),
                           "ba": "phone", "md": "model-x", "os": "android", "sid": f"sid_{i}"},
                "page": {"page_id": page_id, "last_page_id": last, "item": item,
                         "item_type": "keyword" if item else None,
                         "during_time": rng.randrange(1000, 20000)},
                "ts": ts,
            }
            if rng.random() < 0.3:
                ev["displays"] = [{"item": str(rng.randrange(N_SKU)), "item_type": "sku_id",
                                   "pos_id": str(p), "order": str(p)}
                                  for p in range(rng.randrange(1, 4))]
            if rng.random() < 0.2:
                ev["actions"] = [{"action_id": rng.choice(["cart_add", "favor_add"]),
                                  "item": str(rng.randrange(N_SKU)), "item_type": "sku_id",
                                  "ts": ts + 500}]
            lines.append(json.dumps(ev, ensure_ascii=False))
            pages.append((mid, cst_date(ts // 1000), ts, ch, ev["page"]["during_time"],
                          int(last is None)))
            if item:
                stt = window_stt(ts // 1000)
                kws += [(stt, w) for w in _tokens(item)]
        out.append(LogSegment(seq, lines, pages, kws, dirty))
    return out


# -- dashboard history


def dashboard_history(seed: int, n_dates: int, orders_per_date: int,
                      windows_per_channel: int) -> tuple[list[str], list[Order], list[dict]]:
    """Orders and traffic-window rows over ``n_dates`` consecutive CST
    dates.  Returns (dates, orders, traffic rows); the last date is the
    live one the dashboard's writer keeps appending to."""
    rng = random.Random(seed)
    dates, orders, traffic = [], [], []
    oid = detail_id = 0
    for d in range(n_dates):
        day0 = EPOCH0 + d * 86400
        dates.append(cst_date(day0))
        for _ in range(orders_per_date):
            oid += 1
            _, order, detail_id = _order_lines(rng, oid, detail_id, day0 + rng.randrange(80_000))
            orders.append(order)
        for ch in CHANNELS:
            for t in sorted(rng.sample(range(8640), windows_per_channel)):
                uv = rng.randrange(40)
                pv = uv + rng.randrange(60)
                stt = day0 + t * WINDOW_S
                traffic.append({"stt": cst_datetime(stt), "edt": cst_datetime(stt + WINDOW_S),
                                "cur_date": dates[-1], "vc": f"v2.1.{rng.randrange(3)}",
                                "ch": ch, "ar": str(rng.randrange(1, 35)),
                                "is_new": rng.choice("01"), "uv_ct": uv,
                                "sv_ct": rng.randrange(pv + 1), "pv_ct": pv,
                                "dur_sum": pv * rng.randrange(1000, 9000)})
    return dates, orders, traffic


def live_orders(seed: int, batch: int, first_oid: int, first_detail: int, live_date: str,
                n_orders: int) -> tuple[list[str], list[Order]]:
    """One writer batch of whole orders on the live date."""
    rng = random.Random(seed * 1_000_003 + batch)
    day0 = int(datetime.strptime(live_date, "%Y-%m-%d").replace(tzinfo=CST).timestamp())
    lines, orders = [], []
    oid, detail_id = first_oid, first_detail
    for _ in range(n_orders):
        oid += 1
        ol, order, detail_id = _order_lines(rng, oid, detail_id, day0 + rng.randrange(80_000))
        lines += ol
        orders.append(order)
    return lines, orders
