"""Census of the defaulted parameters on the warehouse layer's public
functions (no Spark session needed).

Each parameter left here has two values in use or is a deployment
setting (window sizes, state TTL and timer, Kafka group and offsets,
URL ports and databases, sink driver/columns/properties/partitions,
session settings, serving date/limit, server host/port). A parameter
that every caller leaves at its default is a constant; write the value
in the body instead. Adding one means adding it here on purpose.
"""

from __future__ import annotations

import ast
import glob
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(ROOT, "gmall_realtime_ck_spark")

#: the warehouse modules; gmall/fixtures.py generates test data and is not one
MODULES = (
    "gmall/*.py", "sources/*.py", "sinks/*.py", "streaming/state.py", "streaming/backfill.py",
    "serving*.py", "session.py", "catalog.py",
)

PINNED = {
    "gmall/dws.py": {
        "keyword_window": ["size"],
        "traffic_page_view_window": ["size"],
        "home_detail_uv_window": ["size"],
        "dws_user_register_window": ["size"],
        "sku_order_window": ["size"],
        "province_order_window": ["province_dim", "size"],
    },
    "sources/kafka.py": {"read_kafka_stream": ["group_id", "starting_offsets"]},
    "sinks/jdbc.py": {
        "clickhouse_url": ["port", "database"],
        "doris_url": ["port", "database"],
        "jdbc_batch_writer": ["driver", "transient_cols", "properties"],
        "parquet_batch_writer": ["partition_by"],
    },
    "streaming/state.py": {"daily_uv_flags": ["ttl_ms"], "dedup_keep_latest": ["flush_ms"]},
    "serving.py": {
        "gmv": ["date"],
        "province_amounts": ["date"],
        "channel_uv_topk": ["date", "limit"],
        "dp_card_for_day": ["date"],
    },
    "serving_http.py": {"make_server": ["host", "port"], "serve_background": ["host", "port"]},
    "session.py": {"get_spark": ["app_name", "master", "shuffle_partitions", "extra_conf"]},
}


def _defaulted(fn: ast.FunctionDef) -> list[str]:
    a = fn.args
    pos = a.posonlyargs + a.args
    return [p.arg for p in pos[len(pos) - len(a.defaults):]] + [
        k.arg for k, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None
    ]


def _census() -> dict[str, dict[str, list[str]]]:
    out: dict[str, dict[str, list[str]]] = {}
    for pattern in MODULES:
        for path in sorted(glob.glob(os.path.join(PKG, pattern))):
            rel = os.path.relpath(path, PKG)
            if rel == os.path.join("gmall", "fixtures.py"):
                continue
            tree = ast.parse(open(path).read())
            for fn in tree.body:
                if isinstance(fn, ast.FunctionDef) and not fn.name.startswith("_"):
                    params = _defaulted(fn)
                    if params:
                        out.setdefault(rel, {})[fn.name] = params
    return out


def test_warehouse_options_census():
    got = _census()
    assert got == PINNED, (
        "defaulted parameters on the warehouse layer's public functions changed; "
        "a knob no caller varies belongs in the body, a new one belongs in PINNED"
    )
