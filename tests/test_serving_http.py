"""Publisher REST facade e2e (VERDICT r3 What's-missing #2): the
Spring Boot controller routes (/gmv /province /ch —
TradeStatsController.java:29-54, TrafficStatsController.java:27-50)
served over a real HTTP socket by the stdlib shell in
serving_http.py, hitting the same oracled serving builders."""

from __future__ import annotations

import json
import urllib.request

from gmall_realtime_ck_spark.serving_http import PublisherService, serve_background


def _get(url):
    with urllib.request.urlopen(url, timeout=30) as r:
        return r.status, json.loads(r.read().decode())


def test_publisher_endpoints(spark):
    pw = spark.createDataFrame(
        [
            ("2024-11-28", "Beijing", 100.5),
            ("2024-11-28", "Shanghai", 200.0),
            ("2024-11-29", "Beijing", 999.0),
        ],
        "cur_date string, province_name string, order_amount double",
    )
    tw = spark.createDataFrame(
        [
            ("2024-11-28", "app", 10),
            ("2024-11-28", "web", 30),
            ("2024-11-28", "mini", 20),
            ("2024-11-29", "app", 7),
        ],
        "cur_date string, ch string, uv_ct long",
    )
    server, base = serve_background(PublisherService(pw, tw))
    try:
        # /gmv with the controller's yyyyMMdd date form
        status, body = _get(f"{base}/gmv?date=20241128")
        assert status == 200 and body["status"] == 0
        assert body["data"] == 300.5

        status, body = _get(f"{base}/province?date=2024-11-28")
        assert status == 200
        assert {d["name"]: d["value"] for d in body["data"]} == {
            "Beijing": 100.5,
            "Shanghai": 200.0,
        }
        # ascending by amount, the mapper's ORDER BY
        assert [d["name"] for d in body["data"]] == ["Beijing", "Shanghai"]

        status, body = _get(f"{base}/ch?date=20241128&limit=2")
        assert status == 200
        assert body["data"] == [{"ch": "web", "uv_ct": 30}, {"ch": "mini", "uv_ct": 20}]

        # unknown route → 404
        try:
            urllib.request.urlopen(f"{base}/nope", timeout=30)
            raised = False
        except urllib.error.HTTPError as e:
            raised = e.code == 404
        assert raised
    finally:
        server.shutdown()


def test_dp_endpoint_serves_release_only(spark, tables):
    """GET /dp (r11 — publisher parity for the privacy ladder): the
    /province mapData shape rendered from the DP RELEASE card. The
    endpoint must (a) serve exactly the card's top-K rows for the
    requested day in rank order, (b) carry noisy values that match the
    release (never raw counts — for cells where the noise draw is
    non-zero the served value differs from the true count), and
    (c) 404-fall-through when no card table is wired."""
    from pyspark.sql import functions as F

    from gmall_realtime_ck_spark.operators.privacy import (
        dp_count_release,
        dp_release_card,
    )

    card = dp_release_card(dp_count_release(tables))
    day = card.agg(F.min("day")).first()[0]
    want = sorted(
        (
            (r["rk"], r["event_type"], r["noisy_count"], r["share_permille"])
            for r in card.filter(F.col("day") == day).collect()
        )
    )
    pw = spark.createDataFrame(
        [("2024-11-28", "Beijing", 1.0)],
        "cur_date string, province_name string, order_amount double",
    )
    tw = spark.createDataFrame(
        [("2024-11-28", "app", 1)], "cur_date string, ch string, uv_ct long"
    )
    server, base = serve_background(PublisherService(pw, tw, dp_card=card))
    try:
        status, body = _get(f"{base}/dp?date={day}")
        assert status == 200 and body["status"] == 0
        got = body["data"]["mapData"]
        assert [g["name"] for g in got] == [w[1] for w in want]
        assert [g["value"] for g in got] == [w[2] for w in want]
        assert [g["sharePermille"] for g in got] == [w[3] for w in want]
        # raw counts for the served cells, for the release-only check
        truth = {
            r["event_type"]: r["n"]
            for r in tables["events"]
            .filter(F.date_format("ts", "yyyy-MM-dd") == day)
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        assert any(g["value"] != float(truth[g["name"]]) for g in got)
    finally:
        server.shutdown()
    # no card wired → route falls through to 404
    server2, base2 = serve_background(PublisherService(pw, tw))
    try:
        try:
            urllib.request.urlopen(f"{base2}/dp", timeout=30)
            raised = False
        except urllib.error.HTTPError as e:
            raised = e.code == 404
        assert raised
    finally:
        server2.shutdown()


def test_dp_endpoint_never_serves_open_cells(spark, tables):
    """Release-once contract closed END-TO-END (VERDICT r11 #6): wire
    the publisher's /dp card from the append-mode CLOSED release
    (flow_dp_release_closed) — the production topology, where only
    watermark-closed days ever reach the card — and assert over a live
    HTTP socket that (a) a closed day serves its released cells, and
    (b) the still-open max event day serves an EMPTY card: the
    publisher physically cannot expose a count that can still change,
    because un-released cells never exist in its backing table.
    (/province serves exact amounts by design — it is not a DP
    surface; this pins that the DP surface's openness boundary is the
    stream's eviction boundary, not dashboard-layer filtering.)"""
    from pyspark.sql import functions as F

    from gmall_realtime_ck_spark.operators.privacy import dp_release_card
    from gmall_realtime_ck_spark.streaming import pipelines
    from tests.conftest import SF_DIR

    released = pipelines.flow_dp_release_closed(spark, SF_DIR)
    card = dp_release_card(released)
    max_day = (
        tables["events"].agg(F.date_format(F.max("ts"), "yyyy-MM-dd")).first()[0]
    )
    released_days = {r["day"] for r in card.select("day").distinct().collect()}
    assert max_day not in released_days and released_days
    closed_day = max(released_days)
    pw = spark.createDataFrame(
        [("2024-11-28", "Beijing", 1.0)],
        "cur_date string, province_name string, order_amount double",
    )
    tw = spark.createDataFrame(
        [("2024-11-28", "app", 1)], "cur_date string, ch string, uv_ct long"
    )
    server, base = serve_background(PublisherService(pw, tw, dp_card=card))
    try:
        status, body = _get(f"{base}/dp?date={closed_day}")
        assert status == 200 and body["data"]["mapData"]
        status, body = _get(f"{base}/dp?date={max_day}")
        assert status == 200 and body["data"]["mapData"] == []
    finally:
        server.shutdown()


# ---------------------------------------------------------------------------
# Per-binding memo: a bound table's answers are memoized until it is re-bound
# ---------------------------------------------------------------------------

PW_SCHEMA = "cur_date string, province_name string, order_amount double"
TW_SCHEMA = "cur_date string, ch string, uv_ct long"


def _dws(spark, tmp_path, rows):
    """A date-partitioned DWS province table written by the sink writer,
    and a service bound to it through serving.load_dws."""
    from gmall_realtime_ck_spark import serving
    from gmall_realtime_ck_spark.sinks.jdbc import parquet_batch_writer

    path = str(tmp_path / "dws_province")
    write = parquet_batch_writer(path, ("cur_date",))
    write(spark.createDataFrame(rows, PW_SCHEMA), 0)
    tw = spark.createDataFrame([("2024-11-28", "app", 1)], TW_SCHEMA)
    return path, write, PublisherService(serving.load_dws(spark, path), tw)


def _gmv(service, date="20241128"):
    return service.handle("/gmv", {"date": [date]})["data"]


def test_rebind_serves_appended_rows(spark, tmp_path):
    """perfbench/README.md "Known gap": a bound service keeps the file
    listing it was bound with, so an append stays invisible (10.0) until
    the table is re-bound; the re-bind serves it (15.0)."""
    from gmall_realtime_ck_spark import serving

    path, write, service = _dws(spark, tmp_path, [("2024-11-28", "Beijing", 10.0)])
    server, base = serve_background(service)
    try:
        assert _get(f"{base}/gmv?date=20241128")[1]["data"] == 10.0
        write(spark.createDataFrame([("2024-11-28", "Shanghai", 5.0)], PW_SCHEMA), 1)
        assert _get(f"{base}/gmv?date=20241128")[1]["data"] == 10.0
        service.province_window = serving.load_dws(spark, path)
        assert _get(f"{base}/gmv?date=20241128")[1]["data"] == 15.0
    finally:
        server.shutdown()
        server.server_close()


def test_repeat_history_read_runs_no_spark_job(spark, tmp_path):
    _, _, service = _dws(
        spark, tmp_path, [("2024-11-27", "Beijing", 3.0), ("2024-11-28", "Beijing", 10.0)]
    )
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    sc.setJobGroup("serving-memo-miss", "first read of a date")
    first = service.handle("/province", {"date": ["2024-11-27"]})
    sc.setJobGroup("serving-memo-hit", "repeat read of the date")
    again = service.handle("/province", {"date": ["20241127"]})  # same date, other form
    sc.setJobGroup("serving-memo-after", "later reads")
    assert first == again == {"status": 0, "msg": "",
                              "data": [{"name": "Beijing", "value": 3.0}]}
    assert len(tracker.getJobIdsForGroup("serving-memo-miss")) > 0
    assert tracker.getJobIdsForGroup("serving-memo-hit") == []


def test_rebind_during_miss_keeps_old_answer_out(spark, tmp_path, monkeypatch):
    """A miss that started on the old binding finishes after a re-bind:
    its answer goes to the old binding's memo, never the new one's."""
    import threading

    from gmall_realtime_ck_spark import serving

    path, write, service = _dws(spark, tmp_path, [("2024-11-28", "Beijing", 10.0)])
    write(spark.createDataFrame([("2024-11-28", "Shanghai", 5.0)], PW_SCHEMA), 1)
    collected, release = threading.Event(), threading.Event()
    real = serving.as_dashboard_json

    def gated(df):
        rows = real(df)
        if threading.current_thread().name == "old-binding-miss":
            collected.set()
            assert release.wait(60)
        return rows

    monkeypatch.setattr(serving, "as_dashboard_json", gated)
    out = []
    t = threading.Thread(target=lambda: out.append(_gmv(service)), name="old-binding-miss")
    t.start()
    assert collected.wait(60)  # the old binding's answer is computed, not yet stored
    service.province_window = serving.load_dws(spark, path)
    release.set()
    t.join(60)
    assert out == [10.0]
    assert _gmv(service) == 15.0
    assert _gmv(service) == 15.0


def test_memory_sink_binding_is_answered_fresh(spark, tmp_path):
    """A memory-sink table changes under the same DataFrame, so it is
    not memoized: every request sees the latest micro-batch."""
    src = tmp_path / "src"
    src.mkdir()

    def drop(name, amount):
        (src / name).write_text(json.dumps(
            {"cur_date": "2024-11-28", "province_name": "Beijing", "order_amount": amount}))

    drop("a.json", 10.0)
    q = (
        spark.readStream.schema(PW_SCHEMA).json(str(src))
        .writeStream.format("memory").queryName("serving_memo_pw").outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        tw = spark.createDataFrame([("2024-11-28", "app", 1)], TW_SCHEMA)
        service = PublisherService(spark.table("serving_memo_pw"), tw)
        assert _gmv(service) == 10.0
        drop("b.json", 5.0)
        q.processAllAvailable()
        assert _gmv(service) == 15.0
    finally:
        q.stop()


def test_default_date_is_keyed_by_the_normalized_date(spark, monkeypatch):
    from gmall_realtime_ck_spark import serving

    pw = spark.createDataFrame(
        [("2024-11-28", "Beijing", 10.0), ("2024-11-29", "Beijing", 7.0)], PW_SCHEMA
    )
    tw = spark.createDataFrame([("2024-11-28", "app", 1)], TW_SCHEMA)
    service = PublisherService(pw, tw)
    monkeypatch.setattr(serving, "_default_date", lambda: "2024-11-28")
    assert service.handle("/gmv", {})["data"] == 10.0
    monkeypatch.setattr(serving, "_default_date", lambda: "2024-11-29")
    assert service.handle("/gmv", {})["data"] == 7.0
    assert _gmv(service, "20241128") == 10.0  # the earlier default's entry


def test_errors_and_404s_are_not_memoized(spark, monkeypatch):
    from gmall_realtime_ck_spark import serving

    pw = spark.createDataFrame([("2024-11-28", "Beijing", 10.0)], PW_SCHEMA)
    tw = spark.createDataFrame([("2024-11-28", "app", 1)], TW_SCHEMA)
    service = PublisherService(pw, tw)
    real, calls = serving.as_dashboard_json, []

    def flaky(df):
        calls.append(1)
        if len(calls) == 1:
            raise RuntimeError("query failed")
        return real(df)

    monkeypatch.setattr(serving, "as_dashboard_json", flaky)
    server, base = serve_background(service)
    try:
        for path, code in (("/gmv?date=20241128", 500), ("/ch?limit=x", 500),
                           ("/dp?date=20241128", 404), ("/nope", 404)):
            try:
                urllib.request.urlopen(f"{base}{path}", timeout=30)
                got = 200
            except urllib.error.HTTPError as e:
                got = e.code
            assert got == code, path
        assert service._province_window[1] == {}
        assert service._traffic_window[1] == {}
        assert _get(f"{base}/gmv?date=20241128")[1]["data"] == 10.0
    finally:
        server.shutdown()
        server.server_close()


def test_memo_keys_parsed_limit_and_stays_bounded(spark, monkeypatch):
    from gmall_realtime_ck_spark import serving_http

    pw = spark.createDataFrame([("2024-11-28", "Beijing", 10.0)], PW_SCHEMA)
    tw = spark.createDataFrame(
        [("2024-11-28", "app", 10), ("2024-11-28", "web", 30)], TW_SCHEMA
    )
    service = PublisherService(pw, tw)
    a = service.handle("/ch", {"date": ["20241128"], "limit": ["5"]})
    b = service.handle("/ch", {"date": ["2024-11-28"], "limit": ["05"]})
    assert a == b and list(service._traffic_window[1]) == [("/ch", "2024-11-28", 5)]

    monkeypatch.setattr(serving_http, "MEMO_ENTRIES", 3)
    for day in range(1, 11):
        _gmv(service, f"202411{day:02d}")
        assert 1 <= len(service._province_window[1]) <= 3


def test_memo_under_concurrent_reads_and_rebinds(spark, monkeypatch):
    """Many threads (more than cores) read many dates while another
    re-binds: a memo never exceeds its cap, and every answer left in the
    current binding's memo was computed from that binding."""
    import sys
    import threading

    from gmall_realtime_ck_spark import serving, serving_http

    bindings = [spark.range(k + 1) for k in range(4)]
    tag = {id(df): k for k, df in enumerate(bindings)}
    # answers without Spark: the value names the binding that computed it
    monkeypatch.setattr(serving, "gmv", lambda df, date: df)
    monkeypatch.setattr(serving, "as_dashboard_json", lambda df: [{"gmv": tag[id(df)]}])
    monkeypatch.setattr(serving_http, "MEMO_ENTRIES", 8)
    tw = spark.createDataFrame([("2024-11-28", "app", 1)], TW_SCHEMA)
    service = PublisherService(bindings[0], tw)
    over, stop = [], threading.Event()

    def reader(k):
        for n in range(2000):
            if stop.is_set():
                return
            service.handle("/gmv", {"date": [f"2024-11-{(k * 7 + n) % 30 + 1:02d}"]})
            size = len(service._province_window[1])
            if size > 8:
                over.append(size)

    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        readers = [threading.Thread(target=reader, args=(k,)) for k in range(16)]
        for t in readers:
            t.start()
        for k in (1, 2, 3):
            service.province_window = bindings[k]
        for t in readers:
            t.join(60)
        stop.set()
    finally:
        sys.setswitchinterval(switch)
    assert not any(t.is_alive() for t in readers)
    assert over == []
    df, memo = service._province_window
    assert df is bindings[3] and memo
    assert {body["data"] for body in memo.values()} == {3.0}
