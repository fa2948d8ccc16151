"""Tests for the gmall pipeline layer (DIM/DWD/DWS) over the
deterministic FIXTURES.md-shaped fixtures."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from gmall_realtime_ck_spark import serving
from gmall_realtime_ck_spark.gmall import dim, dwd, dws, fixtures


@pytest.fixture(scope="module")
def log_raw(spark):
    lines = fixtures.gen_log_lines(n_events=1500)
    return spark.createDataFrame([(l,) for l in lines], "value string")


@pytest.fixture(scope="module")
def db_raw(spark):
    lines = fixtures.gen_topic_db_lines(n_orders=200)
    return spark.createDataFrame([(l,) for l in lines], "value string")


@pytest.fixture(scope="module")
def db(db_raw):
    return dwd.parse_topic_db(db_raw).cache()


@pytest.fixture(scope="module")
def base_dic(spark):
    return spark.createDataFrame(fixtures.BASE_DIC_ROWS, "dic_code string, dic_name string")


# ---------------------------------------------------------------------------
# DWD
# ---------------------------------------------------------------------------


def test_parse_topic_db_filters_foreign_database(db, db_raw):
    assert db.filter(F.col("database") != "gmall").count() == 0
    # some garbage rows existed in the raw stream
    raw_n = db_raw.count()
    assert db.count() < raw_n


def test_filter_bootstrap(db):
    out = dwd.filter_bootstrap(db)
    assert out.filter(F.col("type").startswith("bootstrap-")).count() == 0
    assert db.filter(F.col("type").startswith("bootstrap-")).count() > 0


def test_split_log_branches(log_raw, spark):
    parts = dwd.split_log(log_raw)
    n_dirty = parts["dirty"].count()
    assert n_dirty > 0  # ~1% garbage lines routed aside
    n_page = parts["page"].count()
    assert n_page > 1000
    # exploded displays carry common+page context per element
    disp = parts["display"]
    assert disp.filter(F.col("display.item").isNull()).count() == 0
    assert {"common", "page", "ts", "display"} <= set(disp.columns)
    # err branch only contains rows that had err payloads
    assert parts["err"].filter(F.col("err.error_code").isNull()).count() == 0


def test_repair_is_new_rewrites_later_days(log_raw):
    page = dwd.split_log(log_raw)["page"]
    repaired = dwd.repair_is_new(page)
    # after repair: any is_new=1 row must be on the mid's first-visit date
    chk = (
        repaired.select(
            F.col("common.mid").alias("mid"),
            F.col("common.is_new").alias("is_new"),
            dwd.cst_date(F.timestamp_millis("ts")).alias("d"),
        )
        .withColumn("first_d", F.min("d").over(__import__("pyspark").sql.Window.partitionBy("mid")))
    )
    assert chk.filter((F.col("is_new") == "1") & (F.col("d") != F.col("first_d"))).count() == 0
    # and the repair actually changed something (fixtures mislabel ~5%)
    orig = page.select(F.col("common.is_new")).groupBy().agg(
        F.sum(F.col("`is_new`").cast("int")).alias("n")
    ).collect()[0]["n"]
    new = repaired.select(F.col("common.is_new")).groupBy().agg(
        F.sum(F.col("`is_new`").cast("int")).alias("n")
    ).collect()[0]["n"]
    assert new < orig


def test_order_detail_star_join(db):
    star = dwd.order_detail_star(db)
    n_det = db.filter((F.col("table") == "order_detail") & (F.col("type") == "insert")).count()
    assert star.count() == n_det  # inner join keeps all details (every order exists)
    assert star.filter(F.col("user_id").isNull()).count() == 0
    # left legs are sparse
    assert 0 < star.filter(F.col("activity_id").isNotNull()).count() < n_det
    # decimal arithmetic: original = sku_num * order_price
    row = star.filter(F.col("sku_num") == "2").select("split_original_amount", "sku_id").first()
    assert float(row["split_original_amount"]) == pytest.approx(
        2 * (int(row["sku_id"]) + 1) * 100.0
    )


def test_cart_add_delta_semantics(db):
    out = dwd.cart_add_delta(db)
    rows = out.collect()
    assert rows, "fixtures produce cart activity"
    # updates only appear when sku_num grew, and emit the positive delta
    assert all(int(r["sku_num"]) > 0 for r in rows)


def test_order_cancel_transition(db):
    out = dwd.order_cancel(db)
    assert out.count() > 0
    assert out.filter(F.col("cancel_time").isNull()).count() == 0


def test_pay_success_interval_join(db):
    pay = dwd.pay_success(db)
    star = dwd.order_detail_star(db)
    joined = dwd.pay_success_detail_interval(pay, star)
    assert joined.count() > 0
    # every joined detail belongs to a paid order
    paid_orders = {r["order_id"] for r in pay.select("order_id").collect()}
    assert {r["order_id"] for r in joined.select("order_id").collect()} <= paid_orders


def test_comment_lookup_join(db, base_dic):
    out = dwd.comment_info_enriched(db, base_dic)
    assert out.count() > 0
    assert out.filter(F.col("appraise_name").isNull()).count() == 0


def test_dynamic_split_routes_and_prunes(db, spark):
    cfg = spark.createDataFrame(
        fixtures.TABLE_PROCESS_DWD_ROWS,
        "source_table string, source_type string, sink_table string, sink_columns string",
    )
    out = dwd.dynamic_split(db, cfg)
    topics = {r["topic"] for r in out.select("topic").distinct().collect()}
    assert "dwd_trade_cart_add" in topics
    assert "dwd_interaction_comment_info" in topics
    # pruning: cart rows keep only configured keys
    cart = out.filter(F.col("topic") == "dwd_trade_cart_add").select(
        F.map_keys("data").alias("k")
    )
    keys = {k for r in cart.collect() for k in r["k"]}
    assert keys <= {"id", "user_id", "sku_id", "sku_num"}


@pytest.fixture(scope="module")
def refund_db(spark):
    lines = fixtures.gen_refund_lines(n_orders=300)
    raw = spark.createDataFrame([(l,) for l in lines], "value string")
    return dwd.parse_topic_db(raw).cache()


@pytest.fixture(scope="module")
def full_dic(spark):
    return spark.createDataFrame(
        fixtures.BASE_DIC_ROWS + fixtures.REFUND_DIC_ROWS, "dic_code string, dic_name string"
    )


def test_order_refund_transition_and_dual_dic(refund_db, full_dic):
    """DwdTradeOrderRefund.java:47-82 — 1005 transition filter + dic1/dic2."""
    out = dwd.order_refund(refund_db, full_dic)
    rows = out.collect()
    n_refunds = refund_db.filter(
        (F.col("table") == "order_refund_info") & (F.col("type") == "insert")
    ).count()
    assert len(rows) == n_refunds > 0
    # near-miss 1005 snapshots (no ``old``) must not have joined: every
    # surviving order_id is a real refund id (< 90000 synthetic band)
    assert all(int(r["order_id"]) < 90000 for r in rows)
    # the dual lookup resolved both names, independently
    assert all(r["refund_type_name"] in ("退货", "仅退款") for r in rows)
    assert all(r["refund_reason_type_name"] is not None for r in rows)
    assert all(r["date_id"] == r["create_time"][:10] for r in rows)


def test_refund_pay_success_four_way(refund_db, full_dic):
    """DwdTradeRefundPaySucDetail.java:76-96 — only fully completed
    refunds (1602 ∧ 0705 ∧ 1006) reach the success fact."""
    out = dwd.dwd_refund_pay_success(refund_db, full_dic)
    rows = out.collect()
    n_done = refund_db.filter(
        (F.col("table") == "refund_payment")
        & (F.col("data")["refund_status"] == "1602")
    ).count()
    n_started = refund_db.filter(
        (F.col("table") == "order_refund_info") & (F.col("type") == "insert")
    ).count()
    assert 0 < len(rows) == n_done < n_started  # stuck-at-1601 refunds excluded
    assert all(r["payment_type_name"] in ("支付宝", "微信", "银联") for r in rows)
    # completed refunds are a subset of started refunds
    started = {
        r["id"]
        for r in dwd.order_refund(refund_db, full_dic).select("id").collect()
    }
    assert {r["id"] for r in rows} <= started


# ---------------------------------------------------------------------------
# DIM
# ---------------------------------------------------------------------------


def test_dim_pipeline_merge(db_raw, spark, tmp_path):
    store = str(tmp_path / "dimstore")
    snaps = dim.run_dim_pipeline(
        spark, db_raw, fixtures.TABLE_PROCESS_DIM_ROWS, store
    )
    assert "dim_sku_info" in snaps
    sku = snaps["dim_sku_info"]
    assert sku.count() == 35  # one row per sku, bootstrap-upserts deduped
    # pruning: only configured sink_columns survive
    keys = {k for r in sku.select(F.map_keys("data").alias("k")).collect() for k in r["k"]}
    assert keys <= set("id,spu_id,price,sku_name,tm_id,category3_id".split(","))
    # second apply with a delete converges
    import json

    del_line = json.dumps(
        {"database": "gmall", "table": "sku_info", "type": "delete",
         "ts": 9999999999, "data": {"id": "0"}}
    )
    raw2 = spark.createDataFrame([(del_line,)], "value string")
    snaps2 = dim.run_dim_pipeline(spark, raw2, fixtures.TABLE_PROCESS_DIM_ROWS, store)
    assert snaps2["dim_sku_info"].count() == 34
    assert snaps2["dim_sku_info"].filter(F.col("row_key") == "0").count() == 0


def test_dim_merge_raises_on_unreadable_store(spark, tmp_path):
    """A DIM store that exists but cannot be read (a torn part file
    listed first) makes the merge raise; it must never be replaced by
    the batch alone. Only a missing store starts from the batch."""
    import json
    import os

    from gmall_realtime_ck_spark.schemas import DIM_CHANGE

    def sku_lines(ids, ts):
        return [
            json.dumps({"database": "gmall", "table": "sku_info", "type": "insert",
                        "ts": ts, "data": {"id": str(i), "sku_name": f"sku{i}"}})
            for i in ids
        ]

    def merge(lines):
        raw = spark.createDataFrame([(l,) for l in lines], "value string")
        return dim.run_dim_pipeline(spark, raw, fixtures.TABLE_PROCESS_DIM_ROWS, store)

    store = str(tmp_path / "dimstore")
    assert merge(sku_lines(range(100), 1))["dim_sku_info"].count() == 100
    live = dim._live(os.path.join(store, "dim_sku_info"))  # the committed snapshot
    with open(os.path.join(live, "part-0.parquet"), "wb") as f:
        f.write(b"torn")  # sorts before every part file Spark wrote

    with pytest.raises(Exception):
        merge(sku_lines([100], 2))
    kept = (spark.read.schema(DIM_CHANGE).option("ignoreCorruptFiles", "true")
            .parquet(dim._live(os.path.join(store, "dim_sku_info"))))
    assert kept.count() == 100


# ---------------------------------------------------------------------------
# DWS
# ---------------------------------------------------------------------------


def test_keyword_window(log_raw):
    page = dwd.split_log(log_raw)["page"]
    kw = dws.keyword_window(page, size="1 hour")
    rows = kw.collect()
    assert rows
    # tokenizer splits the mixed CJK/ASCII phrase: 'book phone' → both words appear
    kws = {r["keyword"] for r in rows}
    assert "book" in kws and "phone" in kws
    # CJK single-char tokens from '平板电视'
    assert "电" in kws or "视" in kws
    assert all(r["keyword_count"] >= 1 for r in rows)
    assert all(len(r["stt"]) == 19 and len(r["edt"]) == 19 for r in rows)


def test_traffic_page_view_window_uv_le_pv(log_raw):
    page = dwd.split_log(log_raw)["page"]
    tw = dws.traffic_page_view_window(page, size="1 hour")
    rows = tw.collect()
    assert rows
    assert all(r["uv_ct"] <= r["pv_ct"] for r in rows)
    # daily UV: per (cur_date, mid) only one uv flag → total uv ≤ distinct mids × days
    total_uv = sum(r["uv_ct"] for r in rows)
    mids_days = (
        page.select(F.col("common.mid"), dwd.cst_date(F.timestamp_millis("ts"))).distinct().count()
    )
    assert total_uv == mids_days


def test_home_detail_uv_window(log_raw):
    page = dwd.split_log(log_raw)["page"]
    hd = dws.home_detail_uv_window(page, size="1 hour")
    rows = hd.collect()
    assert rows
    assert any(r["home_uv_ct"] > 0 for r in rows)


def test_sku_order_window_enrichment(db, spark):
    star = dwd.order_detail_star(db)
    sku_dim = spark.createDataFrame(
        [(str(i), f"sku-{i}", str(i // 3), str(i % 8), str(i % 6 + 1)) for i in range(35)],
        "id string, sku_name string, spu_id string, tm_id string, category3_id string",
    )
    dims = {
        "dim_sku_info": sku_dim,
        "dim_spu_info": spark.createDataFrame(
            [(str(i), f"spu-{i}") for i in range(12)], "id string, spu_name string"
        ),
        "dim_base_trademark": spark.createDataFrame(
            [(str(i), f"tm-{i}") for i in range(8)], "id string, tm_name string"
        ),
        "dim_base_category3": spark.createDataFrame(
            [(str(i), f"c3-{i}", str(i % 3 + 1)) for i in range(1, 7)],
            "id string, name string, category2_id string",
        ),
        "dim_base_category2": spark.createDataFrame(
            [(str(i), f"c2-{i}", str(i % 2 + 1)) for i in range(1, 4)],
            "id string, name string, category1_id string",
        ),
        "dim_base_category1": spark.createDataFrame(
            [(str(i), f"c1-{i}") for i in range(1, 3)], "id string, name string"
        ),
    }
    out = dws.sku_order_window(star, dims, size="1 hour")
    rows = out.collect()
    assert rows
    # the full 6-deep ladder resolved every leg
    for col in ["sku_name", "spu_name", "tm_name", "category3_name",
                "category2_name", "category1_name"]:
        assert all(r[col] is not None for r in rows), col
    assert all(r["order_amount"] is not None for r in rows)
    # dedup T1: summed amounts reflect one record per order_detail id
    star_total = dwd.order_detail_star(db).select(
        F.sum(F.col("split_total_amount").cast("decimal(16,2)")).alias("s")
    ).collect()[0]["s"]
    win_total = out.select(F.sum("order_amount").alias("s")).collect()[0]["s"]
    assert win_total == star_total  # fixtures have no duplicate detail ids


def test_province_order_window_counts(db):
    star = dwd.order_detail_star(db)
    out = dws.province_order_window(star, size="1 hour")
    rows = out.collect()
    assert rows
    assert all(r["order_count"] >= 1 for r in rows)
    # A6: distinct orders per window ≤ detail rows
    total_orders = star.select("order_id").distinct().count()
    assert sum(r["order_count"] for r in rows) >= total_orders


def test_serving_queries(db, log_raw, spark):
    star = dwd.order_detail_star(db)
    pw = dws.province_order_window(star, size="1 hour").withColumn(
        "province_name", F.concat(F.lit("prov-"), F.col("province_id"))
    )
    some_date = pw.select("cur_date").first()["cur_date"]
    gmv = serving.gmv(pw, some_date).collect()[0]["gmv"]
    assert gmv is not None and float(gmv) > 0
    prov = serving.province_amounts(pw, some_date).collect()
    assert prov and all(r["total_amount"] is not None for r in prov)

    page = dwd.split_log(log_raw)["page"]
    tw = dws.traffic_page_view_window(page, size="1 hour")
    ch_date = tw.select("cur_date").first()["cur_date"]
    topk = serving.channel_uv_topk(tw, ch_date, limit=3).collect()
    assert len(topk) <= 3
    assert [r["uv_ct"] for r in topk] == sorted([r["uv_ct"] for r in topk], reverse=True)


def test_ik_analyze_sql_registration(spark):
    """§2.9 — the SQL-registered ik_analyze must tokenize identically
    to the engine-internal tokenize() fragment (same JVM regex)."""
    import pyspark.sql.functions as F

    from gmall_realtime_ck_spark.gmall.dws import register_ik_analyze, tokenize

    register_ik_analyze(spark)
    df = spark.createDataFrame(
        [("Hello Big Data",), ("spark SQL 123",), ("",)], "fullword string"
    )
    df.createOrReplaceTempView("kwsrc_udtf")
    via_sql = [
        r["kw"]
        for r in spark.sql(
            "SELECT kw FROM (SELECT ik_analyze(fullword) AS arr FROM kwsrc_udtf) "
            "LATERAL VIEW explode(arr) t AS kw"
        ).collect()
    ]
    via_col = [
        kw
        for r in df.select(tokenize("fullword").alias("tk")).collect()
        for kw in r["tk"]
    ]
    assert sorted(via_sql) == sorted(via_col)
    assert "hello" in via_sql and "123" in via_sql
