"""DWS layer: windowed stateful aggregates + dimension enrichment.

Each function consumes DWD outputs (page log, order-detail star, …)
and produces the wide DWS rows of FIXTURES.md F5 (stt/edt window
bounds as 'yyyy-MM-dd HH:mm:ss', cur_date, dims, measures).

Window bounds are event-time tumbling windows; the reference's two
processing-time windows are implemented as event-time for determinism
(SURVEY §7 H2). Date strings are rendered in UTC+8 like the reference
(DateFormatUtil.java:28) via dwd.cst_date/cst_datetime.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .dwd import cst_date, cst_datetime

#: deterministic tokenizer standing in for the IK segmenter (H5):
#: ASCII word runs plus single CJK characters.
TOKENIZE_RE = "[a-z0-9]+|[\\u4e00-\\u9fff]"


def tokenize(col) -> F.Column:
    """ik_analyze analogue (KeywordUDTF.java:14-29) — JVM-side regex,
    no Python UDF in the hot path."""
    return F.expr(f"regexp_extract_all(lower({col}), '{TOKENIZE_RE}', 0)")


def register_ik_analyze(spark) -> None:
    """API-surface parity with the reference's UDTF registration
    (createTemporarySystemFunction("ik_analyze", KeywordUDTF.class),
    DwsTrafficSourceKeywordPageViewWindow.java:36; lateral use :60-65):
    registers ``ik_analyze`` as a SQL function so user SQL can write
    ``SELECT kw FROM (SELECT ik_analyze(fullword) AS arr FROM t)
    LATERAL VIEW explode(arr) x AS kw``. It is a Spark-4 SQL UDF
    (RETURN <expr>) delegating to the same JVM regex as ``tokenize`` —
    whole-stage codegen applies, no Python worker. (Spark disallows a
    SQL UDF directly inside Generate, hence the subquery-then-explode
    pattern.)
    """
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION ik_analyze(s STRING) "
        f"RETURNS ARRAY<STRING> RETURN regexp_extract_all(lower(s), '{TOKENIZE_RE}', 0)"
    )


def _window_cols(w) -> list[F.Column]:
    return [
        cst_datetime(w["start"]).alias("stt"),
        cst_datetime(w["end"]).alias("edt"),
        cst_date(w["start"]).alias("cur_date"),
    ]


def keyword_window(page: DataFrame, size: str = "10 seconds") -> DataFrame:
    """DwsTrafficSourceKeywordPageViewWindow.java:38-99 — search rows
    (P8 filter :48-56), tokenizer UDTF + lateral explode (J7 :60-65),
    TUMBLE count per keyword (A4 :68-76) → KeywordBean rows.
    """
    search = page.filter(
        F.col("page.last_page_id").isin("search", "home")
        & (F.col("page.item_type") == "keyword")
        & F.col("page.item").isNotNull()
    ).select(F.col("page.item").alias("fullword"), F.timestamp_millis("ts").alias("et"))
    words = search.select(F.explode(tokenize("fullword")).alias("keyword"), "et")
    w = F.window("et", size)
    return (
        words.groupBy(w.alias("w"), "keyword")
        .agg(F.count(F.lit(1)).alias("keyword_count"))
        .select(*_window_cols(F.col("w")), "keyword", "keyword_count")
    )


def traffic_page_view_window(page: DataFrame, size: str = "10 seconds") -> DataFrame:
    """DwsTrafficVcChArIsNewPageViewWindow.java:62-174 — per
    (vc,ch,ar,is_new): daily-UV flag (T4, first record of the mid's
    day), session flag (sv: last_page_id empty), pv, duration sum, over
    tumbling windows (A1). Batch oracle for the UV flag is
    row_number()=1 per (mid, day); streaming uses
    streaming.state.daily_uv_flags.
    """
    et = F.timestamp_millis("ts")
    day = cst_date(et)
    flagged = page.select(
        F.col("common.vc").alias("vc"),
        F.col("common.ch").alias("ch"),
        F.col("common.ar").alias("ar"),
        F.col("common.is_new").alias("is_new"),
        F.col("common.mid").alias("mid"),
        F.col("page.last_page_id").alias("last_page_id"),
        F.col("page.during_time").alias("during_time"),
        et.alias("et"),
        F.col("ts"),
    ).withColumn(
        "uv", (F.row_number().over(Window.partitionBy("mid", day).orderBy("ts", "et")) == 1).cast("long")
    ).withColumn(
        "sv",
        (F.col("last_page_id").isNull() | (F.col("last_page_id") == "")).cast("long"),
    )
    w = F.window("et", size)
    return (
        flagged.groupBy(w.alias("w"), "vc", "ch", "ar", "is_new")
        .agg(
            F.sum("uv").alias("uv_ct"),
            F.sum("sv").alias("sv_ct"),
            F.count(F.lit(1)).alias("pv_ct"),
            F.sum("during_time").alias("dur_sum"),
        )
        .select(*_window_cols(F.col("w")), "vc", "ch", "ar", "is_new",
                "uv_ct", "sv_ct", "pv_ct", "dur_sum")
    )


def home_detail_uv_window(page: DataFrame, size: str = "10 seconds") -> DataFrame:
    """DwsTrafficHomeDetailPageViewWindow.java:59-164 — home /
    good_detail daily-UV flags (T5) summed in a global window (A2).
    NOTE: the reference compares state at *second* granularity
    (tsToDateTime at :108) — effectively per-visit; we implement the
    per-DAY semantics and document the divergence.
    """
    et = F.timestamp_millis("ts")
    day = cst_date(et)
    hd = page.filter(F.col("page.page_id").isin("home", "good_detail")).select(
        F.col("common.mid").alias("mid"),
        F.col("page.page_id").alias("page_id"),
        et.alias("et"),
        F.col("ts"),
        day.alias("day"),
    )
    w_first = Window.partitionBy("mid", "page_id", "day").orderBy("ts", "et")
    flagged = hd.withColumn("first", (F.row_number().over(w_first) == 1).cast("long"))
    w = F.window("et", size)
    return (
        flagged.groupBy(w.alias("w"))
        .agg(
            F.sum(F.when(F.col("page_id") == "home", F.col("first")).otherwise(0)).alias(
                "home_uv_ct"
            ),
            F.sum(
                F.when(F.col("page_id") == "good_detail", F.col("first")).otherwise(0)
            ).alias("good_detail_uv_ct"),
        )
        .select(*_window_cols(F.col("w")), "home_uv_ct", "good_detail_uv_ct")
    )


def dws_user_register_window(reg: DataFrame, size: str = "5 seconds") -> DataFrame:
    """DwsUserUserRegisterWindow.java:40-84 (A3) — the register count
    over a global tumbling window on event time ``et``:
    windowAll(5 s).aggregate(count) with a 5 s bounded-out-of-orderness
    watermark. ``cur_date`` derives from the window END
    (tsToDateForPartition(ctx.window().getEnd()), :79 — note: start for
    the other DWS beans).

    Idleness mapping: the reference adds withIdleness(120 s) (:45) — a
    Flink per-source-partition device so one idle Kafka partition cannot
    stall the watermark. Spark's watermark is computed over the whole
    input (max event time − delay), so an idle PARTITION never holds
    back progress and no idleness knob exists or is needed; only a fully
    idle SOURCE stalls, which Flink's idleness cannot fix either.
    """
    w = F.window("et", size)
    return (
        reg.groupBy(w.alias("w"))
        .agg(F.count(F.lit(1)).alias("register_ct"))
        .select(
            cst_datetime(F.col("w.start")).alias("stt"),
            cst_datetime(F.col("w.end")).alias("edt"),
            cst_date(F.col("w.end")).alias("cur_date"),
            "register_ct",
        )
    )


def dedup_order_detail(od_star: DataFrame) -> DataFrame:
    """T1 — order-detail dedup (DwsTradeSkuOrderWindow.java:196-233).
    The reference keeps the LAST record per id (retracting the earlier
    emission via negated amounts); with no retraction stream in Spark
    (H1) we keep the last record per id directly: row_number by ts desc.
    """
    w = Window.partitionBy("id").orderBy(F.desc("ts"))
    return od_star.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1).drop("rn")


def sku_order_window(
    od_star: DataFrame, dims: dict[str, DataFrame], size: str = "10 seconds"
) -> DataFrame:
    """DwsTradeSkuOrderWindow.java:138-735 — dedup (T1), per-sku
    decimal sums over tumbling windows (A5), then the 6-deep dim
    enrichment chain sku→spu→tm→c3→c2→c1 (J6) collapsed into broadcast
    joins. ``dims`` maps dim table name → snapshot DataFrame with the
    reference's column sets (FIXTURES.md F1).
    """
    od = dedup_order_detail(od_star)
    et = F.timestamp_seconds("ts")
    w = F.window(et, size)
    amt = lambda c: F.coalesce(F.col(c).cast("decimal(16,2)"), F.lit(0).cast("decimal(16,2)"))
    agg = (
        od.groupBy(w.alias("w"), "sku_id")
        .agg(
            F.sum(amt("split_original_amount")).alias("original_amount"),
            F.sum(amt("split_activity_amount")).alias("activity_reduce_amount"),
            F.sum(amt("split_coupon_amount")).alias("coupon_reduce_amount"),
            F.sum(amt("split_total_amount")).alias("order_amount"),
        )
        .select(*_window_cols(F.col("w")), "sku_id", "original_amount",
                "activity_reduce_amount", "coupon_reduce_amount", "order_amount")
    )
    sku = F.broadcast(
        dims["dim_sku_info"].select(
            F.col("id").alias("sku_id"), "sku_name", "spu_id", "tm_id", "category3_id"
        )
    )
    out = agg.join(sku, "sku_id", "left")
    # the remaining 5 legs of the reference's 6-deep enrichment ladder
    # (sku→spu→tm→c3→c2→c1, DwsTradeSkuOrderWindow.java:480-735), each
    # a broadcast hash join against the dim snapshot
    chain = [
        ("dim_spu_info", "spu_id", [("spu_name", "spu_name")]),
        ("dim_base_trademark", "tm_id", [("tm_name", "tm_name")]),
        ("dim_base_category3", "category3_id", [("name", "category3_name"),
                                                ("category2_id", "category2_id")]),
        ("dim_base_category2", "category2_id", [("name", "category2_name"),
                                                ("category1_id", "category1_id")]),
        ("dim_base_category1", "category1_id", [("name", "category1_name")]),
    ]
    for dim_table, key, cols in chain:
        if dim_table not in dims:
            continue
        d = F.broadcast(
            dims[dim_table].select(
                F.col("id").alias(key), *[F.col(src).alias(dst) for src, dst in cols]
            )
        )
        out = out.join(d, key, "left")
    return out


def province_order_window(
    od_star: DataFrame, province_dim: DataFrame | None = None, size: str = "10 seconds"
) -> DataFrame:
    """DwsTradeProvinceOrderWindow.java:56-249 — dedup (single-amount
    variant of T1), per-province order_amount sum + exact distinct
    order count (A6: the reference accumulates a Set<String> of order
    ids; countDistinct replaces it), then province-name enrichment.
    """
    od = dedup_order_detail(od_star)
    et = F.timestamp_seconds("ts")
    w = F.window(et, size)
    agg = (
        od.groupBy(w.alias("w"), "province_id")
        .agg(
            F.sum(F.coalesce(F.col("split_total_amount").cast("decimal(16,2)"),
                             F.lit(0).cast("decimal(16,2)"))).alias("order_amount"),
            F.countDistinct("order_id").alias("order_count"),
        )
        .select(*_window_cols(F.col("w")), "province_id", "order_count", "order_amount")
    )
    if province_dim is not None:
        prov = F.broadcast(
            province_dim.select(F.col("id").alias("province_id"), F.col("name").alias("province_name"))
        )
        agg = agg.join(prov, "province_id", "left")
    return agg
