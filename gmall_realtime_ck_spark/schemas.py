"""The reference's data model as Spark schemas (SURVEY.md §1).

Four abstractions: Maxwell CDC envelopes (topic_db), nested behavior
logs (topic_log), config tables (gmall_config.table_process_*), and
wide DWS aggregate rows. All re-expressed as StructTypes for
``from_json`` / ``createDataFrame``.

Reference citations:
- Maxwell envelope: COMMON/base/BaseSQLApp.java:54-64
- log event: DWD:base-log/log/split/DwdBaseLog.java:96-151
- config beans: COMMON/bean/TableProcessDim.java:15-33,
  COMMON/bean/TableProcessDwd.java:15-29
- DWS beans: COMMON/bean/TradeSkuOrderBean.java:20-61,
  COMMON/bean/TrafficPageViewBean.java:17-43, KeywordBean.java:15-29
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    DecimalType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
)

S = StringType()
L = LongType()

#: Maxwell CDC envelope — topic_db. `ts` is epoch SECONDS
#: (BaseSQLApp.java:62 uses to_timestamp_ltz(ts, 0)); `data`/`old` are
#: string→string maps (all MySQL values arrive stringified).
MAXWELL_ENVELOPE = StructType(
    [
        StructField("database", S),
        StructField("table", S),
        StructField("type", S),  # insert | update | delete | bootstrap-insert
        StructField("ts", L),
        StructField("data", MapType(S, S)),
        StructField("old", MapType(S, S)),
    ]
)

#: Debezium/FlinkCDC envelope for config tables — op ∈ {r,c,u,d}
#: (GM/realtime-dim/src/test/.../Test01_FlinkCDC.java:39-43).
DEBEZIUM_ENVELOPE = StructType(
    [
        StructField("op", S),
        StructField("before", MapType(S, S)),
        StructField("after", MapType(S, S)),
        StructField("ts_ms", L),
    ]
)

#: Behavior log — topic_log. `ts` is epoch MILLISECONDS (contrast with
#: topic_db seconds — DwsTrafficSourceKeywordPageViewWindow.java:42).
LOG_COMMON = StructType(
    [StructField(f, S) for f in ["mid", "uid", "vc", "ch", "ar", "is_new", "ba", "md", "os", "sid"]]
)
LOG_PAGE = StructType(
    [
        StructField("page_id", S),
        StructField("last_page_id", S),
        StructField("item", S),
        StructField("item_type", S),
        StructField("during_time", L),
    ]
)
LOG_DISPLAY = StructType(
    [
        StructField("item", S),
        StructField("item_type", S),
        StructField("pos_id", S),
        StructField("order", S),
    ]
)
LOG_ACTION = StructType(
    [
        StructField("action_id", S),
        StructField("item", S),
        StructField("item_type", S),
        StructField("ts", L),
    ]
)
LOG_EVENT = StructType(
    [
        StructField("common", LOG_COMMON),
        StructField("page", LOG_PAGE),
        StructField(
            "start",
            StructType(
                [
                    StructField("entry", S),
                    StructField("loading_time", L),
                    StructField("open_ad_id", S),
                    StructField("open_ad_ms", L),
                    StructField("open_ad_skip_ms", L),
                ]
            ),
        ),
        StructField("err", StructType([StructField("error_code", S), StructField("msg", S)])),
        StructField("displays", ArrayType(LOG_DISPLAY)),
        StructField("actions", ArrayType(LOG_ACTION)),
        StructField("ts", L),
    ]
)

#: gmall_config.table_process_dim (TableProcessDim.java:15-33)
TABLE_PROCESS_DIM = StructType(
    [
        StructField("source_table", S),
        StructField("sink_table", S),
        StructField("sink_columns", S),  # CSV
        StructField("sink_family", S),
        StructField("sink_row_key", S),
    ]
)

#: The one DIM store layout (gmall/dim.py): change rows, `data` pruned
#: to the config's sink_columns, op "U" (upsert) or "D" (delete). The
#: snapshot keeps one per row_key (a delete as a tombstone), the SCD2
#: history one per (row_key, ts, op).
DIM_CHANGE = StructType(
    [
        StructField("row_key", S),
        StructField("data", MapType(S, S)),
        StructField("op", S),
        StructField("ts", L),
    ]
)

#: gmall_config.table_process_dwd (TableProcessDwd.java:15-29)
TABLE_PROCESS_DWD = StructType(
    [
        StructField("source_table", S),
        StructField("source_type", S),
        StructField("sink_table", S),
        StructField("sink_columns", S),  # CSV
    ]
)

#: dwd_trade_order_detail — all-STRING DWD Kafka schema except ts
#: (DwdTradeOrderDetail.java:101-120)
DWD_TRADE_ORDER_DETAIL = StructType(
    [StructField(f, S) for f in [
        "id", "order_id", "user_id", "sku_id", "sku_name", "province_id",
        "activity_id", "activity_rule_id", "coupon_id", "date_id",
        "create_time", "sku_num", "split_original_amount",
        "split_activity_amount", "split_coupon_amount", "split_total_amount",
    ]]
    + [StructField("ts", L)]
)

#: DWS result-row shapes (FIXTURES.md F5); stt/edt are
#: 'yyyy-MM-dd HH:mm:ss' strings, cur_date 'yyyy-MM-dd'.
KEYWORD_BEAN = StructType(
    [
        StructField("stt", S),
        StructField("edt", S),
        StructField("cur_date", S),
        StructField("keyword", S),
        StructField("keyword_count", L),
    ]
)
TRAFFIC_PAGE_VIEW_BEAN = StructType(
    [StructField(f, S) for f in ["stt", "edt", "cur_date", "vc", "ch", "ar", "is_new"]]
    + [StructField(f, L) for f in ["uv_ct", "sv_ct", "pv_ct", "dur_sum"]]
)
TRADE_SKU_ORDER_BEAN = StructType(
    [StructField(f, S) for f in [
        "stt", "edt", "cur_date", "sku_id", "sku_name", "spu_id", "spu_name",
        "trademark_id", "trademark_name", "category1_id", "category1_name",
        "category2_id", "category2_name", "category3_id", "category3_name",
    ]]
    + [
        StructField("original_amount", DecimalType(38, 2)),
        StructField("activity_reduce_amount", DecimalType(38, 2)),
        StructField("coupon_reduce_amount", DecimalType(38, 2)),
        StructField("order_amount", DecimalType(38, 2)),
    ]
)
