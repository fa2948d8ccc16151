"""The reference's data model as Spark schemas (SURVEY.md §1).

Three abstractions: Maxwell CDC envelopes (topic_db), nested behavior
logs (topic_log) and config tables (gmall_config.table_process_*, and
the Debezium envelope they arrive in), plus the DIM store's change-row
layout. All re-expressed as StructTypes for ``from_json`` /
``createDataFrame``.

Reference citations:
- Maxwell envelope: COMMON/base/BaseSQLApp.java:54-64
- log event: DWD:base-log/log/split/DwdBaseLog.java:96-151
- config beans: COMMON/bean/TableProcessDim.java:15-33,
  COMMON/bean/TableProcessDwd.java:15-29
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
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
