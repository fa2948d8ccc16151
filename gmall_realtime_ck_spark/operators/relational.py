"""Relational operators: projections, filters, joins, windowed aggs.

Each builder takes the dict of test-table DataFrames (catalog.load_tables)
and returns a DataFrame; the equivalent DuckDB oracle SQL lives in
``ORACLES`` keyed by the same name. Column names are aliased identically
on both sides (the driver's hash compare sorts columns by name).

Determinism conventions (shared with the oracles):
- money/measure sums go through integer cents —
  ``CAST(ROUND(x*100) AS BIGINT)`` — so parallel summation order cannot
  produce float drift between Spark and DuckDB;
- timestamps are rendered to strings with the session TZ pinned to UTC
  (session.SESSION_TZ), matching DuckDB's naive-timestamp reading;
- every ORDER BY ... LIMIT has a full deterministic tie-break.

Reference parity notes cite /root/reference files as ``file:line``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, FloatType

# ---------------------------------------------------------------------------
# shared expression fragments (Spark SQL dialect)
# ---------------------------------------------------------------------------


def cents(col: str) -> F.Column:
    """Exact integer cents of a dollar-valued double column."""
    return F.expr(f"cast(round(({col}) * 100) as bigint)")


def ts_str(col) -> F.Column:
    return F.date_format(col, "yyyy-MM-dd HH:mm:ss")


def date_str(col) -> F.Column:
    return F.date_format(col, "yyyy-MM-dd")


# ---------------------------------------------------------------------------
# A5/A7 — pricing summary (decimal sum reduce over a pushed-down scan)
# ---------------------------------------------------------------------------


def q1_pricing_summary(t: dict[str, DataFrame]) -> DataFrame:
    """TPC-H-Q1-shaped scan+agg. Parity: the DWS decimal sum reduce
    (DWS:trade-sku-order-window/app/DwsTradeSkuOrderWindow.java:280-306)
    and serving-side SUM/GROUP BY (PUB/mapper/TradeStatsMapper.java:31).

    Scale: single shuffle on 2 low-cardinality keys; partial aggregation
    is map-side, the shipdate filter is pushed to the parquet scan.
    """
    li = t["lineitem"]
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.expr("cast(round(l_quantity) as bigint)")).alias("sum_qty"),
            F.sum(cents("l_extendedprice")).alias("sum_base_price_cents"),
            F.sum(cents("l_extendedprice * (1 - l_discount)")).alias("sum_disc_price_cents"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# ---------------------------------------------------------------------------
# J1/A7 — multi-way equi-join + group + deterministic top-k
# ---------------------------------------------------------------------------


def q3_shipping_priority(t: dict[str, DataFrame]) -> DataFrame:
    """3-table star join then top-k, the batch analogue of the 4-way
    order-detail star join (DWD:trade-order-detail/db/app/
    DwdTradeOrderDetail.java:77-98) feeding serving ORDER BY/LIMIT
    (PUB/mapper/TrafficStatsMapper.java:24).

    Scale: customer filter prunes before the join; orders⋈lineitem
    shuffles on orderkey (co-partitioned); AQE handles skew.
    """
    cutoff = F.lit("1998-03-15").cast("timestamp")
    cust = t["customer"].filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    orders = t["orders"].filter(F.col("o_orderdate") < cutoff)
    li = t["lineitem"].filter(F.col("l_shipdate") > cutoff)
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(cents("l_extendedprice * (1 - l_discount)")).alias("revenue_cents"))
        .select(
            "o_orderkey",
            date_str("o_orderdate").alias("o_orderdate"),
            "o_orderpriority",
            "revenue_cents",
        )
        .orderBy(F.desc("revenue_cents"), F.asc("o_orderkey"))
        .limit(10)
    )


# ---------------------------------------------------------------------------
# J3/J6 — broadcast dimension-enrichment join chain
# ---------------------------------------------------------------------------


def q5_region_revenue(t: dict[str, DataFrame]) -> DataFrame:
    """Revenue per region: fact stream enriched through a chain of small
    dims — the Spark-first collapse of the reference's 6-deep async
    Redis/HBase dim enrichment (COMMON/function/DimAsyncFunction.java:42-95,
    chained at DwsTradeSkuOrderWindow.java:480-735) into broadcast hash
    joins.

    Scale: region/nation/customer/supplier are broadcast (hinted), so
    the only shuffle is orders⋈lineitem on orderkey.
    """
    orders = t["orders"].filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = t["lineitem"]
    cust = F.broadcast(t["customer"].select("c_custkey", "c_nationkey"))
    supp = F.broadcast(t["supplier"].select("s_suppkey", "s_nationkey"))
    nation = F.broadcast(t["nation"])
    region = F.broadcast(t["region"])
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(
            supp,
            (li.l_suppkey == supp.s_suppkey) & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(nation, supp.s_nationkey == nation.n_nationkey)
        .join(region, nation.n_regionkey == region.r_regionkey)
        .groupBy(F.col("r_name").alias("region_name"), F.col("n_name").alias("nation_name"))
        .agg(F.sum(cents("l_extendedprice * (1 - l_discount)")).alias("revenue_cents"))
    )


# ---------------------------------------------------------------------------
# P1/P4 — JSON envelope parse + map-access projection
# ---------------------------------------------------------------------------


def trade_cdc_projection(t: dict[str, DataFrame]) -> DataFrame:
    """Parse the events ``props`` JSON payload and project fields — the
    analogue of parsing the Maxwell envelope and ``data['id'] AS id``
    map-access projections (COMMON/base/BaseSQLApp.java:54-64,
    DWD:interaction-comment-info/.../DwdInteractionCommentInfo.java:35-43).
    Unparseable rows route to the dirty side (K10) — here they are
    dropped by the null check, the streaming path writes them aside.
    """
    ev = t["events"]
    parsed = ev.withColumn("props_map", F.from_json("props", "k INT"))
    return (
        parsed.filter(F.col("props_map").isNotNull() & F.col("props_map.k").isNotNull())
        .select(
            "event_id",
            "event_type",
            F.col("props_map.k").cast("int").alias("k"),
            cents("value").alias("value_cents"),
        )
        .filter(F.col("k") >= 50)
    )


# ---------------------------------------------------------------------------
# P2/P3/P7 — predicate stack (status + range + prefix filters)
# ---------------------------------------------------------------------------


def trade_status_filter(t: dict[str, DataFrame]) -> DataFrame:
    """Status/range predicate stack, analogue of the CDC envelope ETL +
    status-transition predicates (DIM/app/DimApp.java:212-237;
    DWD:trade-order-cancel-detail/.../DwdTradeOrderCancelDetail.java:50-59).
    All predicates push to the parquet scan.
    """
    o = t["orders"]
    return (
        o.filter(
            (F.col("o_orderstatus") == "O")
            & (F.col("o_totalprice") > 200000.0)
            & (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
            & F.col("o_orderpriority").startswith("1")
        )
        .select(
            "o_orderkey",
            "o_custkey",
            cents("o_totalprice").alias("total_cents"),
            date_str("o_orderdate").alias("order_date"),
        )
    )


# ---------------------------------------------------------------------------
# P6 — conditional increment / signed-delta arithmetic
# ---------------------------------------------------------------------------


def trade_conditional_delta(t: dict[str, DataFrame]) -> DataFrame:
    """Signed-delta accumulation per user: purchases add value, errors
    subtract it — the cart-add ``IF(insert, sku_num, sku_num - old)``
    delta pattern (DWD:trade-cart-add/db/app/DwdTradeCartAdd.java:28-40)
    and the negated-amount retraction input pattern
    (DwsTradeSkuOrderWindow.java:222-225): aggregation stays
    sign-correct when deltas arrive negative.
    """
    ev = t["events"]
    delta = (
        F.when(F.col("event_type") == "purchase", cents("value"))
        .when(F.col("event_type") == "error", -cents("value"))
        .otherwise(F.lit(0).cast("bigint"))
    )
    return (
        ev.withColumn("delta_cents", delta)
        .groupBy("user_id")
        .agg(
            F.sum("delta_cents").alias("net_cents"),
            F.count(F.lit(1)).alias("event_ct"),
        )
    )


# ---------------------------------------------------------------------------
# A1 — keyed tumbling window aggregation with window metadata
# ---------------------------------------------------------------------------


def agg_tumbling_typed(t: dict[str, DataFrame]) -> DataFrame:
    """Per event_type tumbling 1 h window with stt/edt stamps — the
    keyed windowed reduce + window metadata pattern
    (DWS:traffic-vc-ch-ar-is_new-page-view-window/app/
    DwsTrafficVcChArIsNewPageViewWindow.java:125-174). Reference windows
    are 10 s over a live stream; 1 h fits the 30-day batch fixture.

    Scale: one shuffle on (window, type); partial agg map-side.
    """
    ev = t["events"]
    w = F.window("ts", "1 hour")
    return (
        ev.groupBy(w.alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("pv_ct"),
            F.sum(cents("value")).alias("value_cents"),
        )
        .select(
            ts_str("w.start").alias("stt"),
            ts_str("w.end").alias("edt"),
            "event_type",
            "pv_ct",
            "value_cents",
        )
    )


# ---------------------------------------------------------------------------
# A2/A6 — global window with exact distinct count
# ---------------------------------------------------------------------------


def agg_global_uv(t: dict[str, DataFrame]) -> DataFrame:
    """Non-keyed tumbling window counting pv and exact uv — the
    windowAll home/detail UV reduce (DWS:traffic-home-detail-page-view-
    window/app/DwsTrafficHomeDetailPageViewWindow.java:139-164) with the
    distinct-order-id set accumulator (DWS:trade-province-order-window/
    app/DwsTradeProvinceOrderWindow.java:180-219) done as COUNT(DISTINCT)
    instead of a driver-side Set (at 100 TB swap to
    approx_count_distinct when exactness isn't required).
    """
    ev = t["events"]
    w = F.window("ts", "1 hour")
    return (
        ev.groupBy(w.alias("w"))
        .agg(
            F.count(F.lit(1)).alias("pv_ct"),
            F.countDistinct("user_id").alias("uv_ct"),
        )
        .select(
            ts_str("w.start").alias("stt"),
            ts_str("w.end").alias("edt"),
            "pv_ct",
            "uv_ct",
        )
    )


# ---------------------------------------------------------------------------
# J4 — interval (event-time range) join
# ---------------------------------------------------------------------------


def trade_interval_join(t: dict[str, DataFrame]) -> DataFrame:
    """Equi-key + time-range join: lineitems shipped within 30 days of
    the order date — the pay-success interval join
    ``od.et BETWEEN pi.et - 30 min AND pi.et + 5 s``
    (DWD:trade-order-pay-suc-detail/db/app/DwdTradeOrderPaySucDetail.java:91-94).

    Scale: the equi-key keeps this a hash join; the range predicate is a
    post-join filter, not a nested-loop — verify no BroadcastNestedLoop
    in .explain.
    """
    o = t["orders"]
    li = t["lineitem"]
    cond = (
        (li.l_orderkey == o.o_orderkey)
        & (li.l_shipdate >= o.o_orderdate)
        & (li.l_shipdate <= F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS"))
    )
    return (
        li.join(o, cond)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("li_ct"),
            F.sum(cents("l_extendedprice")).alias("revenue_cents"),
        )
    )


# ---------------------------------------------------------------------------
# J3 — lookup-join chain against small dims (broadcast)
# ---------------------------------------------------------------------------


def trade_lookup_join_dim(t: dict[str, DataFrame]) -> DataFrame:
    """customer → nation → region lookup chain — the
    FOR SYSTEM_TIME AS OF lookup join into HBase base_dic with partial
    cache (COMMON/util/SQLUtil.java:24-36;
    DwdInteractionCommentInfo.java:50-60). Broadcast joins make the
    cache hierarchy unnecessary.
    """
    cust = t["customer"]
    nation = F.broadcast(t["nation"])
    region = F.broadcast(t["region"])
    return (
        cust.join(nation, cust.c_nationkey == nation.n_nationkey, "left")
        .join(region, nation.n_regionkey == region.r_regionkey, "left")
        .groupBy(F.col("r_name").alias("region_name"), F.col("n_name").alias("nation_name"))
        .agg(
            F.count(F.lit(1)).alias("customer_ct"),
            F.sum(cents("c_acctbal")).alias("acctbal_cents"),
        )
    )


# ---------------------------------------------------------------------------
# A7/F6 — serving-layer queries
# ---------------------------------------------------------------------------


def serving_gmv(t: dict[str, DataFrame]) -> DataFrame:
    """Daily GMV — ``SELECT SUM(order_amount) ... PARTITION parYYYYMMDD``
    (PUB/mapper/TradeStatsMapper.java:27) with date-partition pruning
    expressed as a date filter/group. At scale the DWS output table is
    partitioned by cur_date so this prunes to one partition.
    """
    o = t["orders"]
    return (
        o.groupBy(date_str("o_orderdate").alias("cur_date"))
        .agg(F.sum(cents("o_totalprice")).alias("gmv_cents"))
    )


def agg_sliding_counts(t: dict[str, DataFrame]) -> DataFrame:
    """Sliding (hopping) windows — beyond the reference's tumbling-only
    surface (SURVEY §2.10): per event_type counts over 1 h windows
    hopping every 30 min, so each event lands in exactly 2 windows.
    Spark expands the window set before the aggregation; the shuffle
    key stays (window, type) — size/slide × keys, never raw events.
    """
    ev = t["events"]
    w = F.window("ts", "1 hour", "30 minutes")
    return (
        ev.groupBy(w.alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("pv_ct"))
        .select(
            ts_str("w.start").alias("stt"),
            ts_str("w.end").alias("edt"),
            "event_type",
            "pv_ct",
        )
    )


def dws_trade_order_window(t: dict[str, DataFrame]) -> DataFrame:
    """The reference's planned-but-absent DwsTradeOrderWindow: the bean
    exists with no app using it (COMMON/bean/TradeOrderBean.java:16-29,
    SURVEY §2.10 — orderUniqueUserCount / orderNewUserCount per
    window). Completed here: per-day distinct ordering users, plus NEW
    ordering users (customers whose first-ever order lands that day).
    Both sides reduce to per-day counts BEFORE the join, so the join
    cardinality is days, not customers — scale-safe at any fact size.
    """
    o = t["orders"]
    uu = (
        o.groupBy(date_str("o_orderdate").alias("cur_date"))
        .agg(F.countDistinct("o_custkey").alias("order_uu_ct"))
    )
    new = (
        o.groupBy("o_custkey")
        .agg(F.min("o_orderdate").alias("first_dt"))
        .groupBy(date_str("first_dt").alias("cur_date"))
        .agg(F.count(F.lit(1)).alias("order_new_user_ct"))
    )
    return uu.join(new, "cur_date", "left").select(
        "cur_date",
        "order_uu_ct",
        F.coalesce("order_new_user_ct", F.lit(0)).cast("bigint").alias("order_new_user_ct"),
    )


def serving_topk_channel(t: dict[str, DataFrame]) -> DataFrame:
    """Channel top-k — ``SUM(uv_ct) GROUP BY ch ORDER BY uv_ct DESC
    LIMIT ?`` (PUB/mapper/TrafficStatsMapper.java:24) with a
    deterministic tie-break added.
    """
    ev = t["events"]
    return (
        ev.groupBy(F.col("event_type").alias("ch"))
        .agg(F.sum(cents("value")).alias("value_cents"))
        .orderBy(F.desc("value_cents"), F.asc("ch"))
        .limit(3)
    )


# ---------------------------------------------------------------------------
# X1 — stream splitting / fan-out
# ---------------------------------------------------------------------------


def traffic_log_split(t: dict[str, DataFrame]) -> DataFrame:
    """5-way log split: one parsed stream fanned out into tagged
    substreams (err/start/display/action/page) — DWD:base-log/log/split/
    DwdBaseLog.java:75-175. Batch analogue: tagged filtered projections
    unioned back for verification; the streaming path writes each branch
    to its own sink.
    """
    ev = t["events"]
    branches = {
        "err": F.col("event_type") == "error",
        "start": F.col("event_type") == "signup",
        "action": F.col("event_type") == "purchase",
        "page": F.col("event_type").isin("view", "click"),
    }
    out = None
    for tag, pred in branches.items():
        b = ev.filter(pred).select(
            F.lit(tag).alias("stream"),
            "event_id",
            "user_id",
            cents("value").alias("value_cents"),
        )
        out = b if out is None else out.unionAll(b)
    return out


def event_value_percentiles(t: dict[str, DataFrame]) -> DataFrame:
    """Exact interpolated percentiles per key — quality-distribution
    analytics for training-data pipelines. Spark's ``percentile`` and
    DuckDB's ``quantile_cont`` share the linear-interpolation formula,
    so even the double outputs hash-match (verified bit-exact).

    Scale: computed via ``exact_percentiles_by_counts``, NOT the
    built-in ``percentile`` — the built-in's aggregation buffer
    materializes a type's whole value→count map in ONE reducer
    (group-row-count entries for this continuous double column), where
    the histogram form distributes the distinct values across reducers
    and selects rank brackets with bounded per-key state. Results are
    bit-identical (law-pinned), so no percentile_approx accuracy trade.
    """
    ev = t["events"].filter(F.col("value").isNotNull())
    return exact_percentiles_by_counts(
        ev.select("event_type", "value"),
        ["event_type"],
        "value",
        {"p50": 0.5, "p95": 0.95, "p99": 0.99},
        n_col="n",
    ).select("event_type", "p50", "p95", "p99", "n")


def promo_revenue(t: dict[str, DataFrame]) -> DataFrame:
    """Conditional-aggregation join (TPC-H Q14 shape): share of revenue
    from promo parts per month — LIKE-prefix predicate (the reference's
    startsWith filters, P3/P7) + CASE-routed sums over a fact⋈dim join.
    Output as permille bigint for cross-engine exactness.
    """
    li = t["lineitem"]
    part = F.broadcast(t["part"].select("p_partkey", "p_type"))
    rev = cents("l_extendedprice * (1 - l_discount)")
    joined = li.join(part, li.l_partkey == part.p_partkey).withColumn("rev_cents", rev)
    return (
        joined.groupBy(F.date_format("l_shipdate", "yyyy-MM").alias("ship_month"))
        .agg(
            F.sum(F.when(F.col("p_type").startswith("PROMO"), F.col("rev_cents")).otherwise(0)).alias(
                "promo_cents"
            ),
            F.sum("rev_cents").alias("total_cents"),
        )
        .withColumn("promo_permille", F.expr("(promo_cents * 1000) DIV total_cents"))
    )


def best_supplier(t: dict[str, DataFrame]) -> DataFrame:
    """Top-revenue suppliers (TPC-H Q15 shape): windowed-period revenue
    per supplier, deterministic top-5 — the serving ORDER BY/LIMIT
    pattern (A7) over a join.
    """
    li = t["lineitem"].filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    supp = F.broadcast(t["supplier"].select("s_suppkey", "s_name"))
    return (
        li.groupBy("l_suppkey")
        .agg(F.sum(cents("l_extendedprice * (1 - l_discount)")).alias("total_revenue_cents"))
        .join(supp, F.col("l_suppkey") == supp.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue_cents")
        .orderBy(F.desc("total_revenue_cents"), F.asc("s_suppkey"))
        .limit(5)
    )


# ---------------------------------------------------------------------------
# beyond-reference windows: session windows + sketched distinct counts
# ---------------------------------------------------------------------------


def session_window_events(t: dict[str, DataFrame]) -> DataFrame:
    """Per-user session windows (30 min inactivity gap) — beyond the
    reference's tumbling-only windows (SURVEY §2.10), a first-class
    Spark capability (``session_window``). Session end = last event +
    gap; the oracle reproduces it with the lag/cumsum islands idiom.
    """
    ev = t["events"]
    w = F.session_window("ts", "30 minutes")
    return (
        ev.groupBy(w.alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("ev_ct"),
            F.sum(cents("value")).alias("value_cents"),
        )
        .select(
            "user_id",
            ts_str("w.start").alias("stt"),
            ts_str("w.end").alias("edt"),
            "ev_ct",
            "value_cents",
        )
    )


def ship_latency_percentiles(t: dict[str, DataFrame]) -> DataFrame:
    """Order-to-ship latency SLA percentiles per priority: exact
    p50/p90/p99 of days from order date to each line's ship date —
    the fulfillment dashboard next to the interval-join facts. Exact
    interpolated percentiles over integer day counts ((a+b)/2
    interpolation identical on both engines, the MAD-screen lesson).

    Scale: the join is the co-partitioned orderkey equi-join; the
    percentiles ride ``exact_percentiles_by_counts`` over the
    (priority, days) histogram — the day domain is calendar-bounded,
    but the histogram form also never funnels a priority's value map
    through one aggregation buffer the way the built-in does. Results
    bit-identical (law-pinned).
    """
    o = t["orders"].select("o_orderkey", "o_orderdate", "o_orderpriority")
    li = t["lineitem"].select("l_orderkey", "l_shipdate")
    lat = li.join(o, li.l_orderkey == o.o_orderkey).select(
        "o_orderpriority",
        F.datediff(F.to_date("l_shipdate"), F.to_date("o_orderdate")).alias("days"),
    )
    # explicit width: the day domain is calendar-bounded (a few
    # thousand distinct values), so a fixed 64-day bucket keeps the
    # offset pass at ≤ ~60 rows/priority and skips the auto-width
    # stats job, which would re-execute the fact join
    pct = exact_percentiles_by_counts(
        lat,
        ["o_orderpriority"],
        "days",
        {"p50": 0.5, "p90": 0.9, "p99": 0.99},
        n_col="n_lines",
        bucket_size=64,
    )
    return pct.select(
        "o_orderpriority",
        "n_lines",
        F.expr("cast(round(p50 * 100) as bigint)").alias("p50_centidays"),
        F.expr("cast(round(p90 * 100) as bigint)").alias("p90_centidays"),
        F.expr("cast(round(p99 * 100) as bigint)").alias("p99_centidays"),
    )


def win_wow_change(t: dict[str, DataFrame]) -> DataFrame:
    """Week-over-week revenue change per order priority — the
    trend-readout window every BI layer derives from its weekly
    rollup: cents-exact weekly sums, then lag(1) within each priority
    and the signed change in permille of the prior week (NULL-safe:
    the first week has no prior and emits NULL change).

    Scale: one keyed (priority, week) aggregate over orders, then a
    lag window over the |priorities|×|weeks| AGGREGATE — never raw
    rows. Integer permille keeps cross-engine exactness.
    """
    from pyspark.sql import Window

    o = t["orders"]
    weekly = (
        o.groupBy(
            "o_orderpriority",
            F.date_trunc("week", F.col("o_orderdate").cast("timestamp")).alias("wk"),
        )
        .agg(F.sum(cents("o_totalprice")).alias("rev_cents"))
    )
    w = Window.partitionBy("o_orderpriority").orderBy("wk")
    prev = F.lag("rev_cents").over(w)
    return weekly.select(
        "o_orderpriority",
        date_str("wk").alias("week_start"),
        "rev_cents",
        prev.alias("prev_cents"),
        F.expr(
            "CASE WHEN lag(rev_cents) OVER "
            "(PARTITION BY o_orderpriority ORDER BY wk) IS NULL THEN NULL "
            "ELSE ((rev_cents - lag(rev_cents) OVER "
            "(PARTITION BY o_orderpriority ORDER BY wk)) * 1000) "
            "div lag(rev_cents) OVER (PARTITION BY o_orderpriority ORDER BY wk) END"
        ).alias("wow_permille"),
    )


def events_dwell_median(t: dict[str, DataFrame]) -> DataFrame:
    """Median inter-event dwell time per event type: each user's
    consecutive same-type events yield a dwell gap (seconds), and the
    per-type exact median summarizes engagement cadence — the pacing
    metric behind session-timeout and notification-frequency tuning.

    Scale: ONE per-user ordered window over events computes the lag
    gaps (keyed on user — the reference's keyed-state partitioning),
    then the median rides ``exact_percentiles_by_counts`` over the
    (type, dwell_us) histogram — the built-in ``percentile`` would
    buffer a type's whole gap→count map in one reducer. Bit-identical
    (law-pinned).
    """
    from pyspark.sql import Window

    ev = t["events"]
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    gaps = (
        ev.select("user_id", "event_type", "ts", "event_id")
        .withColumn("prev_ts", F.lag("ts").over(w))
        .filter(F.col("prev_ts").isNotNull())
        .select(
            "event_type",
            (
                F.unix_micros(F.col("ts").cast("timestamp"))
                - F.unix_micros(F.col("prev_ts").cast("timestamp"))
            ).alias("dwell_us"),
        )
    )
    pct = exact_percentiles_by_counts(
        gaps, ["event_type"], "dwell_us", {"med": 0.5}, n_col="n_gaps"
    )
    return pct.select(
        "event_type",
        "n_gaps",
        # explicit floor: with an even gap count the interpolated median
        # lands on x.5, where Spark's double->bigint cast TRUNCATES but
        # DuckDB's ROUNDS - found as a real off-by-one at sf0.1 (r5)
        F.expr("cast(floor(med) as bigint)").alias("median_dwell_us"),
    )


def traffic_bounce_rate(t: dict[str, DataFrame]) -> DataFrame:
    """Per-day bounce rate — the canonical web-analytics KPI the
    reference's traffic windows stop short of: sessionize each user's
    events with the 30-minute inactivity gap (``session_window``,
    same geometry as ``session_window_events``), call a
    single-event session a bounce, and roll sessions/bounces/permille
    up by session-start day. The oracle reproduces the sessionization
    with the lag/cumsum islands idiom.

    Scale: one keyed session aggregation over (user, ts) + one
    |days|-row rollup; no windows over raw events beyond the keyed
    session state.
    """
    ev = t["events"]
    sessions = (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("ev_ct"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd").alias("day"),
            "ev_ct",
        )
    )
    return (
        sessions.groupBy("day")
        .agg(
            F.count(F.lit(1)).alias("sessions"),
            F.sum((F.col("ev_ct") == 1).cast("bigint")).alias("bounces"),
        )
        .select(
            "day",
            "sessions",
            "bounces",
            F.expr("(bounces * 1000) div sessions").alias("bounce_permille"),
        )
    )


def approx_uv_window(t: dict[str, DataFrame]) -> DataFrame:
    """A6 at scale — HyperLogLog distinct users per window
    (approx_count_distinct): the sketched path the reference's
    Set<String> accumulator (TradeProvinceOrderBean.java:43) cannot
    take. Declared rows-only (sketch estimates are engine-specific);
    the exact variant is agg_global_uv.
    """
    ev = t["events"]
    w = F.window("ts", "1 hour")
    return (
        ev.groupBy(w.alias("w"))
        .agg(F.approx_count_distinct("user_id").alias("uv_approx"))
        .select(
            ts_str("w.start").alias("stt"),
            ts_str("w.end").alias("edt"),
            "uv_approx",
        )
    )


def traffic_hour_heatmap(t: dict[str, DataFrame]) -> DataFrame:
    """The weekday × hour traffic heatmap — the first dashboard every
    traffic team builds over its page-view window
    (DwsTrafficVcChArIsNewPageViewWindow's readout rotated into
    calendar coordinates): counts, distinct users and value per
    (ISO weekday, hour-of-day) cell. One keyed aggregate; output is a
    fixed ≤ 7×24 cells at any event volume.
    """
    ev = t["events"]
    return (
        ev.groupBy(
            F.dayofweek("ts").cast("bigint").alias("dow"),
            F.hour("ts").cast("bigint").alias("hod"),
        )
        .agg(
            F.count(F.lit(1)).alias("pv_ct"),
            F.countDistinct("user_id").alias("uv_ct"),
            F.sum(cents("value")).alias("value_cents"),
        )
    )


def sql_weekly_trade_report(t: dict[str, DataFrame]) -> DataFrame:
    """The weekly trade report expressed entirely as SQL TEXT via
    ``spark.sql`` over the catalog-registered views — proving the
    engine's second front door: everything else in this repo uses the
    DataFrame API, but a reference user coming from FlinkSQL
    (BaseSQLApp-style jobs are all SQL text) can address the same
    tables with plain SQL and get the same Catalyst plans. The
    ``catalog.load_tables`` call that every query goes through
    registers the views.

    Scale: same plan as the DataFrame phrasing would produce — one
    keyed aggregate with map-side partials; SQL text changes nothing
    physically (that's the point).
    """
    spark = t["orders"].sparkSession
    return spark.sql(
        """
        SELECT date_format(date_trunc('week', o_orderdate), 'yyyy-MM-dd') AS week,
               count(*) AS n_orders,
               count(DISTINCT o_custkey) AS n_customers,
               sum(cast(round(o_totalprice * 100) AS bigint)) AS gmv_cents
        FROM orders
        GROUP BY 1
        """
    )


def join_star_denormalize(t: dict[str, DataFrame]) -> DataFrame:
    """The full-snowflake "one big table" build — every dimension of
    the schema joined onto the fact in ONE query (lineitem ⋈ orders ⋈
    customer ⋈ nation ⋈ region on the demand side, ⋈ part and
    ⋈ supplier ⋈ nation on the supply side) — the denormalized export
    a lakehouse ships to BI/feature stores. Validated as a checksum
    aggregate per (customer region, supplier nation, brand) so the
    oracle compares a bounded readout, not a fact dump.

    Plan: the fact shuffles ONCE (lineitem ⋈ orders on orderkey);
    every dimension chain broadcasts (plan-asserted ≥5 broadcast hash
    joins, no sort-merge beyond the fact join) — the widest
    enrichment in the repo, and exactly the shape a 100 TB export
    wants: dims are MBs, the fact streams through map-side.
    """
    li = t["lineitem"]
    o = t["orders"]
    fact = li.join(o, li["l_orderkey"] == o["o_orderkey"])
    cust = (
        t["customer"].select("c_custkey", "c_nationkey")
        .join(F.broadcast(t["nation"].select("n_nationkey", "n_regionkey")),
              F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(t["region"].select("r_regionkey", "r_name")),
              F.col("n_regionkey") == F.col("r_regionkey"))
        .select("c_custkey", F.col("r_name").alias("cust_region"))
    )
    supp = (
        t["supplier"].select("s_suppkey", "s_nationkey")
        .join(F.broadcast(t["nation"].select(F.col("n_nationkey").alias("sn_key"),
                                             F.col("n_name").alias("supp_nation"))),
              F.col("s_nationkey") == F.col("sn_key"))
        .select("s_suppkey", "supp_nation")
    )
    wide = (
        fact.join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(t["part"].select("p_partkey", "p_brand")),
              F.col("l_partkey") == F.col("p_partkey"))
    )
    return wide.groupBy("cust_region", "supp_nation", "p_brand").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(cents("l_extendedprice * (1 - l_discount)")).alias("revenue_cents"),
        F.sum(F.col("l_quantity").cast("bigint")).alias("total_qty"),
    )


def approx_uv_sketch_rollup(t: dict[str, DataFrame]) -> DataFrame:
    """The RE-AGGREGATABLE sketch pattern — the actual 100 TB answer
    for distinct counts: per-day HLL sketches (Datasketches
    ``hll_sketch_agg``) merged up to per-week UV with ``hll_union_agg``
    — the day sketches are computed ONCE and serve every coarser
    rollup (week/month/all-time) by cheap byte-level union, where
    exact distinct or plain approx_count_distinct would rescan raw
    events per granularity. This is how a serving layer maintains UV
    at every zoom level from one materialization (the reference
    re-scans per /gmv query instead).

    Declared rows-only (sketch estimates are engine-specific);
    tests/test_sketch_rollup.py bounds the estimate against the exact
    count and asserts the merged weekly sketch equals sketching the
    week directly.
    """
    ev = t["events"].select(F.to_date("ts").alias("day"), "user_id")
    daily = ev.groupBy("day").agg(F.hll_sketch_agg("user_id").alias("sk"))
    weekly = (
        daily.groupBy(F.date_trunc("week", F.col("day")).alias("wk"))
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("uv_est"))
    )
    return weekly.select(date_str("wk").alias("week"), "uv_est")


#: KMV sketch size. Relative error ≈ 1/√(K−1) ≈ 12.6%; counts ≤ K are
#: exact (the sketch holds the whole distinct set).
KMV_K = 64
#: 44-bit md5-derived hash: small enough that (K−1)·2⁴⁴ stays in int64,
#: large enough that birthday collisions are negligible at these
#: cardinalities (both engines hash identically, so any collision is
#: shared and determinism is unaffected).
def _h44_spark(col: str) -> str:
    return f"cast(conv(substring(md5(cast({col} as string)), 1, 11), 16, 10) as bigint)"


def _h44_duck(col: str) -> str:
    return f"('0x' || substr(md5({col}::VARCHAR), 1, 11))::BIGINT"


_H44_SPARK = _h44_spark("user_id")
_H44_DUCK = _h44_duck("user_id")
_KMV_SPACE = 1 << 44


#: salt fan-out for the two-level K-smallest rank: bounds any single
#: reducer's sort to ~1/16 of a hot key's distinct hashes.
_KMV_SALTS = 16


def topk_per_key(
    df: DataFrame,
    keys: list[str],
    order_cols: list,
    k: int,
    salt_on: str,
    rank_col: str = "rk",
) -> DataFrame:
    """Generic two-level salted top-K per key — the hot-key rank
    mitigation (``kmv_topk_per_key``'s shape) for ANY total order:
    rank within (keys, xxhash64(``salt_on``) mod 16) salt partitions
    first and keep K per salt (no reducer ever sorts more than ~1/16
    of a hot key's rows), then rank the ≤ 16·K survivors per key.
    Top-K sets under a total order compose (the global K first rows of
    a union are the K first of the union of per-part K-first sets), so
    the result is EXACTLY the single-window ``row_number() <= k``,
    rank for rank — pinned by
    tests/test_invariants_new.py::test_generic_topk_two_level_equals_global.
    ``order_cols`` must be a TOTAL order (include a unique tie-break);
    ``salt_on`` should be a high-cardinality column so ties in the
    leading order columns still spread across salts. The intermediate
    salt/rank columns are guaranteed fresh names (a caller column named
    ``_salt``/``_rk1`` is never shadowed — r8 advisor finding), and a
    pre-existing ``rank_col`` is rejected rather than silently
    overwritten by ``withColumn``.
    """
    if rank_col in df.columns:
        raise ValueError(
            f"topk_per_key: rank_col {rank_col!r} already exists in the input"
        )
    salt_c, rk1_c = "_salt", "_rk1"
    while salt_c in df.columns or rk1_c in df.columns:
        salt_c, rk1_c = salt_c + "_", rk1_c + "_"
    w1 = Window.partitionBy(*keys, salt_c).orderBy(*order_cols)
    w2 = Window.partitionBy(*keys).orderBy(*order_cols)
    pre = (
        df.withColumn(salt_c, F.pmod(F.xxhash64(salt_on), F.lit(_KMV_SALTS)))
        .withColumn(rk1_c, F.row_number().over(w1))
        .filter(F.col(rk1_c) <= k)
        .drop(salt_c, rk1_c)
    )
    return pre.withColumn(rank_col, F.row_number().over(w2)).filter(F.col(rank_col) <= k)


def prefix_sum_per_key(
    df: DataFrame,
    keys: list[str],
    order_col: str,
    val_col: str,
    out_col: str,
    bucket_size: int | float | str | F.Column | None = 4096,
    tie_cols: list[str] | None = None,
    origin: float | F.Column | None = None,
) -> DataFrame:
    """Exact distributed running sum of ``val_col`` in ``order_col``
    order within each key — the classic two-level scan, built so a hot
    key never drags its whole history through one reducer the way a
    naive ``sum().over(Window.partitionBy(keys).orderBy(order_col))``
    does:

    1. bucket rows by ``order_col div bucket_size`` and run the
       within-bucket cumsum (each window partition is ≤ bucket_size
       rows — embarrassingly parallel);
    2. aggregate per-bucket totals (map-side combinable) and window
       ONLY the |buckets| total rows per key into exclusive running
       offsets (a 10⁹-row key is ~250k bucket rows — reducer-safe);
    3. join the offsets back on (keys, bucket) and add.

    Identical to the single-window form row-for-row (addition is
    associative, so ANY bucketing yields the same sums; pinned by
    tests/test_invariants_new.py::
    test_prefix_sum_two_level_equals_window). ``order_col`` must be
    numeric (it drives the bucket id and leads the within-bucket
    order); fractional columns bucket via ``floor(order_col / width)``
    — any monotone map to bucket ids is exact, only balance varies.
    ``tie_cols`` extend the within-bucket order when ``order_col``
    alone is not unique per key (ties never straddle buckets — equal
    order values share a bucket id — so the composite rank is exact);
    (order_col, *tie_cols) must be unique per key. Intermediate column
    names are derived fresh; a pre-existing ``out_col`` is rejected.

    Bucket widths are VALUE-based, so per-bucket row counts track the
    order key's density: the 4096 default assumes roughly-dense ids
    (manifest sequence numbers). For sparse ids — 64-bit content
    hashes, snowflake ids — pass ``bucket_size=None``: the width is
    then auto-scaled from the global (min, max, count) of
    ``order_col`` (one O(1)-result driver agg over ``df``, the
    rel_q22 pattern — pass an explicit width instead when ``df``'s
    plan is expensive and the caller can derive the stats from a
    cheaper scan), which keeps ~4096 rows per bucket for dense AND
    uniformly-spread ids alike. Pathologically CLUSTERED unique ids
    (half the rows inside one bucket-width value range) still
    unbalance; a range-partitioner scan would be fully general but
    makes the bucket id depend on sampled boundaries instead of being
    a pure deterministic row function, so it is deliberately not used.

    ``bucket_size="inplan"`` (r9 ADVICE #3, the streaming-safe auto
    width): same (min, max, count)-derived width as ``None``, but
    computed INSIDE the returned plan — a 1-row global aggregate of
    ``df`` broadcast into the bucket-id expression — instead of an
    eager driver agg at BUILD time. A streaming poll step that re-runs
    a ``None``-width plan keeps the width frozen from whatever the
    memory table held when the pipeline was built (an empty/small
    first batch ⇒ a degenerate width ⇒ unbounded window partitions for
    the stream's whole life; results stay exact — width only affects
    balance — but the state-bounding goal is silently lost). The
    in-plan width re-derives on every execution, so each poll buckets
    against CURRENT stats. Cost: ``df``'s plan feeds both the stats
    row and the main scan (one extra aggregate; AQE reuses the
    exchange when ``df`` ends in a shuffle, the histogram shape all
    current callers have), plus a 1-row broadcast join.

    ``origin`` anchors the bucket grid: ids come from
    ``floor((order_col − origin) / width)``, so passing the column's
    (per-key) minimum keeps ids ≤ ~n/4096 regardless of the values'
    MAGNITUDE. Without it, an explicit fractional width pairs with
    origin 0 — and a caller that derives a tiny width from a
    degenerate span of epoch-microsecond values (~1.7e15) produces ids
    past 2⁶³, where the ANSI cast clamp collapses every row into one
    bucket: results stay exact (bucketing only affects balance) but
    the state-bounding the width exists for is silently lost
    (r10 ADVICE #3). The auto paths anchor at the observed min for
    exactly this reason; explicit-width callers pass the lo they
    already derived from their shared stats pass. ``bucket_size`` and
    ``origin`` may also be ``Column`` expressions over ``df``'s own
    columns — the stacked-metric shape, where ONE pass histograms
    several metrics and each key row carries its own width/anchor
    (user_rfm_segments); Column bucketing runs in double (monotone in
    ``order_col``, ties share a bucket — the two properties the
    two-level scan needs).
    """
    if out_col in df.columns:
        raise ValueError(
            f"prefix_sum_per_key: out_col {out_col!r} already exists in the input"
        )
    fractional = isinstance(df.schema[order_col].dataType, (DoubleType, FloatType))
    frac_origin = 0.0
    if bucket_size is None:
        lo, hi, n = df.agg(
            F.min(order_col), F.max(order_col), F.count(F.lit(1))
        ).first()
        if fractional:
            # anchor buckets at the observed min so the bucket id stays
            # ≤ ~n/4096 regardless of the values' magnitude (floor(v/w)
            # on raw huge values could overflow bigint)
            frac_origin = float(lo) if n else 0.0
            span = max(float(hi) - float(lo), 1e-9) if n else 1.0
            bucket_size = max(span * 4096.0 / max(int(n or 0), 1), 1e-9)
        else:
            span = max(int(hi) - int(lo) + 1, 1) if n else 1
            bucket_size = max(1, min(span, span * 4096 // max(int(n or 0), 1)))
    b_c, run_c, bt_c, off_c = "_b", "_run_in", "_bt", "_off"
    while any(c in df.columns for c in (b_c, run_c, bt_c, off_c)):
        b_c, run_c, bt_c, off_c = (c + "_" for c in (b_c, run_c, bt_c, off_c))
    if isinstance(bucket_size, str) and bucket_size == "inplan":
        lo_c, hi_c, n_c = "_w_lo", "_w_hi", "_w_n"
        while any(c in df.columns for c in (lo_c, hi_c, n_c)):
            lo_c, hi_c, n_c = (c + "_" for c in (lo_c, hi_c, n_c))
        stats = df.agg(
            F.min(order_col).alias(lo_c),
            F.max(order_col).alias(hi_c),
            F.count(F.lit(1)).alias(n_c),
        )
        if fractional:
            width = (
                f"greatest((cast({hi_c} as double) - cast({lo_c} as double))"
                f" * 4096.0 / greatest({n_c}, 1), 1e-9)"
            )
            bucket = F.expr(
                f"cast(floor((cast({order_col} as double) - cast({lo_c} as double))"
                f" / {width}) as bigint)"
            )
        else:
            # double arithmetic: span·4096 would overflow bigint for
            # 64-bit id spans, and width only affects balance. The
            # final cast is clamped at 9·10¹⁸ (< 2⁶³−1): a full
            # signed-64 span (~1.84·10¹⁹, exactly the 64-bit content
            # hashes this mode advertises) with few rows would
            # otherwise CAST_OVERFLOW under ANSI — the streaming
            # first-poll regime (r10 review finding, verified).
            span = f"(cast({hi_c} as double) - cast({lo_c} as double) + 1.0)"
            width = (
                f"cast(least(greatest(least({span},"
                f" {span} * 4096.0 / greatest({n_c}, 1)), 1.0), 9.0e18) as bigint)"
            )
            bucket = F.expr(f"{order_col} div {width}")
        pre = df.crossJoin(F.broadcast(stats)).withColumn(b_c, bucket).drop(
            lo_c, hi_c, n_c
        )
    elif isinstance(bucket_size, Column) or isinstance(origin, Column):
        w = bucket_size if isinstance(bucket_size, Column) else F.lit(float(bucket_size))
        o = origin if isinstance(origin, Column) else F.lit(float(origin or 0.0))
        bucket = F.floor((F.col(order_col).cast("double") - o) / w).cast("bigint")
        pre = df.withColumn(b_c, bucket)
    else:
        if origin is not None:
            frac_origin = float(origin)
        bucket = (
            F.expr(
                f"cast(floor(({order_col} - {frac_origin!r}) / {bucket_size!r}) as bigint)"
            )
            if fractional
            # origin assumes an anchor ≤ min(order_col) (callers pass an
            # observed lo), so the subtraction cannot underflow
            else F.expr(
                f"({order_col} - {int(origin)}) div {bucket_size}"
                if origin is not None
                else f"{order_col} div {bucket_size}"
            )
        )
        pre = df.withColumn(b_c, bucket)
    within = Window.partitionBy(*keys, b_c).orderBy(order_col, *(tie_cols or []))
    part = pre.withColumn(run_c, F.sum(val_col).over(within))
    btot = part.groupBy(*keys, b_c).agg(F.sum(val_col).alias(bt_c))
    wb = (
        Window.partitionBy(*keys)
        .orderBy(b_c)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    boff = btot.withColumn(off_c, F.coalesce(F.sum(bt_c).over(wb), F.lit(0))).drop(bt_c)
    # rename the offset side's join columns: both sides descend from
    # `df`, and when that parent is a named view (a streaming memory
    # table) Spark's self-join resolution rejects the shared-lineage
    # equi-join (the events_anomaly_mad lesson)
    jcols = list(keys) + [b_c]
    rcols = [c + "__r" for c in jcols]
    while any(c in df.columns for c in rcols):
        rcols = [c + "_" for c in rcols]
    for old, new in zip(jcols, rcols):
        boff = boff.withColumnRenamed(old, new)
    cond = None
    for old, new in zip(jcols, rcols):
        eq = F.col(old) == F.col(new)
        cond = eq if cond is None else (cond & eq)
    return (
        part.join(boff, cond)
        .drop(*rcols)
        .withColumn(out_col, F.col(run_c) + F.col(off_c))
        .drop(b_c, run_c, off_c)
    )


def ntile_expr(rank_col: str, n_col: str, n_buckets: int) -> F.Column:
    """The exact NTILE closed form from a (1-based) rank and a group
    size — the distributed replacement for ``ntile(B).over(window)``,
    which (unlike ``row_number() <= k``) has no WindowGroupLimit
    pushdown and therefore sorts the whole partition through one
    reducer. With ``q = N div B`` and ``m = N mod B`` the first ``m``
    buckets take ``q+1`` rows and the rest ``q`` — bucket-for-bucket
    identical to the window form (pinned by
    tests/test_invariants_new.py::test_ntile_closed_form_equals_window).
    Pair with a distributed rank from ``prefix_sum_per_key``.

    When a group has fewer rows than buckets (``q = N div B = 0``) the
    ELSE branch is proven unreachable — ``m = N`` so ``first = N·1``
    and every rank ≤ N ≤ first — but its divisor is still guarded with
    ``greatest(q, 1)`` (r9 ADVICE #4) so the expression never depends
    on CASE-WHEN laziness to avoid a divide-by-zero under ANSI mode or
    a future refactor; the guard is inert on the reachable path."""
    b = int(n_buckets)
    q = f"({n_col} div {b})"
    m = f"({n_col} % {b})"
    first = f"({m} * ({q} + 1))"
    return F.expr(
        f"CASE WHEN {rank_col} <= {first}"
        f" THEN ({rank_col} - 1) div ({q} + 1) + 1"
        f" ELSE {m} + ({rank_col} - {first} - 1) div greatest({q}, 1) + 1 END"
    ).cast("bigint")


def exact_percentiles_by_counts(
    df: DataFrame,
    keys: list[str],
    val_col: str,
    targets: dict[str, float],
    n_col: str = "n_total",
    bucket_size: int | float | str | F.Column | None = None,
    origin: float | F.Column | None = None,
) -> DataFrame:
    """Exact interpolated percentiles per key, computed DISTRIBUTEDLY
    from the (keys, value) → count histogram — the scale-safe
    replacement for Spark's built-in ``percentile``, whose aggregation
    buffer materializes a group's whole value→count map in ONE reducer
    (for a continuous double column that is group-row-count entries:
    the same single-buffer hazard class as the old inverted-index
    posting list, but in an aggregate nobody sees in the plan).

    Pipeline: (1) value counts — one keyed aggregate with map-side
    partials, state per reducer bounded by its SHARD of the distinct
    values, not the group; (2) cumulative counts in value order via the
    two-level ``prefix_sum_per_key`` (~4096-row bucket windows + a
    |buckets|-row offset pass); (3) per-key totals joined back;
    (4) each target percentile selects its bracketing value rows by
    rank range (a histogram row covers ranks (cum−ct, cum]) with
    conditional aggregates, then applies Spark's own interpolation
    formula ``(higher−pos)·v_lo + (pos−lower)·v_hi`` with
    ``pos = p·(N−1)`` — bit-identical to the built-in (and therefore to
    the DuckDB ``quantile_cont`` oracles), pinned by
    tests/test_invariants_new.py::test_exact_percentiles_by_counts_equals_builtin.

    ``targets`` maps output column name → fraction; outputs are double.
    ``keys=[]`` computes global percentiles (the 1-row total rides a
    broadcast nested loop — the tiny-aggregate pattern). NULL values
    must be pre-filtered (the built-in skips them; this helper does not
    guess). ``bucket_size=None`` auto-scales the prefix-sum bucket
    width from a (min, max, count) driver agg over the histogram — one
    extra job over the upstream plan; callers that already know the
    value span (or call this twice over the same input, the MAD shape)
    should pass an explicit width derived from ONE shared stats pass —
    width only affects balance, never results.
    """
    ct_c = "_pct_ct"
    while ct_c in df.columns:
        ct_c += "_"
    counts = df.groupBy(*keys, val_col).agg(F.count(F.lit(1)).alias(ct_c))
    if not df.isStreaming:
        # r13: pin the histogram ONCE. The selection core references it
        # from several plan positions (the width stats, the prefix-sum
        # bucket/offset legs and their join, per-key totals), and
        # Catalyst inlines each reference as a plan-tree copy — so the
        # caller's UPSTREAM (a per-user lag window over all events for
        # the dwell median, a full corpus scan for length percentiles)
        # re-executed per copy. The histogram is the designed
        # compressed distribution — the same frame the streaming twins
        # keep as their only state — so materializing it is linear and
        # bounded, and strictly cheaper than one upstream re-execution.
        # (Streaming inputs can't checkpoint; they keep the in-plan
        # width machinery and maintain the histogram as stream state
        # via exact_percentiles_from_counts instead.)
        counts = counts.localCheckpoint()
    return exact_percentiles_from_counts(
        counts, keys, val_col, ct_c, targets, n_col, bucket_size, origin
    )


def exact_percentiles_from_counts(
    counts: DataFrame,
    keys: list[str],
    val_col: str,
    ct_col: str,
    targets: dict[str, float],
    n_col: str = "n_total",
    bucket_size: int | float | str | F.Column | None = None,
    origin: float | F.Column | None = None,
) -> DataFrame:
    """The selection/interpolation core of ``exact_percentiles_by_counts``
    over a PRE-COUNTED (keys, value, count) histogram — split out so a
    streaming pipeline can maintain the histogram as its only streaming
    aggregate (one keyed state entry per (key, value), distributed
    across the state store instead of one value→count map per key) and
    re-run this batch-side algebra per poll, the flow_t_closeness
    pattern. Batch-only operators inside (windows, joins).

    CARDINALITY CONTRACT (r11 ADVICE #2): the ``bucket_size="inplan"``
    path broadcasts its per-key stats frame — ONE ROW PER DISTINCT
    KEY TUPLE (min, max, n) — exactly like the 1-row global-stats
    broadcast, but |keys|-sized. Every current caller keys on tiny
    enums (event_type, the 3 RFM metrics); a caller with
    high-cardinality keys (user_id-grade) would force a driver-sized
    broadcast build. For such keys pass an explicit ``bucket_size``
    (the non-inplan path shuffles the |keys|-row join instead of
    broadcasting it, and AQE will still pick broadcast when the side
    is actually small)."""
    ct_c, cum_c = ct_col, "_pct_cum"
    while cum_c in counts.columns:
        cum_c += "_"
    if keys and isinstance(bucket_size, str) and bucket_size == "inplan":
        # keyed in-plan stats (r11): ONE aggregate over `counts` feeds
        # the bucket width, the lo anchor AND the per-key N — per-key
        # widths bucket each key against its OWN span (a hot key's
        # distribution no longer shares a width with a sparse one),
        # the anchor keeps ids ≤ ~n/4096 at any magnitude (r10 ADVICE
        # #3), and n rides THROUGH the prefix scan instead of a second
        # `counts` aggregation + join. That second reference mattered:
        # Catalyst inlines every DataFrame reference as a plan-tree
        # copy and (measured, r11) identical exchange subtrees under
        # different consumers are not deduped at runtime, so each
        # reference to `counts` re-executes its whole subtree — for
        # the streaming twins that is a re-scan per poll, for nested
        # callers (the MAD screen) it compounded to a ~100-exchange
        # emit plan. Width re-derives in-plan on every execution, so
        # polls bucket against CURRENT stats (the r9 ADVICE #3
        # guarantee, unchanged).
        if n_col in counts.columns:
            raise ValueError(
                f"exact_percentiles_from_counts: n_col {n_col!r} already in input"
            )
        lo_c, hi_c = "_ks_lo", "_ks_hi"
        while any(c in counts.columns for c in (lo_c, hi_c)):
            lo_c, hi_c = lo_c + "_", hi_c + "_"
        kstats = counts.groupBy(*keys).agg(
            F.min(val_col).alias(lo_c),
            F.max(val_col).alias(hi_c),
            F.sum(ct_c).alias(n_col),
        )
        rkeys = [k + "__s" for k in keys]
        while any(k in counts.columns for k in rkeys):
            rkeys = [k + "_" for k in rkeys]
        for old, new in zip(keys, rkeys):
            kstats = kstats.withColumnRenamed(old, new)
        cond = None
        for old, new in zip(keys, rkeys):
            eq = F.col(old) == F.col(new)
            cond = eq if cond is None else (cond & eq)
        enriched = counts.join(F.broadcast(kstats), cond).drop(*rkeys)
        lo = F.col(lo_c).cast("double")
        span = F.col(hi_c).cast("double") - lo
        width = F.greatest(
            span * F.lit(4096.0) / F.greatest(F.col(n_col), F.lit(1)),
            F.lit(1e-9),
        )
        cum = prefix_sum_per_key(
            enriched, keys, val_col, ct_c, cum_c, bucket_size=width, origin=lo
        )
        joined = cum.drop(lo_c, hi_c)
    else:
        cum = prefix_sum_per_key(
            counts, keys, val_col, ct_c, cum_c, bucket_size=bucket_size, origin=origin
        )
        n_by_key = counts.groupBy(*keys).agg(F.sum(ct_c).alias(n_col))
        if not keys:
            joined = cum.crossJoin(F.broadcast(n_by_key))
        else:
            # renamed-key join: both sides descend from `counts`, which
            # may be a named streaming memory table (see prefix_sum_per_key)
            rkeys = [k + "__n" for k in keys]
            while any(k in counts.columns for k in rkeys):
                rkeys = [k + "_" for k in rkeys]
            for old, new in zip(keys, rkeys):
                n_by_key = n_by_key.withColumnRenamed(old, new)
            cond = None
            for old, new in zip(keys, rkeys):
                eq = F.col(old) == F.col(new)
                cond = eq if cond is None else (cond & eq)
            joined = cum.join(n_by_key, cond).drop(*rkeys)
    aggs = []
    for name, p in targets.items():
        pos = f"(cast({p!r} as double) * ({n_col} - 1))"
        lo_rank = f"(cast(floor({pos}) as bigint) + 1)"
        hi_rank = f"(cast(ceil({pos}) as bigint) + 1)"
        aggs.append(
            F.expr(
                f"max(CASE WHEN {cum_c} - {ct_c} < {lo_rank} AND {lo_rank} <= {cum_c}"
                f" THEN cast({val_col} as double) END)"
            ).alias(f"_lo_{name}")
        )
        aggs.append(
            F.expr(
                f"max(CASE WHEN {cum_c} - {ct_c} < {hi_rank} AND {hi_rank} <= {cum_c}"
                f" THEN cast({val_col} as double) END)"
            ).alias(f"_hi_{name}")
        )
    out = joined.groupBy(*keys, n_col).agg(*aggs)
    finals = [
        F.expr(
            f"CASE WHEN floor(cast({p!r} as double) * ({n_col} - 1)) = ceil(cast({p!r} as double) * ({n_col} - 1))"
            f" THEN _lo_{name}"
            f" ELSE (ceil(cast({p!r} as double) * ({n_col} - 1)) - cast({p!r} as double) * ({n_col} - 1)) * _lo_{name}"
            f"    + (cast({p!r} as double) * ({n_col} - 1) - floor(cast({p!r} as double) * ({n_col} - 1))) * _hi_{name}"
            " END"
        ).alias(name)
        for name, p in targets.items()
    ]
    return out.select(*keys, n_col, *finals)


def kmv_topk_per_key(distinct_kh: DataFrame, key: str, n_alias: str = "n") -> DataFrame:
    """Two-level K-smallest over (key, h) distinct-hash rows — the
    skew mitigation the KMV docstrings promised, implemented: rank
    within (key, h mod 16) salt partitions first and keep K per salt
    (so no reducer ever sorts more than ~1/16 of a hot key's hashes),
    then rank the ≤ 16·K survivors per key — KMV min-sets compose, so
    this is EXACTLY the global K smallest. The key's full distinct
    count rides a keyed aggregate (map-side partials) broadcast back,
    not a count window over raw rows (which would drag every row
    through the hot key's single partition). Returns
    (key, h, rk, ``n_alias``) with rk ≤ K.
    """
    n_by_key = distinct_kh.groupBy(key).agg(F.count(F.lit(1)).alias(n_alias))
    w1 = Window.partitionBy(key, "salt").orderBy("h")
    pre = (
        distinct_kh.withColumn("salt", F.pmod(F.col("h"), F.lit(_KMV_SALTS)))
        .withColumn("rk1", F.row_number().over(w1))
        .filter(F.col("rk1") <= KMV_K)
    )
    w2 = Window.partitionBy(key).orderBy("h")
    return (
        pre.select(key, "h")
        .withColumn("rk", F.row_number().over(w2))
        .filter(F.col("rk") <= KMV_K)
        .join(F.broadcast(n_by_key), key)
    )


def _kmv_estimate(per_key: DataFrame, key) -> DataFrame:
    """The KMV estimator algebra over (key, h) distinct-hash rows:
    rank hashes ascending per key (two-level salted rank — see
    kmv_topk_per_key); estimate = (K−1)·2⁴⁴ div h₍K₎, or the exact
    distinct count when it does not reach K. Shared by the daily
    sketch and the weekly merge (KMV's defining property: the K
    smallest of a union of per-part K-smallest sets equal the K
    smallest of the union — so rollup ≡ direct sketch, exactly)."""
    ranked = kmv_topk_per_key(per_key, key, n_alias="n_hashes")
    return (
        ranked.groupBy(key)
        .agg(
            F.max("n_hashes").alias("n_hashes"),
            F.max(F.when(F.col("rk") == KMV_K, F.col("h"))).alias("mk"),
        )
        .select(
            key,
            "n_hashes",
            # greatest(mk,1): an md5 prefix of 11 zero hex chars hashes
            # to 0 (~2⁻⁴⁴/user) and would divide by zero; the guard
            # makes the algebra total in both engines (same clamp in
            # the DuckDB oracles).
            F.expr(
                f"CASE WHEN n_hashes <= {KMV_K} THEN n_hashes"
                f" ELSE {KMV_K - 1} * {_KMV_SPACE} div greatest(mk, 1) END"
            ).alias("uv_kmv"),
        )
    )


def approx_uv_kmv(t: dict[str, DataFrame]) -> DataFrame:
    """A6 at scale, DETERMINISTICALLY — per-day distinct users via a
    K-minimum-values sketch (Bar-Yossef et al. 2002) built from the
    md5 hash both engines share: unlike the HLL pair above (engine-
    specific registers ⇒ rows-only), every intermediate here is exact
    integer algebra, so the approximate count itself is hash-oracled
    against DuckDB. est = (K−1)·2⁴⁴ div h₍K₎ over the K smallest
    distinct user hashes; days with ≤ K distinct users are exact.

    Scale: one keyed distinct (day, hash) shuffle, then the two-level
    salted K-smallest rank (kmv_topk_per_key) — no reducer ever sorts
    more than ~1/16 of a hot day's hashes, because min-sets compose:
    the partial trick HLL uses, implemented rather than documented.
    """
    ev = (
        t["events"]
        .select(F.to_date("ts").alias("d"), F.expr(_H44_SPARK).alias("h"))
        .distinct()
    )
    out = _kmv_estimate(ev, "d")
    return out.select(date_str(F.col("d")).alias("day"), "n_hashes", "uv_kmv")


def approx_uv_kmv_rollup(t: dict[str, DataFrame]) -> DataFrame:
    """The re-aggregatable KMV rollup — the deterministic, hash-oracled
    sibling of approx_uv_sketch_rollup: per-day K-smallest hash sets
    (the stored sketch, K rows/day) merge to per-week UV by distinct-
    union + re-rank. KMV merge is EXACT (any hash among the week's K
    smallest is necessarily among its day's K smallest), so the rolled
    estimate equals sketching the week directly — pinned by a test law
    and by this very oracle, which DuckDB computes through the same
    two-level composition.
    """
    ev = (
        t["events"]
        .select(F.to_date("ts").alias("d"), F.expr(_H44_SPARK).alias("h"))
        .distinct()
    )
    ranked = kmv_topk_per_key(ev, "d", n_alias="n_day")
    # The stored per-day sketch: K smallest hashes + a truncation flag.
    # The flag is what makes the merge LOSSLESS in the exactness
    # decision: a merged set of size ≤ K is exact only if NO day was
    # truncated (a truncated day's unseen hashes could lie anywhere
    # above its h_K); with the flag, rollup ≡ direct is a theorem for
    # every cardinality pattern, not just the common ones.
    # localCheckpoint: flags and the merged set both consume the daily
    # sketch; without it Spark recomputes the events scan + distinct +
    # rank window twice (plan-audited: 8 exchanges → 4). The sketch is
    # ≤ K rows per day — exactly the artifact a production pipeline
    # would persist as the stored daily sketch table.
    daily_sketch = ranked.select(
        F.date_trunc("week", F.col("d")).alias("wk"),
        "h",
        (F.col("n_day") > KMV_K).cast("int").alias("day_full"),
    ).localCheckpoint()
    flags = daily_sketch.groupBy("wk").agg(F.max("day_full").alias("any_full"))
    merged = daily_sketch.select("wk", "h").distinct()
    w2 = Window.partitionBy("wk").orderBy("h")
    r2 = merged.select(
        "wk",
        "h",
        F.row_number().over(w2).alias("rk"),
        F.count(F.lit(1)).over(Window.partitionBy("wk")).alias("n_merged"),
    )
    out = (
        r2.filter(F.col("rk") <= KMV_K)
        .groupBy("wk")
        .agg(
            F.max("n_merged").alias("n_hashes"),
            F.max(F.when(F.col("rk") == KMV_K, F.col("h"))).alias("mk"),
        )
        .join(flags, "wk")
        .select(
            "wk",
            "n_hashes",
            F.expr(
                f"CASE WHEN n_hashes <= {KMV_K} AND any_full = 0 THEN n_hashes"
                f" ELSE {KMV_K - 1} * {_KMV_SPACE} div greatest(mk, 1) END"
            ).alias("uv_kmv"),
        )
    )
    return out.select(
        F.date_format("wk", "yyyy-MM-dd").alias("week"), "n_hashes", "uv_kmv"
    )


def approx_overlap_kmv(t: dict[str, DataFrame]) -> DataFrame:
    """KMV set-OPERATION sketches (Beyer et al. 2007; the Theta-sketch
    idea, Dasgupta et al. 2016): estimate the distinct-user overlap
    |A∩B|, union size and Jaccard between every event-type pair from
    the per-type K-smallest sketches alone — the audience-overlap
    matrix a serving layer answers from stored sketches without ever
    rescanning raw events. The K smallest of A∪B are exactly the K
    smallest of sketch(A) ∪ sketch(B), and any such hash that lies in
    A is necessarily in sketch(A), so ρ = |top-K(union) ∩ A ∩ B| is
    computable from sketches with zero loss: Ĵ = ρ/k, ∩̂ = ρ·Û div k.
    All-integer algebra on the shared md5 hash ⇒ hash-oracled; when
    neither side is truncated the "estimates" are exact counts.

    Scale: ONE distinct (type, hash) shuffle + a per-type rank window
    over raw data (the same partial-merge mitigation as approx_uv_kmv
    applies); everything after the localCheckpoint is sketch-sized —
    types×K rows paired by a broadcast join on a types-row aggregate,
    never a raw-data self-join.
    """
    ev = (
        t["events"]
        .select(F.col("event_type").alias("tp"), F.expr(_H44_SPARK).alias("h"))
        .distinct()
    )
    return kmv_pair_overlap(kmv_sketch_table(ev))


def kmv_sketch_table(keyed: DataFrame) -> DataFrame:
    """Build the stored (tp, h, full) KMV sketch table — K smallest
    hashes per key + truncation flag — from distinct (tp, h) rows via
    the two-level salted rank (kmv_topk_per_key). localCheckpoint: the
    sketch is consumed several times by the pair algebra and is ≤
    keys×K rows — exactly the artifact a production pipeline persists
    as its sketch table."""
    ranked = kmv_topk_per_key(keyed, "tp")
    return (
        ranked.select("tp", "h", (F.col("n") > KMV_K).cast("int").alias("full"))
        .localCheckpoint()
    )


def approx_join_keys_kmv(t: dict[str, DataFrame]) -> DataFrame:
    """Join-key cardinality diagnostics from KMV sketches — the
    pre-join estimate a planner (or a pipeline author sizing a
    backfill) wants: for each pair of key columns across TABLES
    (orders.o_custkey, customer.c_custkey, events.user_id), the
    distinct-value union, intersection and Jaccard, answered from
    per-column K-smallest sketches of the shared md5 value hash — the
    classic distinct-value-overlap method for join selectivity
    (Beyer et al. 2007 §6 apply KMV sketches to exactly this). A
    containment inter_est ≈ |customer keys| says every customer
    appears in orders; inter_est ≈ 0 flags a join that would silently
    produce nothing. Same algebra as ``approx_overlap_kmv``
    (``kmv_pair_overlap``), different sketch source: one distinct +
    rank pass per key column, everything downstream sketch-sized.
    """
    keyed = None
    for tbl, col in (
        ("orders", "o_custkey"),
        ("customer", "c_custkey"),
        ("events", "user_id"),
    ):
        part = t[tbl].select(
            F.lit(f"{tbl}.{col}").alias("tp"), F.expr(_h44_spark(col)).alias("h")
        )
        keyed = part if keyed is None else keyed.unionByName(part)
    return kmv_pair_overlap(kmv_sketch_table(keyed.distinct()))


def kmv_pair_overlap(sk: DataFrame) -> DataFrame:
    """The KMV set-operation pair algebra over a (tp, h, full) sketch
    table (≤ types×K rows) — shared by the batch builder above and the
    streaming twin (``flow_overlap_kmv``), which maintains the sketch
    as bounded keyed state and re-runs this sketch-sized algebra per
    poll. See ``approx_overlap_kmv`` for the estimator derivation."""
    types = sk.groupBy("tp").agg(F.max("full").alias("full"))
    pairs = (
        types.select(F.col("tp").alias("ta"), F.col("full").alias("fa"))
        .join(
            F.broadcast(types.select(F.col("tp").alias("tb"), F.col("full").alias("fb"))),
            F.col("ta") < F.col("tb"),
        )
        .select("ta", "tb", F.greatest("fa", "fb").alias("any_full"))
    )
    a_rows = pairs.join(sk.select(F.col("tp").alias("ta"), "h"), "ta").select(
        "ta", "tb", "any_full", "h", F.lit(1).alias("in_a"), F.lit(0).alias("in_b")
    )
    b_rows = pairs.join(sk.select(F.col("tp").alias("tb"), "h"), "tb").select(
        "ta", "tb", "any_full", "h", F.lit(0).alias("in_a"), F.lit(1).alias("in_b")
    )
    u = (
        a_rows.union(b_rows)
        .groupBy("ta", "tb", "any_full", "h")
        .agg(F.max("in_a").alias("in_a"), F.max("in_b").alias("in_b"))
    )
    w2 = Window.partitionBy("ta", "tb").orderBy("h")
    r2 = u.select(
        "ta",
        "tb",
        "any_full",
        "h",
        "in_a",
        "in_b",
        F.row_number().over(w2).alias("rk"),
        F.count(F.lit(1)).over(Window.partitionBy("ta", "tb")).alias("n_u"),
    )
    # with NO truncated side the two sketches ARE the full sets, so
    # keep the whole union (exact arithmetic); only saturated pairs
    # fall back to the top-K sample + estimator
    agg = (
        r2.filter((F.col("rk") <= KMV_K) | (F.col("any_full") == 0))
        .groupBy("ta", "tb", "any_full")
        .agg(
            F.max("n_u").alias("n_u"),
            F.sum(((F.col("in_a") == 1) & (F.col("in_b") == 1)).cast("bigint")).alias("rho"),
            F.max(F.when(F.col("rk") == KMV_K, F.col("h"))).alias("hk"),
            F.count(F.lit(1)).alias("k_used"),
        )
    )
    return (
        agg.select(
            F.col("ta").alias("type_a"),
            F.col("tb").alias("type_b"),
            "k_used",
            "rho",
            F.expr(
                f"CASE WHEN any_full = 0 THEN n_u"
                f" ELSE {KMV_K - 1} * {_KMV_SPACE} div greatest(hk, 1) END"
            ).alias("union_est"),
        )
        .select(
            "type_a",
            "type_b",
            "k_used",
            "union_est",
            F.expr("(rho * union_est) div k_used").alias("inter_est"),
            F.expr("(rho * 1000000) div k_used").alias("jaccard_ppm"),
        )
    )


def datetime_functions(t: dict[str, DataFrame]) -> DataFrame:
    """§2.8 scalar-function parity in one query: epoch seconds/millis
    extraction (TO_TIMESTAMP_LTZ(ts, 0|3) inverses, BaseSQLApp.java:62),
    date-part extraction, DATE_FORMAT rendering, and the reference's
    UTC+8 date shift (DateFormatUtil.java:28 — Asia/Shanghai is a fixed
    +08:00, no DST, so the oracle models it as an 8-hour interval).
    """
    ev = t["events"]
    return ev.select(
        "event_id",
        F.unix_timestamp("ts").alias("epoch_s"),
        # parquet tz-less timestamp[us] reads as TIMESTAMP_NTZ; unix_millis
        # accepts only TIMESTAMP — the cast re-anchors at the session TZ
        # (pinned UTC), which is exactly how DuckDB reads the same column.
        F.unix_millis(F.col("ts").cast("timestamp")).alias("epoch_ms"),
        F.year("ts").cast("bigint").alias("y"),
        F.month("ts").cast("bigint").alias("m"),
        F.dayofmonth("ts").cast("bigint").alias("d"),
        F.hour("ts").cast("bigint").alias("h"),
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("dt_str"),
        F.date_format(F.from_utc_timestamp("ts", "Asia/Shanghai"), "yyyy-MM-dd").alias(
            "cst_date"
        ),
    )


def best_parts_per_region(t: dict[str, DataFrame]) -> DataFrame:
    """Top-3 customers by account balance per region — ranking window
    functions (absent from the reference, SURVEY §2.10) with a
    deterministic tie-break.

    Scale: only 5 regions, so a plain per-region rank would drag a
    fifth of ALL customers through one reducer's sort — the rank is
    the two-level salted ``topk_per_key`` (r8 coarse-key window
    sweep), exact by top-K set composition.
    """
    cust = t["customer"]
    nation = F.broadcast(t["nation"])
    region = F.broadcast(t["region"])
    enriched = (
        cust.join(nation, cust.c_nationkey == nation.n_nationkey)
        .join(region, nation.n_regionkey == region.r_regionkey)
        .select("r_name", "c_custkey", "c_name", cents("c_acctbal").alias("acctbal_cents"))
    )
    top = topk_per_key(
        enriched,
        ["r_name"],
        [F.desc("acctbal_cents"), F.asc("c_custkey")],
        3,
        salt_on="c_custkey",
    )
    return top.select(
        "r_name", F.col("rk").cast("bigint").alias("rk"), "c_custkey", "c_name",
        "acctbal_cents",
    )


def monthly_active_churn(t: dict[str, DataFrame]) -> DataFrame:
    """Set operations (EXCEPT/INTERSECT — §2.10 exclusions, included
    here for completeness): users active in 2024-01 first half but not
    the second, and the retained intersection, as tagged rows.
    """
    ev = t["events"]
    h1 = ev.filter(F.col("ts") < F.lit("2024-01-16").cast("timestamp")).select("user_id").distinct()
    h2 = ev.filter(F.col("ts") >= F.lit("2024-01-16").cast("timestamp")).select("user_id").distinct()
    churned = h1.exceptAll(h2).select(F.lit("churned").alias("status"), "user_id")
    retained = h1.intersect(h2).select(F.lit("retained").alias("status"), "user_id")
    new_users = h2.exceptAll(h1).select(F.lit("new").alias("status"), "user_id")
    return churned.unionAll(retained).unionAll(new_users)


def event_type_pivot(t: dict[str, DataFrame]) -> DataFrame:
    """Pivot: per-day event counts spread into one column per type —
    the dashboard-matrix shape. Fixed pivot values keep the schema
    static (required for streaming and for the oracle).
    """
    ev = t["events"]
    day = date_str("ts")
    return (
        ev.groupBy(day.alias("cur_date"))
        .pivot("event_type", ["click", "view", "purchase", "signup", "error"])
        .count()
        .na.fill(0)
    )


def trade_gmv_rollup(t: dict[str, DataFrame]) -> DataFrame:
    """ROLLUP aggregation (subtotals + grand total) over order
    priority × status — grouping sets, beyond the reference's flat
    GROUP BYs. NULL markers distinguish subtotal rows on both engines.
    """
    o = t["orders"]
    return (
        o.rollup("o_orderpriority", "o_orderstatus")
        .agg(
            F.sum(cents("o_totalprice")).alias("gmv_cents"),
            F.count(F.lit(1)).alias("order_ct"),
        )
    )


# ---------------------------------------------------------------------------
# J5/P5/X2 — config-driven dynamic split: broadcast config decides both
# routing (sink topic) and the per-route column list
# ---------------------------------------------------------------------------

#: the inline table_process_dwd-style config (source_type, sink_table,
#: sink_columns) — in the gmall pipeline this arrives as a CDC stream
#: (gmall.dwd.dynamic_split); here it is pinned so the oracle can
#: mirror it.
ROUTING_CONFIG = [
    ("click", "dwd_click", ["event_id", "user_id"]),
    ("purchase", "dwd_purchase", ["event_id", "value_cents"]),
    ("error", "dwd_error", ["event_id", "user_id", "value_cents"]),
]


def table_config_routed_split(t: dict[str, DataFrame]) -> DataFrame:
    """Config-driven routing + column pruning (DwdBaseDb.java:92-104,
    BaseDbTableProcessFunction.java:109-116, FlinkSinkUtil.java:46-67):
    each configured source type maps to a sink topic with its own
    column list; unconfigured types drop. The select list is built FROM
    CONFIG DATA (the reference's deleteNotNeedColumns), not hardcoded —
    swap ROUTING_CONFIG and the plan changes.
    """
    ev = t["events"].withColumn("value_cents", cents("value"))
    all_cols = ["event_id", "user_id", "value_cents"]
    branches = []
    for source_type, sink_table, keep in ROUTING_CONFIG:
        proj = [F.lit(sink_table).alias("topic")] + [
            (F.col(c) if c in keep else F.lit(None).cast("bigint")).alias(c) for c in all_cols
        ]
        branches.append(ev.filter(F.col("event_type") == source_type).select(*proj))
    out = branches[0]
    for b in branches[1:]:
        out = out.unionByName(b)
    return out


# ---------------------------------------------------------------------------
# J2 — left outer join with null-padded misses
# ---------------------------------------------------------------------------


def trade_left_outer_orders(t: dict[str, DataFrame]) -> DataFrame:
    """Left-outer join semantics (DwdTradeOrderDetail.java:97-98): the
    reference's streaming left join emits +I(left,null) then retracts
    when the right side arrives (Test02_SQL_JOIN.java:62-88); Spark's
    batch/watermarked join emits the null-padded row once (SURVEY §7
    H1). Shape: orders LEFT JOIN high-value lineitems; orders with no
    match survive with zero counts — the +I(left,null) rows.
    """
    o = t["orders"]
    li = t["lineitem"].filter(F.col("l_extendedprice") > 80000.0)
    return (
        o.join(li, o.o_orderkey == li.l_orderkey, "left")
        .groupBy("o_orderkey")
        .agg(
            F.count("l_linenumber").alias("hv_item_ct"),
            F.sum(F.when(li.l_orderkey.isNull(), 1).otherwise(0)).alias("null_padded"),
        )
    )


# ---------------------------------------------------------------------------
# P7/J3 — the refund chain (runs the real gmall DWD jobs over a
# deterministic CDC envelope derived from `orders`)
# ---------------------------------------------------------------------------

_NULL_MAP = "cast(null as map<string,string>)"


def _refund_envelopes(orders: DataFrame) -> DataFrame:
    """Maxwell-style topic_db rows derived deterministically from
    ``orders``: o_orderkey%10∈{0,1} refunds (order_refund_info insert +
    order_info →1005); %10==0 completes (refund_payment →1602,
    order_refund_info →0705, order_info →1006); %10==1 sticks at 1601;
    %10==2 emits a 1005 *snapshot* with no ``old`` that the predicates
    must reject (DwdTradeOrderRefund.java:52-54 requires a transition).
    """
    k = F.col("o_orderkey")
    ts = F.unix_timestamp("o_orderdate")
    base = orders.select(
        k.alias("k"),
        ts.alias("ts0"),
        k.cast("string").alias("order_id"),
        (F.lit(70000000) + k).cast("string").alias("refund_id"),
        F.col("o_custkey").cast("string").alias("user_id"),
        (k % 35).cast("string").alias("sku_id"),
        (F.lit(1) + k % 34).cast("string").alias("province_id"),
        (F.lit(1501) + k % 2).cast("string").alias("refund_type"),
        (F.lit(1301) + k % 7).cast("string").alias("refund_reason_type"),
        (F.lit(1101) + k % 3).cast("string").alias("payment_type"),
        (F.lit(1) + k % 3).cast("string").alias("refund_num"),
        cents("o_totalprice").cast("string").alias("amount"),
        ts_str("o_orderdate").alias("create_time"),
        ts_str(F.col("o_orderdate") + F.expr("INTERVAL 1 HOUR")).alias("callback_time"),
    )
    refunds = base.filter(F.col("k") % 10 < 2)
    done = base.filter(F.col("k") % 10 == 0)
    stuck = base.filter(F.col("k") % 10 == 1)
    snap = base.filter(F.col("k") % 10 == 2)

    def env(src, table, typ, data: dict, old: dict | None):
        pairs = [x for kk, v in data.items() for x in (F.lit(kk), v)]
        old_col = (
            F.expr(_NULL_MAP)
            if old is None
            else F.create_map(*[x for kk, v in old.items() for x in (F.lit(kk), v)])
        )
        return src.select(
            F.lit("gmall").alias("database"),
            F.lit(table).alias("table"),
            F.lit(typ).alias("type"),
            F.col("ts0").alias("ts"),
            F.create_map(*pairs).alias("data"),
            old_col.alias("old"),
        )

    c = F.col
    legs = [
        env(refunds, "order_refund_info", "insert", {
            "id": c("refund_id"), "user_id": c("user_id"), "order_id": c("order_id"),
            "sku_id": c("sku_id"), "refund_type": c("refund_type"),
            "refund_num": c("refund_num"), "refund_amount": c("amount"),
            "refund_reason_type": c("refund_reason_type"),
            "refund_reason_txt": F.lit("质量问题 not as described"),
            "create_time": c("create_time"), "refund_status": F.lit("0701"),
        }, None),
        env(refunds, "order_info", "update", {
            "id": c("order_id"), "user_id": c("user_id"),
            "province_id": c("province_id"), "order_status": F.lit("1005"),
        }, {"order_status": F.lit("1002")}),
        env(snap, "order_info", "update", {
            "id": c("order_id"), "province_id": c("province_id"),
            "order_status": F.lit("1005"),
        }, None),
        env(done, "refund_payment", "update", {
            "id": c("refund_id"), "order_id": c("order_id"), "sku_id": c("sku_id"),
            "payment_type": c("payment_type"), "refund_status": F.lit("1602"),
            "callback_time": c("callback_time"), "total_amount": c("amount"),
        }, {"refund_status": F.lit("1601")}),
        env(stuck, "refund_payment", "update", {
            "id": c("refund_id"), "order_id": c("order_id"), "sku_id": c("sku_id"),
            "payment_type": c("payment_type"), "refund_status": F.lit("1601"),
            "callback_time": c("callback_time"), "total_amount": c("amount"),
        }, {"refund_status": F.lit("1601")}),
        env(done, "order_refund_info", "update", {
            "id": c("refund_id"), "order_id": c("order_id"), "sku_id": c("sku_id"),
            "refund_num": F.lit("1"), "refund_status": F.lit("0705"),
        }, {"refund_status": F.lit("0702")}),
        env(done, "order_info", "update", {
            "id": c("order_id"), "user_id": c("user_id"),
            "province_id": c("province_id"), "order_status": F.lit("1006"),
        }, {"order_status": F.lit("1005")}),
    ]
    out = legs[0]
    for leg in legs[1:]:
        out = out.unionByName(leg)
    return out


def _base_dic_df(spark):
    from ..gmall.fixtures import BASE_DIC_ROWS, REFUND_DIC_ROWS

    return spark.createDataFrame(
        BASE_DIC_ROWS + REFUND_DIC_ROWS, "dic_code string, dic_name string"
    )


def dwd_trade_order_refund(t: dict[str, DataFrame]) -> DataFrame:
    """P7/J3 — the order-refund fact (DwdTradeOrderRefund.java:30-84):
    order_refund_info ⋈ order_info(→1005 transition) with the
    double-aliased dic1/dic2 dictionary lookup on refund_type and
    refund_reason_type. Runs the real ``gmall.dwd.order_refund`` job
    over a deterministic envelope stream derived from ``orders``.

    Scale: one shuffle (refund⋈order on order_id); both dic lookups are
    broadcast of the same tiny dim.
    """
    from ..gmall.dwd import order_refund

    db = _refund_envelopes(t["orders"])
    return order_refund(db, _base_dic_df(t["orders"].sparkSession))


def refund_pay_success_flow(t: dict[str, DataFrame]) -> DataFrame:
    """P7/J1/J3 — refund-payment success
    (DwdTradeRefundPaySucDetail.java:31-96): the 4-way join of
    refund_payment(→1602) ⋈ order_refund_info(→0705) ⋈ order_info(→1006)
    ⋈ base_dic (payment_type). Runs the real
    ``gmall.dwd.dwd_refund_pay_success`` job over the same envelope stream.

    Scale: two keyed shuffles on order_id(+sku_id); dic broadcast.
    """
    from ..gmall.dwd import dwd_refund_pay_success

    db = _refund_envelopes(t["orders"])
    return dwd_refund_pay_success(db, _base_dic_df(t["orders"].sparkSession))


def dws_user_register_window(t: dict[str, DataFrame]) -> DataFrame:
    """A3 — DwsUserUserRegisterWindow.java:40-84: global tumbling
    register count (runs the real ``gmall.dws.dws_user_register_window``
    job; signup events stand in for the dwd_user_register stream).
    1 h windows fit the 30-day batch fixture; the streaming variant
    keeps the reference's 5 s windows + 5 s watermark.

    Scale: single shuffle on the window key, partial agg map-side; at
    real volume the global (windowAll) key is low-cardinality per hour,
    so no skew.
    """
    from ..gmall.dws import dws_user_register_window as urw

    ev = t["events"].filter(F.col("event_type") == "signup").select(F.col("ts").alias("et"))
    return urw(ev, size="1 hour")


_REASON_CASE = """CASE o_orderkey % 7
            WHEN 0 THEN '质量问题' WHEN 1 THEN '商品描述与实际描述不一致'
            WHEN 2 THEN '缺货' WHEN 3 THEN '号码不合适' WHEN 4 THEN '拍错'
            WHEN 5 THEN '不想买了' ELSE '其他' END"""

# ---------------------------------------------------------------------------
# Relational surface breadth: semi/anti joins, filter-agg, returns top-k.
# These widen the batch SQL surface past the reference's streaming shapes —
# the serving layer's ad-hoc SQL (PUB/mapper/*.java) is the parity anchor.
# ---------------------------------------------------------------------------


def q6_forecast_revenue(t: dict[str, DataFrame]) -> DataFrame:
    """TPC-H-Q6-shaped single-table filter-agg (revenue forecast).

    Scale: zero joins, zero wide shuffles — every predicate
    (shipdate range, discount band, quantity cap) is pushed to the
    parquet scan and the sum is a map-side partial + single final
    reduce. The canonical "does pushdown reach the scan" probe.
    """
    li = t["lineitem"]
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(F.sum(cents("l_extendedprice * l_discount")).alias("revenue_cents"))
    )


def semi_join_returned_orders(t: dict[str, DataFrame]) -> DataFrame:
    """Orders having at least one returned lineitem, counted per
    priority — TPC-H-Q4-shaped EXISTS, expressed as a LEFT SEMI join so
    the probe side never duplicates (the testdata lineitem carries no
    commit/receipt dates; the returnflag predicate plays q4's late-line
    role).

    Scale: the semi join shuffles both sides on orderkey once and emits
    each order at most once — no post-join dedup, no fan-out; the
    returnflag filter prunes the build side at the scan.
    """
    returned = t["lineitem"].filter(F.col("l_returnflag") == "R").select("l_orderkey")
    return (
        t["orders"]
        .join(returned, F.col("o_orderkey") == F.col("l_orderkey"), "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


def silent_customers(t: dict[str, DataFrame]) -> DataFrame:
    """Customers with no order on/after 2000-01-01 — NOT EXISTS as a
    LEFT ANTI join (churn-list shape).

    Scale: anti join shuffles on custkey once; the date filter prunes
    the orders side before the shuffle. No null-tolerant NOT IN
    pitfall (anti join has clean semantics on nulls).
    """
    recent = (
        t["orders"]
        .filter(F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp"))
        .select("o_custkey")
    )
    return (
        t["customer"]
        .join(recent, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name", cents("c_acctbal").alias("acctbal_cents"))
    )


def top_returned_customers(t: dict[str, DataFrame]) -> DataFrame:
    """TPC-H-Q10-shaped returned-item revenue per customer, top 20 —
    the serving layer's "problem customers" ranking.

    Scale: lineitem filtered to returns before the orderkey shuffle;
    nation is broadcast; the final top-20 is TakeOrderedAndProject
    (per-partition heap + driver merge of 20-row heads, never a full
    sort).
    """
    returned = t["lineitem"].filter(F.col("l_returnflag") == "R")
    orders = t["orders"].filter(
        (F.col("o_orderdate") >= F.lit("1997-07-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-10-01").cast("timestamp"))
    )
    return (
        returned.join(orders, returned.l_orderkey == orders.o_orderkey)
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.sum(cents("l_extendedprice * (1 - l_discount)")).alias("revenue_cents"))
        .orderBy(F.desc("revenue_cents"), F.asc("c_custkey"))
        .limit(20)
    )


def q7_nation_traffic(t: dict[str, DataFrame]) -> DataFrame:
    """TPC-H-Q7-shaped bilateral volume: revenue shipped between two
    chosen nations, by supplier-nation/customer-nation/year. Exercises
    the two-aliases-of-one-dim self-join disambiguation (supp nation vs
    cust nation) the reference's double dic lookup also needs
    (DWD:trade-order-refund/db/app/DwdTradeOrderRefund.java:79-82).

    Scale: both nation aliases broadcast; lineitem⋈orders shuffles on
    orderkey once; the nation-pair filter prunes before the shuffle via
    the broadcast joins on supplier/customer.
    """
    n1 = t["nation"].select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
    )
    n2 = t["nation"].select(
        F.col("n_nationkey").alias("c_nkey"), F.col("n_name").alias("cust_nation")
    )
    sup = t["supplier"].join(
        F.broadcast(n1), F.col("s_nationkey") == F.col("s_nkey")
    ).select("s_suppkey", "supp_nation")
    cust = t["customer"].join(
        F.broadcast(n2), F.col("c_nationkey") == F.col("c_nkey")
    ).select("c_custkey", "cust_nation")
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        t["lineitem"]
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .filter(pair)
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("ship_year"))
        .agg(F.sum(cents("l_extendedprice * (1 - l_discount)")).alias("revenue_cents"))
    )


def q8_market_share(t: dict[str, DataFrame]) -> DataFrame:
    """TPC-H-Q8-shaped market share: NATION_3 suppliers' permille of
    ASIA-region order revenue per year — a conditional-aggregate ratio
    (the same SUM(CASE)/SUM shape as ``promo_revenue``) over a 5-way
    star join.

    Scale: one fact shuffle on orderkey; supplier/nation/customer/
    region sides are broadcast; the ratio is integer permille so the
    oracle agrees bit-for-bit.
    """
    asia_cust = (
        t["customer"]
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(t["region"]), F.col("n_regionkey") == F.col("r_regionkey"))
        .filter(F.col("r_name") == "ASIA")
        .select("c_custkey")
    )
    sup_nation = (
        t["supplier"]
        .join(
            F.broadcast(
                t["nation"].select(
                    F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
                )
            ),
            F.col("s_nationkey") == F.col("sn_key"),
        )
        .select("s_suppkey", "supp_nation")
    )
    return (
        t["lineitem"]
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(asia_cust, F.col("o_custkey") == F.col("c_custkey"), "left_semi")
        .join(F.broadcast(sup_nation), F.col("l_suppkey") == F.col("s_suppkey"))
        .withColumn("rev_cents", cents("l_extendedprice * (1 - l_discount)"))
        .groupBy(F.year("o_orderdate").alias("order_year"))
        .agg(
            F.sum(
                F.when(F.col("supp_nation") == "NATION_3", F.col("rev_cents")).otherwise(0)
            ).alias("nation_cents"),
            F.sum("rev_cents").alias("total_cents"),
        )
        .withColumn("share_permille", F.expr("(nation_cents * 1000) DIV total_cents"))
    )


# ---------------------------------------------------------------------------
# Further TPC-H-shaped coverage over the synthetic schema (no partsupp /
# shipmode columns exist, so q2/q11/q17 reshape their cost/inventory legs
# onto lineitem). All money/quantity arithmetic is integer cents so the
# DuckDB oracle agrees bit-for-bit (see SCALE.md / memory notes).
# ---------------------------------------------------------------------------


def rel_q2_min_cost_supplier(t: dict[str, DataFrame]) -> DataFrame:
    """TPC-H-Q2-shaped min-cost supplier per part: for size-15 parts,
    the EUROPE supplier with the lowest observed unit price (derived
    from lineitem since the testdata has no partsupp), ties broken by
    suppkey. Exercises the correlated-MIN shape as a window QUALIFY.

    Scale: part (filtered) and supplier⋈nation⋈region sides broadcast;
    lineitem aggregates once on the composite (part, supp) key; the
    per-part argmin is a second narrow shuffle on partkey over the
    already-aggregated (≤ |part|×|supplier|) rows — never over raw
    lineitem.
    """
    from pyspark.sql import Window

    parts = t["part"].filter(F.col("p_size") == 15).select("p_partkey", "p_name")
    eur_supp = (
        t["supplier"]
        .join(F.broadcast(t["nation"]), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(t["region"]), F.col("n_regionkey") == F.col("r_regionkey"))
        .filter(F.col("r_name") == "EUROPE")
        .select("s_suppkey", "s_name")
    )
    cost = (
        t["lineitem"]
        .join(F.broadcast(parts), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(eur_supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .withColumn(
            "unit_cents",
            F.expr("cast(round(l_extendedprice * 100) as bigint) DIV cast(l_quantity as bigint)"),
        )
        .groupBy("p_partkey", "p_name", "s_suppkey", "s_name")
        .agg(F.min("unit_cents").alias("cost_cents"))
    )
    w = Window.partitionBy("p_partkey").orderBy(F.asc("cost_cents"), F.asc("s_suppkey"))
    return (
        cost.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("p_partkey", "p_name", "s_suppkey", "s_name", "cost_cents")
    )


def rel_q11_value_share(t: dict[str, DataFrame]) -> DataFrame:
    """TPC-H-Q11-shaped HAVING-over-global-total: supplier nations whose
    shipped value exceeds 1/25 of worldwide value (inventory value
    reshaped onto lineitem — no partsupp in the testdata).

    Scale: one keyed shuffle to the per-nation aggregate; the global
    total is an unpartitioned window over THAT (≤|nation|-row) result —
    the fact table is scanned once and never re-shuffled, and no join
    (not even a 1-row broadcast) appears in the plan.
    """
    from pyspark.sql import Window
    per_nation = (
        t["lineitem"]
        .join(t["supplier"].select("s_suppkey", "s_nationkey").hint("broadcast"),
              F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(t["nation"]), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(F.sum(cents("l_extendedprice * l_quantity")).alias("value_cents"))
    )
    total = F.sum("value_cents").over(Window.partitionBy())
    return (
        per_nation.withColumn("total_cents", total)
        .filter(F.col("value_cents") * 25 > F.col("total_cents"))
        .select("n_name", "value_cents")
    )


def rel_q13_orders_histogram(t: dict[str, DataFrame]) -> DataFrame:
    """TPC-H-Q13-shaped two-level aggregate: distribution of customers
    by order count (urgent orders excluded), zeros included via the
    left outer join.

    Scale: shuffle 1 on custkey (count per customer), shuffle 2 on the
    tiny count domain — the classic histogram-of-counts; no skew risk
    because level-2 keys are bounded by max orders/customer.
    """
    ords = t["orders"].filter(F.col("o_orderpriority") != "1-URGENT")
    return (
        t["customer"]
        .join(ords, F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
    )


def rel_q17_small_qty_revenue(t: dict[str, DataFrame]) -> DataFrame:
    """TPC-H-Q17-shaped correlated-average filter: revenue from lines
    whose quantity is below 20% of the part's average quantity, stated
    as the exact integer cross-multiplication
    ``5 * qty_cents * n_lines < sum_qty_cents`` so no float average is
    ever compared (cross-engine float averages drift on sum order).

    Scale: the per-part aggregate is tiny (|part| rows) and broadcast
    back against lineitem — the fact table shuffles zero times.
    """
    li = t["lineitem"].withColumn("qty_cents", cents("l_quantity"))
    per_part = li.groupBy(F.col("l_partkey").alias("pp_key")).agg(
        F.sum("qty_cents").alias("sum_qc"), F.count(F.lit(1)).alias("n_lines")
    )
    return (
        li.join(F.broadcast(per_part), F.col("l_partkey") == F.col("pp_key"))
        .filter(F.col("qty_cents") * 5 * F.col("n_lines") < F.col("sum_qc"))
        .agg(
            F.sum(cents("l_extendedprice")).alias("total_cents"),
        )
        .withColumn("avg_yearly_cents", F.expr("total_cents DIV 7"))
    )


def rel_q18_large_orders(t: dict[str, DataFrame]) -> DataFrame:
    """TPC-H-Q18-shaped large-volume orders: orders whose line quantity
    sum exceeds 250 units, with customer attribution.

    Scale: lineitem aggregates on orderkey (map-side partial sums make
    the shuffle carry one row per order), the >250 filter then prunes
    to a sliver before the orders/customer joins.
    """
    big = (
        t["lineitem"]
        .groupBy("l_orderkey")
        .agg(F.sum(cents("l_quantity")).alias("sum_qty_cents"))
        .filter(F.col("sum_qty_cents") > 25_000)
    )
    return (
        big.join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(t["customer"].hint("broadcast"), F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
            cents("o_totalprice").alias("total_cents"),
            "sum_qty_cents",
        )
    )


def rel_q19_disjunctive(t: dict[str, DataFrame]) -> DataFrame:
    """TPC-H-Q19-shaped disjunctive bracket join: revenue from three
    OR'd (brand, size, quantity) brackets — the stress test for
    disjunction handling in join planning (naively this becomes a
    cartesian with a residual filter).

    Scale: part is broadcast so each bracket evaluates as a residual on
    a hash join, not a nested-loop; the shared `p_size <= 15` bound is
    conjunctive and pushes to the part scan.
    """
    bracket = (
        ((F.col("p_brand") == "Brand#3") & (F.col("p_size").between(1, 5))
         & (F.col("l_quantity").between(1, 11)))
        | ((F.col("p_brand") == "Brand#15") & (F.col("p_size").between(1, 10))
           & (F.col("l_quantity").between(10, 20)))
        | ((F.col("p_brand") == "Brand#21") & (F.col("p_size").between(1, 15))
           & (F.col("l_quantity").between(20, 30)))
    )
    return (
        t["lineitem"]
        .join(F.broadcast(t["part"].filter(F.col("p_size") <= 15)),
              F.col("l_partkey") == F.col("p_partkey"))
        .filter(bracket)
        .agg(F.sum(cents("l_extendedprice * (1 - l_discount)")).alias("revenue_cents"))
    )


def rel_q22_inactive_balance(t: dict[str, DataFrame]) -> DataFrame:
    """TPC-H-Q22-shaped: per-nation count and balance of above-average-
    balance customers with no order in the last three years of the
    dataset (1999+). The average is the exact integer
    cross-multiplication ``bal_cents * n_pos > sum_cents`` (never a
    float AVG), and NOT EXISTS is a left anti join.

    Scale: the positive-balance average is a 1-row global aggregate
    (map-side partial sums) collected to the driver and injected as a
    literal — the same O(1) scalar-subquery execution Spark itself
    plans, and the pattern gmall/dim.py already uses for O(config)
    state; the anti join then shuffles customer/orders on custkey once.
    """
    cust = t["customer"].withColumn("bal_cents", cents("c_acctbal"))
    sum_cents, n_pos = (
        cust.filter(F.col("bal_cents") > 0)
        .agg(F.sum("bal_cents"), F.count(F.lit(1)))
        .first()
    )
    rich = cust.filter(F.col("bal_cents") * F.lit(n_pos) > F.lit(sum_cents))
    return (
        rich.join(
            t["orders"]
            .filter(F.col("o_orderdate") >= F.lit("1999-01-01").cast("timestamp"))
            .select("o_custkey"),
            F.col("c_custkey") == F.col("o_custkey"),
            "left_anti",
        )
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.sum("bal_cents").alias("totbal_cents"),
        )
    )


def rel_running_gmv(t: dict[str, DataFrame]) -> DataFrame:
    """Per-customer running order total (cumulative window) — the
    serving layer's customer-lifetime-value curve.

    Scale: one shuffle on custkey, one sort per partition; the frame is
    ROWS UNBOUNDED PRECEDING so Spark streams it without buffering the
    whole partition.
    """
    from pyspark.sql import Window

    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.asc("o_orderdate"), F.asc("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return t["orders"].select(
        "o_orderkey",
        "o_custkey",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
        F.sum(cents("o_totalprice")).over(w).alias("running_cents"),
    )


def rel_order_gaps(t: dict[str, DataFrame]) -> DataFrame:
    """Seconds between a customer's consecutive orders (LAG window) —
    inter-arrival analysis; -1 marks the first order.

    Scale: same single custkey shuffle + per-partition sort as
    ``rel_running_gmv``; epoch-second integer arithmetic keeps the
    oracle exact.
    """
    from pyspark.sql import Window

    w = Window.partitionBy("o_custkey").orderBy(F.asc("o_orderdate"), F.asc("o_orderkey"))
    prev = F.lag(F.unix_timestamp("o_orderdate")).over(w)
    return t["orders"].select(
        "o_orderkey",
        "o_custkey",
        F.coalesce(F.unix_timestamp("o_orderdate") - prev, F.lit(-1))
        .cast("bigint")
        .alias("gap_sec"),
    )


def rel_q16_supplier_variety(t: dict[str, DataFrame]) -> DataFrame:
    """TPC-H-Q16-shaped supplier variety: distinct suppliers observed
    shipping each (brand, type) family, excluding one brand and the
    PROMO type prefix — supplier relationships reshaped onto lineitem
    (the testdata has no partsupp).

    Scale: lineitem projects to (partkey, suppkey) distinct pairs
    first (massive map-side dedup), joins the filtered part dim
    broadcast, then one distinct-count shuffle on the small (brand,
    type) domain.
    """
    parts = t["part"].filter(
        (F.col("p_brand") != "Brand#5") & (~F.col("p_type").startswith("PROMO"))
    )
    pairs = t["lineitem"].select("l_partkey", "l_suppkey").distinct()
    return (
        pairs.join(F.broadcast(parts), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_type")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


def rel_rolling_revenue(t: dict[str, DataFrame]) -> DataFrame:
    """Trailing-7-day revenue per customer nation — a RANGE-frame
    window (``RANGE BETWEEN 6 PRECEDING``) over an integer day index,
    the time-series smoothing shape (the Flink reference's windows are
    tumbling only; range frames are the batch superset).

    Scale: one shuffle on nation to the per-(nation, day) aggregate
    (≤ |nation|×|days| rows — tiny), then the range window runs over
    that aggregate, never over raw orders.
    """
    from pyspark.sql import Window

    daily = (
        t["orders"]
        .join(t["customer"].hint("broadcast"), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name", F.datediff("o_orderdate", F.lit("1995-01-01").cast("date")).alias("day_idx"))
        .agg(F.sum(cents("o_totalprice")).alias("day_cents"))
    )
    w = (
        Window.partitionBy("n_name")
        .orderBy(F.col("day_idx").cast("long"))
        .rangeBetween(-6, 0)
    )
    return daily.select(
        "n_name",
        F.col("day_idx").cast("bigint").alias("day_idx"),
        "day_cents",
        F.sum("day_cents").over(w).alias("rolling_7d_cents"),
    )


def rel_sales_cube(t: dict[str, DataFrame]) -> DataFrame:
    """CUBE aggregation over (nation, order year): every subtotal
    combination plus the grand total, with GROUPING flags so consumers
    can tell a real NULL from a subtotal row — the OLAP cross-tab
    superset of the reference's ROLLUP serving query.

    Scale: Spark expands grouping sets map-side (4 rows per input row
    here) and partial-aggregates before the single shuffle — the
    expansion never hits the network unaggregated.
    """
    enriched = (
        t["orders"]
        .join(t["customer"].hint("broadcast"), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("n_name", F.year("o_orderdate").alias("order_year"), cents("o_totalprice").alias("rev"))
    )
    return (
        enriched.cube("n_name", "order_year")
        .agg(
            F.sum("rev").alias("revenue_cents"),
            F.count(F.lit(1)).alias("n_orders"),
            F.grouping("n_name").cast("bigint").alias("g_nation"),
            F.grouping("order_year").cast("bigint").alias("g_year"),
        )
        .select(
            "n_name",
            F.col("order_year").cast("bigint").alias("order_year"),
            "g_nation",
            "g_year",
            "revenue_cents",
            "n_orders",
        )
    )


def table_cdc_snapshot_merge(t: dict[str, DataFrame]) -> DataFrame:
    """CDC upsert-merge to a current-state snapshot: replay a
    deterministic insert/update/delete envelope stream (synthesized
    from ``orders`` the way ``_refund_envelopes`` synthesizes Maxwell
    rows) down to one latest row per key, dropping keys whose final op
    is a delete — the batch equivalent of the reference's upsert-kafka
    materialization (FlinkSinkUtil.getUpsertKafkaSink, SURVEY §2.2 K3)
    and of a Hudi/Delta MERGE INTO compaction.

    Plan: the envelope legs are map-only unions; the merge is ONE
    aggregation keyed on order key using a partial-aggregatable
    ``max_by(payload, struct(ts, seq))`` argmax — deliberately NOT a
    row_number window, so a key with a billion versions collapses
    map-side instead of single-reducer sorting. Version counts ride
    the same agg.
    """
    ops = _cdc_envelopes(t["orders"])
    merged = ops.groupBy("key").agg(
        F.expr(
            "max_by(struct(op, status, total_cents, ts), struct(ts, seq))"
        ).alias("last"),
        F.count(F.lit(1)).alias("version_ct"),
    )
    return merged.filter(F.col("last.op") != "delete").select(
        F.col("key").alias("o_orderkey"),
        F.col("last.status").alias("final_status"),
        F.col("last.total_cents").alias("total_cents"),
        "version_ct",
        ts_str(F.col("last.ts")).alias("last_ts"),
    )


def _cdc_envelopes(o: DataFrame) -> DataFrame:
    """Deterministic insert/update/delete envelope stream synthesized
    from ``orders`` — shared by the snapshot merge and the SCD2
    history build (and mirrored verbatim by ``_CDC_OPS_SQL``)."""
    k = F.col("o_orderkey")
    base = o.select(
        k.alias("key"),
        F.col("o_orderdate").cast("timestamp").alias("ts0"),
        F.col("o_orderstatus").alias("status0"),
        cents("o_totalprice").alias("cents0"),
    )
    ins = base.select(
        "key", F.lit("insert").alias("op"), F.lit(1).alias("seq"),
        F.col("ts0").alias("ts"), F.col("status0").alias("status"),
        F.col("cents0").alias("total_cents"),
    )
    upd1 = base.filter(F.col("key") % 3 == 0).select(
        "key", F.lit("update").alias("op"), F.lit(2).alias("seq"),
        (F.col("ts0") + F.expr("INTERVAL 3 DAYS")).alias("ts"),
        F.lit("P2").alias("status"),
        (F.col("cents0") + 500).alias("total_cents"),
    )
    upd2 = base.filter(F.col("key") % 6 == 0).select(
        "key", F.lit("update").alias("op"), F.lit(3).alias("seq"),
        (F.col("ts0") + F.expr("INTERVAL 6 DAYS")).alias("ts"),
        F.lit("F2").alias("status"),
        (F.col("cents0") + 700).alias("total_cents"),
    )
    dels = base.filter(F.col("key") % 7 == 0).select(
        "key", F.lit("delete").alias("op"), F.lit(9).alias("seq"),
        (F.col("ts0") + F.expr("INTERVAL 10 DAYS")).alias("ts"),
        F.lit(None).cast("string").alias("status"),
        F.lit(None).cast("bigint").alias("total_cents"),
    )
    return ins.unionByName(upd1).unionByName(upd2).unionByName(dels)


def table_scd2_history(t: dict[str, DataFrame]) -> DataFrame:
    """Type-2 slowly-changing-dimension history from the same CDC
    envelope stream: every surviving version carries its
    [valid_from, valid_to) effectiveness range (valid_to = next
    version's ts, open for the live version) and an ``is_current``
    flag; a trailing delete closes the last version without emitting a
    row — the DimUtil/SCD2 merge of the reference's HBase dim layer
    (gmall/dim.py::scd2_merge applies the same chaining on read) as
    one oracled batch build.

    Plan: the canonical SCD2 shape — ONE keyed window (lead over
    (ts, seq) per key). Partitioning is by the dimension key, so state
    per task is one key's version chain; skew is bounded by the most-
    edited single key, not data volume.
    """
    from pyspark.sql import Window

    ops = _cdc_envelopes(t["orders"])
    w = Window.partitionBy("key").orderBy("ts", "seq")
    hist = ops.withColumn("next_ts", F.lead("ts").over(w))
    return hist.filter(F.col("op") != "delete").select(
        F.col("key").alias("o_orderkey"),
        "status",
        "total_cents",
        ts_str("ts").alias("valid_from"),
        ts_str("next_ts").alias("valid_to"),
        F.col("next_ts").isNull().cast("bigint").alias("is_current"),
    )


def join_temporal_dim_version(t: dict[str, DataFrame]) -> DataFrame:
    """Temporal (point-in-time) dimension join: enrich each lineitem
    with the order version that was valid at its ship date — the
    FOR SYSTEM_TIME AS OF lookup (reference J3,
    DwdTradeOrderDetail's dic lookups) generalized to a VERSIONED dim,
    i.e. the consumption side of ``table_scd2_history``. A shipment
    joins the version whose [valid_from, valid_to) range covers
    shipdate; shipments before the first version take no row (inner).

    Plan: equi hash join on the dimension KEY with the validity range
    as a residual filter — never a non-equi join against the whole
    history. The version chains are small per key, so the residual
    evaluates on a handful of candidate rows after the hash probe;
    both sides shuffle once on the key (or zero times if the fact is
    bucket-written on it). Aggregated to per-(version status) revenue
    so the output is a readout, not a fact dump.
    """
    from pyspark.sql import Window

    ops = _cdc_envelopes(t["orders"])
    w = Window.partitionBy("key").orderBy("ts", "seq")
    hist = (
        ops.withColumn("next_ts", F.lead("ts").over(w))
        .filter(F.col("op") != "delete")
        .select("key", "status", F.col("ts").alias("valid_from"), "next_ts")
    )
    li = t["lineitem"].select(
        F.col("l_orderkey").alias("key"),
        F.col("l_shipdate").cast("timestamp").alias("ship_ts"),
        cents("l_extendedprice").alias("price_cents"),
    )
    joined = li.join(hist, "key").filter(
        (F.col("ship_ts") >= F.col("valid_from"))
        & (F.col("next_ts").isNull() | (F.col("ship_ts") < F.col("next_ts")))
    )
    return joined.groupBy("status").agg(
        F.count(F.lit(1)).alias("n_lineitems"),
        F.sum("price_cents").alias("revenue_cents"),
    )


def grouping_sets_traffic(t: dict[str, DataFrame]) -> DataFrame:
    """Explicit GROUPING SETS — the hand-picked subtotal combinations
    ((type, day), (type), (day), ()) in ONE pass, completing the
    grouping-sets surface beyond ``trade_gmv_rollup`` (ROLLUP) and
    ``rel_sales_cube`` (CUBE). This is the shape a serving layer uses
    to materialize exactly the dashboard's drill-downs and nothing
    more — CUBE would compute the same four sets here, but the
    explicit form prunes unwanted combinations when dimensions grow.

    Plan: Spark expands each row once per grouping set (4×) map-side
    into ONE keyed aggregate — versus 4 separate scans+aggregates for
    the UNION ALL phrasing. grouping() flags disambiguate real NULLs
    from subtotal markers on both engines.
    """
    ev = t["events"]
    day = F.to_date("ts").alias("day")
    return (
        ev.select("event_type", day, "value")
        .groupingSets(
            [["event_type", "day"], ["event_type"], ["day"], []],
            "event_type",
            "day",
        )
        .agg(
            F.count(F.lit(1)).alias("pv_ct"),
            F.sum(cents("value")).alias("value_cents"),
            F.grouping("event_type").cast("bigint").alias("g_type"),
            F.grouping("day").cast("bigint").alias("g_day"),
        )
        .select(
            "event_type",
            date_str("day").alias("dt"),
            "g_type",
            "g_day",
            "pv_ct",
            "value_cents",
        )
    )


def win_supplier_percentiles(t: dict[str, DataFrame]) -> DataFrame:
    """Relative-standing window functions: each supplier's revenue
    percent_rank and cume_dist within its nation — the "where does
    this supplier sit in its market" readout (completing the window-
    function surface beyond row_number/rank/ntile/lag/frames already
    covered). Both functions are exact rationals evaluated in double
    ((rank−1)/(n−1), rank/n) — identical arithmetic on both engines.

    Scale: aggregate-first — revenue per supplier is one keyed shuffle
    over lineitem with map-side partials. percent_rank/cume_dist need
    EVERY row's rank, so a top-K mitigation doesn't apply (r8
    coarse-key window sweep); the rank therefore comes from the
    distributed ``prefix_sum_per_key`` (revenue-bucketed, suppkey tie
    column — the rank-from-counts alternative the r8 sweep documented,
    now implemented) joined with the per-nation count, and both
    measures are their closed forms over (rank, N): with the UNIQUE
    (revenue, suppkey) composite order there are no rank ties, so
    ``percent_rank = (rank−1)/(N−1)`` (0 when N = 1, Spark's
    single-row convention) and ``cume_dist = rank/N`` — identical to
    the window functions, and no per-nation reducer ever sorts the
    whole nation's suppliers.
    """
    li = t["lineitem"]
    s = t["supplier"]
    n = t["nation"]
    rev = li.groupBy("l_suppkey").agg(
        F.sum(cents("l_extendedprice")).alias("revenue_cents")
    )
    enriched = (
        rev.join(F.broadcast(s.select("s_suppkey", "s_nationkey")),
                 rev["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(n.select("n_nationkey", "n_name")),
              F.col("s_nationkey") == F.col("n_nationkey"))
        .withColumn("_one", F.lit(1).cast("bigint"))
    )
    rk = prefix_sum_per_key(
        enriched, ["n_name"], "revenue_cents", "_one", "_rk",
        bucket_size=None, tie_cols=["s_suppkey"],
    ).drop("_one")
    n_by_nation = enriched.groupBy(F.col("n_name").alias("_nn")).agg(
        F.count(F.lit(1)).alias("_n")
    )
    return (
        rk.join(n_by_nation, F.col("n_name") == F.col("_nn"))
        .select(
            "n_name",
            F.col("s_suppkey").alias("suppkey"),
            "revenue_cents",
            F.round(
                F.expr(
                    "CASE WHEN _n = 1 THEN 0.0D"
                    " ELSE cast(_rk - 1 as double) / cast(_n - 1 as double) END"
                ),
                6,
            ).alias("pct_rank"),
            F.round(
                F.expr("cast(_rk as double) / cast(_n as double)"), 6
            ).alias("cume_dist"),
        )
    )


#: NTILE bucket count for the customer-spend decile report
DECILES_N = 10


def win_ntile_deciles(t: dict[str, DataFrame]) -> DataFrame:
    """Customer-lifetime-value deciles: NTILE(10) over per-customer
    total spend (cents-exact), then per-decile population, revenue and
    spend bounds — the marketing "value segmentation" readout one level
    up from the serving layer's flat GMV (TradeStatsMapper GMV by ch).

    Scale: aggregate-first — the decile derives from the |customers|-row
    per-customer AGGREGATE (one keyed shuffle with map-side partials),
    never from orders, and the NTILE itself is the exact closed form
    (``ntile_expr``) over a distributed ``prefix_sum_per_key`` rank —
    the old single-partition ntile window would drag the whole ~1e8-row
    customer dimension through one reducer at 100 TB-of-facts.
    Bucket-for-bucket identical to the window form (law-pinned on the
    same total (spend desc, custkey) order).
    """
    o = t["orders"]
    spend = o.groupBy("o_custkey").agg(
        F.sum(cents("o_totalprice")).alias("spend_cents"),
        F.count(F.lit(1)).alias("order_ct"),
    )
    # the NTILE closed form over a distributed rank (ntile_expr +
    # prefix_sum_per_key) instead of a single-partition ntile window
    # over every customer: the DESC spend order rides the NEGATED
    # cents (truncation div is monotone, so bucket ids stay ordered),
    # custkey as the tie column makes the composite rank exact
    ranked = prefix_sum_per_key(
        spend.withColumn("_neg", -F.col("spend_cents")).withColumn(
            "_one", F.lit(1).cast("bigint")
        ),
        [],
        "_neg",
        "_one",
        "_rk",
        bucket_size=None,
        tie_cols=["o_custkey"],
    ).drop("_one", "_neg")
    n_tot = spend.agg(F.count(F.lit(1)).alias("_n"))
    tiled = ranked.crossJoin(F.broadcast(n_tot)).withColumn(
        "decile", ntile_expr("_rk", "_n", DECILES_N)
    )
    return tiled.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum("spend_cents").alias("revenue_cents"),
        F.sum("order_ct").alias("order_ct"),
        F.min("spend_cents").alias("min_spend_cents"),
        F.max("spend_cents").alias("max_spend_cents"),
    )


def events_unpivot_metrics(t: dict[str, DataFrame]) -> DataFrame:
    """UNPIVOT (wide → long): melt the per-day count/sum/distinct-user
    metric columns into (day, metric, value) rows — the inverse of
    ``event_type_pivot`` and the shape that feeds a generic metrics
    store (one ClickHouse row per metric, the reference's serving
    tables are exactly this long format). Uses Spark's ``stack`` table
    generator, which plans as a Generate (pure map) over the daily
    AGGREGATE — the explode multiplies |days| rows by 3, never raw
    events, and adds no shuffle beyond the one keyed daily aggregate.
    """
    ev = t["events"]
    daily = ev.groupBy(date_str("ts").alias("cur_date")).agg(
        F.count(F.lit(1)).cast("bigint").alias("pv_ct"),
        F.sum(cents("value")).alias("value_cents"),
        F.countDistinct("user_id").alias("uv_ct"),
    )
    return daily.selectExpr(
        "cur_date",
        "stack(3, 'pv_ct', pv_ct, 'value_cents', value_cents, 'uv_ct', uv_ct) "
        "as (metric, metric_value)",
    )


#: value-tier dimension for the non-equi range join: [lo, hi) cents
VALUE_TIERS = [
    ("micro", 0, 1_000),
    ("small", 1_000, 5_000),
    ("mid", 5_000, 20_000),
    ("large", 20_000, 1 << 62),
]


def range_join_value_tiers(t: dict[str, DataFrame]) -> DataFrame:
    """Non-equi range join: classify every event into a value tier by
    joining a [lo, hi) band dimension — the canonical "join on BETWEEN"
    that hash joins cannot serve. ClickHouse users express this as a
    dictionary range lookup; here the 4-row tier table **broadcasts**
    into a BroadcastNestedLoopJoin, so each executor resolves tiers
    locally — a pure map over events, no shuffle, no cartesian against
    anything data-sized (plan-asserted). At 100 TB the same plan holds:
    cost is |events| × |tiers| comparisons map-side; were the band
    table itself large, the standard rewrite is bucketing both sides on
    a coarse quantized key (floor(value/step)) to recover an equi-join.
    """
    ev = t["events"].select("event_type", cents("value").alias("v"))
    spark = ev.sparkSession
    tiers = spark.createDataFrame(
        [(n, lo, hi) for n, lo, hi in VALUE_TIERS], "tier string, lo long, hi long"
    )
    joined = ev.join(
        F.broadcast(tiers), (F.col("v") >= F.col("lo")) & (F.col("v") < F.col("hi"))
    )
    return joined.groupBy("event_type", "tier").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("v").alias("value_cents"),
    )


#: DuckDB mirror of ``_cdc_envelopes`` — shared by the snapshot-merge
#: and SCD2-history oracles.
_CDC_OPS_SQL = """
        WITH base AS (
            SELECT o_orderkey AS key, o_orderdate::TIMESTAMP AS ts0,
                   o_orderstatus AS status0,
                   CAST(round(o_totalprice * 100) AS BIGINT) AS cents0
            FROM orders
        ), ops AS (
            SELECT key, 'insert' AS op, 1 AS seq, ts0 AS ts,
                   status0 AS status, cents0 AS total_cents FROM base
            UNION ALL
            SELECT key, 'update', 2, ts0 + INTERVAL 3 DAY, 'P2', cents0 + 500
            FROM base WHERE key % 3 = 0
            UNION ALL
            SELECT key, 'update', 3, ts0 + INTERVAL 6 DAY, 'F2', cents0 + 700
            FROM base WHERE key % 6 = 0
            UNION ALL
            SELECT key, 'delete', 9, ts0 + INTERVAL 10 DAY, NULL, NULL
            FROM base WHERE key % 7 = 0
        )"""

#: shared CTE for the KMV oracles: per-day distinct user hashes, ranked
_KMV_CTE = f"""
        WITH h AS (
            SELECT DISTINCT CAST(ts AS DATE) AS d, {_H44_DUCK} AS h
            FROM events
        ), ranked AS (
            SELECT d, h,
                   row_number() OVER (PARTITION BY d ORDER BY h) AS rk,
                   COUNT(*) OVER (PARTITION BY d) AS n
            FROM h
        )
"""
_KMV_EST = (
    f"(CASE WHEN MAX(n) <= {KMV_K} THEN MAX(n)"
    f" ELSE {KMV_K - 1} * {_KMV_SPACE}"
    f" // GREATEST(MAX(CASE WHEN rk = {KMV_K} THEN h END), 1)"
    f" END)::BIGINT AS uv_kmv"
)

#: Oracle for the bounded-state streaming twin (``flow_kmv``): same
#: per-day KMV estimator, but the stream's state is the sketch itself
#: (≤ K longs/day), so the exposed size column is the SKETCH size
#: min(n, K) — the full distinct count above K is precisely what
#: bounded state cannot know; uv_kmv is unchanged.
KMV_FLOW_ORACLE = _KMV_CTE + f"""
        SELECT strftime(d, '%Y-%m-%d') AS day,
               LEAST(MAX(n), {KMV_K})::BIGINT AS sketch_size,
               {_KMV_EST}
        FROM ranked WHERE rk <= {KMV_K} GROUP BY d
"""

#: everything downstream of the per-key distinct-hash CTE in the KMV
#: pair-overlap oracles — shared by approx_overlap_kmv (event types) and
#: approx_join_keys_kmv (join-key columns across tables).
_KMV_OVERLAP_TAIL = f""", ranked AS (
            SELECT tp, h,
                   row_number() OVER (PARTITION BY tp ORDER BY h) AS rk,
                   COUNT(*) OVER (PARTITION BY tp) AS n
            FROM h
        ), sk AS (
            SELECT tp, h, (n > {KMV_K})::INT AS "full"
            FROM ranked WHERE rk <= {KMV_K}
        ), types AS (
            SELECT tp, MAX("full") AS "full" FROM sk GROUP BY tp
        ), pairs AS (
            SELECT a.tp AS ta, b.tp AS tb,
                   GREATEST(a."full", b."full") AS any_full
            FROM types a JOIN types b ON a.tp < b.tp
        ), u AS (
            SELECT ta, tb, any_full, h, MAX(in_a) AS in_a, MAX(in_b) AS in_b
            FROM (
                SELECT p.ta, p.tb, p.any_full, s.h, 1 AS in_a, 0 AS in_b
                FROM pairs p JOIN sk s ON s.tp = p.ta
                UNION ALL
                SELECT p.ta, p.tb, p.any_full, s.h, 0 AS in_a, 1 AS in_b
                FROM pairs p JOIN sk s ON s.tp = p.tb
            ) GROUP BY ta, tb, any_full, h
        ), r2 AS (
            SELECT ta, tb, any_full, h, in_a, in_b,
                   row_number() OVER (PARTITION BY ta, tb ORDER BY h) AS rk,
                   COUNT(*) OVER (PARTITION BY ta, tb) AS n_u
            FROM u
        ), agg AS (
            SELECT ta, tb, any_full, MAX(n_u) AS n_u,
                   SUM((in_a = 1 AND in_b = 1)::INT)::BIGINT AS rho,
                   MAX(CASE WHEN rk = {KMV_K} THEN h END) AS hk,
                   COUNT(*)::BIGINT AS k_used
            FROM r2 WHERE rk <= {KMV_K} OR any_full = 0
            GROUP BY ta, tb, any_full
        )
        SELECT ta AS type_a, tb AS type_b, k_used,
               (CASE WHEN any_full = 0 THEN n_u
                     ELSE {KMV_K - 1} * {_KMV_SPACE} // GREATEST(hk, 1)
                END)::BIGINT AS union_est,
               ((rho * (CASE WHEN any_full = 0 THEN n_u
                             ELSE {KMV_K - 1} * {_KMV_SPACE} // GREATEST(hk, 1)
                        END)) // k_used)::BIGINT AS inter_est,
               ((rho * 1000000) // k_used)::BIGINT AS jaccard_ppm
        FROM agg
"""

ORACLES: dict[str, str] = {
    "approx_uv_kmv": _KMV_CTE + f"""
        SELECT strftime(d, '%Y-%m-%d') AS day,
               MAX(n)::BIGINT AS n_hashes, {_KMV_EST}
        FROM ranked WHERE rk <= {KMV_K} GROUP BY d
    """,
    "approx_uv_kmv_rollup": _KMV_CTE + f"""
        , sk0 AS (
            SELECT date_trunc('week', d) AS wk, h,
                   (n > {KMV_K})::INT AS day_full
            FROM ranked WHERE rk <= {KMV_K}
        ), flags AS (
            SELECT wk, MAX(day_full) AS any_full FROM sk0 GROUP BY wk
        ), sk AS (
            SELECT DISTINCT wk, h FROM sk0
        ), r2 AS (
            SELECT wk, h,
                   row_number() OVER (PARTITION BY wk ORDER BY h) AS rk,
                   COUNT(*) OVER (PARTITION BY wk) AS n
            FROM sk
        )
        SELECT strftime(r2.wk, '%Y-%m-%d') AS week,
               MAX(n)::BIGINT AS n_hashes,
               (CASE WHEN MAX(n) <= {KMV_K} AND MAX(any_full) = 0 THEN MAX(n)
                     ELSE {KMV_K - 1} * {_KMV_SPACE}
                          // GREATEST(MAX(CASE WHEN rk = {KMV_K} THEN h END), 1)
                END)::BIGINT AS uv_kmv
        FROM r2 JOIN flags ON r2.wk = flags.wk
        WHERE rk <= {KMV_K} GROUP BY r2.wk
    """,
    "approx_overlap_kmv": f"""
        WITH h AS (
            SELECT DISTINCT event_type AS tp, {_H44_DUCK} AS h
            FROM events
        ){_KMV_OVERLAP_TAIL}""",
    "approx_join_keys_kmv": f"""
        WITH h AS (
            SELECT DISTINCT 'orders.o_custkey' AS tp, {_h44_duck("o_custkey")} AS h FROM orders
            UNION
            SELECT DISTINCT 'customer.c_custkey' AS tp, {_h44_duck("c_custkey")} AS h FROM customer
            UNION
            SELECT DISTINCT 'events.user_id' AS tp, {_h44_duck("user_id")} AS h FROM events
        ){_KMV_OVERLAP_TAIL}""",
    "traffic_hour_heatmap": """
        SELECT (strftime(ts, '%w')::BIGINT + 1) AS dow,
               hour(ts)::BIGINT AS hod,
               COUNT(*) AS pv_ct,
               COUNT(DISTINCT user_id)::BIGINT AS uv_ct,
               SUM(CAST(round(value * 100) AS BIGINT))::BIGINT AS value_cents
        FROM events
        GROUP BY 1, 2
    """,
    "sql_weekly_trade_report": """
        SELECT strftime(date_trunc('week', o_orderdate), '%Y-%m-%d') AS week,
               count(*) AS n_orders,
               count(DISTINCT o_custkey)::BIGINT AS n_customers,
               sum(CAST(round(o_totalprice * 100) AS BIGINT))::BIGINT AS gmv_cents
        FROM orders
        GROUP BY 1
    """,
    "join_star_denormalize": """
        SELECT r.r_name AS cust_region,
               sn.n_name AS supp_nation,
               p.p_brand,
               COUNT(*) AS n_rows,
               SUM(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100) AS BIGINT))::BIGINT AS revenue_cents,
               SUM(l.l_quantity::BIGINT)::BIGINT AS total_qty
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation cn ON c.c_nationkey = cn.n_nationkey
        JOIN region r ON cn.n_regionkey = r.r_regionkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation sn ON s.s_nationkey = sn.n_nationkey
        JOIN part p ON l.l_partkey = p.p_partkey
        GROUP BY 1, 2, 3
    """,
    "grouping_sets_traffic": """
        SELECT event_type,
               strftime(day, '%Y-%m-%d') AS dt,
               grouping(event_type)::BIGINT AS g_type,
               grouping(day)::BIGINT AS g_day,
               COUNT(*) AS pv_ct,
               SUM(CAST(round(value * 100) AS BIGINT))::BIGINT AS value_cents
        FROM (SELECT event_type, ts::DATE AS day, value FROM events)
        GROUP BY GROUPING SETS ((event_type, day), (event_type), (day), ())
    """,
    "win_supplier_percentiles": """
        WITH rev AS (
            SELECT l_suppkey,
                   SUM(CAST(round(l_extendedprice * 100) AS BIGINT))::BIGINT AS revenue_cents
            FROM lineitem GROUP BY l_suppkey
        )
        SELECT n.n_name, s.s_suppkey AS suppkey, rev.revenue_cents,
               round(percent_rank() OVER w, 6) AS pct_rank,
               round(cume_dist() OVER w, 6) AS cume_dist
        FROM rev
        JOIN supplier s ON rev.l_suppkey = s.s_suppkey
        JOIN nation n ON s.s_nationkey = n.n_nationkey
        WINDOW w AS (PARTITION BY n.n_name ORDER BY rev.revenue_cents, s.s_suppkey)
    """,
    "win_ntile_deciles": f"""
        WITH spend AS (
            SELECT o_custkey,
                   SUM(CAST(round(o_totalprice * 100) AS BIGINT))::BIGINT AS spend_cents,
                   COUNT(*) AS order_ct
            FROM orders GROUP BY o_custkey
        ), tiled AS (
            SELECT *, ntile({DECILES_N}) OVER (ORDER BY spend_cents DESC, o_custkey ASC)::BIGINT AS decile
            FROM spend
        )
        SELECT decile, COUNT(*) AS n_customers,
               SUM(spend_cents)::BIGINT AS revenue_cents,
               SUM(order_ct)::BIGINT AS order_ct,
               MIN(spend_cents) AS min_spend_cents,
               MAX(spend_cents) AS max_spend_cents
        FROM tiled GROUP BY decile
    """,
    "events_unpivot_metrics": """
        WITH daily AS (
            SELECT strftime(ts, '%Y-%m-%d') AS cur_date,
                   COUNT(*)::BIGINT AS pv_ct,
                   SUM(CAST(round(value * 100) AS BIGINT))::BIGINT AS value_cents,
                   COUNT(DISTINCT user_id)::BIGINT AS uv_ct
            FROM events GROUP BY 1
        )
        SELECT cur_date, 'pv_ct' AS metric, pv_ct AS metric_value FROM daily
        UNION ALL SELECT cur_date, 'value_cents', value_cents FROM daily
        UNION ALL SELECT cur_date, 'uv_ct', uv_ct FROM daily
    """,
    "range_join_value_tiers": """
        WITH tiers(tier, lo, hi) AS (
            VALUES {tiers}
        ), ev AS (
            SELECT event_type, CAST(round(value * 100) AS BIGINT) AS v FROM events
        )
        SELECT event_type, tier, COUNT(*) AS n_events, SUM(v)::BIGINT AS value_cents
        FROM ev JOIN tiers ON ev.v >= tiers.lo AND ev.v < tiers.hi
        GROUP BY event_type, tier
    """.format(
        tiers=", ".join(f"('{n}', {lo}, {hi})" for n, lo, hi in VALUE_TIERS)
    ),
    "table_scd2_history": _CDC_OPS_SQL
    + """, hist AS (
            SELECT *, lead(ts) OVER (PARTITION BY key ORDER BY ts, seq) AS next_ts
            FROM ops
        )
        SELECT key AS o_orderkey, status, total_cents,
               strftime(ts, '%Y-%m-%d %H:%M:%S') AS valid_from,
               strftime(next_ts, '%Y-%m-%d %H:%M:%S') AS valid_to,
               (next_ts IS NULL)::BIGINT AS is_current
        FROM hist WHERE op <> 'delete'
    """,
    "join_temporal_dim_version": _CDC_OPS_SQL
    + """, hist AS (
            SELECT key, status, ts AS valid_from,
                   lead(ts) OVER (PARTITION BY key ORDER BY ts, seq) AS next_ts,
                   op
            FROM ops
        ), versions AS (
            SELECT key, status, valid_from, next_ts FROM hist WHERE op <> 'delete'
        )
        SELECT v.status,
               COUNT(*) AS n_lineitems,
               SUM(CAST(round(l.l_extendedprice * 100) AS BIGINT))::BIGINT AS revenue_cents
        FROM lineitem l
        JOIN versions v
          ON l.l_orderkey = v.key
         AND l.l_shipdate::TIMESTAMP >= v.valid_from
         AND (v.next_ts IS NULL OR l.l_shipdate::TIMESTAMP < v.next_ts)
        GROUP BY v.status
    """,
    "table_cdc_snapshot_merge": _CDC_OPS_SQL
    + """, ranked AS (
            SELECT *,
                   row_number() OVER (PARTITION BY key
                                      ORDER BY ts DESC, seq DESC) AS rn,
                   COUNT(*) OVER (PARTITION BY key) AS version_ct
            FROM ops
        )
        SELECT key AS o_orderkey, status AS final_status, total_cents,
               version_ct::BIGINT AS version_ct,
               strftime(ts, '%Y-%m-%d %H:%M:%S') AS last_ts
        FROM ranked WHERE rn = 1 AND op <> 'delete'
    """,
    "rel_q16_supplier_variety": """
        SELECT p_brand, p_type, COUNT(DISTINCT l_suppkey) AS supplier_cnt
        FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
        JOIN part ON l_partkey = p_partkey
        WHERE p_brand <> 'Brand#5' AND p_type NOT LIKE 'PROMO%'
        GROUP BY p_brand, p_type
    """,
    "win_rolling_revenue": """
        WITH daily AS (
            SELECT n_name,
                   date_diff('day', DATE '1995-01-01', o_orderdate)::BIGINT AS day_idx,
                   SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))::BIGINT AS day_cents
            FROM orders
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            GROUP BY 1, 2
        )
        SELECT n_name, day_idx, day_cents,
               SUM(day_cents) OVER (PARTITION BY n_name ORDER BY day_idx
                                    RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)::BIGINT
                   AS rolling_7d_cents
        FROM daily
    """,
    "win_sales_cube": """
        SELECT n_name,
               EXTRACT(year FROM o_orderdate)::BIGINT AS order_year,
               GROUPING(n_name)::BIGINT AS g_nation,
               GROUPING(EXTRACT(year FROM o_orderdate))::BIGINT AS g_year,
               SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))::BIGINT AS revenue_cents,
               COUNT(*) AS n_orders
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        GROUP BY CUBE (n_name, EXTRACT(year FROM o_orderdate))
    """,
    "rel_q02_min_cost_supplier": """
        SELECT p_partkey, p_name, s_suppkey, s_name, cost_cents
        FROM (
            SELECT p_partkey, p_name, s_suppkey, s_name,
                   MIN(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                       // CAST(l_quantity AS BIGINT))::BIGINT AS cost_cents
            FROM lineitem
            JOIN part ON l_partkey = p_partkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation ON s_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            WHERE p_size = 15 AND r_name = 'EUROPE'
            GROUP BY p_partkey, p_name, s_suppkey, s_name
        )
        QUALIFY row_number() OVER (PARTITION BY p_partkey
                                   ORDER BY cost_cents ASC, s_suppkey ASC) = 1
    """,
    "rel_q11_value_share": """
        SELECT n_name,
               SUM(CAST(ROUND(l_extendedprice * l_quantity * 100) AS BIGINT))::BIGINT
                   AS value_cents
        FROM lineitem
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        GROUP BY n_name
        HAVING SUM(CAST(ROUND(l_extendedprice * l_quantity * 100) AS BIGINT)) * 25 > (
            SELECT SUM(CAST(ROUND(l_extendedprice * l_quantity * 100) AS BIGINT))
            FROM lineitem JOIN supplier ON l_suppkey = s_suppkey)
    """,
    "rel_q13_orders_histogram": """
        SELECT c_count, COUNT(*) AS custdist
        FROM (
            SELECT c_custkey, COUNT(o_orderkey) AS c_count
            FROM customer
            LEFT JOIN orders ON c_custkey = o_custkey
                 AND o_orderpriority <> '1-URGENT'
            GROUP BY c_custkey
        )
        GROUP BY c_count
    """,
    "rel_q17_small_qty_revenue": """
        WITH li AS (SELECT l_partkey,
                           CAST(ROUND(l_quantity * 100) AS BIGINT) AS qty_cents,
                           CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS price_cents
                    FROM lineitem),
        per_part AS (SELECT l_partkey AS pp_key, SUM(qty_cents) AS sum_qc,
                            COUNT(*) AS n_lines
                     FROM li GROUP BY l_partkey)
        SELECT SUM(price_cents)::BIGINT AS total_cents,
               (SUM(price_cents) // 7)::BIGINT AS avg_yearly_cents
        FROM li JOIN per_part ON l_partkey = pp_key
        WHERE qty_cents * 5 * n_lines < sum_qc
    """,
    "rel_q18_large_orders": """
        SELECT c_custkey, c_name, o_orderkey,
               strftime(o_orderdate, '%Y-%m-%d') AS order_date,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS total_cents,
               sum_qty_cents
        FROM (
            SELECT l_orderkey,
                   SUM(CAST(ROUND(l_quantity * 100) AS BIGINT))::BIGINT AS sum_qty_cents
            FROM lineitem GROUP BY l_orderkey
            HAVING SUM(CAST(ROUND(l_quantity * 100) AS BIGINT)) > 25000
        )
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
    """,
    "rel_q19_disjunctive": """
        SELECT SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT))::BIGINT
                   AS revenue_cents
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 5
               AND l_quantity BETWEEN 1 AND 11)
           OR (p_brand = 'Brand#15' AND p_size BETWEEN 1 AND 10
               AND l_quantity BETWEEN 10 AND 20)
           OR (p_brand = 'Brand#21' AND p_size BETWEEN 1 AND 15
               AND l_quantity BETWEEN 20 AND 30)
    """,
    "rel_q22_inactive_balance": """
        WITH cust AS (SELECT c_custkey, c_nationkey,
                             CAST(ROUND(c_acctbal * 100) AS BIGINT) AS bal_cents
                      FROM customer),
        pos AS (SELECT SUM(bal_cents) AS sum_cents, COUNT(*) AS n_pos
                FROM cust WHERE bal_cents > 0)
        SELECT c_nationkey, COUNT(*) AS numcust,
               SUM(bal_cents)::BIGINT AS totbal_cents
        FROM cust, pos
        WHERE bal_cents * n_pos > sum_cents
          AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                          AND o_orderdate >= TIMESTAMP '1999-01-01 00:00:00')
        GROUP BY c_nationkey
    """,
    "win_running_gmv": """
        SELECT o_orderkey, o_custkey,
               strftime(o_orderdate, '%Y-%m-%d') AS order_date,
               SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) OVER (
                   PARTITION BY o_custkey
                   ORDER BY o_orderdate ASC, o_orderkey ASC
                   ROWS UNBOUNDED PRECEDING)::BIGINT AS running_cents
        FROM orders
    """,
    "win_order_gaps": """
        SELECT o_orderkey, o_custkey,
               COALESCE(epoch(o_orderdate)::BIGINT - LAG(epoch(o_orderdate)::BIGINT) OVER (
                   PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC),
                   -1)::BIGINT AS gap_sec
        FROM orders
    """,
    "join_nation_traffic": """
        SELECT supp_nation, cust_nation, ship_year,
               SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT))::BIGINT
                   AS revenue_cents
        FROM (
            SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                   EXTRACT(year FROM l_shipdate)::BIGINT AS ship_year,
                   l_extendedprice, l_discount
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation n1 ON s_nationkey = n1.n_nationkey
            JOIN nation n2 ON c_nationkey = n2.n_nationkey
            WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
               OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
        )
        GROUP BY supp_nation, cust_nation, ship_year
    """,
    "join_market_share": """
        SELECT EXTRACT(year FROM o_orderdate)::BIGINT AS order_year,
               SUM(CASE WHEN sn.n_name = 'NATION_3'
                        THEN CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)
                        ELSE 0 END)::BIGINT AS nation_cents,
               SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT))::BIGINT
                   AS total_cents,
               CAST((SUM(CASE WHEN sn.n_name = 'NATION_3'
                         THEN CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)
                         ELSE 0 END) * 1000)
                   // SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT))
                   AS BIGINT) AS share_permille
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation sn ON s_nationkey = sn.n_nationkey
        WHERE o_custkey IN (
            SELECT c_custkey FROM customer
            JOIN nation cn ON c_nationkey = cn.n_nationkey
            JOIN region ON cn.n_regionkey = r_regionkey
            WHERE r_name = 'ASIA')
        GROUP BY 1
    """,
    "agg_forecast_revenue": """
        SELECT SUM(CAST(ROUND(l_extendedprice * l_discount * 100) AS BIGINT))::BIGINT
                   AS revenue_cents
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
          AND l_discount BETWEEN 0.05 AND 0.07
          AND l_quantity < 24
    """,
    "join_semi_returned_orders": """
        SELECT o_orderpriority, COUNT(*) AS order_count
        FROM orders
        WHERE EXISTS (SELECT 1 FROM lineitem
                      WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
        GROUP BY o_orderpriority
    """,
    "join_anti_silent_customers": """
        SELECT c_custkey, c_name,
               CAST(ROUND(c_acctbal * 100) AS BIGINT) AS acctbal_cents
        FROM customer
        WHERE NOT EXISTS (SELECT 1 FROM orders
                          WHERE o_custkey = c_custkey
                            AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
    """,
    "customers_top_returned": """
        SELECT c_custkey, c_name, n_name,
               SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT))::BIGINT
                   AS revenue_cents
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        WHERE l_returnflag = 'R'
          AND o_orderdate >= TIMESTAMP '1997-07-01 00:00:00'
          AND o_orderdate <  TIMESTAMP '1997-10-01 00:00:00'
        GROUP BY c_custkey, c_name, n_name
        ORDER BY revenue_cents DESC, c_custkey ASC
        LIMIT 20
    """,
    "dwd_trade_order_refund": f"""
        SELECT CAST(70000000 + o_orderkey AS VARCHAR) AS id,
               CAST(o_custkey AS VARCHAR) AS user_id,
               CAST(o_orderkey AS VARCHAR) AS order_id,
               CAST(o_orderkey % 35 AS VARCHAR) AS sku_id,
               CAST(1 + o_orderkey % 34 AS VARCHAR) AS province_id,
               strftime(o_orderdate, '%Y-%m-%d') AS date_id,
               strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS create_time,
               CAST(1501 + o_orderkey % 2 AS VARCHAR) AS refund_type_code,
               CASE WHEN o_orderkey % 2 = 0 THEN '退货' ELSE '仅退款' END AS refund_type_name,
               CAST(1301 + o_orderkey % 7 AS VARCHAR) AS refund_reason_type_code,
               {_REASON_CASE} AS refund_reason_type_name,
               '质量问题 not as described' AS refund_reason_txt,
               CAST(1 + o_orderkey % 3 AS VARCHAR) AS refund_num,
               CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT) AS VARCHAR) AS refund_amount,
               CAST(epoch(o_orderdate) AS BIGINT) AS ts
        FROM orders WHERE o_orderkey % 10 < 2
    """,
    "dwd_refund_pay_success": """
        SELECT CAST(70000000 + o_orderkey AS VARCHAR) AS id,
               CAST(o_custkey AS VARCHAR) AS user_id,
               CAST(o_orderkey AS VARCHAR) AS order_id,
               CAST(o_orderkey % 35 AS VARCHAR) AS sku_id,
               CAST(1 + o_orderkey % 34 AS VARCHAR) AS province_id,
               CAST(1101 + o_orderkey % 3 AS VARCHAR) AS payment_type_code,
               CASE o_orderkey % 3 WHEN 0 THEN '支付宝' WHEN 1 THEN '微信'
                    ELSE '银联' END AS payment_type_name,
               strftime(o_orderdate + INTERVAL '1 hour', '%Y-%m-%d') AS date_id,
               strftime(o_orderdate + INTERVAL '1 hour', '%Y-%m-%d %H:%M:%S') AS callback_time,
               '1' AS refund_num,
               CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT) AS VARCHAR) AS refund_amount,
               CAST(epoch(o_orderdate) AS BIGINT) AS ts
        FROM orders WHERE o_orderkey % 10 = 0
    """,
    "dws_user_register_window": """
        SELECT strftime(time_bucket(INTERVAL '1 hour', ts) + INTERVAL 8 HOUR,
                        '%Y-%m-%d %H:%M:%S') AS stt,
               strftime(time_bucket(INTERVAL '1 hour', ts) + INTERVAL 9 HOUR,
                        '%Y-%m-%d %H:%M:%S') AS edt,
               strftime(time_bucket(INTERVAL '1 hour', ts) + INTERVAL 9 HOUR,
                        '%Y-%m-%d') AS cur_date,
               COUNT(*) AS register_ct
        FROM events WHERE event_type = 'signup'
        GROUP BY 1, 2, 3
    """,
    "q1_pricing_summary": """
        SELECT l_returnflag, l_linestatus,
               SUM(CAST(ROUND(l_quantity) AS BIGINT))::BIGINT AS sum_qty,
               SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT))::BIGINT AS sum_base_price_cents,
               SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT))::BIGINT AS sum_disc_price_cents,
               COUNT(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        GROUP BY l_returnflag, l_linestatus
    """,
    "q3_shipping_priority": """
        SELECT o_orderkey,
               strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
               o_orderpriority,
               SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT))::BIGINT AS revenue_cents
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
          AND l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
        GROUP BY o_orderkey, o_orderdate, o_orderpriority
        ORDER BY revenue_cents DESC, o_orderkey ASC
        LIMIT 10
    """,
    "q5_region_revenue": """
        SELECT r_name AS region_name, n_name AS nation_name,
               SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT))::BIGINT AS revenue_cents
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        GROUP BY r_name, n_name
    """,
    "trade_cdc_projection": """
        SELECT event_id, event_type,
               CAST(regexp_extract(props, '"k": (\\d+)', 1) AS INT) AS k,
               CAST(ROUND(value * 100) AS BIGINT) AS value_cents
        FROM events
        WHERE CAST(regexp_extract(props, '"k": (\\d+)', 1) AS INT) >= 50
    """,
    "trade_status_filter": """
        SELECT o_orderkey, o_custkey,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS total_cents,
               strftime(o_orderdate, '%Y-%m-%d') AS order_date
        FROM orders
        WHERE o_orderstatus = 'O'
          AND o_totalprice > 200000.0
          AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
          AND o_orderpriority LIKE '1%'
    """,
    "trade_conditional_delta": """
        SELECT user_id,
               SUM(CASE WHEN event_type = 'purchase' THEN CAST(ROUND(value * 100) AS BIGINT)
                        WHEN event_type = 'error' THEN -CAST(ROUND(value * 100) AS BIGINT)
                        ELSE 0 END)::BIGINT AS net_cents,
               COUNT(*) AS event_ct
        FROM events
        GROUP BY user_id
    """,
    "agg_tumbling_typed": """
        SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M:%S') AS stt,
               strftime(time_bucket(INTERVAL '1 hour', ts) + INTERVAL '1 hour', '%Y-%m-%d %H:%M:%S') AS edt,
               event_type,
               COUNT(*) AS pv_ct,
               SUM(CAST(ROUND(value * 100) AS BIGINT))::BIGINT AS value_cents
        FROM events
        GROUP BY 1, 2, 3
    """,
    "agg_global_uv": """
        SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M:%S') AS stt,
               strftime(time_bucket(INTERVAL '1 hour', ts) + INTERVAL '1 hour', '%Y-%m-%d %H:%M:%S') AS edt,
               COUNT(*) AS pv_ct,
               COUNT(DISTINCT user_id) AS uv_ct
        FROM events
        GROUP BY 1, 2
    """,
    "trade_interval_join": """
        SELECT o_orderpriority,
               COUNT(*) AS li_ct,
               SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT))::BIGINT AS revenue_cents
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
          AND l_shipdate >= o_orderdate
          AND l_shipdate <= o_orderdate + INTERVAL '30 days'
        GROUP BY o_orderpriority
    """,
    "trade_lookup_join_dim": """
        SELECT r_name AS region_name, n_name AS nation_name,
               COUNT(*) AS customer_ct,
               SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT))::BIGINT AS acctbal_cents
        FROM customer
        LEFT JOIN nation ON c_nationkey = n_nationkey
        LEFT JOIN region ON n_regionkey = r_regionkey
        GROUP BY r_name, n_name
    """,
    "serving_gmv": """
        SELECT strftime(o_orderdate, '%Y-%m-%d') AS cur_date,
               SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))::BIGINT AS gmv_cents
        FROM orders
        GROUP BY 1
    """,
    "agg_sliding_counts": """
        WITH ev AS (
            SELECT CAST(floor(epoch(ts)) AS BIGINT) AS es, event_type FROM events
        ), wins AS (
            -- size 3600 s, slide 1800 s ⇒ each event is in the window
            -- starting at its aligned base and the one 1800 s earlier
            SELECT ((es // 1800) * 1800 - off.o) AS ws, event_type
            FROM ev, (VALUES (0), (1800)) AS off(o)
        )
        SELECT strftime(to_timestamp(ws), '%Y-%m-%d %H:%M:%S') AS stt,
               strftime(to_timestamp(ws + 3600), '%Y-%m-%d %H:%M:%S') AS edt,
               event_type,
               COUNT(*) AS pv_ct
        FROM wins GROUP BY ws, event_type
    """,
    "dws_trade_order_window": """
        WITH uu AS (
            SELECT strftime(o_orderdate, '%Y-%m-%d') AS cur_date,
                   COUNT(DISTINCT o_custkey) AS order_uu_ct
            FROM orders GROUP BY 1
        ), firsts AS (
            SELECT o_custkey, MIN(o_orderdate) AS first_dt FROM orders GROUP BY 1
        ), newu AS (
            SELECT strftime(first_dt, '%Y-%m-%d') AS cur_date,
                   COUNT(*) AS order_new_user_ct
            FROM firsts GROUP BY 1
        )
        SELECT uu.cur_date, uu.order_uu_ct,
               coalesce(newu.order_new_user_ct, 0)::BIGINT AS order_new_user_ct
        FROM uu LEFT JOIN newu USING (cur_date)
    """,
    "serving_topk_channel": """
        SELECT event_type AS ch,
               SUM(CAST(ROUND(value * 100) AS BIGINT))::BIGINT AS value_cents
        FROM events
        GROUP BY event_type
        ORDER BY value_cents DESC, ch ASC
        LIMIT 3
    """,
    "datetime_functions": """
        SELECT event_id,
               (epoch_ms(ts) // 1000) AS epoch_s,
               epoch_ms(ts) AS epoch_ms,
               CAST(year(ts) AS BIGINT) AS y,
               CAST(month(ts) AS BIGINT) AS m,
               CAST(day(ts) AS BIGINT) AS d,
               CAST(hour(ts) AS BIGINT) AS h,
               strftime(ts, '%Y-%m-%d %H:%M:%S') AS dt_str,
               strftime(ts + INTERVAL '8 hours', '%Y-%m-%d') AS cst_date
        FROM events
    """,
    "best_parts_per_region": """
        SELECT r_name, rk, c_custkey, c_name, acctbal_cents FROM (
            SELECT r_name, c_custkey, c_name,
                   CAST(ROUND(c_acctbal * 100) AS BIGINT) AS acctbal_cents,
                   row_number() OVER (PARTITION BY r_name
                                      ORDER BY CAST(ROUND(c_acctbal * 100) AS BIGINT) DESC, c_custkey ASC) AS rk
            FROM customer
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
        ) WHERE rk <= 3
    """,
    "retention_monthly_churn": """
        WITH h1 AS (
            SELECT DISTINCT user_id FROM events WHERE ts < TIMESTAMP '2024-01-16 00:00:00'
        ), h2 AS (
            SELECT DISTINCT user_id FROM events WHERE ts >= TIMESTAMP '2024-01-16 00:00:00'
        )
        SELECT 'churned' AS status, user_id FROM (SELECT user_id FROM h1 EXCEPT SELECT user_id FROM h2)
        UNION ALL
        SELECT 'retained', user_id FROM (SELECT user_id FROM h1 INTERSECT SELECT user_id FROM h2)
        UNION ALL
        SELECT 'new', user_id FROM (SELECT user_id FROM h2 EXCEPT SELECT user_id FROM h1)
    """,
    "traffic_event_pivot": """
        SELECT strftime(ts, '%Y-%m-%d') AS cur_date,
               SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)::BIGINT AS click,
               SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)::BIGINT AS view,
               SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT AS purchase,
               SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)::BIGINT AS signup,
               SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)::BIGINT AS error
        FROM events GROUP BY 1
    """,
    "trade_gmv_rollup": """
        SELECT o_orderpriority, o_orderstatus,
               SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))::BIGINT AS gmv_cents,
               COUNT(*) AS order_ct
        FROM orders
        GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
    """,
    "event_value_percentiles": """
        SELECT event_type,
               quantile_cont(value, 0.5) AS p50,
               quantile_cont(value, 0.95) AS p95,
               quantile_cont(value, 0.99) AS p99,
               COUNT(*) AS n
        FROM events GROUP BY event_type
    """,
    "promo_revenue": """
        SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
               SUM(CASE WHEN p_type LIKE 'PROMO%'
                        THEN CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)
                        ELSE 0 END)::BIGINT AS promo_cents,
               SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT))::BIGINT AS total_cents,
               ((SUM(CASE WHEN p_type LIKE 'PROMO%'
                          THEN CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)
                          ELSE 0 END) * 1000)
                 // SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)))::BIGINT AS promo_permille
        FROM lineitem JOIN part ON l_partkey = p_partkey
        GROUP BY 1
    """,
    "best_supplier": """
        SELECT s_suppkey, s_name,
               SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT))::BIGINT AS total_revenue_cents
        FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
        GROUP BY s_suppkey, s_name
        ORDER BY total_revenue_cents DESC, s_suppkey ASC
        LIMIT 5
    """,
    "ship_latency_percentiles": """
        WITH lat AS (
            SELECT o.o_orderpriority,
                   (l.l_shipdate::DATE - o.o_orderdate::DATE) AS days
            FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        )
        SELECT o_orderpriority, COUNT(*) AS n_lines,
               CAST(ROUND(quantile_cont(days, 0.5) * 100) AS BIGINT) AS p50_centidays,
               CAST(ROUND(quantile_cont(days, 0.9) * 100) AS BIGINT) AS p90_centidays,
               CAST(ROUND(quantile_cont(days, 0.99) * 100) AS BIGINT) AS p99_centidays
        FROM lat GROUP BY o_orderpriority
    """,
    "win_wow_change": """
        WITH weekly AS (
            SELECT o_orderpriority,
                   date_trunc('week', o_orderdate) AS wk,
                   SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS rev_cents
            FROM orders GROUP BY 1, 2
        )
        SELECT o_orderpriority,
               strftime(wk, '%Y-%m-%d') AS week_start,
               rev_cents::BIGINT AS rev_cents,
               (lag(rev_cents) OVER (PARTITION BY o_orderpriority ORDER BY wk))::BIGINT
                   AS prev_cents,
               (CASE WHEN lag(rev_cents) OVER (PARTITION BY o_orderpriority ORDER BY wk) IS NULL
                     THEN NULL
                     ELSE ((rev_cents - lag(rev_cents) OVER (PARTITION BY o_orderpriority ORDER BY wk)) * 1000)
                          // lag(rev_cents) OVER (PARTITION BY o_orderpriority ORDER BY wk)
               END)::BIGINT AS wow_permille
        FROM weekly
    """,
    "events_dwell_median": """
        WITH gaps AS (
            SELECT event_type,
                   epoch_us(ts) - epoch_us(lag(ts) OVER (
                       PARTITION BY user_id, event_type ORDER BY ts, event_id
                   )) AS dwell_us
            FROM events
        )
        SELECT event_type, COUNT(*) AS n_gaps,
               CAST(floor(quantile_cont(dwell_us, 0.5)) AS BIGINT) AS median_dwell_us
        FROM gaps WHERE dwell_us IS NOT NULL
        GROUP BY event_type
    """,
    "traffic_bounce_rate": """
        WITH e AS (
            SELECT user_id, ts,
                   CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                             OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) > INTERVAL '30 minutes'
                        THEN 1 ELSE 0 END AS new_sess
            FROM events
        ), g AS (
            SELECT user_id, ts,
                   SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sess_id
            FROM e
        ), s AS (
            SELECT strftime(MIN(ts), '%Y-%m-%d') AS day, COUNT(*) AS ev_ct
            FROM g GROUP BY user_id, sess_id
        )
        SELECT day, COUNT(*) AS sessions,
               SUM((ev_ct = 1)::BIGINT)::BIGINT AS bounces,
               ((SUM((ev_ct = 1)::BIGINT) * 1000) // COUNT(*))::BIGINT AS bounce_permille
        FROM s GROUP BY day
    """,
    "session_window_events": """
        WITH e AS (
            SELECT user_id, ts, value,
                   CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                             OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) > INTERVAL '30 minutes'
                        THEN 1 ELSE 0 END AS new_sess
            FROM events
        ), g AS (
            SELECT user_id, ts, value,
                   SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sess_id
            FROM e
        )
        SELECT user_id,
               strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS stt,
               strftime(MAX(ts) + INTERVAL '30 minutes', '%Y-%m-%d %H:%M:%S') AS edt,
               COUNT(*) AS ev_ct,
               SUM(CAST(ROUND(value * 100) AS BIGINT))::BIGINT AS value_cents
        FROM g GROUP BY user_id, sess_id
    """,
    "table_config_routed_split": """
        SELECT 'dwd_click' AS topic, event_id, user_id, NULL::BIGINT AS value_cents
        FROM events WHERE event_type = 'click'
        UNION ALL
        SELECT 'dwd_purchase', event_id, NULL::BIGINT, CAST(ROUND(value * 100) AS BIGINT)
        FROM events WHERE event_type = 'purchase'
        UNION ALL
        SELECT 'dwd_error', event_id, user_id, CAST(ROUND(value * 100) AS BIGINT)
        FROM events WHERE event_type = 'error'
    """,
    "trade_left_outer_orders": """
        SELECT o_orderkey,
               COUNT(l_linenumber) AS hv_item_ct,
               SUM(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END)::BIGINT AS null_padded
        FROM orders
        LEFT JOIN (SELECT * FROM lineitem WHERE l_extendedprice > 80000.0) l
          ON o_orderkey = l_orderkey
        GROUP BY o_orderkey
    """,
    "traffic_log_split": """
        SELECT 'err' AS stream, event_id, user_id, CAST(ROUND(value * 100) AS BIGINT) AS value_cents
        FROM events WHERE event_type = 'error'
        UNION ALL
        SELECT 'start', event_id, user_id, CAST(ROUND(value * 100) AS BIGINT) FROM events WHERE event_type = 'signup'
        UNION ALL
        SELECT 'action', event_id, user_id, CAST(ROUND(value * 100) AS BIGINT) FROM events WHERE event_type = 'purchase'
        UNION ALL
        SELECT 'page', event_id, user_id, CAST(ROUND(value * 100) AS BIGINT) FROM events WHERE event_type IN ('view', 'click')
    """,
}

BUILDERS = {
    "q1_pricing_summary": q1_pricing_summary,
    "agg_forecast_revenue": q6_forecast_revenue,
    "join_nation_traffic": q7_nation_traffic,
    "join_market_share": q8_market_share,
    "join_semi_returned_orders": semi_join_returned_orders,
    "join_anti_silent_customers": silent_customers,
    "customers_top_returned": top_returned_customers,
    "q3_shipping_priority": q3_shipping_priority,
    "q5_region_revenue": q5_region_revenue,
    "trade_cdc_projection": trade_cdc_projection,
    "trade_status_filter": trade_status_filter,
    "trade_conditional_delta": trade_conditional_delta,
    "agg_tumbling_typed": agg_tumbling_typed,
    "agg_global_uv": agg_global_uv,
    "trade_interval_join": trade_interval_join,
    "trade_lookup_join_dim": trade_lookup_join_dim,
    "serving_gmv": serving_gmv,
    "agg_sliding_counts": agg_sliding_counts,
    "dws_trade_order_window": dws_trade_order_window,
    "serving_topk_channel": serving_topk_channel,
    "traffic_log_split": traffic_log_split,
    "table_config_routed_split": table_config_routed_split,
    "table_cdc_snapshot_merge": table_cdc_snapshot_merge,
    "win_ntile_deciles": win_ntile_deciles,
    "events_unpivot_metrics": events_unpivot_metrics,
    "range_join_value_tiers": range_join_value_tiers,
    "table_scd2_history": table_scd2_history,
    "join_temporal_dim_version": join_temporal_dim_version,
    "win_supplier_percentiles": win_supplier_percentiles,
    "grouping_sets_traffic": grouping_sets_traffic,
    "approx_uv_sketch_rollup": approx_uv_sketch_rollup,  # rows-only: sketch
    "approx_uv_kmv": approx_uv_kmv,
    "approx_uv_kmv_rollup": approx_uv_kmv_rollup,
    "approx_overlap_kmv": approx_overlap_kmv,
    "approx_join_keys_kmv": approx_join_keys_kmv,
    "join_star_denormalize": join_star_denormalize,
    "sql_weekly_trade_report": sql_weekly_trade_report,
    "traffic_hour_heatmap": traffic_hour_heatmap,
    "trade_left_outer_orders": trade_left_outer_orders,
    "session_window_events": session_window_events,
    "traffic_bounce_rate": traffic_bounce_rate,
    "win_wow_change": win_wow_change,
    "ship_latency_percentiles": ship_latency_percentiles,
    "events_dwell_median": events_dwell_median,
    "approx_uv_window": approx_uv_window,
    "promo_revenue": promo_revenue,
    "best_supplier": best_supplier,
    "event_value_percentiles": event_value_percentiles,
    "datetime_functions": datetime_functions,
    "best_parts_per_region": best_parts_per_region,
    "retention_monthly_churn": monthly_active_churn,
    "traffic_event_pivot": event_type_pivot,
    "trade_gmv_rollup": trade_gmv_rollup,
    "dwd_trade_order_refund": dwd_trade_order_refund,
    "dwd_refund_pay_success": refund_pay_success_flow,
    "dws_user_register_window": dws_user_register_window,
    "rel_q02_min_cost_supplier": rel_q2_min_cost_supplier,
    "rel_q11_value_share": rel_q11_value_share,
    "rel_q13_orders_histogram": rel_q13_orders_histogram,
    "rel_q17_small_qty_revenue": rel_q17_small_qty_revenue,
    "rel_q18_large_orders": rel_q18_large_orders,
    "rel_q19_disjunctive": rel_q19_disjunctive,
    "rel_q22_inactive_balance": rel_q22_inactive_balance,
    "win_running_gmv": rel_running_gmv,
    "win_order_gaps": rel_order_gaps,
    "rel_q16_supplier_variety": rel_q16_supplier_variety,
    "win_rolling_revenue": rel_rolling_revenue,
    "win_sales_cube": rel_sales_cube,
}
