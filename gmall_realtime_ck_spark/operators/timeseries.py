"""Time-series & behavioral-sequence operators over the events table.

Extends the reference's window family (tumbling/sliding/session —
SURVEY §2.5, DWS window apps) with the shapes a warehouse team reaches
for next: Flink-style CUMULATE windows (FlinkSQL's third TVF, absent
from the reference's tumbling-only jobs), calendar gap-filling (the
`WITH FILL` idiom of the reference's ClickHouse serving layer),
session-scoped page-path transitions, and weekly cohort retention.

Scale posture: every operator aggregates raw events FIRST (one keyed
shuffle with map-side partials) and runs window functions only over the
resulting aggregate (|days|×|types| or |users| rows), never over raw
events — except the path transitions, whose per-user `lag` is the
canonical sessionization shape (state bounded by one user's events per
partition). Calendar spines come from 1-row min/max aggregates exploded
driver-free via `sequence()` — no `collect`, no Python in any plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .relational import cents, date_str, ts_str

#: CUMULATE geometry: 24 h span advancing in 6 h steps.
CUMULATE_STEPS = 4
CUMULATE_STEP_HOURS = 6

#: session gap for path transitions — same 30 min the session-window
#: queries use (relational.session_window_events)
PATH_GAP_MINUTES = 30


def win_cumulate_counts(t: dict[str, DataFrame]) -> DataFrame:
    """Flink CUMULATE TVF re-expressed on Spark: each event lands in
    every window [day_start, day_start + 6h·k) whose end lies after the
    event — per day the 06/12/18/24 h expanding prefixes, the "GMV so
    far today, refreshed every 6 h" readout the reference serves from
    per-day ClickHouse partitions (SUGG:TradeStatsMapper.java GMV-today).

    Plan: a 4-way `explode(sequence(...))` fan-out (pure map, ×4 rows)
    followed by ONE keyed shuffle on (window-end, type) with map-side
    partial aggregation — never a window function over raw events, and
    cardinality after the shuffle is windows×types, not events.
    """
    return cumulate_counts(t["events"])


def cumulate_counts(events: DataFrame) -> DataFrame:
    """Shared batch/stream CUMULATE transform (see win_cumulate_counts;
    streaming twin: flow_cumulate, a streaming.pipelines.BATCH_TWINS
    row). The explode is stateless, so the same code runs on a stream;
    only the final aggregation becomes stateful there (complete mode)."""
    ev = events.select("ts", "event_type", "value")
    step_us = CUMULATE_STEP_HOURS * 3_600_000_000
    fan = ev.withColumn("day0", F.date_trunc("day", F.col("ts"))).withColumn(
        # smallest k with window end k·step strictly after ts is
        # floor(us_into_day / step_us) + 1 (exact-boundary events fall
        # in the NEXT window, matching Flink's [start, end) assignment);
        # ts is TIMESTAMP_NTZ — the LTZ cast is epoch-faithful under the
        # session's UTC timezone (H6)
        "k",
        F.explode(
            F.expr(
                f"sequence(cast((unix_micros(cast(ts as timestamp)) - "
                f"unix_micros(cast(day0 as timestamp))) div {step_us} as int) + 1, "
                f"{CUMULATE_STEPS})"
            )
        ),
    )
    out = (
        fan.withColumn(
            "edt_ts",
            F.expr(f"day0 + make_interval(0, 0, 0, 0, k * {CUMULATE_STEP_HOURS})"),
        )
        .groupBy("day0", "edt_ts", "event_type")
        .agg(
            F.count(F.lit(1)).alias("pv_ct"),
            F.sum(cents("value")).alias("value_cents"),
        )
        .select(
            ts_str("day0").alias("stt"),
            ts_str("edt_ts").alias("edt"),
            "event_type",
            "pv_ct",
            "value_cents",
        )
    )
    return out


def ts_gap_fill_daily(t: dict[str, DataFrame]) -> DataFrame:
    """Dense per-(type, day) daily series with zero-filled gaps and a
    running total — the ClickHouse `GROUP BY ... WITH FILL` /
    `ORDER BY dt WITH FILL` idiom of the reference's serving layer
    (SUGG sugg-dashboards chart over days), which a plain GROUP BY
    cannot produce (missing days simply vanish).

    The calendar spine is `sequence(min_day, max_day)` exploded from a
    single 1-row global aggregate and cross-joined with the distinct
    type list (|days| × |types| rows — broadcast-sized at any corpus
    scale, since days grow with TIME, not data volume). The running
    total windows over the dense AGGREGATE, never raw events.
    """
    ev = t["events"].select(F.to_date("ts").alias("day"), "event_type", "value")
    daily = ev.groupBy("event_type", "day").agg(
        F.count(F.lit(1)).alias("pv_ct"),
        F.sum(cents("value")).alias("value_cents"),
    )
    # global calendar bounds as driver literals — the O(1)
    # scalar-subquery execution (the rel_q22 / RFM pattern): a 2-value
    # min/max collect, never data; the spine is then a join-free
    # explode over the |types|-row aggregate
    d0, d1 = t["events"].agg(
        F.min(F.to_date("ts")), F.max(F.to_date("ts"))
    ).first()
    if d0 is None:  # degenerate empty input: no calendar to fill
        return ev.sparkSession.createDataFrame(
            [], "event_type string, dt string, pv_ct bigint, value_cents bigint, cum_cents bigint"
        )
    types = ev.select("event_type").distinct()
    spine = types.select(
        "event_type",
        F.explode(F.expr(f"sequence(date'{d0}', date'{d1}')")).alias("day"),
    )
    dense = (
        spine.join(daily, ["event_type", "day"], "left")
        .select(
            "event_type",
            "day",
            F.coalesce("pv_ct", F.lit(0)).alias("pv_ct"),
            F.coalesce("value_cents", F.lit(0)).alias("value_cents"),
        )
    )
    w = Window.partitionBy("event_type").orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return dense.select(
        "event_type",
        date_str("day").alias("dt"),
        "pv_ct",
        "value_cents",
        F.sum("value_cents").over(w).alias("cum_cents"),
    )


def path_transition_matrix(t: dict[str, DataFrame]) -> DataFrame:
    """Page-path analysis: counts of consecutive event-type transitions
    within a user's session (events ≤ 30 min apart) — the transition
    matrix behind the traffic team's Sankey, computed from the same
    per-mid keyed ordering the reference's visitor-repair keyed state
    walks (DwdTrafficBaseLogSplit keyBy(mid)).

    One `lag` window per user (the canonical sessionization shape —
    state is one user's events, partition key is user_id, skew bounded
    by the busiest single user), then a keyed count shuffle on the
    (src, dst) pair with map-side partials.
    """
    ev = t["events"].select("user_id", "event_type", "ts", "event_id")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.expr(f"INTERVAL {PATH_GAP_MINUTES} MINUTES")
    steps = ev.select(
        "user_id",
        F.lag("event_type").over(w).alias("src"),
        F.col("event_type").alias("dst"),
        F.lag("ts").over(w).alias("prev_ts"),
        "ts",
    ).filter(F.col("prev_ts").isNotNull() & (F.col("ts") <= F.col("prev_ts") + gap))
    return steps.groupBy("src", "dst").agg(
        F.count(F.lit(1)).alias("transitions"),
        F.countDistinct("user_id").alias("uniq_users"),
    )


def path_transition_entropy(t: dict[str, DataFrame]) -> DataFrame:
    """Per-source-state Shannon entropy of the session transition
    matrix — how predictable the next event is from each state
    (H = −Σ p·ln p over the row's transition probabilities; 0 =
    deterministic next step, ln(|states|) = uniform). The
    information-theoretic readout on top of the Sankey counts, read
    when deciding whether a journey stage is worth personalizing.

    Scale: reuses the sessionized transition counts' shape (one
    per-user lag window + one keyed (src, dst) count); the entropy is
    arithmetic over the |states|²-row aggregate. Rounded to 6
    decimals; identical ln/Σ form on both engines.
    """
    ev = t["events"].select("user_id", "event_type", "ts", "event_id")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.expr(f"INTERVAL {PATH_GAP_MINUTES} MINUTES")
    steps = ev.select(
        F.lag("event_type").over(w).alias("src"),
        F.col("event_type").alias("dst"),
        F.lag("ts").over(w).alias("prev_ts"),
        "ts",
    ).filter(F.col("prev_ts").isNotNull() & (F.col("ts") <= F.col("prev_ts") + gap))
    counts = steps.groupBy("src", "dst").agg(F.count(F.lit(1)).alias("ct"))
    totals = counts.groupBy("src").agg(F.sum("ct").alias("tot")).withColumnRenamed(
        "src", "s_src"
    )
    p = counts.join(F.broadcast(totals), F.col("src") == F.col("s_src")).select(
        "src",
        (F.col("ct").cast("double") / F.col("tot").cast("double")).alias("p"),
        "tot",
    )
    return (
        p.groupBy("src")
        .agg(
            F.max("tot").alias("n_steps"),
            F.count(F.lit(1)).alias("n_dsts"),
            F.round(-F.sum(F.col("p") * F.log("p")), 6).alias("entropy_nats"),
        )
    )


def cohort_weekly_retention(t: dict[str, DataFrame]) -> DataFrame:
    """Weekly cohort retention triangle: users bucketed by first-seen
    week; for each (cohort_week, week_offset) the distinct users active
    that many weeks later — the classic growth readout one level up
    from the reference's per-day UV windows (DwsTrafficVcChArIsNew).

    Two aggregates over events (first-seen per user; distinct active
    (user, week)) joined co-partitioned on user_id, then a keyed count
    — every shuffle is on user_id or the (cohort, offset) pair, all
    partial-aggregatable; nothing fact-sized is broadcast or windowed.
    """
    ev = t["events"].select("user_id", F.date_trunc("week", F.col("ts")).alias("wk"))
    first = ev.groupBy("user_id").agg(F.min("wk").alias("cohort_wk"))
    active = ev.distinct()
    return (
        active.join(first, "user_id")
        .select(
            "user_id",
            "cohort_wk",
            (F.datediff(F.col("wk"), F.col("cohort_wk")) / 7).cast("bigint").alias("week_offset"),
        )
        .groupBy(date_str("cohort_wk").alias("cohort_week"), "week_offset")
        .agg(F.countDistinct("user_id").alias("active_users"))
    )


def ts_ohlc_hourly(t: dict[str, DataFrame]) -> DataFrame:
    """Hourly OHLC downsample of the event value series per type — the
    hypertable/materialized-rollup readout (TimescaleDB continuous
    aggregates; the reference's ClickHouse serving layer pre-aggregates
    the same way per day). Open/close pick the value at the earliest/
    latest (ts, event_id) in the bucket; high/low/sum/count are plain
    extrema. All values in exact integer cents.

    Scale: ONE keyed shuffle on (type, hour). Open/close are
    ``min_by``/``max_by`` over a struct ordering key — partial-
    aggregatable argmin/argmax that combines map-side, deliberately NOT
    a row_number window over raw events (which would sort every bucket
    on one reducer). Output cardinality is |types|×|hours|, independent
    of event volume.
    """
    return ohlc_hourly(t["events"])


def ohlc_hourly(events: DataFrame) -> DataFrame:
    """Shared batch/stream OHLC transform — see ``ts_ohlc_hourly``."""
    ev = events.select(
        "event_type",
        F.date_trunc("hour", F.col("ts")).alias("hr"),
        cents("value").alias("v"),
        "ts",
        "event_id",
    )
    return (
        ev.groupBy("event_type", "hr")
        .agg(
            F.expr("min_by(v, struct(ts, event_id))").alias("open_cents"),
            F.max("v").alias("high_cents"),
            F.min("v").alias("low_cents"),
            F.expr("max_by(v, struct(ts, event_id))").alias("close_cents"),
            F.count(F.lit(1)).alias("n_events"),
            F.sum("v").alias("sum_cents"),
        )
        .select(
            "event_type",
            ts_str("hr").alias("hour"),
            "open_cents",
            "high_cents",
            "low_cents",
            "close_cents",
            "n_events",
            "sum_cents",
        )
    )


#: linreg epoch — x is days since this date (keeps x small so the
#: normal-equation arithmetic is numerically identical across engines)
LINREG_EPOCH = "2024-01-01"


def ts_linreg_forecast(t: dict[str, DataFrame]) -> DataFrame:
    """Per-type linear trend + next-day forecast over the daily event
    count series — the capacity-planning readout a warehouse team runs
    on its window aggregates (least-squares via ``regr_slope`` /
    ``regr_intercept``, forecast = intercept + slope·(last_day+1)).

    Scale: the regression consumes the DAILY AGGREGATE (|types|×|days|
    rows after one keyed map-side-combined count), and regr_* are
    themselves partial-aggregatable sums-of-products — two keyed
    shuffles total, nothing driver-side. x is days since a fixed
    recent epoch so both engines run the same small-magnitude
    arithmetic (an 1970-epoch x would put ~2e4² into the normal
    equations and expose float-association noise).
    """
    daily = (
        t["events"]
        .groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(F.count(F.lit(1)).alias("ct"))
        .select(
            "event_type",
            F.datediff(F.col("day"), F.lit(LINREG_EPOCH)).cast("double").alias("x"),
            F.col("ct").cast("double").alias("y"),
        )
    )
    fit = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.expr("regr_slope(y, x)").alias("slope"),
        F.expr("regr_intercept(y, x)").alias("intercept"),
        F.max("x").alias("last_x"),
    )
    return fit.select(
        "event_type",
        "n_days",
        F.round("slope", 6).alias("slope"),
        F.round("intercept", 6).alias("intercept"),
        F.round(
            F.col("intercept") + F.col("slope") * (F.col("last_x") + 1), 6
        ).alias("forecast_next"),
    )


#: EWMA smoothing factor α (decay p = 1 − α) and trailing horizon
EWMA_ALPHA = 0.3
EWMA_LOOKBACK = 14


def ts_ewma_control(t: dict[str, DataFrame]) -> DataFrame:
    """EWMA control chart over the per-(type, day) event-count series —
    the smoothed-baseline anomaly screen (Roberts 1959; the streaming
    twin of the MAD screen in ``events_anomaly_mad``) a pipeline runs
    on its daily window aggregates. ewma_t is the exponentially-
    weighted average of the trailing 14 observations (weights
    (1−α)^lag, normalized); ``deviation`` is today's count minus it.

    Engine-exact by construction: the weighted sum is factored as
    p^rn · Σ_frame(x_i · p^−rn_i) — a plain window SUM over a trailing
    ROWS frame, so both engines add the same 14 terms in the same
    order (term-magnitude ratio inside a frame is bounded by p^−13, so
    the factorization loses no precision). The p^−rn scaling bounds the
    usable series length at ~2000 rows per key (double overflow) —
    far past any daily series; longer horizons re-zero the epoch.

    Scale: aggregate-first — one keyed (type, day) count shuffle, then
    windows over the |types|×|days| AGGREGATE, never raw events.
    """
    p = 1.0 - EWMA_ALPHA
    daily = (
        t["events"]
        .groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(F.count(F.lit(1)).alias("ct"))
    )
    wo = Window.partitionBy("event_type").orderBy("day")
    frame = wo.rowsBetween(-(EWMA_LOOKBACK - 1), 0)
    scaled = daily.withColumn("rn", F.row_number().over(wo)).select(
        "event_type",
        "day",
        "ct",
        "rn",
        (F.col("ct").cast("double") * F.pow(F.lit(1.0 / p), F.col("rn"))).alias("u_num"),
        F.pow(F.lit(1.0 / p), F.col("rn")).alias("u_den"),
    )
    ewma = (
        F.pow(F.lit(p), F.col("rn"))
        * F.sum("u_num").over(frame)
        / (F.pow(F.lit(p), F.col("rn")) * F.sum("u_den").over(frame))
    )
    return scaled.select(
        "event_type",
        date_str("day").alias("dt"),
        "ct",
        F.round(ewma, 6).alias("ewma"),
        F.round(F.col("ct") - ewma, 6).alias("deviation"),
    )


def ts_autocorr_daily(t: dict[str, DataFrame]) -> DataFrame:
    """Lag-1 autocorrelation of each type's daily-count series —
    the seasonality/persistence screen run before choosing a forecast
    model (high r₁ ⇒ yesterday predicts today; the diagnostics sibling
    of ``ts_linreg_forecast``). Pearson r via the ``corr`` aggregate
    on (ct, lag(ct)) pairs; both engines use the same sample-corr
    definition (rounded to 6, far above any summation-order ulp).

    Scale: one keyed daily count, one per-type lag window over the
    |types|×|days| AGGREGATE, one corr aggregate (partial-aggregatable
    sums of products) — raw events shuffle exactly once.
    """
    daily = (
        t["events"]
        .groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(F.count(F.lit(1)).alias("ct"))
    )
    w = Window.partitionBy("event_type").orderBy("day")
    pairs = daily.select(
        "event_type",
        F.col("ct").cast("double").alias("y"),
        F.lag("ct").over(w).cast("double").alias("x"),
    ).filter(F.col("x").isNotNull())
    return pairs.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.round(F.corr("y", "x"), 6).alias("autocorr_lag1"),
    )


#: seasonal-naive backtest lag (weekly seasonality)
SEASONAL_LAG_DAYS = 7


def ts_seasonal_backtest(t: dict[str, DataFrame]) -> DataFrame:
    """Forecast-model backtest: score the seasonal-naive predictor
    (ŷ_t = y_{t−7}) on the daily count series — per type, the mean
    absolute percentage error in integer permille plus the share of
    days it over-forecast. The evaluation harness every forecasting
    effort needs BEFORE any model (the naive baseline to beat;
    complements ``ts_linreg_forecast``'s fit with an honest scoring
    loop). Integer permille arithmetic keeps both engines bit-exact.

    Scale: aggregate-first — one keyed daily count, one per-type lag
    window over the |types|×|days| aggregate, one keyed reduce.
    """
    daily = (
        t["events"]
        .groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(F.count(F.lit(1)).alias("y"))
    )
    w = Window.partitionBy("event_type").orderBy("day")
    scored = daily.withColumn("yhat", F.lag("y", SEASONAL_LAG_DAYS).over(w)).filter(
        F.col("yhat").isNotNull()
    )
    return scored.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_scored"),
        F.expr("sum(abs(y - yhat) * 1000 DIV y)").alias("sum_ape_permille"),
        F.expr("cast(sum(abs(y - yhat) * 1000 DIV y) div count(1) as bigint)").alias(
            "mape_permille"
        ),
        F.sum((F.col("yhat") > F.col("y")).cast("bigint")).alias("n_over"),
    )


#: mergeable-histogram quantile geometry: fixed $8 bins over value cents
QH_BIN_CENTS = 800


def ts_quantile_rollup(t: dict[str, DataFrame]) -> DataFrame:
    """Re-aggregatable QUANTILE sketch rollup: daily fixed-bin
    histograms of event value (the mergeable artifact — counts per $8
    bin) merged up to weekly quantile estimates (p50/p90/p99 as the
    lower edge of the first bin whose cumulative count clears the
    rank) — the exact-oracle sibling of `approx_uv_sketch_rollup`:
    where HLL union is approximate by nature (rows-only check), a
    fixed-bin histogram merge is DETERMINISTIC, so this one is fully
    hash-verified on both engines while still demonstrating the
    sketch-merge contract (daily partials summable to any coarser
    window without touching raw events again). Estimate error is
    bounded by the bin width (pytest-asserted against the exact
    percentile).

    Scale: the daily sketch is one keyed aggregate of cardinality
    |days| × |bins| (bins bounded by max_value/width — independent of
    event count); the weekly merge and the rank scan run over that
    aggregate only. Raw events are touched exactly once.
    """
    ev = t["events"]
    daily = (
        ev.select(
            date_str("ts").alias("day"),
            F.expr(f"cast(round(value * 100) as bigint) div {QH_BIN_CENTS}").alias("bin"),
        )
        .groupBy("day", "bin")
        .agg(F.count(F.lit(1)).alias("ct"))
    )
    weekly = (
        daily.select(
            F.date_format(F.date_trunc("week", F.to_date("day")), "yyyy-MM-dd").alias("week"),
            "bin",
            "ct",
        )
        .groupBy("week", "bin")
        .agg(F.sum("ct").alias("ct"))
    )
    wcum = Window.partitionBy("week").orderBy("bin").rowsBetween(
        Window.unboundedPreceding, 0
    )
    wtot = Window.partitionBy("week")
    scored = weekly.withColumn("cum", F.sum("ct").over(wcum)).withColumn(
        "total", F.sum("ct").over(wtot)
    )
    b = QH_BIN_CENTS
    return scored.groupBy("week").agg(
        F.max("total").alias("n_events"),
        F.min(F.when(F.expr("cum * 2 >= total"), F.col("bin") * b)).alias("p50_cents_lb"),
        F.min(F.when(F.expr("cum * 10 >= 9 * total"), F.col("bin") * b)).alias("p90_cents_lb"),
        F.min(F.when(F.expr("cum * 100 >= 99 * total"), F.col("bin") * b)).alias("p99_cents_lb"),
    )


def ts_series_similarity(t: dict[str, DataFrame]) -> DataFrame:
    """Time-series similarity search over the per-type daily activity
    series (the EDBT'19 distributed series-similarity shape): aggregate
    events to |types| × |days| daily-count series FIRST, align series
    pairs on shared days, and rank pairs by squared Euclidean distance
    — the screen that finds co-moving metrics (or a type whose pattern
    suddenly decouples). INTEGER-exact: counts are ints, the distance
    is a sum of squared int differences.

    Scale: the pairwise join runs over SERIES (|types|² pairs of
    |days|-length vectors), never raw events — with millions of series
    (per-user) the same code takes a SAX/PAA bucket column as the join
    key first (the `simhash_pair_search` banding posture); the
    per-type diagnostic here is the bounded exact core.
    """
    ev = t["events"]
    daily = ev.groupBy(
        F.col("event_type"), date_str("ts").alias("day")
    ).agg(F.count(F.lit(1)).alias("ct"))
    a = daily.select(F.col("event_type").alias("type_a"), "day", F.col("ct").alias("ct_a"))
    b = daily.select(F.col("event_type").alias("type_b"), "day", F.col("ct").alias("ct_b"))
    pairs = a.join(b, "day").filter(F.col("type_a") < F.col("type_b"))
    return (
        pairs.groupBy("type_a", "type_b")
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.sum(
                (F.col("ct_a") - F.col("ct_b")) * (F.col("ct_a") - F.col("ct_b"))
            ).alias("dist2"),
        )
    )


#: CUSUM alarm threshold: |cumulative deviation| beyond this many
#: multiples of the series mean trips the alarm
CUSUM_H_FACTOR = 3


def ts_cusum_changepoints(t: dict[str, DataFrame]) -> DataFrame:
    """CUSUM changepoint chart (Page 1954, V-mask form) over the
    per-(type, day) event-count series: the running cumulative sum of
    deviations from the series mean drifts near zero under a stable
    rate and ramps linearly after a level shift — the classic
    mean-shift detector a pipeline runs over its daily window
    aggregates, complementing the EWMA chart's local smoothing with a
    global drift signal. INTEGER-exact: deviations in milli-units
    (ct·1000 − μ_milli with truncating-div mean), so the cumulative
    sums and the |S| > 3·μ_milli alarm compare identical integers on
    both engines.

    Scale: aggregate-first — one keyed (type, day) count shuffle, then
    one ordered window per type over the |types| × |days| AGGREGATE.
    """
    return cusum_from_daily(type_day_counts(t["events"]))


def type_day_counts(ev: DataFrame) -> DataFrame:
    """Per-(event_type, day) event counts — the chart's one keyed
    aggregate, kept in complete mode by the streaming twin."""
    return ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("ct")
    )


def cusum_from_daily(daily: DataFrame) -> DataFrame:
    """The chart algebra over pre-aggregated (type, day, ct) rows —
    shared by the batch chart and the streaming twin (which maintains
    ``daily`` continuously and re-runs this aggregate-level algebra
    per poll). The stats side renames its key before joining back so
    the equi-join resolves when both legs descend from the same
    memory-table view."""
    from .relational import date_str

    stats = daily.groupBy("event_type").agg(
        F.expr("(sum(ct) * 1000) div count(1)").alias("mu_milli")
    ).withColumnRenamed("event_type", "s_type")
    wo = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    joined = daily.join(F.broadcast(stats), F.col("event_type") == F.col("s_type"))
    return (
        joined.withColumn(
            "cusum_milli",
            F.sum(F.col("ct") * 1000 - F.col("mu_milli")).over(wo).cast("bigint"),
        )
        .select(
            "event_type",
            date_str("day").alias("dt"),
            "ct",
            "cusum_milli",
            (F.abs(F.col("cusum_milli")) > CUSUM_H_FACTOR * F.col("mu_milli"))
            .cast("bigint")
            .alias("alarm"),
        )
    )


def ts_open_lines_daily(t: dict[str, DataFrame]) -> DataFrame:
    """Interval-concurrency profile: how many order lines are OPEN
    (ordered but not yet shipped) on each day — the gaps-and-islands
    resource-concurrency readout (active sessions, in-flight
    shipments, concurrent jobs) over the [o_orderdate, l_shipdate]
    interval of every line.

    Implemented with the DELTA trick, not interval unnest: each
    interval emits (+1 at start, −1 the day after end), deltas
    aggregate per day, and a running sum over the |days|-row AGGREGATE
    reconstructs the concurrency. At 100 TB this is the difference
    between 2·N delta rows and N·|interval| exploded rows — and the
    only ordered window runs over ~thousands of days, never data.
    Emits one row per delta day (days between changes carry the
    previous value by construction).
    """
    from .relational import date_str

    li = t["lineitem"].select("l_orderkey", "l_shipdate")
    o = t["orders"].select("o_orderkey", "o_orderdate")
    iv = li.join(o, li.l_orderkey == o.o_orderkey).select(
        F.to_date("o_orderdate").alias("start_day"),
        F.date_add(F.to_date("l_shipdate"), 1).alias("end_day1"),
    )
    deltas = iv.select(F.col("start_day").alias("day"), F.lit(1).alias("d")).unionAll(
        iv.select(F.col("end_day1").alias("day"), F.lit(-1).alias("d"))
    )
    daily = deltas.groupBy("day").agg(F.sum("d").alias("delta"))
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return daily.select(
        date_str("day").alias("dt"),
        F.col("delta").cast("bigint").alias("delta"),
        F.sum("delta").over(w).cast("bigint").alias("open_lines"),
    )


ORACLES: dict[str, str] = {
    "ts_open_lines_daily": """
        WITH iv AS (
            SELECT o.o_orderdate::DATE AS start_day,
                   l.l_shipdate::DATE + 1 AS end_day1
            FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        ), deltas AS (
            SELECT start_day AS day, 1 AS d FROM iv
            UNION ALL
            SELECT end_day1 AS day, -1 AS d FROM iv
        ), daily AS (
            SELECT day, SUM(d) AS delta FROM deltas GROUP BY day
        )
        SELECT strftime(day, '%Y-%m-%d') AS dt, delta::BIGINT AS delta,
               SUM(delta) OVER (ORDER BY day
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                               )::BIGINT AS open_lines
        FROM daily
    """,
    "ts_cusum_changepoints": f"""
        WITH daily AS (
            SELECT event_type, ts::DATE AS day, COUNT(*) AS ct
            FROM events GROUP BY 1, 2
        ), stats AS (
            SELECT event_type, (SUM(ct) * 1000) // COUNT(*) AS mu_milli
            FROM daily GROUP BY event_type
        ), cum AS (
            SELECT d.event_type, d.day, d.ct, s.mu_milli,
                   SUM(d.ct * 1000 - s.mu_milli) OVER (
                       PARTITION BY d.event_type ORDER BY d.day
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS cusum_milli
            FROM daily d JOIN stats s ON d.event_type = s.event_type
        )
        SELECT event_type, strftime(day, '%Y-%m-%d') AS dt, ct,
               cusum_milli::BIGINT AS cusum_milli,
               (abs(cusum_milli) > {CUSUM_H_FACTOR} * mu_milli)::BIGINT AS alarm
        FROM cum
    """,
    "ts_series_similarity": """
        WITH daily AS (
            SELECT event_type, strftime(ts, '%Y-%m-%d') AS day, COUNT(*) AS ct
            FROM events GROUP BY 1, 2
        )
        SELECT a.event_type AS type_a, b.event_type AS type_b,
               COUNT(*)::BIGINT AS n_days,
               SUM((a.ct - b.ct) * (a.ct - b.ct))::BIGINT AS dist2
        FROM daily a JOIN daily b
          ON a.day = b.day AND a.event_type < b.event_type
        GROUP BY 1, 2
    """,
    "ts_quantile_rollup": f"""
        WITH daily AS (
            SELECT strftime(ts, '%Y-%m-%d') AS day,
                   CAST(round(value * 100) AS BIGINT) // {QH_BIN_CENTS} AS bin,
                   COUNT(*) AS ct
            FROM events GROUP BY 1, 2
        ), weekly AS (
            SELECT strftime(date_trunc('week', day::DATE), '%Y-%m-%d') AS week,
                   bin, SUM(ct)::BIGINT AS ct
            FROM daily GROUP BY 1, 2
        ), scored AS (
            SELECT week, bin, ct,
                   SUM(ct) OVER (PARTITION BY week ORDER BY bin
                                 ROWS UNBOUNDED PRECEDING)::BIGINT AS cum,
                   SUM(ct) OVER (PARTITION BY week)::BIGINT AS total
            FROM weekly
        )
        SELECT week, MAX(total)::BIGINT AS n_events,
               MIN(CASE WHEN cum * 2 >= total THEN bin * {QH_BIN_CENTS} END)::BIGINT AS p50_cents_lb,
               MIN(CASE WHEN cum * 10 >= 9 * total THEN bin * {QH_BIN_CENTS} END)::BIGINT AS p90_cents_lb,
               MIN(CASE WHEN cum * 100 >= 99 * total THEN bin * {QH_BIN_CENTS} END)::BIGINT AS p99_cents_lb
        FROM scored GROUP BY week
    """,
    "ts_seasonal_backtest": f"""
        WITH daily AS (
            SELECT event_type, ts::DATE AS day, COUNT(*) AS y
            FROM events GROUP BY event_type, day
        ), scored AS (
            SELECT event_type, y,
                   lag(y, {SEASONAL_LAG_DAYS}) OVER (PARTITION BY event_type ORDER BY day) AS yhat
            FROM daily
        )
        SELECT event_type,
               COUNT(*) AS n_scored,
               SUM(abs(y - yhat) * 1000 // y)::BIGINT AS sum_ape_permille,
               (SUM(abs(y - yhat) * 1000 // y) // COUNT(*))::BIGINT AS mape_permille,
               SUM((yhat > y)::BIGINT)::BIGINT AS n_over
        FROM scored WHERE yhat IS NOT NULL
        GROUP BY event_type
    """,
    "ts_autocorr_daily": """
        WITH daily AS (
            SELECT event_type, ts::DATE AS day, COUNT(*) AS ct
            FROM events GROUP BY event_type, day
        ), pairs AS (
            SELECT event_type, ct::DOUBLE AS y,
                   lag(ct) OVER (PARTITION BY event_type ORDER BY day)::DOUBLE AS x
            FROM daily
        )
        SELECT event_type, COUNT(*) AS n_pairs,
               round(corr(y, x), 6) AS autocorr_lag1
        FROM pairs WHERE x IS NOT NULL GROUP BY event_type
    """,
    "ts_ewma_control": f"""
        WITH daily AS (
            SELECT event_type, ts::DATE AS day, COUNT(*) AS ct
            FROM events GROUP BY event_type, day
        ), scaled AS (
            SELECT event_type, day, ct,
                   row_number() OVER wo AS rn,
                   ct::DOUBLE * pow(1.0 / {1.0 - EWMA_ALPHA}, row_number() OVER wo) AS u_num,
                   pow(1.0 / {1.0 - EWMA_ALPHA}, row_number() OVER wo) AS u_den
            FROM daily
            WINDOW wo AS (PARTITION BY event_type ORDER BY day)
        ), sm AS (
            SELECT event_type, day, ct, rn,
                   SUM(u_num) OVER wf AS s_num,
                   SUM(u_den) OVER wf AS s_den
            FROM scaled
            WINDOW wf AS (PARTITION BY event_type ORDER BY day
                          ROWS BETWEEN {EWMA_LOOKBACK - 1} PRECEDING AND CURRENT ROW)
        )
        SELECT event_type, strftime(day, '%Y-%m-%d') AS dt, ct,
               round(pow({1.0 - EWMA_ALPHA}, rn) * s_num /
                     (pow({1.0 - EWMA_ALPHA}, rn) * s_den), 6) AS ewma,
               round(ct - pow({1.0 - EWMA_ALPHA}, rn) * s_num /
                     (pow({1.0 - EWMA_ALPHA}, rn) * s_den), 6) AS deviation
        FROM sm
    """,
    "ts_linreg_forecast": f"""
        WITH daily AS (
            SELECT event_type,
                   date_diff('day', DATE '{LINREG_EPOCH}', ts::DATE)::DOUBLE AS x,
                   COUNT(*)::DOUBLE AS y
            FROM events GROUP BY event_type, ts::DATE
        ), fit AS (
            SELECT event_type, COUNT(*)::BIGINT AS n_days,
                   regr_slope(y, x) AS slope,
                   regr_intercept(y, x) AS intercept,
                   MAX(x) AS last_x
            FROM daily GROUP BY event_type
        )
        SELECT event_type, n_days,
               round(slope, 6) AS slope,
               round(intercept, 6) AS intercept,
               round(intercept + slope * (last_x + 1), 6) AS forecast_next
        FROM fit
    """,
    "ts_ohlc_hourly": """
        SELECT event_type,
               strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
               first(CAST(round(value * 100) AS BIGINT) ORDER BY ts, event_id) AS open_cents,
               MAX(CAST(round(value * 100) AS BIGINT)) AS high_cents,
               MIN(CAST(round(value * 100) AS BIGINT)) AS low_cents,
               last(CAST(round(value * 100) AS BIGINT) ORDER BY ts, event_id) AS close_cents,
               COUNT(*) AS n_events,
               SUM(CAST(round(value * 100) AS BIGINT))::BIGINT AS sum_cents
        FROM events
        GROUP BY event_type, date_trunc('hour', ts)
    """,
    "win_cumulate_counts": f"""
        WITH fan AS (
            SELECT date_trunc('day', ts) AS day0,
                   unnest(generate_series(
                       (epoch_us(ts - date_trunc('day', ts)) //
                        ({CUMULATE_STEP_HOURS} * 3600000000))::INT + 1,
                       {CUMULATE_STEPS})) AS k,
                   event_type, value
            FROM events
        )
        SELECT strftime(day0, '%Y-%m-%d %H:%M:%S') AS stt,
               strftime(day0 + to_hours(k * {CUMULATE_STEP_HOURS}),
                        '%Y-%m-%d %H:%M:%S') AS edt,
               event_type,
               COUNT(*) AS pv_ct,
               SUM(CAST(round(value * 100) AS BIGINT))::BIGINT AS value_cents
        FROM fan
        GROUP BY day0, k, event_type
    """,
    "ts_gap_fill_daily": """
        WITH daily AS (
            SELECT event_type, ts::DATE AS day, COUNT(*) AS pv_ct,
                   SUM(CAST(round(value * 100) AS BIGINT))::BIGINT AS value_cents
            FROM events GROUP BY event_type, day
        ), span AS (
            SELECT min(ts::DATE) AS d0, max(ts::DATE) AS d1 FROM events
        ), days AS (
            SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS day FROM span
        ), spine AS (
            SELECT t.event_type, days.day
            FROM days CROSS JOIN (SELECT DISTINCT event_type FROM events) t
        ), dense AS (
            SELECT spine.event_type, spine.day,
                   COALESCE(daily.pv_ct, 0)::BIGINT AS pv_ct,
                   COALESCE(daily.value_cents, 0)::BIGINT AS value_cents
            FROM spine LEFT JOIN daily
              ON spine.event_type = daily.event_type AND spine.day = daily.day
        )
        SELECT event_type, strftime(day, '%Y-%m-%d') AS dt, pv_ct, value_cents,
               SUM(value_cents) OVER (PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS cum_cents
        FROM dense
    """,
    "path_transition_matrix": """
        WITH steps AS (
            SELECT user_id,
                   lag(event_type) OVER w AS src,
                   event_type AS dst,
                   lag(ts) OVER w AS prev_ts,
                   ts
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        )
        SELECT src, dst, COUNT(*) AS transitions,
               COUNT(DISTINCT user_id)::BIGINT AS uniq_users
        FROM steps
        WHERE prev_ts IS NOT NULL AND ts <= prev_ts + INTERVAL 30 MINUTES
        GROUP BY src, dst
    """,
    "path_transition_entropy": f"""
        WITH steps AS (
            SELECT lag(event_type) OVER w AS src,
                   event_type AS dst,
                   lag(ts) OVER w AS prev_ts,
                   ts
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ), counts AS (
            SELECT src, dst, COUNT(*) AS ct FROM steps
            WHERE prev_ts IS NOT NULL
              AND ts <= prev_ts + INTERVAL {PATH_GAP_MINUTES} MINUTES
            GROUP BY src, dst
        ), totals AS (
            SELECT src, SUM(ct) AS tot FROM counts GROUP BY src
        ), p AS (
            SELECT c.src, c.ct::DOUBLE / t.tot::DOUBLE AS p, t.tot
            FROM counts c JOIN totals t ON c.src = t.src
        )
        SELECT src, MAX(tot)::BIGINT AS n_steps, COUNT(*) AS n_dsts,
               round(-SUM(p * ln(p)), 6) AS entropy_nats
        FROM p GROUP BY src
    """,
    "cohort_weekly_retention": """
        WITH ev AS (
            SELECT user_id, date_trunc('week', ts) AS wk FROM events
        ), first AS (
            SELECT user_id, min(wk) AS cohort_wk FROM ev GROUP BY user_id
        ), active AS (
            SELECT DISTINCT user_id, wk FROM ev
        )
        SELECT strftime(cohort_wk, '%Y-%m-%d') AS cohort_week,
               (date_diff('day', cohort_wk, wk) // 7)::BIGINT AS week_offset,
               COUNT(DISTINCT user_id)::BIGINT AS active_users
        FROM active JOIN first USING (user_id)
        GROUP BY cohort_wk, week_offset
    """,
}

BUILDERS = {
    "win_cumulate_counts": win_cumulate_counts,
    "ts_gap_fill_daily": ts_gap_fill_daily,
    "path_transition_matrix": path_transition_matrix,
    "cohort_weekly_retention": cohort_weekly_retention,
    "ts_ohlc_hourly": ts_ohlc_hourly,
    "ts_linreg_forecast": ts_linreg_forecast,
    "ts_ewma_control": ts_ewma_control,
    "ts_autocorr_daily": ts_autocorr_daily,
    "ts_seasonal_backtest": ts_seasonal_backtest,
    "ts_quantile_rollup": ts_quantile_rollup,
    "ts_series_similarity": ts_series_similarity,
    "ts_cusum_changepoints": ts_cusum_changepoints,
    "ts_open_lines_daily": ts_open_lines_daily,
    "path_transition_entropy": path_transition_entropy,
}
