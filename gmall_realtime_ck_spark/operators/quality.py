"""Data-quality operators: schema-wide profiling and declarative
constraint checks (the Deequ/Great-Expectations layer a training
pipeline runs before any corpus job is allowed to consume a drop).

The reference trusts upstream Maxwell/Flink topics and routes only
unparseable rows to a dirty sink (BaseDbTableProcessFunction's dirty
stream); these operators are the batch-audit counterpart: assert the
contract instead of assuming it.

Scale posture: the profile is ONE aggregation pass over the table
(multi-distinct plans as a single Expand + keyed agg — map-side
partials, no per-column rescans); every check is either one aggregate
or one broadcast/keyed anti join. Nothing is collected; the outputs
are O(#columns) / O(#checks) rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: columns profiled on orders — (name, spark type is taken from the df)
_PROFILE_COLS = (
    "o_orderkey",
    "o_custkey",
    "o_orderstatus",
    "o_totalprice",
    "o_orderdate",
    "o_orderpriority",
)


def quality_profile_orders(t: dict[str, DataFrame]) -> DataFrame:
    """Per-column profile of ``orders``: null count, exact distinct
    count, min/max (rendered as strings so one long-format row per
    column). The Deequ `Analyzer` shape.

    Two single-purpose passes, deliberately NOT one mixed aggregate:
    Spark plans plain aggregates mixed with multi-column DISTINCTs as
    one Expand that replicates EVERY row |distinct-cols|+1 times and
    re-evaluates the rendered min/max strings per replica — measured
    4.6 s vs 1.6+1.3 s split at sf0.1, and at 100 TB a 7× row
    expansion loses to a second columnar scan by far. So: pass 1 =
    nulls+min/max (plain, one scan, map-side partials), pass 2 = the
    six countDistincts (Expand over just the six key columns), joined
    as two 1-row results (a trivial 1×1 broadcast). At 100 TB the
    exact distincts would switch to ``approx_count_distinct`` (HLL,
    merge-able map-side); exact is kept because the oracle compares
    bit-for-bit.
    """
    o = t["orders"]
    plain = []
    for c in _PROFILE_COLS:
        col = F.col(c)
        rendered = (
            F.date_format(col, "yyyy-MM-dd HH:mm:ss")
            if c == "o_orderdate"
            else col.cast("string")
        )
        plain += [
            F.sum(col.isNull().cast("bigint")).alias(f"{c}__nulls"),
            F.min(rendered).alias(f"{c}__min"),
            F.max(rendered).alias(f"{c}__max"),
        ]
    distincts = [F.countDistinct(F.col(c)).alias(f"{c}__distinct") for c in _PROFILE_COLS]
    wide = o.agg(*plain).crossJoin(F.broadcast(o.agg(*distincts)))
    stack = ", ".join(
        f"'{c}', {c}__nulls, {c}__distinct, {c}__min, {c}__max"
        for c in _PROFILE_COLS
    )
    return wide.selectExpr(
        f"stack({len(_PROFILE_COLS)}, {stack}) as "
        "(column_name, n_nulls, n_distinct, min_value, max_value)"
    )


def quality_checks(t: dict[str, DataFrame]) -> DataFrame:
    """Declarative constraint suite (the Deequ `Check` shape): primary-
    key uniqueness, referential integrity, value-range and derived-
    column consistency — one row per check with its violation count
    and pass flag.

    Each check is one aggregate over its table; the referential check
    is a broadcast anti join against the distinct key set (dim-sized
    build side). The union of 1-row results is driver-free.
    """
    o, c, li, ev, docs = (
        t["orders"], t["customer"], t["lineitem"], t["events"], t["documents"],
    )

    pk = o.agg(
        (F.count(F.lit(1)) - F.countDistinct("o_orderkey")).alias("violations")
    ).select(F.lit("orders_pk_unique").alias("check_name"), "violations")

    fk = (
        o.join(
            F.broadcast(c.select("c_custkey").distinct()),
            o["o_custkey"] == c["c_custkey"],
            "left_anti",
        )
        .agg(F.count(F.lit(1)).alias("violations"))
        .select(F.lit("orders_fk_customer").alias("check_name"), "violations")
    )

    qty = li.agg(
        F.sum(
            ((F.col("l_quantity") <= 0) | (F.col("l_quantity") > 50)).cast("bigint")
        ).alias("violations")
    ).select(F.lit("lineitem_qty_range").alias("check_name"), "violations")

    val = ev.agg(
        F.sum((F.col("value") < 0).cast("bigint")).alias("violations")
    ).select(F.lit("events_value_nonnegative").alias("check_name"), "violations")

    chars = docs.agg(
        F.sum((F.col("n_chars") != F.length("text")).cast("bigint")).alias(
            "violations"
        )
    ).select(F.lit("documents_nchars_consistent").alias("check_name"), "violations")

    out = pk.unionByName(fk).unionByName(qty).unionByName(val).unionByName(chars)
    return out.select(
        "check_name",
        F.col("violations").cast("bigint").alias("violations"),
        (F.col("violations") == 0).cast("bigint").alias("passed"),
    )


#: heaviest keys reported by the skew diagnostic
SKEW_TOP_N = 10


def diag_key_skew(t: dict[str, DataFrame]) -> DataFrame:
    """Join-key skew report over ``lineitem.l_orderkey`` — the
    pre-flight an ops team runs before picking a join strategy (salt?
    AQE skew split? broadcast?): the top-N heaviest keys with their
    absolute counts and parts-per-million share of the table, plus the
    global key count riding along. Integer ppm keeps both engines
    bit-exact (no float division).

    Scale: one keyed count (map-side combined), a 1-row global
    aggregate broadcast back, and a TakeOrderedAndProject top-N over
    the key aggregate — no global sort, no window over data. This is
    the measurement half of the salting the repo applies in
    ``agg_salted_event_stats`` / ``layout.salted_join``.
    """
    from pyspark.sql import Window

    li = t["lineitem"]
    counts = li.groupBy(F.col("l_orderkey").alias("key")).agg(
        F.count(F.lit(1)).alias("ct")
    )
    stats = counts.agg(
        F.sum("ct").alias("total_rows"), F.count(F.lit(1)).alias("n_keys")
    )
    top = counts.orderBy(F.desc("ct"), F.asc("key")).limit(SKEW_TOP_N)
    w = Window.orderBy(F.desc("ct"), F.asc("key"))
    return (
        top.crossJoin(F.broadcast(stats))
        .withColumn("rank", F.row_number().over(w).cast("bigint"))
        .select(
            "rank",
            "key",
            "ct",
            F.expr("cast(round(ct * 1000000.0 / total_rows) as bigint)").alias(
                "share_ppm"
            ),
            "n_keys",
        )
    )


def quality_value_histogram(t: dict[str, DataFrame]) -> DataFrame:
    """Power-of-two value histogram per event type — the distribution
    profile (Deequ `Histogram` analyzer) behind outlier screens and
    shuffle-partition sizing. Buckets are integer-exact: bucket = bit
    length of the cents value (``length(bin(v))``), avoiding the
    cross-engine last-ulp drift a float ``log2`` would risk at exact
    powers of two. One keyed map-side-combined aggregate; output
    cardinality is |types| × ≤64 buckets.
    """
    return value_histogram(t["events"])


def value_histogram(events: DataFrame) -> DataFrame:
    """Shared batch/stream histogram transform (see
    ``quality_value_histogram``; streaming twin ``flow_histogram``, a
    ``streaming.pipelines.BATCH_TWINS`` row — the bucketing is a
    stateless map, so only the keyed aggregate becomes stateful)."""
    ev = events.select(
        "event_type", F.expr("cast(round(value * 100) as bigint)").alias("v")
    )
    bucket = F.when(F.col("v") <= 0, F.lit(0)).otherwise(
        F.length(F.expr("bin(v)"))
    ).cast("bigint")
    return (
        ev.withColumn("bucket", bucket)
        .groupBy("event_type", "bucket")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("v").alias("min_cents"),
            F.max("v").alias("max_cents"),
        )
    )


ORACLES: dict[str, str] = {
    "quality_value_histogram": """
        WITH ev AS (
            SELECT event_type, CAST(round(value * 100) AS BIGINT) AS v FROM events
        )
        SELECT event_type,
               (CASE WHEN v <= 0 THEN 0 ELSE length(printf('%b', v)) END)::BIGINT AS bucket,
               COUNT(*) AS n_events,
               MIN(v) AS min_cents,
               MAX(v) AS max_cents
        FROM ev GROUP BY event_type, bucket
    """,
    "diag_key_skew": f"""
        WITH counts AS (
            SELECT l_orderkey AS key, COUNT(*) AS ct FROM lineitem GROUP BY 1
        ), stats AS (
            SELECT SUM(ct)::BIGINT AS total_rows, COUNT(*)::BIGINT AS n_keys FROM counts
        ), top AS (
            SELECT key, ct FROM counts ORDER BY ct DESC, key ASC LIMIT {SKEW_TOP_N}
        )
        SELECT row_number() OVER (ORDER BY ct DESC, key ASC)::BIGINT AS rank,
               key, ct,
               CAST(round(ct * 1000000.0 / total_rows) AS BIGINT) AS share_ppm,
               n_keys
        FROM top CROSS JOIN stats
    """,
    "quality_profile_orders": """
        WITH w AS (
            SELECT
              SUM((o_orderkey IS NULL)::BIGINT) AS k_n, COUNT(DISTINCT o_orderkey) AS k_d,
              MIN(o_orderkey::VARCHAR) AS k_mn, MAX(o_orderkey::VARCHAR) AS k_mx,
              SUM((o_custkey IS NULL)::BIGINT) AS c_n, COUNT(DISTINCT o_custkey) AS c_d,
              MIN(o_custkey::VARCHAR) AS c_mn, MAX(o_custkey::VARCHAR) AS c_mx,
              SUM((o_orderstatus IS NULL)::BIGINT) AS s_n, COUNT(DISTINCT o_orderstatus) AS s_d,
              MIN(o_orderstatus) AS s_mn, MAX(o_orderstatus) AS s_mx,
              SUM((o_totalprice IS NULL)::BIGINT) AS p_n, COUNT(DISTINCT o_totalprice) AS p_d,
              MIN(o_totalprice::VARCHAR) AS p_mn, MAX(o_totalprice::VARCHAR) AS p_mx,
              SUM((o_orderdate IS NULL)::BIGINT) AS d_n, COUNT(DISTINCT o_orderdate) AS d_d,
              MIN(strftime(o_orderdate, '%Y-%m-%d %H:%M:%S')) AS d_mn,
              MAX(strftime(o_orderdate, '%Y-%m-%d %H:%M:%S')) AS d_mx,
              SUM((o_orderpriority IS NULL)::BIGINT) AS r_n, COUNT(DISTINCT o_orderpriority) AS r_d,
              MIN(o_orderpriority) AS r_mn, MAX(o_orderpriority) AS r_mx
            FROM orders
        )
        SELECT 'o_orderkey' AS column_name, k_n::BIGINT AS n_nulls, k_d::BIGINT AS n_distinct,
               k_mn AS min_value, k_mx AS max_value FROM w
        UNION ALL SELECT 'o_custkey', c_n::BIGINT, c_d::BIGINT, c_mn, c_mx FROM w
        UNION ALL SELECT 'o_orderstatus', s_n::BIGINT, s_d::BIGINT, s_mn, s_mx FROM w
        UNION ALL SELECT 'o_totalprice', p_n::BIGINT, p_d::BIGINT, p_mn, p_mx FROM w
        UNION ALL SELECT 'o_orderdate', d_n::BIGINT, d_d::BIGINT, d_mn, d_mx FROM w
        UNION ALL SELECT 'o_orderpriority', r_n::BIGINT, r_d::BIGINT, r_mn, r_mx FROM w
    """,
    "quality_checks": """
        SELECT 'orders_pk_unique' AS check_name,
               (COUNT(*) - COUNT(DISTINCT o_orderkey))::BIGINT AS violations,
               ((COUNT(*) - COUNT(DISTINCT o_orderkey)) = 0)::BIGINT AS passed
        FROM orders
        UNION ALL
        SELECT 'orders_fk_customer',
               COUNT(*) FILTER (WHERE c.c_custkey IS NULL)::BIGINT,
               (COUNT(*) FILTER (WHERE c.c_custkey IS NULL) = 0)::BIGINT
        FROM orders o LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c
          ON o.o_custkey = c.c_custkey
        UNION ALL
        SELECT 'lineitem_qty_range',
               SUM((l_quantity <= 0 OR l_quantity > 50)::BIGINT)::BIGINT,
               (SUM((l_quantity <= 0 OR l_quantity > 50)::BIGINT) = 0)::BIGINT
        FROM lineitem
        UNION ALL
        SELECT 'events_value_nonnegative',
               SUM((value < 0)::BIGINT)::BIGINT,
               (SUM((value < 0)::BIGINT) = 0)::BIGINT
        FROM events
        UNION ALL
        SELECT 'documents_nchars_consistent',
               SUM((n_chars <> length(text))::BIGINT)::BIGINT,
               (SUM((n_chars <> length(text))::BIGINT) = 0)::BIGINT
        FROM documents
    """,
}

BUILDERS = {
    "quality_profile_orders": quality_profile_orders,
    "quality_checks": quality_checks,
    "diag_key_skew": diag_key_skew,
    "quality_value_histogram": quality_value_histogram,
}
