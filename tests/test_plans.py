"""Physical-plan audits: the optimizations SURVEY §4 promises must be
visible in the plan, not just hoped for. Run at sf0.001 (plan shape,
not data volume)."""

from __future__ import annotations

import re

import pytest

from gmall_realtime_ck_spark import registry


def plan_of(tables, name: str) -> str:
    df = registry.BUILDERS[name](tables)
    # default 100-char metadata truncation cuts long PushedFilters lists
    df.sparkSession.conf.set("spark.sql.maxMetadataStringLength", "2000")
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown_reaches_scan(tables):
    p = plan_of(tables, "q1_pricing_summary")
    m = re.search(r"PushedFilters: \[([^\]]*)\]", p)
    assert m and "LessThanOrEqual(l_shipdate" in m.group(1)


def test_column_pruning(tables):
    p = plan_of(tables, "q1_pricing_summary")
    m = re.search(r"ReadSchema: struct<([^>]*)", p)
    assert m, p
    cols = m.group(1)
    # only the 5 referenced columns are read, not all 11
    assert "l_partkey" not in cols and "l_suppkey" not in cols
    assert "l_quantity" in cols


def test_broadcast_join_for_dims(tables):
    p = plan_of(tables, "q5_region_revenue")
    assert p.count("BroadcastHashJoin") >= 4
    assert "SortMergeJoin" not in p


def test_interval_join_is_hash_not_nested_loop(tables):
    p = plan_of(tables, "trade_interval_join")
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p
    # equi-key hash join with the time bounds as residual condition
    assert re.search(r"(BroadcastHashJoin|SortMergeJoin).*l_orderkey", p)


def test_lookup_join_broadcasts(tables):
    p = plan_of(tables, "trade_lookup_join_dim")
    assert p.count("BroadcastHashJoin") == 2


def test_partial_aggregation_is_mapside(tables):
    # HashAggregate appears twice per agg: partial (map-side) + final
    p = plan_of(tables, "agg_tumbling_typed")
    assert p.count("HashAggregate") >= 2


def test_lsh_join_not_allpairs(tables):
    """The minhash candidate join must be an equi-join on
    (band_id, band_key) — never a cartesian/all-pairs product."""
    p = plan_of(tables, "text_minhash_lsh_pairs")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_pii_redaction_is_map_only(tables):
    """PII scan/redact must be a pure map: no Exchange (shuffle) in the
    plan — it scales linearly with input splits at 100 TB."""
    p = plan_of(tables, "text_pii_redaction")
    assert "Exchange" not in p, p


def test_stratified_sample_is_map_only(tables):
    p = plan_of(tables, "stratified_sample")
    assert "Exchange" not in p, p


def test_tfidf_document_frequency_broadcasts(tables):
    """The vocabulary-sized df side must broadcast — the corpus-sized
    tf side must not shuffle for the join."""
    p = plan_of(tables, "corpus_tfidf_top_terms")
    assert "BroadcastHashJoin" in p


def test_sequence_packing_partitions_by_shard(tables):
    """The packing cumsum must be windowed per source shard — a global
    (SinglePartition) running sum would serialize the whole corpus
    through one reducer."""
    p = plan_of(tables, "sequence_pack_assign")
    assert "hashpartitioning(source" in p
    assert "SinglePartition" not in p


def test_refund_flow_dual_dic_broadcasts(tables):
    """The dic1/dic2 double lookup (DwdTradeOrderRefund.java:79-82) must
    plan as two broadcast hash joins of the tiny dim — the fact side
    shuffles only for the refund⋈order equi-join."""
    p = plan_of(tables, "dwd_trade_order_refund")
    assert p.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in p


def test_q6_all_predicates_pushed(tables):
    """q6 is the pushdown probe: every predicate (shipdate range,
    discount band, quantity cap) must reach the parquet scan, and the
    plan must contain no join and no wide exchange before the final
    single-row reduce."""
    p = plan_of(tables, "agg_forecast_revenue")
    m = re.search(r"PushedFilters: \[([^\]]*)\]", p)
    assert m, p
    pushed = m.group(1)
    for frag in ("l_shipdate", "l_discount", "l_quantity"):
        assert frag in pushed, f"{frag} not pushed: {pushed}"
    assert "Join" not in p


def test_semi_and_anti_join_shapes(tables):
    """EXISTS/NOT EXISTS must plan as LeftSemi/LeftAnti — one shuffle,
    no duplication, no post-join dedup."""
    assert "LeftSemi" in plan_of(tables, "join_semi_returned_orders")
    assert "LeftAnti" in plan_of(tables, "join_anti_silent_customers")


def test_top_returned_is_heap_not_sort(tables):
    """Top-20 must be TakeOrderedAndProject (bounded per-partition
    heaps), never a full global sort of the aggregate output."""
    p = plan_of(tables, "customers_top_returned")
    assert "TakeOrderedAndProject" in p
    assert "BroadcastHashJoin" in p  # nation broadcast


def test_q7_q8_star_joins_broadcast(tables):
    """The bilateral-volume and market-share stars must broadcast every
    dim side (supplier/customer/nation/region enrichments) — exactly
    one shuffled fact join (lineitem⋈orders on orderkey) each."""
    p7 = plan_of(tables, "join_nation_traffic")
    assert p7.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in p7
    p8 = plan_of(tables, "join_market_share")
    assert p8.count("BroadcastHashJoin") >= 1
    assert "LeftSemi" in p8


def test_gopher_rules_map_only(tables):
    """The rule bundle is pure column algebra: no shuffle may appear
    between the documents scan and the output."""
    p = plan_of(tables, "doc_gopher_rules")
    assert "Exchange" not in p
    assert "FlatMapGroupsInPandas" not in p  # no Python in the hot path


def test_semdedup_scoped_gemm(tables):
    """SemDeDup candidates come from the per-cluster block-pair gemm
    (FlatMapGroupsInPandas keyed by label,bi,bj) and the tiny candidate
    list is broadcast into the exact re-score — the corpus side must
    never be broadcast wholesale or cross-joined."""
    p = plan_of(tables, "embedding_semdedup")
    assert "FlatMapGroupsInPandas" in p
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


#: Queries whose BroadcastNestedLoopJoin is against a PROVABLY bounded
#: build side — a literal band dimension (4 rows) or a 1-row global
#: aggregate — where the nested loop IS the right plan. Anything
#: data-sized on the broadcast side still fails the blanket invariant.
BOUNDED_NLJ_OK = {
    "range_join_value_tiers",  # 4-row [lo, hi) tier literal
    "diag_key_skew",  # 1-row total/count stats
    "quality_profile_orders",  # 1-row plain-aggs × 1-row distinct-aggs
    "sample_temperature_mixture",  # two 1-row scalar broadcasts (total, Z)
    "source_minhash_jaccard",  # |sources|² pairwise over per-source sketches
    "corpus_pmi_bigrams",  # two 1-row scalar broadcasts (N tokens, M pairs)
    "embedding_pca_project",  # three 1-row rescale maxima broadcasts
    "privacy_t_closeness",  # class grid × m-row sensitive-domain broadcast
    "sample_dsir_weights",  # 1-row (n_t, n_r) totals broadcast
    "approx_overlap_kmv",  # |types|² pairing over per-type K-row sketches
    "approx_join_keys_kmv",  # |key columns|² pairing over K-row sketches
    "text_novelty_decay",  # 1-row doc-count broadcast for the NTILE closed form
    "win_ntile_deciles",  # 1-row customer-count broadcast for the NTILE closed form
    "text_ccnet_buckets",  # 1-row in-plan width-stats broadcast (r10)
    "sample_token_budget",  # 1-row in-plan width-stats broadcast (r12);
    #   the level-offsets join itself is keyed on stop_ratio_permille
    "events_decayed_engagement",  # 1-row max-day anchor broadcast (r12)
    "corpus_shuffle_order",  # 1-row in-plan width-stats broadcast (r13)
    "corpus_vocab_coverage",  # 1-row coverage sums × 1-row corpus totals (r13)
    "graph_hits",  # two 1-row L1-normalizer broadcasts (r13, ex-driver scalars)
    "behavior_basket_lift",  # 1-row basket-count broadcast (r13, ex-driver scalar)
    # events_anomaly_mad dropped r11: the keyed in-plan stats join on
    # event_type, so the plan no longer contains any nested loop
}


#: Queries whose rank-function window runs over a PROVABLY bounded
#: partition, so the missing WindowGroupLimit/TakeOrderedAndProject is
#: fine — the partition can never be data-sized. Anything NOT listed
#: here must show a rank bound in the plan for every rank window
#: (see test_no_unbounded_rank_window). Justifications:
RANK_WINDOW_BOUNDED_OK = {
    "approx_join_keys_kmv",  # rank over a K=1024-row KMV sketch per key column
    "approx_overlap_kmv",  # rank over a K=1024-row KMV sketch per type
    "approx_uv_kmv_rollup",  # rank over K-row sketch unions per rollup cell
    "privacy_t_closeness",  # rank over the |QI classes|·m sensitive grid
    "sample_contaminated_spans",  # row_number per doc_id over in-doc positions
    "ts_ewma_control",  # row_number per event_type over calendar days
}


def unbounded_rank_windows(plan: str) -> int:
    """Count rank-function windows in a physical plan that have NO
    visible rank bound. A `row_number`/`rank`/`dense_rank` window whose
    partition is data-sized sorts that whole partition through ONE
    reducer (rank functions run single-pass over the partition — the
    100 TB scale-killer class the r9 state-bounding sweep hunted, and
    the r10 full-vocab-Zipf retirement closed). A plan is safe when
    every rank window has a matching bound the optimizer actually
    planned: a `WindowGroupLimit` (partitioned rank + `filter(rk <= k)`
    prunes each partition to top-k BEFORE the sort-based rank) or a
    `TakeOrderedAndProject` (the global-rank equivalent: distributed
    top-k below the now-k-row window). Windows computing only
    aggregates (sum/avg over frames — the prefix-sum bucket scans) are
    not rank windows and are exempt; `ntile`/`percent_rank`/
    `cume_dist` have no pushdown at all and are banned outright by
    test_no_cartesian_anywhere.

    Bounds are matched STRUCTURALLY (r10 ADVICE #2): a rank window is
    credited only by a bound node in its OWN subtree — the operator
    that prunes that window's input — claimed innermost-first so a
    nested bounded window cannot have its WindowGroupLimit stolen by
    an enclosing one. Plan-global counting let any unrelated
    TakeOrderedAndProject (a global ORDER BY + LIMIT elsewhere in the
    plan) offset the count and mask a genuinely unbounded rank window
    — the same masking class the Partial/Final double-credit fix
    closed (a Partial+Final WindowGroupLimit PAIR counts once: only
    the Final/suffix-less node credits)."""
    # parse the tree: depth = length of the box-art prefix; a node's
    # subtree = the consecutive following lines at strictly greater
    # depth (Spark prints children below their parent, indented)
    nodes = []  # (depth, kind, rank_fn_count, line_idx)
    plan_lines = plan.splitlines()
    for i, line in enumerate(plan_lines):
        m = re.match(r"^([+\-:|\s]*)(?:\*\(\d+\)\s*)?(.*)$", line)
        art, body = m.group(1), m.group(2)
        if re.match(r"^Window ", body):
            nrk = len(re.findall(r"\b(?:row_number|rank|dense_rank)\(\)", body))
            if nrk:
                nodes.append([len(art), "window", nrk, i])
        elif "WindowGroupLimit" in body and "Partial" not in body:
            nodes.append([len(art), "bound", 0, i])
        elif "TakeOrderedAndProject" in body:
            nodes.append([len(art), "bound", 0, i])
    unbounded = 0
    claimed: set[int] = set()
    # reverse line order = descendants before ancestors
    for depth, kind, nrk, i in sorted(
        (n for n in nodes if n[1] == "window"), key=lambda n: -n[3]
    ):
        got = None
        for bd, bk, _, bi in nodes:
            if bk != "bound" or bi in claimed or bi <= i:
                continue
            # still inside the window's subtree? every line between
            # must stay deeper than the window node
            lines = plan_lines[i + 1 : bi + 1]
            if all(
                len(re.match(r"^([+\-:|\s]*)", ln).group(1)) > depth
                for ln in lines
                if ln.strip()
            ):
                got = bi
                break
        if got is not None:
            claimed.add(got)
        else:
            unbounded += nrk
    return unbounded


@pytest.mark.parametrize("name", sorted(registry.BUILDERS))
def test_no_unbounded_rank_window(tables, name):
    """Global invariant (VERDICT r9 #3): every declared batch query's
    rank windows must carry a plan-visible rank bound, or the query
    must be allowlisted in RANK_WINDOW_BOUNDED_OK with a
    bounded-partition justification — so the r9/r10 no-unbounded-rank
    win can't silently erode as operators are added."""
    if name in RANK_WINDOW_BOUNDED_OK:
        return
    p = plan_of(tables, name)
    assert unbounded_rank_windows(p) == 0, (
        f"{name} plans a rank window with no WindowGroupLimit/"
        f"TakeOrderedAndProject bound — either rewrite via topk_per_key/"
        f"prefix_sum_per_key or allowlist with a bounded-partition proof"
    )


def test_unbounded_rank_detector_fires(tables, spark):
    """The sweep must actually catch a regression: a deliberately
    unbounded global rank (no filter, rank projected) and a partitioned
    rank whose filter uses a non-literal bound (no pushdown possible)
    must both be flagged; the pushed-down top-k forms must not be."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    df = spark.range(100).select((F.col("id") % 7).alias("k"), F.col("id").alias("v"))

    def plan(d):
        return d._jdf.queryExecution().executedPlan().toString()

    bad_global = df.withColumn("rk", F.row_number().over(Window.orderBy("v")))
    assert unbounded_rank_windows(plan(bad_global)) == 1
    bad_col_bound = (
        df.withColumn("n", F.lit(3) + (F.col("v") % 2))
        .withColumn("rk", F.row_number().over(Window.partitionBy("k").orderBy("v")))
        .filter(F.col("rk") <= F.col("n"))
    )
    assert unbounded_rank_windows(plan(bad_col_bound)) == 1
    good_part = df.withColumn(
        "rk", F.row_number().over(Window.partitionBy("k").orderBy("v"))
    ).filter(F.col("rk") <= 3)
    assert unbounded_rank_windows(plan(good_part)) == 0
    good_global = df.withColumn(
        "rk", F.row_number().over(Window.orderBy("v"))
    ).filter(F.col("rk") <= 3)
    assert unbounded_rank_windows(plan(good_global)) == 0
    # the masking case (r10 review finding): ONE bounded partitioned
    # rank (whose Partial+Final WindowGroupLimit pair must count as a
    # single credit) plus ONE unbounded global rank in the same plan —
    # raw node counting read this as fully bounded
    masked = (
        df.withColumn(
            "rk", F.row_number().over(Window.partitionBy("k").orderBy("v"))
        )
        .filter(F.col("rk") <= 3)
        .withColumn("grk", F.row_number().over(Window.orderBy("v")))
    )
    assert unbounded_rank_windows(plan(masked)) == 1
    # the structural case (r10 ADVICE #2): an unbounded rank window
    # whose plan ALSO contains an unrelated global ORDER BY + LIMIT —
    # the TakeOrderedAndProject sits ABOVE the window (not in its
    # subtree), so plan-global counting credited it and masked the
    # unbounded window; subtree matching must still flag it
    masked_top = (
        df.withColumn("rk", F.row_number().over(Window.partitionBy("k").orderBy("v")))
        .orderBy("v")
        .limit(5)
    )
    p_top = plan(masked_top)
    assert "TakeOrderedAndProject" in p_top
    assert unbounded_rank_windows(p_top) == 1


#: Streaming twins whose post-poll plan carries a PROVABLY bounded
#: BroadcastNestedLoopJoin and/or rank window (same proofs as the
#: batch allowlists above):
STREAM_PLAN_BOUNDED_OK = {
    # flow_anomaly_mad dropped r11: keyed in-plan stats ⇒ no nested loop
    "flow_ccnet_gate": {"bnlj"},  # 1-row in-plan width-stats broadcast
    "flow_rfm_segments": {"bnlj"},  # 1-row in-plan boundary broadcast (r11)
    "flow_token_budget": {"bnlj"},  # 1-row in-plan width-stats broadcast (r12)
    "flow_decayed_engagement": {"bnlj"},  # 1-row max-day anchor + 1-row
    #   compaction max-day anchor broadcasts (r12; compaction r13)
    "flow_shuffle_order": {"bnlj"},  # 1-row in-plan width-stats broadcast (r13)
    "flow_overlap_kmv": {"bnlj", "rank"},  # |types|²-pairing over K=1024-row
    #   sketches; rank over the K-row sketch
    "flow_t_closeness": {"bnlj", "rank"},  # QI-class grid × m-row sensitive
    #   domain; rank over the bounded grid
}


@pytest.mark.parametrize("name", sorted(registry.STREAM_BUILDERS))
def test_streaming_post_poll_plan_shapes(spark, name):
    """The r9/r10 mechanical plan contracts, extended to the STREAMING
    surface (half the registry): each twin's post-poll batch plan —
    what re-executes on every poll over the memory table, for the
    stream's whole life — must plan no cartesian, no data-sized nested
    loop, no single-buffer percentile, no non-pushable ranking window,
    and no unbounded rank window. Bounded exceptions carry proofs in
    STREAM_PLAN_BOUNDED_OK. Building a twin executes its bounded
    pipeline at sf0.001 (~1-2 s each) — the price of sweeping what
    actually runs per poll rather than hoping the batch sweep's
    guarantees transfer."""
    from tests.conftest import SF_DIR

    df = registry.STREAM_BUILDERS[name](spark, SF_DIR)
    df.sparkSession.conf.set("spark.sql.maxMetadataStringLength", "2000")
    p = df._jdf.queryExecution().executedPlan().toString()
    ok = STREAM_PLAN_BOUNDED_OK.get(name, set())
    assert "CartesianProduct" not in p, f"{name} plans a cartesian product"
    if "bnlj" not in ok:
        assert "BroadcastNestedLoopJoin" not in p, f"{name} plans a nested loop"
    assert "percentile(" not in p, f"{name} plans the single-buffer percentile"
    for fn in ("ntile(", "percent_rank(", "cume_dist("):
        assert fn not in p, f"{name} plans a non-pushable ranking window ({fn})"
    if "rank" not in ok:
        assert unbounded_rank_windows(p) == 0, (
            f"{name}'s post-poll plan has an unbounded rank window"
        )


@pytest.mark.parametrize("name", sorted(registry.BUILDERS))
def test_no_cartesian_anywhere(tables, name):
    """Global invariant: no declared batch query may plan a cartesian
    product or an unkeyed nested-loop join against anything data-sized
    — the shapes that detonate at 100 TB. Nested loops against
    bounded (literal / 1-row-aggregate) build sides are allowlisted
    explicitly in BOUNDED_NLJ_OK. Since the r9 state-bounding sweep the
    same sweep also pins the single-reducer aggregate/window shapes
    out of every plan: the built-in `percentile` (one value→count map
    per group in ONE buffer — exact_percentiles_by_counts is the
    distributed form) and `ntile`/`percent_rank`/`cume_dist` windows
    (no WindowGroupLimit pushdown — ntile_expr / rank-from-counts
    closed forms over prefix_sum_per_key replace them)."""
    p = plan_of(tables, name)
    assert "CartesianProduct" not in p, f"{name} plans a cartesian product"
    if name not in BOUNDED_NLJ_OK:
        assert "BroadcastNestedLoopJoin" not in p, f"{name} plans a nested-loop join"
    assert "percentile(" not in p, f"{name} plans the single-buffer percentile"
    for fn in ("ntile(", "percent_rank(", "cume_dist("):
        assert fn not in p, f"{name} plans a non-pushable ranking window ({fn})"


def test_q2_argmin_aggregates_before_window(tables):
    """The per-part argmin must window over the (part,supp) aggregate
    (≤ |part|×|supplier| rows), with part and supplier sides broadcast
    — lineitem itself is never sorted."""
    p = plan_of(tables, "rel_q02_min_cost_supplier")
    assert p.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in p
    assert "Window" in p


def test_q17_fact_never_shuffles(tables):
    """The correlated-average filter joins lineitem to the broadcast
    per-part aggregate — the probe (fact) side must be broadcast-joined,
    not sort-merge-joined."""
    p = plan_of(tables, "rel_q17_small_qty_revenue")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_q19_disjunction_is_hash_join(tables):
    """The OR'd brackets must stay residual on a broadcast hash join —
    naive planning turns disjunctive joins into nested loops."""
    p = plan_of(tables, "rel_q19_disjunctive")
    assert "BroadcastHashJoin" in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p
    # the conjunctive size bound still reaches the part scan
    m = re.search(r"PushedFilters: \[([^\]]*)\].*p_size", p, re.S)
    assert m is None or "p_size" in p


def test_window_queries_single_shuffle(tables):
    """Running-GMV and order-gap windows: exactly one exchange (the
    custkey partition) feeds the sort+window — no second wide shuffle."""
    for name in ("win_running_gmv", "win_order_gaps"):
        p = plan_of(tables, name)
        assert p.count("Exchange hashpartitioning") == 1, p
        assert "Window" in p


def test_q11_single_fact_scan(tables):
    """The HAVING-over-global-total must aggregate the per-nation
    result (25 rows) for the total — lineitem appears exactly once in
    the plan (one scan), the total side re-aggregates the tiny frame."""
    p = plan_of(tables, "rel_q11_value_share")
    assert p.count("FileScan parquet") <= 3  # lineitem + supplier + nation
    assert "CartesianProduct" not in p  # the 1-row total is a broadcast NLJ-free cross


def test_span_dedup_argmin_not_window(tables):
    """The corpus-wide first-occurrence owner must come from a
    partial-aggregatable min(struct) — NOT a row_number window — so a
    span duplicated across the whole corpus collapses map-side instead
    of single-reducer sorting. Exactly two keyed shuffles (span, then
    doc_id)."""
    p = plan_of(tables, "text_span_dedup")
    assert "Window" not in p
    assert p.count("Exchange hashpartitioning") == 2, p
    assert "FlatMapGroupsInPandas" not in p and "BatchEvalPython" not in p


def test_mixture_resample_broadcasts_rates(tables):
    """The per-source rate table (|sources| rows) must broadcast onto
    the corpus — the keep decision itself is map-side."""
    p = plan_of(tables, "sample_mixture_resample")
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_media_features_map_only(tables):
    """The multimodal feature pipeline must be shuffle-free: metadata
    filter → Arrow mapInPandas, nothing else. The decode stage is the
    only Python in the plan."""
    p = plan_of(tables, "xmodal_media_features")
    assert "Exchange" not in p
    assert "MapInPandas" in p or "mapInPandas" in p.lower()


def test_q16_distinct_pairs_before_join(tables):
    """The (part,supp) distinct must partial-aggregate before the
    brand/type rollup — two HashAggregate pairs, part side broadcast."""
    p = plan_of(tables, "rel_q16_supplier_variety")
    assert "BroadcastHashJoin" in p
    assert p.count("HashAggregate") >= 4


def test_rolling_revenue_windows_over_aggregate(tables):
    """The RANGE frame must run over the per-(nation, day) aggregate —
    a Window above a HashAggregate — never over raw orders."""
    p = plan_of(tables, "win_rolling_revenue")
    assert "Window" in p and "HashAggregate" in p
    assert p.index("Window") < p.index("HashAggregate")  # window consumes the agg


def test_cube_expands_then_partial_aggregates(tables):
    """CUBE must plan as Expand + partial HashAggregate before the
    single shuffle — the grouping-set expansion never crosses the
    network unaggregated."""
    p = plan_of(tables, "win_sales_cube")
    assert "Expand" in p
    assert p.count("HashAggregate") >= 2
    assert p.count("Exchange hashpartitioning") == 1, p


def test_q4_semi_join_no_pair_blowup(tables):
    """The EXISTS must plan as a semi join (at most one output row per
    order) with the date-range filter pushed to the orders scan — never
    an inner join + distinct."""
    p = plan_of(tables, "ship_priority_semi")
    assert "LeftSemi" in p
    m = re.search(r"PushedFilters: \[([^\]]*GreaterThanOrEqual\(o_orderdate[^\]]*)\]", p)
    assert m, p


def test_q9_fact_never_shuffles_for_joins(tables):
    """Part/supplier/nation all broadcast into lineitem — the only
    exchange is the final (nation, year) aggregate."""
    p = plan_of(tables, "supplier_nation_profit")
    assert p.count("BroadcastHashJoin") >= 3
    assert "SortMergeJoin" not in p
    assert p.count("Exchange hashpartitioning") == 1, p


def test_q12_shipdate_range_pushed(tables):
    """The 1997 ship-year bracket must reach the lineitem scan; the
    lateness comparison against o_orderdate stays as a post-join
    filter (it references both sides)."""
    p = plan_of(tables, "ship_returnflag_priority")
    m = re.search(r"PushedFilters: \[([^\]]*)\]", p)
    assert m and "l_shipdate" in m.group(1), p


def test_q15_max_rejoins_as_broadcast(tables):
    """The global MAX must re-join the per-supplier aggregate as a
    1-row broadcast — no driver collect, no global sort."""
    p = plan_of(tables, "supplier_top_revenue")
    assert p.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in p
    assert "Sort " not in p


def test_q20_aggregates_before_semi_join(tables):
    """The (supplier, part) threshold aggregate runs before the semi
    join against supplier — qualifying pairs collapse to distinct
    suppkeys first, so the semi join probes a tiny build side."""
    p = plan_of(tables, "rel_q20_surplus_suppliers")
    assert "LeftSemi" in p
    assert "HashAggregate" in p
    assert "CartesianProduct" not in p


def test_q21_correlations_are_hash_joins(tables):
    """Both the EXISTS (semi) and NOT EXISTS (anti) correlate on the
    orderkey equi-key with the supplier inequality as a residual —
    hash joins, never nested loops; lines collapse to distinct
    (order, supplier) pairs before either correlation."""
    p = plan_of(tables, "rel_q21_waiting_suppliers")
    assert "LeftSemi" in p and "LeftAnti" in p
    assert "BroadcastNestedLoopJoin" not in p
    # the pair-collapse aggregate sits below the correlations
    assert p.count("HashAggregate") >= 4


def test_rfm_no_global_sort_no_ntile_window(tables):
    """RFM quartiles come from percentile boundaries inlined as driver
    literals (the scalar-subquery pattern) — never a global ntile
    window (a single-partition sort of all users) and no join at all;
    the only Exchange is the user_id-keyed aggregation."""
    p = plan_of(tables, "user_rfm_segments")
    assert "Window" not in p
    assert "Join" not in p
    assert "Exchange SinglePartition" not in p
    assert p.count("Exchange hashpartitioning") == 1, p


def test_funnel_joins_are_keyed_no_cartesian(tables):
    p = plan_of(tables, "funnel_conversion")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_anomaly_mad_medians_broadcast(tables):
    """Per-type median/MAD tables (|types| rows) broadcast into the
    events scan, and the medians come from the distributed histogram
    (exact_percentiles_by_counts) — the built-in percentile's
    single-buffer value→count map must be gone from the plan. The only
    sort-merge joins are the helper's internal histogram⋈offset joins,
    keyed on (type, bucket)."""
    p = plan_of(tables, "events_anomaly_mad")
    assert p.count("BroadcastHashJoin") >= 2
    assert "percentile(" not in p, "built-in percentile buffer is back"
    assert "CartesianProduct" not in p


def test_inverted_index_bounded_posting_state(tables):
    """Postings ride the two-level salted topk_per_key, and BOTH rank
    levels must show the WindowGroupLimit pushdown — that is what
    bounds the aggregation state map-side (the old single-agg form
    collect_list'ed a stopword's corpus-sized posting list into one
    buffer before slicing). df stays a plain keyed count."""
    p = plan_of(tables, "corpus_inverted_index")
    assert p.count("WindowGroupLimit") >= 2, p
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p


def test_top_paths_bounded_collect_state(tables):
    """The per-user-day path head rides the two-level salted
    topk_per_key BEFORE collect_list, so both rank levels must show the
    WindowGroupLimit pushdown — that is what bounds the path
    aggregation buffer to ≤ PATH_MAX_STEPS structs (the old form
    collect_list'ed a bot user-day's whole event set into one buffer
    before slicing)."""
    p = plan_of(tables, "behavior_top_paths")
    assert p.count("WindowGroupLimit") >= 2, p
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p


def test_novelty_decay_no_global_ntile(tables):
    """The decile must come from the bucketed prefix-sum rank + closed
    form, NOT an unpartitioned ntile window (ntile has no
    WindowGroupLimit pushdown, so the old form sorted every document
    row through one reducer). The only remaining single-partition
    exchange feeds the |buckets|-row offset pass and the 1-row count
    (whose crossJoin(broadcast(...)) legitimately plans as a
    BroadcastNestedLoopJoin of a 1-row side — the repo's tiny-aggregate
    pattern)."""
    p = plan_of(tables, "text_novelty_decay")
    assert "ntile" not in p, p
    assert "CartesianProduct" not in p


def test_ccnet_buckets_no_global_ntile(tables):
    """The CCNet tercile must come from the distributed prefix-sum rank
    + ntile_expr closed form, NOT a per-language ntile window (a
    handful of languages would drag the whole corpus through a handful
    of reducers; ntile has no WindowGroupLimit pushdown)."""
    p = plan_of(tables, "text_ccnet_buckets")
    assert "ntile" not in p, p
    assert "CartesianProduct" not in p


def test_kmeans_assignment_is_pure_map(tables):
    """Lloyd assignment with driver-literal centroids must plan as a
    pure map over the corpus — no join, no shuffle, no window (the
    centroid updates run as separate bounded jobs per round)."""
    p = plan_of(tables, "embedding_kmeans_assign")
    assert "Join" not in p
    assert "Exchange" not in p, p
    assert "Window" not in p


def test_neardup_scoped_gemm_and_broadcast(tables):
    """The cluster-scoped exact near-dup path: candidates from the
    per-cluster block-pair gemm (FlatMapGroupsInPandas keyed by
    label,bi,bj), tiny candidate list broadcast into the exact
    re-score; the corpus is never cross-joined or broadcast."""
    p = plan_of(tables, "embedding_neardup_scoped")
    assert "FlatMapGroupsInPandas" in p
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_cumulate_single_keyed_shuffle(tables):
    """CUMULATE = explode fan-out (pure map, ×4 rows) + ONE keyed
    aggregation shuffle with map-side partials — never a window
    function over raw events."""
    p = plan_of(tables, "win_cumulate_counts")
    assert "Window" not in p
    assert "Generate explode" in p
    assert p.count("Exchange hashpartitioning") == 1, p


def test_gap_fill_windows_over_aggregate_only(tables):
    """The calendar spine must be hash-joined (broadcast, no nested
    loop), and the running total must sort the dense AGGREGATE, never
    raw events: every Sort sits above a HashAggregate, and the only
    exchanges are the keyed aggregation shuffles."""
    p = plan_of(tables, "ts_gap_fill_daily")
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p
    assert "BroadcastHashJoin" in p
    assert "Window" in p  # running total over the dense aggregate


def test_zorder_topk_never_global_sorts(tables):
    """orderBy+limit must plan as TakeOrderedAndProject (per-partition
    heap + driver merge of 200-row heads), not a global Sort of the
    fact table."""
    p = plan_of(tables, "layout_zorder_orders")
    assert "TakeOrderedAndProject" in p
    assert "Exchange rangepartitioning" not in p, p


def test_perplexity_model_joins_are_keyed(tables):
    """The bigram-LM score join must be a keyed hash join on
    (lang, bigram) — the corpus is never broadcast (only the |langs|-row
    vocab table is), and no window function appears anywhere."""
    p = plan_of(tables, "doc_perplexity_bigram")
    assert "Window" not in p
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_psi_nothing_fact_sized_moves(tables):
    """After the first map-side-combined (source, bucket) count, the
    PSI pipeline operates on ≤ |sources|×PSI_BUCKETS rows: no window,
    no nested loop, the corpus distribution joins back as a broadcast."""
    p = plan_of(tables, "corpus_drift_psi")
    assert "Window" not in p
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "BroadcastHashJoin" in p


def test_pagerank_iterations_are_keyed_joins(tables):
    """Each PageRank iteration must be a keyed edge⋈rank hash join +
    keyed aggregation — no broadcast of the edge list, no nested loop,
    no window anywhere."""
    p = plan_of(tables, "graph_pagerank")
    assert "Window" not in p
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_heavy_tokens_recount_is_broadcast_bucketed(tables):
    """Phase-2 of corpus_heavy_tokens must mark candidates via a
    BROADCAST join (candidates are O(capacity·partitions) by
    construction) and collapse everything else into the sentinel bucket
    BEFORE the keyed count — so the exact recount shuffles at most
    |candidates|+1 keys with map-side partials, never the vocabulary.
    The global-total window runs over that bounded aggregate only."""
    p = plan_of(tables, "corpus_heavy_tokens")
    assert "BroadcastHashJoin" in p, p
    assert "partial_count" in p  # map-side combine absorbs the sentinel
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p


def test_classifier_inference_stays_jvm_side(tables):
    """doc_quality_classifier scoring is pure column algebra: one
    partial-aggregatable sum keyed on doc_id — no Python evaluation
    node, no window, no join at all (the weight table is a closed-form
    expression, not data)."""
    p = plan_of(tables, "doc_quality_classifier")
    assert "HashAggregate" in p
    for bad in ("BatchEvalPython", "ArrowEvalPython", "Window", "Join"):
        assert bad not in p, f"{bad} in plan"


def test_cdc_merge_is_argmax_not_window(tables):
    """table_cdc_snapshot_merge must collapse versions with a
    partial-aggregatable max_by (two-phase HashAggregate or a single
    ObjectHashAggregate with partial mode), never a row_number window
    sorting every version of a key on one reducer."""
    p = plan_of(tables, "table_cdc_snapshot_merge")
    assert "Window" not in p
    assert "partial_max_by" in p  # map-side combine of the argmax


def test_ohlc_is_argminmax_not_window(tables):
    """ts_ohlc_hourly open/close must come from min_by/max_by inside
    the single keyed aggregation — no window over raw events."""
    p = plan_of(tables, "ts_ohlc_hourly")
    assert "Window" not in p
    assert "partial_min_by" in p and "partial_max_by" in p


def test_attr_last_touch_no_self_join(tables):
    """Last-touch attribution must be the single per-user ordered
    window over the merged timeline — no events⋈events self-join, no
    nested loop; exactly one Window node feeding a keyed aggregate."""
    p = plan_of(tables, "attr_last_touch")
    assert "Join" not in p, p
    assert p.count("Window") == 1 or "RunningWindowFunction" in p
    assert "HashAggregate" in p


def test_salted_agg_two_stage(tables):
    """agg_salted_event_stats runs two keyed aggregation stages —
    (key, salt) then key — each with map-side partials, so a hot key
    spreads across reducers; and two Exchange hops, one per stage."""
    p = plan_of(tables, "agg_salted_event_stats")
    assert p.count("HashAggregate") >= 4  # partial+final per stage
    assert "Window" not in p


def test_quality_profile_two_passes(tables):
    """The per-column profile must be exactly TWO aggregation passes —
    a plain nulls/min/max pass and a countDistinct pass — joined as
    1-row results. Mixing them would Expand every row 7× and
    re-evaluate the rendered strings per replica (measured 4.6 s vs
    2.9 s split at sf0.1); per-column rescans (6+ scans) are equally
    wrong."""
    p = plan_of(tables, "quality_profile_orders")
    assert "Expand" in p  # the distinct pass itself
    assert p.count("Scan parquet") == 2, p
    # only the trivial 1-row × 1-row combine join
    assert p.count("Join") <= 1, p


def test_quality_checks_fk_is_broadcast_anti(tables):
    """The referential check must probe a broadcast distinct-key build
    side with a LeftAnti hash join — never a shuffle of orders against
    customer, never a nested loop."""
    p = plan_of(tables, "quality_checks")
    assert re.search(r"BroadcastHashJoin.*LeftAnti", p), p
    assert "SortMergeJoin" not in p
    assert "CartesianProduct" not in p


def test_linreg_runs_on_daily_aggregate(tables):
    """regr_slope/intercept must consume the daily aggregate: two
    HashAggregate stages over events (daily count, then the keyed
    regression sums) and no window anywhere."""
    p = plan_of(tables, "ts_linreg_forecast")
    assert "Window" not in p
    assert p.count("HashAggregate") >= 4  # partial+final × two stages


def test_range_join_tiers_is_broadcast_nlj(tables):
    """The [lo, hi) tier lookup must resolve map-side: a
    BroadcastNestedLoopJoin against the 4-row tier table — no
    cartesian shuffle, no sort-merge, and the only exchange is the
    final (type, tier) aggregate."""
    p = plan_of(tables, "range_join_value_tiers")
    assert "BroadcastNestedLoopJoin" in p, p
    assert "CartesianProduct" not in p
    assert "SortMergeJoin" not in p
    assert p.count("Exchange hashpartitioning") == 1, p


def test_pq_encoding_is_pure_map(tables):
    """PQ code assignment must be a pure map over embeddings: the
    codebook is inlined as literals, so the encoding stage has no
    join and no window; the only aggregates are the bounded
    codebook-derivation pass keyed (label, pos)."""
    p = plan_of(tables, "embedding_pq_codes")
    assert "Join" not in p, p
    assert "Window" not in p, p


def test_weighted_priority_is_take_ordered(tables):
    """The global bottom-K must plan as TakeOrderedAndProject
    (per-partition heaps), never a global Sort over documents."""
    p = plan_of(tables, "sample_weighted_priority")
    assert "TakeOrderedAndProject" in p, p
    assert "Exchange rangepartitioning" not in p, p


def test_bpe_pairs_generated_from_vocab(tables):
    """The char-pair explode must fan out of the DISTINCT word
    vocabulary, not the raw token stream: plan order is
    aggregate(word) before Generate(pair), and the final top-K window
    runs over the ≤36² pair aggregate."""
    p = plan_of(tables, "corpus_bpe_pair_counts")
    gen = p.index("Generate explode")
    # the vocabulary aggregate appears BELOW (after, in plan text) the
    # pair Generate: child operators print later in the tree dump
    vocab_agg = p.rindex("HashAggregate")
    assert gen < vocab_agg, p


def test_unpivot_is_generate_over_daily_aggregate(tables):
    """stack() must plan as a Generate over the daily aggregate —
    exactly the aggregate's shuffles (Expand path for countDistinct),
    with no join and no extra exchange introduced by the melt."""
    p = plan_of(tables, "events_unpivot_metrics")
    assert "Generate" in p, p
    assert "Join" not in p


def test_temporal_join_is_keyed_hash_join(tables):
    """The versioned-dim lookup must be an equi hash join on the order
    key with the validity range as residual — never a nested-loop or
    cartesian against the history."""
    p = plan_of(tables, "join_temporal_dim_version")
    assert "BroadcastNestedLoopJoin" not in p, p
    assert "CartesianProduct" not in p
    assert ("BroadcastHashJoin" in p) or ("SortMergeJoin" in p) or ("ShuffledHashJoin" in p), p


def test_grouping_sets_is_one_pass(tables):
    """Explicit GROUPING SETS must plan as ONE Expand feeding one
    keyed aggregate — a single scan, not one scan+aggregate per
    subtotal combination unioned together."""
    p = plan_of(tables, "grouping_sets_traffic")
    assert "Expand" in p, p
    assert p.count("Scan parquet") == 1, p
    assert "Union" not in p, p


def test_ewma_windows_over_daily_aggregate(tables):
    """The EWMA chart must window over the (type, day) AGGREGATE:
    aggregate first (one keyed shuffle of events), then the row_number
    and trailing-frame sums — never a window over raw events."""
    p = plan_of(tables, "ts_ewma_control")
    agg = p.index("HashAggregate")
    win = p.index("Window")
    # child operators print later in the tree dump: the Window node
    # must appear ABOVE (before) the aggregate
    assert win < agg, p


def test_scd2_single_keyed_window(tables):
    """The SCD2 build is one keyed lead() window over the envelope
    union — exactly one Window node, no join."""
    p = plan_of(tables, "table_scd2_history")
    assert p.count("Window") == 1, p
    assert "Join" not in p, p


def test_simhash_pairs_banded_join(tables):
    """SimHash candidates must come from the (band, key) equi self-join
    — a hash join, never a cartesian/nested-loop over fingerprints."""
    p = plan_of(tables, "simhash_pair_search")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert ("SortMergeJoin" in p) or ("BroadcastHashJoin" in p) or ("ShuffledHashJoin" in p), p


def test_novelty_is_linear_no_window(tables):
    """Novelty scoring must be two keyed aggregates + one shingle-keyed
    join — linear in shingle rows, with no window and no pairwise
    join anywhere."""
    p = plan_of(tables, "text_ngram_novelty")
    assert "Window" not in p, p
    assert "CartesianProduct" not in p


def test_star_denormalize_broadcasts_all_dims(tables):
    """The one-big-table export must broadcast every dimension chain —
    ≥5 broadcast hash joins; the only sort-merge candidate is the
    lineitem ⋈ orders fact join."""
    p = plan_of(tables, "join_star_denormalize")
    assert p.count("BroadcastHashJoin") >= 5, p
    assert "CartesianProduct" not in p


def test_label_outliers_scoring_is_map_plus_broadcast(tables):
    """Outlier scoring must be a pure map (inline centroid literals)
    with only the bounded p99 frame broadcast back; the p99 itself
    comes from the distributed histogram (exact_percentiles_by_counts
    — its only windows are the ~4096-row prefix-sum buckets), never the
    built-in percentile's single-buffer aggregate."""
    p = plan_of(tables, "embedding_label_outliers")
    assert "percentile(" not in p, "built-in percentile buffer is back"
    assert "SortMergeJoin" not in p, p
    assert "BroadcastHashJoin" in p, p
    assert "CartesianProduct" not in p


def test_heatmap_is_single_aggregate(tables):
    """The weekday×hour heatmap is one keyed aggregate (plus the
    countDistinct Expand) — no join, no window."""
    p = plan_of(tables, "traffic_hour_heatmap")
    assert "Join" not in p, p
    assert "Window" not in p, p


def test_sql_text_path_plans_like_dataframe(tables):
    """The spark.sql phrasing must produce the ordinary aggregate plan
    — SQL text changes nothing physically."""
    p = plan_of(tables, "sql_weekly_trade_report")
    assert "Join" not in p and "Window" not in p, p
    assert "HashAggregate" in p, p


def test_two_sided_exact_is_keyed_join(tables, monkeypatch):
    """topk_two_sided_exact must co-locate corpus chunks with their
    replicated queries through KEYED machinery (the chunk-cogrouped
    Arrow propose pass since r13, with the candidate rescore as keyed
    joins), never a cartesian or broadcast-nested-loop — the whole
    point of the chunk-id is to turn exact Q×C scoring into co-located
    per-chunk work whose wall-clock divides across executors.

    The candidate set is a single plan reference with no pin (the
    guard's boundary max rides the ranking window). localCheckpoint is
    still neutralized here, so a pin reintroduced later cannot hide the
    propose subtree from this audit of the FULL pipeline shape."""
    # Spark 4: pyspark.sql.DataFrame is the ABC; the session builds
    # pyspark.sql.classic.dataframe.DataFrame instances — patch there.
    from pyspark.sql.classic.dataframe import DataFrame

    monkeypatch.setattr(
        DataFrame, "localCheckpoint", lambda self, eager=True: self
    )
    p = plan_of(tables, "topk_two_sided_exact")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    # the propose pass is chunk-cogrouped Arrow (keyed, not pairwise)
    assert "FlatMapCoGroupsInPandas" in p or "FlatMapCoGroupsInArrow" in p, p
    # the fold rescore attaches candidates through keyed joins
    assert ("SortMergeJoin" in p) or ("ShuffledHashJoin" in p) or ("BroadcastHashJoin" in p)


def test_sq8_encode_is_pure_map(tables):
    """After the bounded stats collect, the SQ8 encode plan must be
    Generate + projection only — no join, no shuffle: encoding scales
    with input splits alone at 100 TB."""
    from gmall_realtime_ck_spark.operators.similarity import sq8_encode, sq8_fit

    df = sq8_encode(tables["embeddings"], sq8_fit(tables["embeddings"]))
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in p, p
    assert "Join" not in p, p


def test_langid_scoring_is_map_only(tables):
    """The corpus-side trigram stream must never shuffle for scoring:
    since r14 the |langs|×K profile (bounded by construction) collects
    once and scoring is ONE map-only Arrow pass — the apply plan must
    contain no join and no exchange at all (the old contract was a
    broadcast join; this is strictly stronger)."""
    p = plan_of(tables, "text_langid_ngram")
    assert "MapInPandas" in p, p
    assert "Join" not in p, p
    assert "Exchange" not in p, p


def test_quantile_rollup_aggregates_before_window(tables):
    """ts_quantile_rollup must run its windows over the |days|×|bins|
    aggregate, never over raw events: the plan has hash aggregates
    below the window, and no more than the sketch/merge/rank keyed
    exchanges."""
    p = plan_of(tables, "ts_quantile_rollup")
    assert "Window" in p and "HashAggregate" in p
    # daily sketch + weekly merge + rank window partitioning: the raw
    # event scan feeds exactly one exchange before aggregation
    assert p.count("Exchange hashpartitioning") <= 3, p


def test_centroid_drift_is_dim_keyed(tables):
    """embedding_centroid_drift shuffles only (half, label, pos)-keyed
    aggregates — cardinality labels×dims, independent of corpus size —
    and joins only |labels|-sized sides."""
    p = plan_of(tables, "embedding_centroid_drift")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_keep_best_dedup_is_agg_join_not_window(tables):
    """text_dedup_keep_best selects the per-hash representative via a
    partial-aggregable min(struct) + keyed join back — NOT a window
    over the hash group — so a pathological group of millions of
    identical docs combines map-side instead of funnelling one task."""
    p = plan_of(tables, "text_dedup_keep_best")
    assert "Window" not in p, p
    assert "HashAggregate" in p or "SortAggregate" in p, p
    assert "CartesianProduct" not in p


def test_frame_sample_is_map_only(tables):
    """xmodal_frame_sample prunes on metadata, then fans frames out
    inside the Arrow batch: MapInPandas with no shuffle anywhere —
    frame extraction scales with input splits alone."""
    p = plan_of(tables, "xmodal_frame_sample")
    assert "MapInPandas" in p, p
    assert "Exchange" not in p, p
    assert "Join" not in p, p


def test_pq_adc_corpus_never_shuffles_before_topk(tables):
    """ann_pq_adc_topk: after the bounded codebook/LUT collects, the
    corpus side is a pure map (inline code argmin -> LUT top-k in
    MapInPandas); the only exchange is the final per-query rank window
    over partitions x |Q| x k candidate rows."""
    p = plan_of(tables, "ann_pq_adc_topk")
    assert "MapInPandas" in p, p
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert p.count("Exchange hashpartitioning") <= 1, p


def test_bloom_prescreen_map_side(tables):
    """sample_bloom_contamination: after the bounded word-table
    collect, the Bloom membership test is a literal-array lookup
    inlined into the scan — the only joins in the plan are the
    broadcast exact-hit comparison leg; no cartesian, no NLJ."""
    p = plan_of(tables, "sample_bloom_contamination")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "BroadcastHashJoin" in p, p


def test_media_stats_prunes_payload(tables):
    """xmodal_media_stats must never materialize the payload: the
    encode() projection that builds the binary column is pruned from
    the executed plan entirely (the parquet-table analogue is the
    binary column dropping out of ReadSchema)."""
    p = plan_of(tables, "xmodal_media_stats")
    assert "encode(" not in p, p
    assert "Exchange hashpartitioning" in p  # one keyed agg


def test_ivf_pq_probe_join_is_keyed(tables):
    """ann_ivf_pq_topk: the probe list joins the corpus codes as a
    KEYED broadcast hash join on the cell id — never a cartesian or
    NLJ — and scoring stays in MapInPandas with one final rank
    exchange."""
    p = plan_of(tables, "ann_ivf_pq_topk")
    assert "BroadcastHashJoin" in p, p
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "MapInPandas" in p, p


def test_hamming_and_matryoshka_corpus_single_pass(tables):
    """Both binary-Hamming retrieval and the Matryoshka evaluation
    scan the corpus once into MapInPandas with no cartesian/NLJ; the
    only hash exchange is the final rank/rollup."""
    for name in ("embedding_hamming_topk", "embedding_matryoshka_eval"):
        p = plan_of(tables, name)
        assert "MapInPandas" in p, (name, p)
        assert "CartesianProduct" not in p, name
        assert "BroadcastNestedLoopJoin" not in p, name


def test_big_k_rank_keeps_window_group_limit(spark):
    """r13: InferWindowGroupLimit silently skips rank filters with
    k >= spark.sql.optimizer.windowGroupLimitThreshold (default 1000),
    which would let corpus_vocab_coverage's 50k head slice — and any
    future big-k topk_per_key — sort whole partitions unpruned while
    the rank sweep still saw a bound-shaped filter. RUNTIME_CONFS
    raises the threshold to 100k; pin that a configured session
    actually plants the prune on topk_per_key's SALTED (partitioned)
    window at k = 50000, so a Spark bump or conf rename fails loudly
    here instead of as a silent plan regression. (The rule never fires
    on an UN-partitioned window at any threshold — the reason
    topk_per_key's final global re-rank over the ≤ 16·k salted
    survivors is bounded by construction rather than by a plan node.)
    """
    from pyspark.sql import functions as F

    from gmall_realtime_ck_spark.operators.relational import topk_per_key
    from gmall_realtime_ck_spark.session import configure_runtime

    configure_runtime(spark)
    df = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select(F.explode(F.split("text", " ")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("ct"))
    )
    top = topk_per_key(df, [], [F.desc("ct"), F.asc("token")], 50000, "token")
    p = top._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in p, p[:2000]
