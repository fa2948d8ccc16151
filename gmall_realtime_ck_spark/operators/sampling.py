"""Dataset split / sampling / corpus-statistics operators.

Training-data pipeline staples: deterministic hash-based train/val/test
splits (reproducible across engines and runs — no RNG), benchmark
contamination checks, repetition/vocabulary statistics. All pure column
algebra with md5-based bucketing so every one is DuckDB-oracled.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .text import (
    H28_DUCK,
    H28_SPARK,
    H60_DUCK,
    H60_SPARK,
    TOKENS_DUCK,
    TOKENS_SPARK,
    shingles_from_tokens,
)
from .dedup import shingles_duck

SPLIT_BUCKETS = 100
TEST_PCT = 10
VAL_PCT = 10
WINNOW_W = 4  # winnowing window (shingle positions)


def corpus_train_test_split(t: dict[str, DataFrame]) -> DataFrame:
    """Deterministic split by content hash: bucket = md5(text) mod 100
    → test (<10), val (<20), train. Hash-based (not random) so the
    assignment is stable under reshuffles, replays, and engine swaps —
    and near-duplicate handling composes (dedup first, then split).
    """
    docs = t["documents"]
    bucket = F.expr(H28_SPARK.format(c="text")) % SPLIT_BUCKETS
    split = (
        F.when(bucket < TEST_PCT, "test")
        .when(bucket < TEST_PCT + VAL_PCT, "val")
        .otherwise("train")
    )
    return docs.select("doc_id", bucket.cast("bigint").alias("bucket"), split.alias("split"))


def corpus_leakage_safe_split(t: dict[str, DataFrame]) -> DataFrame:
    """Leakage-safe train/val/test split: the deterministic md5-bucket
    split applied at the NEAR-DUP CLUSTER level — the bucket is keyed
    on the cluster's canonical min doc_id, so every document of a
    transitive near-dup cluster lands on the same side and a test/val
    document can never have a train-side near-duplicate. The
    split-time answer to eval leakage (Dodge et al. 2021 documented it
    across benchmarks; GPT-3's appendix runs post-hoc decontamination
    instead) — here it is structurally impossible rather than filtered
    after the fact. Singleton docs get their own bucket, so overall
    proportions still track TEST_PCT/VAL_PCT.

    Scale: the cost IS neardup_clusters (banded LSH candidates +
    fixpoint min-label CC — SCALE.md measures exponent ~0.54); the
    split adds one map-side hash over the label table, no new shuffle.
    """
    from .dedup import neardup_clusters

    labels = neardup_clusters(t)
    bucket = F.expr(H28_SPARK.format(c="cast(cluster_id as string)")) % SPLIT_BUCKETS
    split = (
        F.when(bucket < TEST_PCT, "test")
        .when(bucket < TEST_PCT + VAL_PCT, "val")
        .otherwise("train")
    )
    return labels.select(
        "doc_id",
        "cluster_id",
        bucket.cast("bigint").alias("bucket"),
        split.alias("split"),
    )


def doc_winnowing(t: dict[str, DataFrame]) -> DataFrame:
    """Winnowing (MOSS) document fingerprints: the min shingle-hash in
    each sliding window of WINNOW_W consecutive shingles, deduplicated
    — guarantees any match of length ≥ w+k-1 tokens shares a
    fingerprint, with O(n/w) selected hashes. Rolling min via a
    bounded window function on both engines.
    """
    docs = t["documents"]
    tokenized = docs.select("doc_id", F.expr(TOKENS_SPARK.format(c="text")).alias("tk"))
    sh = tokenized.select(
        "doc_id", F.posexplode(F.expr(shingles_from_tokens("tk", 3))).alias("pos", "s")
    ).withColumn("h", F.expr(H28_SPARK.format(c="s")))
    w = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(0, WINNOW_W - 1)
    )
    # windows shorter than W at the tail are excluded (count guard)
    winmin = sh.select(
        "doc_id",
        "pos",
        F.min("h").over(w).alias("fp"),
        F.count("h").over(w).alias("wlen"),
    ).filter(F.col("wlen") == WINNOW_W)
    return (
        winmin.select("doc_id", "fp")
        .distinct()
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_fingerprints"),
            (F.sum(F.col("fp") % 1000000007) % 1000000007).alias("fp_checksum"),
        )
    )


def benchmark_contamination(t: dict[str, DataFrame]) -> DataFrame:
    """Eval-set contamination check: fraction (permille) of each
    document's 3-gram shingles that appear in the 'benchmark' set
    (here: docs with doc_id < 10 stand in for an eval benchmark).
    The benchmark shingle set broadcasts; the corpus side streams —
    the decontamination shape used before training runs.
    """
    docs = t["documents"]
    tokenized = docs.select("doc_id", F.expr(TOKENS_SPARK.format(c="text")).alias("tk"))
    sh = tokenized.select(
        "doc_id", F.explode(F.array_distinct(F.expr(shingles_from_tokens("tk", 3)))).alias("s")
    )
    bench = F.broadcast(
        sh.filter(F.col("doc_id") < 10).select("s").distinct().withColumn("hit", F.lit(1))
    )
    scored = (
        sh.filter(F.col("doc_id") >= 10)
        .join(bench, "s", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(F.coalesce("hit", F.lit(0))).alias("bench_hits"),
        )
    )
    return scored.select(
        "doc_id",
        "n_shingles",
        F.col("bench_hits").cast("bigint").alias("bench_hits"),
        F.expr("(bench_hits * 1000) DIV n_shingles").alias("contamination_permille"),
    )


#: Bloom geometry: 520 words × 63 usable bits ≈ 32.8 kbit (the sign
#: bit stays clear so every mask and word is a non-negative int64 on
#: BOTH engines — DuckDB and Spark shift semantics only provably
#: agree on non-negatives), two probes per key. Sized so the fixed
#: 10-doc benchmark's ~3k shingles load the filter to ~0.17 set-bit
#: density → ~3% false-positive rate; production sizes m to the
#: benchmark set the same way (bits ≈ 10× keys for k=2).
BLOOM_WORDS = 520
BLOOM_BITS_PER_WORD = 63
BLOOM_M = BLOOM_WORDS * BLOOM_BITS_PER_WORD
#: Knuth multiplicative constant spreads the second probe
BLOOM_PROBE2_MULT = 2654435761


def doc_distinct_shingles(docs: DataFrame) -> DataFrame:
    """(doc_id, 3-gram shingle) distinct rows — the shared front of
    the contamination screens; works on a batch table or a stream."""
    tokenized = docs.select("doc_id", F.expr(TOKENS_SPARK.format(c="text")).alias("tk"))
    return tokenized.select(
        "doc_id",
        F.explode(F.array_distinct(F.expr(shingles_from_tokens("tk", 3)))).alias("s"),
    )


def bloom_words_literal(bench: DataFrame) -> str:
    """Fold a shingle set into the fixed Bloom filter and return it as
    a Spark SQL literal-array fragment: probes → (word, mask) →
    bit_or per word (≤ BLOOM_WORDS rows collected — bounded by the
    filter geometry, never by data size)."""
    h = F.expr(H28_SPARK.format(c="s"))
    probes = bench.select(
        F.explode(F.array(h % BLOOM_M, (h * BLOOM_PROBE2_MULT) % BLOOM_M)).alias("pos")
    )
    words = (
        probes.select(
            (F.col("pos") / BLOOM_BITS_PER_WORD).cast("long").alias("word"),
            F.expr(f"shiftleft(1L, cast(pos % {BLOOM_BITS_PER_WORD} as int))").alias("mask"),
        )
        .groupBy("word")
        .agg(F.expr("bit_or(mask)").alias("w"))
    )
    filled = [0] * BLOOM_WORDS
    for row in words.collect():
        filled[int(row["word"])] = int(row["w"])
    return "array(" + ",".join(f"{v}L" for v in filled) + ")"


def bloom_score(sh: DataFrame, bench: DataFrame, arr: str) -> DataFrame:
    """Score (doc_id, s) shingle rows against an inlined Bloom filter
    AND the exact benchmark set, rolling both up per document — the
    shared back half of the batch screen and its stream-static twin."""
    h = F.expr(H28_SPARK.format(c="s"))
    corpus = (
        sh.withColumn("b1", h % BLOOM_M)
        .withColumn("b2", (h * BLOOM_PROBE2_MULT) % BLOOM_M)
        .withColumn(
            "bloom_hit",
            F.expr(
                f"cast(((shiftright(element_at({arr}, cast(b1 div {BLOOM_BITS_PER_WORD} as int) + 1), "
                f"cast(b1 % {BLOOM_BITS_PER_WORD} as int)) & 1) = 1) AND "
                f"((shiftright(element_at({arr}, cast(b2 div {BLOOM_BITS_PER_WORD} as int) + 1), "
                f"cast(b2 % {BLOOM_BITS_PER_WORD} as int)) & 1) = 1) as bigint)"
            ),
        )
        .join(F.broadcast(bench.withColumn("_hit", F.lit(1))), "s", "left")
    )
    return (
        corpus.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum("bloom_hit").alias("bloom_hits"),
            F.sum(F.coalesce("_hit", F.lit(0))).cast("bigint").alias("exact_hits"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "bloom_hits",
            "exact_hits",
            (F.col("bloom_hits") - F.col("exact_hits")).alias("false_pos"),
        )
    )


def bloom_contamination(t: dict[str, DataFrame]) -> DataFrame:
    """Bloom-filter contamination PRE-SCREEN: the benchmark shingle
    set folds into a fixed 32.8-kbit Bloom filter (two md5-derived
    probes per shingle), and every corpus shingle tests membership
    against it — emitting per-document bloom hits NEXT TO the exact
    hits so the false-positive overhead of the screen is measurable
    row by row (bloom_hits ≥ exact_hits always; the gap is the FP
    cost a deployment pays for skipping the exact join).

    Why it matters at 100 TB: the exact check joins every corpus
    shingle against the benchmark set; the Bloom filter is ~4 KB of
    int64 words INLINED INTO THE SCAN as a literal array, so the
    pre-screen is a pure map — zero joins, zero shuffles — and only
    the shingles that hit the filter need the exact join. Everything
    is integer arithmetic on md5 prefixes: deterministic,
    engine-portable, RNG-free.
    """
    sh = doc_distinct_shingles(t["documents"])
    bench = sh.filter(F.col("doc_id") < 10).select("s").distinct()
    return bloom_score(
        sh.filter(F.col("doc_id") >= 10), bench, bloom_words_literal(bench)
    )


#: DSIR hashed-feature dimensionality (production uses ~10k; sized to
#: the test corpus so buckets stay meaningfully occupied)
DSIR_DIM = 1024


def dsir_weights(t: dict[str, DataFrame]) -> DataFrame:
    """DSIR-style importance weights (Xie et al. 2023, Data Selection
    with Importance Resampling): estimate target and raw distributions
    over HASHED BIGRAM features (the trick that makes n-gram LM ratios
    tractable at corpus scale), score every raw document by its summed
    log importance ratio Σ_f [ln p̂_target(f) − ln p̂_raw(f)]
    (Laplace-smoothed), and flag positive-ratio docs as selected —
    the data-selection pass that upweights benchmark-like text before
    pretraining. Benchmark docs (doc_id < 10) play the target set.

    Scale: feature counts are keyed aggregates bounded by DSIR_DIM;
    the per-feature log-ratio table (≤ DSIR_DIM rows) broadcasts into
    the doc-feature stream — one keyed shuffle for the counts, one for
    the per-doc rollup, nothing fact-sized ever collected.
    """
    docs = t["documents"]
    # r13: materialize the hashed-feature stream once — the ratio fit
    # and the scoring pass both consume it, and Catalyst's per-reference
    # plan copies re-ran the tokenize + bigram + md5 explode per leg.
    # (doc_id, f) pairs are linear in the corpus token count — the same
    # feature materialization the DSIR recipe itself performs between
    # its fit and score stages.
    feat = dsir_features(docs).localCheckpoint()
    return dsir_score(feat.filter(F.col("doc_id") >= 10), dsir_ratio_table(feat))


def dsir_features(docs: DataFrame) -> DataFrame:
    """(doc_id, hashed-bigram-bucket) rows — works on a batch table or
    a stream; the shared front of the DSIR weigher and its gate."""
    tk0 = docs.select("doc_id", F.expr(TOKENS_SPARK.format(c="text")).alias("tk"))
    bg = tk0.select(
        "doc_id", F.explode(F.expr(shingles_from_tokens("tk", 2))).alias("bigram")
    )
    return bg.select(
        "doc_id", (F.expr(H28_SPARK.format(c="bigram")) % DSIR_DIM).alias("f")
    )


def dsir_ratio_table(feat: DataFrame) -> DataFrame:
    """The ≤ DSIR_DIM-row per-feature log importance ratio table
    (target = doc_id < 10, raw = the rest), Laplace-smoothed."""
    # r13: ONE conditional aggregate instead of two filtered counts +
    # full-outer join — same row set (features occurring anywhere) and
    # identical integer counts, at half the feature-stream scans and no
    # join. The ≤ DSIR_DIM-row result is pinned eagerly: `totals` and
    # the final select both reference it, and Catalyst would otherwise
    # inline the whole feature-extraction subtree per reference (for
    # the stream-static gate that re-ran the static tokenize+hash per
    # poll).
    joined = (
        feat.groupBy("f")
        .agg(
            F.sum((F.col("doc_id") < 10).cast("bigint")).alias("t_ct"),
            F.sum((F.col("doc_id") >= 10).cast("bigint")).alias("r_ct"),
        )
        .localCheckpoint()
    )
    totals = joined.agg(F.sum("t_ct").alias("n_t"), F.sum("r_ct").alias("n_r"))
    return joined.crossJoin(F.broadcast(totals)).select(
        "f",
        F.expr(
            f"ln(cast(t_ct + 1 as double) / cast(n_t + {DSIR_DIM} as double))"
            f" - ln(cast(r_ct + 1 as double) / cast(n_r + {DSIR_DIM} as double))"
        ).alias("lr"),
    )


def dsir_score(feat: DataFrame, ratios: DataFrame) -> DataFrame:
    """Per-doc summed log-ratio rollup against the broadcast ratio
    table — the shared back half of the batch weigher and the gate."""
    return (
        feat.join(F.broadcast(ratios), "f")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_feats"),
            F.round(F.sum("lr"), 6).alias("log_weight"),
        )
        .select(
            "doc_id",
            "n_feats",
            "log_weight",
            (F.col("log_weight") > 0).cast("bigint").alias("selected"),
        )
    )


def contaminated_spans(t: dict[str, DataFrame]) -> DataFrame:
    """Longest contaminated RUN — the span-level decontamination
    diagnostic (GPT-3 appendix C / PaLM treat a long contiguous
    benchmark overlap as an eval leak even when the doc's overall
    overlap fraction is low; :func:`benchmark_contamination` measures
    only the fraction). Positional 3-gram shingles (posexplode, NOT
    distinct — runs are positional), benchmark membership via a
    broadcast join on the shingle, then gaps-and-islands
    (pos − row_number over hit positions) to find each doc's longest
    consecutive hit run.

    Scale: the benchmark shingle set broadcasts (eval suites are tiny
    by construction); the corpus side is one keyed window per doc over
    HIT positions only — state is O(contaminated positions), never
    O(corpus shingles); everything else is map + keyed agg.
    """
    docs = t["documents"]
    tk = docs.select("doc_id", F.expr(TOKENS_SPARK.format(c="text")).alias("tk"))
    sh = tk.select(
        "doc_id", F.posexplode(F.expr(shingles_from_tokens("tk", 3))).alias("pos", "s")
    )
    bench = F.broadcast(sh.filter(F.col("doc_id") < 10).select("s").distinct())
    corpus = sh.filter(F.col("doc_id") >= 10)
    totals = corpus.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    w = Window.partitionBy("doc_id").orderBy("pos")
    runs = (
        corpus.join(bench, "s")
        .withColumn("grp", F.col("pos") - F.row_number().over(w))
        .groupBy("doc_id", "grp")
        .agg(F.count(F.lit(1)).alias("runlen"))
        .groupBy("doc_id")
        .agg(F.max("runlen").alias("mx"), F.sum("runlen").alias("nh"))
    )
    return totals.join(runs, "doc_id", "left").select(
        "doc_id",
        "n_shingles",
        F.coalesce("nh", F.lit(0)).cast("bigint").alias("n_hits"),
        F.coalesce("mx", F.lit(0)).cast("bigint").alias("max_contaminated_run"),
    )


def repetition_ratio(t: dict[str, DataFrame]) -> DataFrame:
    """Doc-internal repetition: 1000 × (1 − distinct/total 3-gram
    shingles) — the boilerplate/looping-text quality signal (Gopher
    repetition filters). Integer permille for cross-engine exactness.
    """
    docs = t["documents"]
    tokenized = docs.select("doc_id", F.expr(TOKENS_SPARK.format(c="text")).alias("tk"))
    sh = tokenized.select(
        "doc_id", F.explode(F.expr(shingles_from_tokens("tk", 3))).alias("s")
    )
    return (
        sh.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("total_shingles"),
            F.countDistinct("s").alias("distinct_shingles"),
        )
        .withColumn(
            "repetition_permille",
            F.expr("((total_shingles - distinct_shingles) * 1000) DIV total_shingles"),
        )
    )


def corpus_vocab_stats(t: dict[str, DataFrame]) -> DataFrame:
    """Corpus vocabulary statistics: per-token document frequency and
    total count, plus hapax flag — the Zipf-profile input for corpus
    QA. One explode + one groupBy(token).
    """
    docs = t["documents"]
    tok = docs.select(
        "doc_id", F.explode(F.expr(TOKENS_SPARK.format(c="text"))).alias("token")
    )
    return (
        tok.groupBy("token")
        .agg(
            F.count(F.lit(1)).alias("total_ct"),
            F.countDistinct("doc_id").alias("doc_ct"),
        )
        .withColumn("is_hapax", (F.col("total_ct") == 1).cast("bigint"))
    )


PACK_BUDGET = 512  # tokens per training sequence

#: per-stratum keep rates (permille) for the stratified sample — the
#: "upsample rare / downsample dominant" shape of corpus mixing.
STRATA_RATES = {"src0": 500, "src1": 300}
DEFAULT_RATE = 200


def sequence_pack_assign(t: dict[str, DataFrame]) -> DataFrame:
    """Sequence packing (token-stream chunking): concatenate each
    source's documents in doc_id order into one token stream and cut it
    into PACK_BUDGET-token training sequences; each document is
    assigned to the pack where its first token lands.

    Scale shape: the running sum is windowed PER SOURCE (shard), not
    globally — each shard packs independently in parallel, which is how a
    100 TB corpus is packed in practice (a global cumsum would serialize
    on one reducer). Deterministic: ordering is (source, doc_id), no
    RNG, so Spark and DuckDB agree exactly.
    """
    docs = t["documents"]
    n_tok = F.size(F.expr(TOKENS_SPARK.format(c="text"))).cast("bigint")
    d = docs.select("doc_id", "source", n_tok.alias("n_tokens"))
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum_before = F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    return d.select(
        "doc_id",
        "source",
        "n_tokens",
        cum_before.alias("cum_tokens_before"),
        (cum_before / PACK_BUDGET).cast("bigint").alias("pack_id"),
    )


def stratified_sample(t: dict[str, DataFrame]) -> DataFrame:
    """Stratified deterministic sampling: each source stratum keeps a
    different fraction of documents, selected by content-hash bucket
    (md5 permille) — reproducible across engines/runs and stable under
    reshuffles, unlike RNG sampling. Map-only (no shuffle): the keep
    decision is a pure function of (text, source).
    """
    docs = t["documents"]
    bucket = F.expr(H28_SPARK.format(c="text")) % 1000
    rate_expr = "CASE " + " ".join(
        f"WHEN source = '{s}' THEN {r}" for s, r in STRATA_RATES.items()
    ) + f" ELSE {DEFAULT_RATE} END"
    return docs.select(
        "doc_id",
        "source",
        bucket.cast("bigint").alias("bucket"),
        F.expr(rate_expr).cast("bigint").alias("rate_permille"),
        (bucket < F.expr(rate_expr)).cast("bigint").alias("keep"),
    )


def source_overlap(t: dict[str, DataFrame]) -> DataFrame:
    """Cross-source duplication diagnostic for corpus mixing: for each
    source pair, how many distinct 3-gram shingles they share. The
    shuffle keys on the shingle (high cardinality, evenly hashed); the
    pair-level counts that come out are |sources|² — nothing at corpus
    scale ever concentrates on one reducer.
    """
    docs = t["documents"]
    tokenized = docs.select("source", F.expr(TOKENS_SPARK.format(c="text")).alias("tk"))
    sh = tokenized.select(
        "source", F.explode(F.expr(shingles_from_tokens("tk", 3))).alias("s")
    ).distinct()
    a = sh.select(F.col("source").alias("source_a"), "s")
    b = sh.select(F.col("source").alias("source_b"), "s")
    return (
        a.join(b, "s")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("shared_shingles"))
    )


def sample_mixture_resample(t: dict[str, DataFrame]) -> DataFrame:
    """Domain-mixture resampling: hit target corpus proportions by
    computing each source's keep-rate FROM its observed size, then
    deterministically sampling. Target weights here are synthetic
    (source index mod 5, weights 1..5 → the weight-unit total over 20
    sources is 60); on real data they come from a mixture config (The
    Pile / DoReMi-style domain reweighting). The keep decision is the
    exact integer cross-multiplication
    ``bucket · n_source · 60 < N · units · 1000`` — no float rate is
    ever computed, so the oracle agrees bit-for-bit.

    Scale: one tiny aggregation (|sources| rows) broadcast back onto
    the corpus; the keep decision itself is map-only on (text, source).
    Unlike RNG sampling, the md5-bucket choice is reproducible across
    engines, runs, and reshuffles.
    """
    docs = t["documents"]
    per_source = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_source"))
    per_source = per_source.withColumn(
        "total_docs", F.sum("n_source").over(Window.partitionBy())
    )
    bucket = (F.expr(H28_SPARK.format(c="text")) % 1000).cast("bigint")
    units = (F.lit(1) + F.expr("CAST(substr(source, 4) AS BIGINT)") % 5).cast("bigint")
    return (
        docs.join(F.broadcast(per_source), "source")
        .select(
            "doc_id",
            "source",
            units.alias("target_units"),
            F.col("n_source").cast("bigint").alias("n_source"),
            bucket.alias("bucket"),
            (
                bucket * F.col("n_source") * 60
                < F.col("total_docs") * units * 1000
            )
            .cast("bigint")
            .alias("keep"),
        )
    )


DOMAIN_CAP = 15  # max documents kept per source domain


#: salt fan-out for the two-level top-CAP rank: bounds any single
#: reducer's sort to ~1/16 of a hot domain's documents (same shape as
#: relational._KMV_SALTS; kept separate so the two knobs can diverge).
_DOMAIN_SALTS = 16


def sample_domain_cap(t: dict[str, DataFrame]) -> DataFrame:
    """Per-domain quota sampling: keep at most DOMAIN_CAP documents per
    source, chosen by content-hash order (md5 of text, doc_id
    tie-break) — the "no single domain dominates the mixture" guard
    every web-corpus pipeline applies (C4 caps pages per domain;
    Gopher/MassiveText dedups then caps). Hash order makes the quota a
    deterministic uniform sample of the domain rather than
    "first-N-crawled" bias.

    Scale: the rank is TWO-LEVEL SALTED (the kmv_topk_per_key shape,
    relational.py): rank within (source, xxhash64(doc_id) mod 16)
    first and keep CAP per salt — so no reducer ever sorts more than
    ~1/16 of a hot domain (C4's top domains hold billions of pages;
    a plain Window.partitionBy(source) would drag every one of them
    through a single partition's sort) — then rank the ≤ 16·CAP
    survivors per source. Top-CAP sets under the total order
    (h, doc_id) compose exactly like KMV min-sets (the global CAP
    smallest of a union is the CAP smallest of the union of per-part
    CAP-smallest sets), so the result is IDENTICAL to the single
    window, row for row and rank for rank — pinned by
    tests/test_invariants_new.py::test_domain_cap_two_level_equals_global.
    The salt keys on doc_id's hash, not h, so a domain of billions of
    IDENTICAL documents (equal h) still spreads across all 16 salts.
    """
    docs = t["documents"]
    h = F.expr(H28_SPARK.format(c="text")).alias("h")
    w1 = Window.partitionBy("source", "salt").orderBy("h", "doc_id")
    w2 = Window.partitionBy("source").orderBy("h", "doc_id")
    pre = (
        docs.select("doc_id", "source", h)
        .withColumn("salt", F.pmod(F.xxhash64("doc_id"), F.lit(_DOMAIN_SALTS)))
        .withColumn("rk1", F.row_number().over(w1))
        .filter(F.col("rk1") <= DOMAIN_CAP)
    )
    return (
        pre.select("doc_id", "source", "h")
        .withColumn("rank", F.row_number().over(w2).cast("bigint"))
        .filter(F.col("rank") <= DOMAIN_CAP)
        .select("doc_id", "source", "rank")
    )


def corpus_dup_inflation(t: dict[str, DataFrame]) -> DataFrame:
    """Per-source duplication inflation — the dataset-card metric of
    how much of a source's token mass is verbatim repeats: documents
    and tokens counted raw vs over DISTINCT texts (md5), with
    ``inflation_permille`` = raw tokens × 1000 div unique-text tokens
    (1000 = fully deduplicated; 3000 = the source triples its apparent
    size with copies). Lee et al. 2022 ("Deduplicating Training Data
    Makes Language Models Better") is the motivating measurement;
    token counting reuses the shared whitespace/punct splitter so the
    number agrees with ``doc_token_count``.

    Scale: one keyed aggregation on (source, md5(text)) with map-side
    partials — a billion-copy page collapses per-partition before the
    shuffle (the ``dedup_exact`` posture; no rank window anywhere) —
    then a |sources|-row rollup. Two shuffles, both on aggregates.
    """
    docs = t["documents"]
    tok = F.size(F.expr(TOKENS_SPARK.format(c="text"))).cast("bigint")
    per_text = (
        docs.select("source", F.md5("text").alias("h"), tok.alias("tok"))
        .groupBy("source", "h")
        .agg(F.count(F.lit(1)).alias("n_copies"), F.max("tok").alias("tok"))
    )
    return (
        per_text.groupBy("source")
        .agg(
            F.sum("n_copies").alias("n_docs"),
            F.count(F.lit(1)).alias("n_unique"),
            F.sum(F.col("n_copies") * F.col("tok")).alias("tokens_total"),
            F.sum("tok").alias("tokens_unique"),
        )
        .select(
            "source",
            "n_docs",
            "n_unique",
            "tokens_total",
            "tokens_unique",
            F.expr("tokens_total * 1000 div greatest(tokens_unique, 1)").alias(
                "inflation_permille"
            ),
        )
    )


#: epoch-schedule knobs: the token budget is EPOCH_BUDGET_X × the
#: corpus's one-epoch token total; per-source repeats cap at
#: MAX_EPOCHS (data-constrained scaling: ~4 epochs of repeated data
#: are near-free, more decays rapidly — Muennighoff et al. 2023).
EPOCH_BUDGET_X = 2
MAX_EPOCHS = 4


def sample_epoch_schedule(t: dict[str, DataFrame]) -> DataFrame:
    """Data-constrained epoch planner: given a token budget of
    EPOCH_BUDGET_X × the one-epoch corpus and the same synthetic
    mixture weights as ``sample_mixture_resample`` (source idx mod 5,
    units 1..5), allocate each source the number of epochs (repeats)
    needed to hit its target token share, capped at MAX_EPOCHS —
    the "how many times do I repeat each domain" table every
    data-constrained pretraining run plans from (Muennighoff et al.
    2023). All integer algebra: target = budget × units div
    total_units; epochs = clamp(ceil(target / tokens), 1, MAX_EPOCHS)
    via exact div arithmetic; ``capped`` = 1 marks sources whose
    target is unreachable under the cap — the ones to go crawl more
    of. No float ever, so the oracle agrees bit-for-bit.

    Scale: one map-side-combined (source, tokens) aggregation, then
    |sources|-row algebra (the global sums ride a window over that
    tiny aggregate, as in ``sample_mixture_resample``).
    """
    return epoch_schedule_from_totals(source_token_totals(t["documents"]))


def source_token_totals(docs: DataFrame) -> DataFrame:
    """Per-source token totals — the planner's one keyed aggregate,
    kept in complete mode by the streaming twin. O(sources)."""
    tok = F.size(F.expr(TOKENS_SPARK.format(c="text"))).cast("bigint")
    return (
        docs.select("source", tok.alias("tok"))
        .groupBy("source")
        .agg(F.sum("tok").alias("tokens"))
    )


def epoch_schedule_from_totals(totals: DataFrame) -> DataFrame:
    """The epoch-allocation algebra over (source, tokens) totals —
    shared by the batch planner and the streaming twin (which
    maintains ``totals`` as a complete-mode aggregation and re-runs
    this |sources|-row algebra per poll)."""
    per_source = totals.withColumn(
        "target_units",
        (F.lit(1) + F.expr("CAST(substr(source, 4) AS BIGINT)") % 5).cast("bigint"),
    )
    w = Window.partitionBy()
    planned = per_source.select(
        "source",
        "tokens",
        "target_units",
        F.sum("tokens").over(w).alias("total_tokens"),
        F.sum("target_units").over(w).alias("total_units"),
    ).select(
        "source",
        "tokens",
        "target_units",
        F.expr(
            f"{EPOCH_BUDGET_X} * total_tokens * target_units div total_units"
        ).alias("target_tokens"),
    )
    need = "((target_tokens + greatest(tokens, 1) - 1) div greatest(tokens, 1))"
    return planned.select(
        "source",
        "tokens",
        "target_units",
        "target_tokens",
        F.expr(f"greatest(1, least({MAX_EPOCHS}, {need}))").alias("epochs"),
        F.expr(f"greatest(1, least({MAX_EPOCHS}, {need})) * tokens").alias(
            "achieved_tokens"
        ),
        F.expr(f"({need} > {MAX_EPOCHS})").cast("bigint").alias("capped"),
    )


#: contamination threshold for the e2e verdict (permille of shingles
#: shared with the benchmark slice)
E2E_CONTAM_PERMILLE = 500


def corpus_e2e_verdict(t: dict[str, DataFrame]) -> DataFrame:
    """The flagship end-to-end corpus-cleaning verdict: one row per
    document with a REASON-CODED keep/drop decision composing the four
    production filters a pretraining pipeline chains — Gopher quality
    rules, exact dedup, MinHash-LSH near-dup drop, and benchmark
    decontamination. Reason columns (1 = triggered) let the corpus
    team audit *why* mass was lost per source, not just how much —
    the report every dataset card wants.

    Scale: pure composition — each leg keeps its own documented plan
    (map-only rules; one md5 shuffle; the shared LSH chain; broadcast
    benchmark join), and the verdict is three doc_id-keyed joins of
    |docs|-row outputs (co-partitioned on the same key). Benchmark
    docs themselves (the contamination reference slice) carry
    reason_contaminated = 0 by definition.
    """
    from .dedup import dedup_exact, neardup_drop_list
    from .text import rules_gopher_quality

    g = rules_gopher_quality(t).select(
        "doc_id", (1 - F.col("keep")).cast("bigint").alias("reason_quality")
    )
    e = dedup_exact(t).select(
        "doc_id", F.col("is_dup").alias("reason_exact_dup")
    )
    n = neardup_drop_list(t).select(
        "doc_id", F.col("is_drop").alias("reason_neardup")
    )
    c = benchmark_contamination(t).select(
        "doc_id",
        (F.col("contamination_permille") >= E2E_CONTAM_PERMILLE)
        .cast("bigint")
        .alias("reason_contaminated"),
    )
    out = (
        g.join(e, "doc_id")
        .join(n, "doc_id")
        .join(c, "doc_id", "left")
        .select(
            "doc_id",
            "reason_quality",
            "reason_exact_dup",
            "reason_neardup",
            F.coalesce("reason_contaminated", F.lit(0)).alias("reason_contaminated"),
        )
    )
    return out.withColumn(
        "keep",
        (
            (F.col("reason_quality") == 0)
            & (F.col("reason_exact_dup") == 0)
            & (F.col("reason_neardup") == 0)
            & (F.col("reason_contaminated") == 0)
        ).cast("bigint"),
    )


def corpus_card_by_source(t: dict[str, DataFrame]) -> DataFrame:
    """The dataset-card rollup: per source, how many documents each
    cleaning stage dropped and what survives — the table every corpus
    release publishes (mass lost to quality / exact dup / near dup /
    contamination, per provenance). A groupBy over the e2e verdict
    joined back to the documents' source column; reasons are not
    mutually exclusive, so the columns sum past the drop count by
    design.

    Scale: the verdict's own plan plus one broadcast-joinable
    |docs|-row join on doc_id and one keyed rollup to |sources| rows.
    """
    v = corpus_e2e_verdict(t)
    src = t["documents"].select("doc_id", "source")
    return (
        v.join(src, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("reason_quality").alias("drop_quality"),
            F.sum("reason_exact_dup").alias("drop_exact_dup"),
            F.sum("reason_neardup").alias("drop_neardup"),
            F.sum("reason_contaminated").alias("drop_contaminated"),
            F.sum("keep").alias("kept"),
        )
    )


def lang_confusion_matrix(t: dict[str, DataFrame]) -> DataFrame:
    """Language-ID quality diagnostic: the (declared label × predicted
    language) confusion counts — the screen that catches a broken
    lang-ID model or a mislabeled source before it skews the mixture.
    Composes ``text_lang_id``'s per-doc predictions into one keyed
    count; the oracle composes that query's verified SQL verbatim.
    """
    from .text import text_lang_id

    pred = text_lang_id(t)
    return pred.groupBy(
        F.col("lang_label"), F.col("lang_pred")
    ).agg(F.count(F.lit(1)).alias("n_docs"))


#: temperature for the smoothed source-mixture weights (τ < 1 upsamples
#: small sources — the multilingual-sampling convention)
MIX_TEMPERATURE = 0.7


def sample_temperature_mixture(t: dict[str, DataFrame]) -> DataFrame:
    """Temperature-scaled source mixture (the mBERT/XLM-R smoothing,
    Devlin et al. 2019 §A; Conneau et al. 2020 §3): sampling weight per
    source ∝ (corpus share)^τ with τ = 0.7, renormalized — small
    sources are upsampled toward the mean without letting any source
    dominate. The data-derived complement of
    ``sample_mixture_resample``'s fixed target rates. Shares and
    weights reported in round-6 doubles (pow is the one non-rational
    step; both engines agree far past 6 decimals).

    Scale: one keyed count, one 1-row total, one |sources|-row weight
    normalization — nothing data-sized moves after the first
    map-side-combined aggregate.
    """
    counts = t["documents"].groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    total = counts.agg(F.sum("n_docs").alias("total"))
    shared = counts.crossJoin(F.broadcast(total)).withColumn(
        "w_raw", F.pow(F.col("n_docs") / F.col("total"), F.lit(MIX_TEMPERATURE))
    )
    norm = shared.agg(F.sum("w_raw").alias("z"))
    return (
        shared.crossJoin(F.broadcast(norm))
        .select(
            "source",
            "n_docs",
            F.round(F.col("n_docs") / F.col("total"), 6).alias("share"),
            F.round(F.col("w_raw") / F.col("z"), 6).alias("temp_weight"),
        )
    )


def sample_dup_weights(t: dict[str, DataFrame]) -> DataFrame:
    """Soft dedup via importance downweighting: instead of dropping
    duplicate documents, keep them all and weight each by 1/(content
    duplicate count) in integer permille — the training-time
    alternative to hard dedup (each distinct CONTENT contributes equal
    expected mass regardless of how often it was crawled). One md5
    count + a same-key join back; a production run materializes the
    count table bucket-written on the hash.
    """
    docs = t["documents"].select(
        "doc_id", F.md5(F.lower(F.trim("text"))).alias("h")
    )
    counts = docs.groupBy("h").agg(F.count(F.lit(1)).alias("dup_ct"))
    return docs.join(counts, "h").select(
        "doc_id",
        "dup_ct",
        F.expr("1000 DIV dup_ct").alias("weight_permille"),
    )


#: weighted-priority sample size (global)
PPS_SAMPLE_K = 100


def sample_weighted_priority(t: dict[str, DataFrame]) -> DataFrame:
    """Probability-proportional-to-size sampling: keep the K documents
    with the lowest priority = hash(text) ÷ n_chars — an integer-exact
    surrogate of Efraimidis–Spirakis A-Res keys (−ln u ⁄ w), so longer
    documents are proportionally likelier to be drawn, the weighting a
    token-budgeted corpus sample wants (each *token* equally likely,
    not each document). Integer division keeps both engines bit-exact
    where a transcendental key would drift in the last ulp.

    Scale: the global bottom-K plans as TakeOrderedAndProject —
    per-partition K-row heaps merged once on the driver, no global
    sort, no single-partition window over data (plan-asserted); the
    rank is then assigned on the K collected rows only.
    """
    docs = t["documents"]
    # integer `div`, not `/`: the 60-bit hash exceeds double's exact
    # range, so float division would drift the low digit
    pri = F.expr(
        f"({H60_SPARK.format(c='text')}) div greatest(n_chars, 1L)"
    ).cast("bigint")
    picked = (
        docs.select("doc_id", "source", "n_chars", pri.alias("priority"))
        .orderBy("priority", "doc_id")
        .limit(PPS_SAMPLE_K)
    )
    w = Window.orderBy("priority", "doc_id")
    return picked.withColumn("rank", F.row_number().over(w).cast("bigint"))


#: global token budget for quality-ordered corpus selection — an
#: absolute cap (the "train on the best B tokens" knob), so the same
#: constant selects ~half the corpus at sf0.001 and a thinner, better
#: slice as the corpus grows
TOKEN_BUDGET = 10_000


def doc_quality_tokens(docs: DataFrame) -> DataFrame:
    """Per-doc (quality, token-count) frame shared by the batch
    ``sample_token_budget`` and its streaming twin: quality = stopword
    permille (the ``text_quality_score`` naturalness proxy — integer
    arithmetic, bit-identical both engines)."""
    from .text import _stop_list_sql

    # tokenize ONCE as a column (r14): the quality expression inlined
    # the full tokenizer subtree 4× per row (see
    # text.rules_gopher_quality — same fix, same provable
    # once-evaluation via the multi-reference CollapseProject exemption)
    tokenized = docs.select(
        "doc_id", F.expr(TOKENS_SPARK.format(c="text")).alias("tk")
    )
    return tokenized.select(
        "doc_id",
        F.expr("size(tk)").cast("bigint").alias("n_tokens"),
        F.expr(
            "CASE WHEN size(tk) > 0 THEN "
            f"(size(filter(tk, x -> x in ({_stop_list_sql()}))) * 1000) DIV size(tk) "
            "ELSE 0 END"
        )
        .cast("bigint")
        .alias("stop_ratio_permille"),
    )


def token_budget_select(d: DataFrame) -> DataFrame:
    """Quality-ordered token-budget selection over a per-doc
    (doc_id, n_tokens, stop_ratio_permille) frame: admit documents in
    (quality DESC, doc_id) order while the running token total stays
    within ``TOKEN_BUDGET`` — the "spend the training budget on the
    best tokens" selector (the data-mixing counterpart of DoReMi/DSIR
    reweighting: hard selection instead of soft weights).

    Scale: the global running sum never rides one ORDER BY window.
    Quality is a ≤1001-level permille, so the cumsum splits two-phase:
    (1) within each quality level, the distributed two-level
    ``prefix_sum_per_key`` scan orders by doc_id (~4096-row bucket
    windows, in-plan width — streaming-poll safe); (2) ACROSS levels,
    only the ≤1001-row per-level token totals ride an unpartitioned
    window (aggregate-sized, the layout-offsets pattern) and the
    offsets broadcast back into a join keyed on the level. Worst-case
    window partition is therefore max(4096-row bucket, 1001-row level
    table) regardless of corpus size. The budget filter pushes into
    the joined output — no top-k, no rank, no global sort.
    """
    from .relational import prefix_sum_per_key

    within = prefix_sum_per_key(
        d,
        ["stop_ratio_permille"],
        "doc_id",
        "n_tokens",
        "_cum_in_q",
        bucket_size="inplan",
    )
    lvl = d.groupBy("stop_ratio_permille").agg(F.sum("n_tokens").alias("_lvl_tok"))
    w = (
        Window.orderBy(F.desc("stop_ratio_permille"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    off = lvl.select(
        F.col("stop_ratio_permille").alias("_q_off_key"),
        F.coalesce(F.sum("_lvl_tok").over(w), F.lit(0)).alias("_q_off"),
    )
    # ≤1001-row broadcast by construction (permille levels), so the
    # relational.py keyed-broadcast cardinality contract is satisfied
    return (
        within.join(
            F.broadcast(off),
            F.col("stop_ratio_permille") == F.col("_q_off_key"),
        )
        .withColumn("cum_tokens", (F.col("_q_off") + F.col("_cum_in_q")).cast("bigint"))
        .filter(F.col("cum_tokens") <= TOKEN_BUDGET)
        .select("doc_id", "stop_ratio_permille", "n_tokens", "cum_tokens")
    )


def sample_token_budget(t: dict[str, DataFrame]) -> DataFrame:
    """See :func:`token_budget_select` — batch entry over documents.

    The per-doc quality frame is pinned ONCE (r14): the budget-select
    machinery references it from many plan positions (the within-level
    prefix scan, the per-level totals, their joins) and Catalyst
    inlines each reference as a plan-tree COPY — the tokenizer pass
    re-ran 11× per execution (measured by split-count in the plan).
    The frame is |docs| rows × 3 ints — the r13 pin rule's paying
    case (numeric frame, expensive upstream). The streaming twin
    keeps the unpinned form (memory-table inputs cannot checkpoint;
    its per-poll source is the already-materialized sink table)."""
    return token_budget_select(doc_quality_tokens(t["documents"]).localCheckpoint())


def corpus_pack_efficiency(t: dict[str, DataFrame]) -> DataFrame:
    """Context-window utilization report over the packing manifest —
    the fill-rate diagnostic every training pipeline tracks beside the
    manifest itself (a fill permille well under 1000 means the GPU
    batch is padding; the knob is PACK_BUDGET vs the doc-length
    distribution). Per source: docs, packs, total tokens, nominal
    capacity (packs × PACK_BUDGET) and integer fill permille. Under
    this manifest's assignment rule (a doc belongs to the pack where
    its FIRST token lands), a shard's final pack can overflow the
    budget, so fill_permille may exceed 1000 — that is a property of
    the assignment semantics, not an error, and the oracle reproduces
    it exactly.

    Scale: derives entirely from ``sequence_pack_assign``'s
    shard-parallel manifest with ONE further keyed rollup (map-side
    combinable, |sources| output rows); no new scan shapes.
    """
    m = sequence_pack_assign(t)
    return (
        m.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            (F.max("pack_id") + 1).cast("bigint").alias("n_packs"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        )
        .select(
            "source",
            "n_docs",
            "n_packs",
            "total_tokens",
            (F.col("n_packs") * PACK_BUDGET).cast("bigint").alias("capacity_tokens"),
            F.expr(f"(total_tokens * 1000) div (n_packs * {PACK_BUDGET})").alias(
                "fill_permille"
            ),
        )
    )


#: candidate context lengths for the truncation-loss report
CTX_CANDIDATES = (512, 1024, 2048, 4096)


def corpus_truncation_waste(t: dict[str, DataFrame]) -> DataFrame:
    """Context-length truncation report — the other half of the
    packing decision (``corpus_pack_efficiency`` reports padding waste
    under packing; this reports TOKEN LOSS under plain
    truncate-to-context training): for each candidate context length,
    how many documents exceed it and what permille of all corpus
    tokens falls past the boundary and is never trained on. The two
    reports together are how a pipeline picks context length and
    packing strategy.

    Scale: one tokenize scan reduced to ONE 1-row global aggregate —
    2·|CTX_CANDIDATES| conditional sums beside the corpus totals, all
    map-side combinable (the Heaps-curve conditional-sum posture) —
    then exploded to |CTX_CANDIDATES| output rows. No per-length
    rescan, no join, no shuffle beyond the single aggregate.
    """
    from .text import TOKENS_SPARK

    per_doc = t["documents"].select(
        F.size(F.expr(TOKENS_SPARK.format(c="text"))).cast("bigint").alias("nt")
    )
    aggs = [
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("nt").alias("tokens_total"),
    ]
    for ctx in CTX_CANDIDATES:
        aggs.append(
            F.sum(F.when(F.col("nt") > ctx, 1).otherwise(0))
            .cast("bigint")
            .alias(f"_dt_{ctx}")
        )
        aggs.append(
            F.sum(F.greatest(F.col("nt") - ctx, F.lit(0)))
            .cast("bigint")
            .alias(f"_tl_{ctx}")
        )
    structs = ", ".join(
        f"struct(CAST({ctx} AS BIGINT) AS ctx_len, _dt_{ctx} AS docs_truncated, "
        f"_tl_{ctx} AS tokens_lost)"
        for ctx in CTX_CANDIDATES
    )
    return (
        per_doc.agg(*aggs)
        .select(
            F.explode(F.expr(f"array({structs})")).alias("s"),
            F.col("n_docs").cast("bigint").alias("n_docs"),
            F.col("tokens_total").cast("bigint").alias("tokens_total"),
        )
        .select(
            F.col("s.ctx_len").alias("ctx_len"),
            "n_docs",
            F.col("s.docs_truncated").alias("docs_truncated"),
            "tokens_total",
            F.col("s.tokens_lost").alias("tokens_lost"),
            F.expr(
                "(1000 * s.tokens_lost) div greatest(tokens_total, 1)"
            ).alias("loss_permille"),
        )
    )


_TOKS_D = TOKENS_DUCK.format(c="text")
_H28S_D = H28_DUCK.format(c="s")
_SH3_D = shingles_duck("tk", 3)
_SH2_D = shingles_duck("tk", 2)

ORACLES: dict[str, str] = {
    "sample_temperature_mixture": f"""
        WITH counts AS (
            SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source
        ), tot AS (
            SELECT SUM(n_docs)::DOUBLE AS total FROM counts
        ), shared AS (
            SELECT source, n_docs,
                   pow(n_docs / (SELECT total FROM tot), {MIX_TEMPERATURE}) AS w_raw
            FROM counts
        ), z AS (
            SELECT SUM(w_raw) AS z FROM shared
        )
        SELECT source, n_docs,
               round(n_docs / (SELECT total FROM tot), 6) AS share,
               round(w_raw / (SELECT z FROM z), 6) AS temp_weight
        FROM shared
    """,
    "sample_dup_weights": """
        WITH hashed AS (
            SELECT doc_id, md5(lower(trim(text))) AS h FROM documents
        ), counts AS (
            SELECT h, COUNT(*) AS dup_ct FROM hashed GROUP BY h
        )
        SELECT doc_id, dup_ct, (1000 // dup_ct)::BIGINT AS weight_permille
        FROM hashed JOIN counts USING (h)
    """,
    "sample_weighted_priority": f"""
        SELECT doc_id, source, n_chars,
               priority,
               row_number() OVER (ORDER BY priority, doc_id)::BIGINT AS rank
        FROM (
            SELECT doc_id, source, n_chars,
                   ({H60_DUCK.format(c='text')} // greatest(n_chars, 1))::BIGINT AS priority
            FROM documents
            ORDER BY priority, doc_id LIMIT {PPS_SAMPLE_K}
        )
    """,
    "sample_domain_cap": f"""
        SELECT doc_id, source, rank FROM (
            SELECT doc_id, source,
                   row_number() OVER (
                       PARTITION BY source
                       ORDER BY {H28_DUCK.format(c='text')} ASC, doc_id ASC
                   )::BIGINT AS rank
            FROM documents
        ) WHERE rank <= {DOMAIN_CAP}
    """,
    "sample_mixture_resample": f"""
        WITH per_source AS (
            SELECT source, COUNT(*)::BIGINT AS n_source FROM documents GROUP BY source
        ),
        tot AS (SELECT SUM(n_source)::BIGINT AS total_docs FROM per_source)
        SELECT doc_id, d.source,
               (1 + CAST(substr(d.source, 4) AS BIGINT) % 5)::BIGINT AS target_units,
               n_source,
               ({H28_DUCK.format(c='text')} % 1000)::BIGINT AS bucket,
               CASE WHEN ({H28_DUCK.format(c='text')} % 1000) * n_source * 60
                         < total_docs * (1 + CAST(substr(d.source, 4) AS BIGINT) % 5) * 1000
                    THEN 1 ELSE 0 END::BIGINT AS keep
        FROM documents d
        JOIN per_source ON d.source = per_source.source
        CROSS JOIN tot
    """,
    "corpus_train_test_split": f"""
        SELECT doc_id,
               ({H28_DUCK.format(c='text')} % {SPLIT_BUCKETS})::BIGINT AS bucket,
               CASE WHEN {H28_DUCK.format(c='text')} % {SPLIT_BUCKETS} < {TEST_PCT} THEN 'test'
                    WHEN {H28_DUCK.format(c='text')} % {SPLIT_BUCKETS} < {TEST_PCT + VAL_PCT} THEN 'val'
                    ELSE 'train' END AS split
        FROM documents
    """,
    "doc_winnowing": f"""
        WITH tk0 AS (
            SELECT doc_id, {_TOKS_D} AS tk FROM documents
        ), sh AS (
            SELECT doc_id, unnest({_SH3_D}) AS s,
                   generate_subscripts({_SH3_D}, 1) AS pos
            FROM tk0
        ), hashed AS (
            SELECT doc_id, pos, {_H28S_D} AS h FROM sh
        ), winmin AS (
            SELECT doc_id,
                   MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
                                ROWS BETWEEN CURRENT ROW AND {WINNOW_W - 1} FOLLOWING) AS fp,
                   COUNT(h) OVER (PARTITION BY doc_id ORDER BY pos
                                  ROWS BETWEEN CURRENT ROW AND {WINNOW_W - 1} FOLLOWING) AS wlen
            FROM hashed
        ), fps AS (
            SELECT DISTINCT doc_id, fp FROM winmin WHERE wlen = {WINNOW_W}
        )
        SELECT doc_id, COUNT(*) AS n_fingerprints,
               (SUM(fp % 1000000007) % 1000000007)::BIGINT AS fp_checksum
        FROM fps GROUP BY doc_id
    """,
    "sample_contamination": f"""
        WITH tk0 AS (
            SELECT doc_id, {_TOKS_D} AS tk FROM documents
        ), sh AS (
            SELECT DISTINCT doc_id, unnest({_SH3_D}) AS s FROM tk0
        ), bench AS (
            SELECT DISTINCT s FROM sh WHERE doc_id < 10
        ), scored AS (
            SELECT sh.doc_id,
                   COUNT(*) AS n_shingles,
                   SUM(CASE WHEN bench.s IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS bench_hits
            FROM sh LEFT JOIN bench ON sh.s = bench.s
            WHERE sh.doc_id >= 10
            GROUP BY sh.doc_id
        )
        SELECT doc_id, n_shingles, bench_hits,
               (bench_hits * 1000) // n_shingles AS contamination_permille
        FROM scored
    """,
    "sample_contaminated_spans": f"""
        WITH tk0 AS (
            SELECT doc_id, {_TOKS_D} AS tk FROM documents
        ), sh0 AS (
            SELECT doc_id, {_SH3_D} AS sh FROM tk0
        ), pos AS (
            SELECT doc_id, unnest(sh) AS s, unnest(range(1, len(sh) + 1)) AS pos
            FROM sh0
        ), bench AS (
            SELECT DISTINCT s FROM pos WHERE doc_id < 10
        ), corpus AS (
            SELECT * FROM pos WHERE doc_id >= 10
        ), totals AS (
            SELECT doc_id, COUNT(*) AS n_shingles FROM corpus GROUP BY doc_id
        ), hits AS (
            SELECT c.doc_id, c.pos,
                   c.pos - row_number() OVER (PARTITION BY c.doc_id ORDER BY c.pos) AS grp
            FROM corpus c JOIN bench b ON c.s = b.s
        ), runs AS (
            SELECT doc_id, grp, COUNT(*) AS runlen FROM hits GROUP BY doc_id, grp
        ), agg AS (
            SELECT doc_id, MAX(runlen) AS mx, SUM(runlen) AS nh FROM runs GROUP BY doc_id
        )
        SELECT t.doc_id, t.n_shingles,
               coalesce(a.nh, 0)::BIGINT AS n_hits,
               coalesce(a.mx, 0)::BIGINT AS max_contaminated_run
        FROM totals t LEFT JOIN agg a ON t.doc_id = a.doc_id
    """,
    "sample_bloom_contamination": f"""
        WITH tk0 AS (
            SELECT doc_id, {_TOKS_D} AS tk FROM documents
        ), sh AS (
            SELECT DISTINCT doc_id, unnest({_SH3_D}) AS s FROM tk0
        ), bench AS (
            SELECT DISTINCT s FROM sh WHERE doc_id < 10
        ), bh AS (
            SELECT {H28_DUCK.format(c="s")} AS h FROM bench
        ), probes AS (
            SELECT unnest([h % {BLOOM_M}, (h * {BLOOM_PROBE2_MULT}) % {BLOOM_M}]) AS pos
            FROM bh
        ), words AS (
            SELECT pos // {BLOOM_BITS_PER_WORD} AS word,
                   bit_or(1::BIGINT << (pos % {BLOOM_BITS_PER_WORD})::INT) AS w
            FROM probes GROUP BY pos // {BLOOM_BITS_PER_WORD}
        ), corpus AS (
            SELECT doc_id, s,
                   {H28_DUCK.format(c="s")} % {BLOOM_M} AS b1,
                   ({H28_DUCK.format(c="s")} * {BLOOM_PROBE2_MULT}) % {BLOOM_M} AS b2
            FROM sh WHERE doc_id >= 10
        ), flags AS (
            SELECT c.doc_id,
                   ((((COALESCE(w1.w, 0) >> (c.b1 % {BLOOM_BITS_PER_WORD})::INT) & 1) = 1)
                    AND (((COALESCE(w2.w, 0) >> (c.b2 % {BLOOM_BITS_PER_WORD})::INT) & 1) = 1)
                   )::BIGINT AS bloom_hit,
                   (b.s IS NOT NULL)::BIGINT AS exact_hit
            FROM corpus c
            LEFT JOIN words w1 ON c.b1 // {BLOOM_BITS_PER_WORD} = w1.word
            LEFT JOIN words w2 ON c.b2 // {BLOOM_BITS_PER_WORD} = w2.word
            LEFT JOIN bench b ON c.s = b.s
        )
        SELECT doc_id, COUNT(*) AS n_shingles,
               SUM(bloom_hit)::BIGINT AS bloom_hits,
               SUM(exact_hit)::BIGINT AS exact_hits,
               (SUM(bloom_hit) - SUM(exact_hit))::BIGINT AS false_pos
        FROM flags GROUP BY doc_id
    """,
    "sample_dsir_weights": f"""
        WITH tk0 AS (
            SELECT doc_id, {_TOKS_D} AS tk FROM documents
        ), bg AS (
            SELECT doc_id, unnest({_SH2_D}) AS bigram FROM tk0
        ), feat AS (
            SELECT doc_id, {H28_DUCK.format(c="bigram")} % {DSIR_DIM} AS f FROM bg
        ), tgt AS (
            SELECT f, COUNT(*) AS t_ct FROM feat WHERE doc_id < 10 GROUP BY f
        ), raw AS (
            SELECT f, COUNT(*) AS r_ct FROM feat WHERE doc_id >= 10 GROUP BY f
        ), joined AS (
            SELECT COALESCE(tgt.f, raw.f) AS f,
                   COALESCE(t_ct, 0) AS t_ct, COALESCE(r_ct, 0) AS r_ct
            FROM tgt FULL OUTER JOIN raw ON tgt.f = raw.f
        ), totals AS (
            SELECT SUM(t_ct) AS n_t, SUM(r_ct) AS n_r FROM joined
        ), ratios AS (
            SELECT f,
                   ln((t_ct + 1)::DOUBLE / (n_t + {DSIR_DIM})::DOUBLE)
                 - ln((r_ct + 1)::DOUBLE / (n_r + {DSIR_DIM})::DOUBLE) AS lr
            FROM joined, totals
        )
        SELECT doc_id, COUNT(*)::BIGINT AS n_feats,
               round(SUM(lr), 6) AS log_weight,
               (round(SUM(lr), 6) > 0)::BIGINT AS selected
        FROM feat JOIN ratios ON feat.f = ratios.f
        WHERE doc_id >= 10
        GROUP BY doc_id
    """,
    "repetition_ratio": f"""
        WITH tk0 AS (
            SELECT doc_id, {_TOKS_D} AS tk FROM documents
        ), sh AS (
            SELECT doc_id, unnest({_SH3_D}) AS s FROM tk0
        )
        SELECT doc_id,
               COUNT(*) AS total_shingles,
               COUNT(DISTINCT s) AS distinct_shingles,
               ((COUNT(*) - COUNT(DISTINCT s)) * 1000) // COUNT(*) AS repetition_permille
        FROM sh GROUP BY doc_id
    """,
    "source_overlap": f"""
        WITH tk0 AS (
            SELECT source, {_TOKS_D} AS tk FROM documents
        ), sh AS (
            SELECT DISTINCT source, unnest({_SH3_D}) AS s FROM tk0
        )
        SELECT a.source AS source_a, b.source AS source_b,
               COUNT(*) AS shared_shingles
        FROM sh a JOIN sh b ON a.s = b.s AND a.source < b.source
        GROUP BY a.source, b.source
    """,
    "sequence_pack_assign": f"""
        WITH d AS (
            SELECT doc_id, source, len({_TOKS_D})::BIGINT AS n_tokens FROM documents
        )
        SELECT doc_id, source, n_tokens,
               coalesce(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS cum_tokens_before,
               (coalesce(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // {PACK_BUDGET})::BIGINT AS pack_id
        FROM d
    """,
    "corpus_pack_efficiency": f"""
        WITH d AS (
            SELECT doc_id, source, len({_TOKS_D})::BIGINT AS n_tokens FROM documents
        ), m AS (
            SELECT source, n_tokens,
                   (coalesce(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    // {PACK_BUDGET})::BIGINT AS pack_id
            FROM d
        )
        SELECT source,
               COUNT(*)::BIGINT AS n_docs,
               (MAX(pack_id) + 1)::BIGINT AS n_packs,
               SUM(n_tokens)::BIGINT AS total_tokens,
               ((MAX(pack_id) + 1) * {PACK_BUDGET})::BIGINT AS capacity_tokens,
               ((SUM(n_tokens) * 1000) // ((MAX(pack_id) + 1) * {PACK_BUDGET}))::BIGINT AS fill_permille
        FROM m GROUP BY source
    """,
    "stratified_sample": f"""
        WITH d AS (
            SELECT doc_id, source,
                   ({H28_DUCK.format(c='text')} % 1000)::BIGINT AS bucket,
                   (CASE {' '.join(f"WHEN source = '{s}' THEN {r}" for s, r in STRATA_RATES.items())}
                         ELSE {DEFAULT_RATE} END)::BIGINT AS rate_permille
            FROM documents
        )
        SELECT doc_id, source, bucket, rate_permille,
               (bucket < rate_permille)::BIGINT AS keep
        FROM d
    """,
    "corpus_vocab_stats": f"""
        SELECT token,
               COUNT(*) AS total_ct,
               COUNT(DISTINCT doc_id) AS doc_ct,
               (COUNT(*) = 1)::BIGINT AS is_hapax
        FROM (SELECT doc_id, unnest({_TOKS_D}) AS token FROM documents)
        GROUP BY token
    """,
    "corpus_dup_inflation": f"""
        WITH per_text AS (
            SELECT source, md5(text) AS h,
                   COUNT(*)::BIGINT AS n_copies,
                   MAX(len({_TOKS_D}))::BIGINT AS tok
            FROM documents GROUP BY source, md5(text)
        )
        SELECT source,
               SUM(n_copies)::BIGINT AS n_docs,
               COUNT(*)::BIGINT AS n_unique,
               SUM(n_copies * tok)::BIGINT AS tokens_total,
               SUM(tok)::BIGINT AS tokens_unique,
               (SUM(n_copies * tok)::BIGINT * 1000
                // greatest(SUM(tok)::BIGINT, 1))::BIGINT AS inflation_permille
        FROM per_text GROUP BY source
    """,
    "sample_epoch_schedule": f"""
        WITH per_source AS (
            SELECT source,
                   SUM(len({_TOKS_D}))::BIGINT AS tokens,
                   (1 + CAST(substr(source, 4) AS BIGINT) % 5)::BIGINT AS target_units
            FROM documents GROUP BY source
        ),
        tot AS (
            SELECT SUM(tokens)::BIGINT AS total_tokens,
                   SUM(target_units)::BIGINT AS total_units
            FROM per_source
        ),
        planned AS (
            SELECT source, tokens, target_units,
                   ({EPOCH_BUDGET_X} * total_tokens * target_units
                    // total_units)::BIGINT AS target_tokens
            FROM per_source CROSS JOIN tot
        )
        SELECT source, tokens, target_units, target_tokens,
               greatest(1, least({MAX_EPOCHS},
                   (target_tokens + greatest(tokens, 1) - 1) // greatest(tokens, 1)
               ))::BIGINT AS epochs,
               (greatest(1, least({MAX_EPOCHS},
                   (target_tokens + greatest(tokens, 1) - 1) // greatest(tokens, 1)
               )) * tokens)::BIGINT AS achieved_tokens,
               ((target_tokens + greatest(tokens, 1) - 1) // greatest(tokens, 1)
                > {MAX_EPOCHS})::BIGINT AS capped
        FROM planned
    """,
}

# The e2e verdict's oracle is the literal composition of its four legs'
# already-verified oracles as subqueries — one source of truth per leg.
from .dedup import ORACLES as _DEDUP_ORACLES  # noqa: E402
from .text import ORACLES as _TEXT_ORACLES  # noqa: E402

ORACLES["corpus_e2e_verdict"] = f"""
    SELECT g.doc_id,
           (1 - g.keep)::BIGINT AS reason_quality,
           e.is_dup AS reason_exact_dup,
           n.is_drop AS reason_neardup,
           COALESCE((c.contamination_permille >= {E2E_CONTAM_PERMILLE})::BIGINT, 0)
               AS reason_contaminated,
           (g.keep = 1 AND e.is_dup = 0 AND n.is_drop = 0 AND
            COALESCE(c.contamination_permille < {E2E_CONTAM_PERMILLE}, TRUE))::BIGINT
               AS keep
    FROM ({_TEXT_ORACLES["doc_gopher_rules"]}) g
    JOIN ({_DEDUP_ORACLES["text_dedup_exact"]}) e ON g.doc_id = e.doc_id
    JOIN ({_DEDUP_ORACLES["text_neardup_drop_list"]}) n ON g.doc_id = n.doc_id
    LEFT JOIN ({ORACLES["sample_contamination"]}) c ON g.doc_id = c.doc_id
"""

ORACLES["corpus_card_by_source"] = f"""
    SELECT d.source,
           COUNT(*) AS n_docs,
           SUM(v.reason_quality)::BIGINT AS drop_quality,
           SUM(v.reason_exact_dup)::BIGINT AS drop_exact_dup,
           SUM(v.reason_neardup)::BIGINT AS drop_neardup,
           SUM(v.reason_contaminated)::BIGINT AS drop_contaminated,
           SUM(v.keep)::BIGINT AS kept
    FROM ({ORACLES["corpus_e2e_verdict"]}) v
    JOIN documents d ON v.doc_id = d.doc_id
    GROUP BY d.source
"""

# Composition: the verified CC oracle (recursive CTE) as a subquery,
# then the train_test_split bucket algebra keyed on cluster_id.
ORACLES["corpus_leakage_safe_split"] = f"""
    SELECT doc_id, cluster_id, bucket,
           CASE WHEN bucket < {TEST_PCT} THEN 'test'
                WHEN bucket < {TEST_PCT + VAL_PCT} THEN 'val'
                ELSE 'train' END AS split
    FROM (
        SELECT doc_id, cluster_id,
               ({H28_DUCK.format(c="cluster_id::VARCHAR")} % {SPLIT_BUCKETS})::BIGINT AS bucket
        FROM ({_DEDUP_ORACLES["text_neardup_clusters"]}) cc
    ) b
"""

ORACLES["lang_confusion_matrix"] = f"""
    SELECT lang_label, lang_pred, COUNT(*) AS n_docs
    FROM ({_TEXT_ORACLES["text_lang_id"]})
    GROUP BY lang_label, lang_pred
"""

# Quality-ordered token-budget selection: the single ORDER BY window
# here is the oracle's privilege — the Spark plan runs the two-phase
# level-offset scan instead (token_budget_select docstring).
from .text import _stop_list_sql as _stops_sql

_STOPS_D = _stops_sql()
ORACLES["sample_token_budget"] = f"""
    WITH d AS (
        SELECT doc_id,
               len({_TOKS_D})::BIGINT AS n_tokens,
               CASE WHEN len({_TOKS_D}) > 0 THEN
                   (len(list_filter({_TOKS_D}, x -> x IN ({_STOPS_D}))) * 1000)
                       // len({_TOKS_D})
               ELSE 0 END AS stop_ratio_permille
        FROM documents
    ), s AS (
        SELECT doc_id, stop_ratio_permille, n_tokens,
               SUM(n_tokens) OVER (
                   ORDER BY stop_ratio_permille DESC, doc_id
               )::BIGINT AS cum_tokens
        FROM d
    )
    SELECT doc_id, stop_ratio_permille, n_tokens, cum_tokens
    FROM s WHERE cum_tokens <= {TOKEN_BUDGET}
"""

ORACLES["corpus_truncation_waste"] = f"""
    WITH per_doc AS (
        SELECT len({_TOKS_D})::BIGINT AS nt FROM documents
    ), one AS (
        SELECT COUNT(*)::BIGINT AS n_docs, SUM(nt)::BIGINT AS tokens_total,
               {", ".join(
                   f"SUM(CASE WHEN nt > {c} THEN 1 ELSE 0 END)::BIGINT AS dt_{c}, "
                   f"SUM(greatest(nt - {c}, 0))::BIGINT AS tl_{c}"
                   for c in CTX_CANDIDATES
               )}
        FROM per_doc
    )
    {" UNION ALL ".join(
        f"SELECT {c}::BIGINT AS ctx_len, n_docs, dt_{c} AS docs_truncated, "
        f"tokens_total, tl_{c} AS tokens_lost, "
        f"((1000 * tl_{c}) // greatest(tokens_total, 1))::BIGINT AS loss_permille "
        f"FROM one"
        for c in CTX_CANDIDATES
    )}
"""

BUILDERS = {
    "corpus_truncation_waste": corpus_truncation_waste,
    "corpus_e2e_verdict": corpus_e2e_verdict,
    "corpus_card_by_source": corpus_card_by_source,
    "lang_confusion_matrix": lang_confusion_matrix,
    "sample_weighted_priority": sample_weighted_priority,
    "sample_dup_weights": sample_dup_weights,
    "sample_temperature_mixture": sample_temperature_mixture,
    "corpus_train_test_split": corpus_train_test_split,
    "corpus_leakage_safe_split": corpus_leakage_safe_split,
    "doc_winnowing": doc_winnowing,
    "sample_contamination": benchmark_contamination,
    "sample_contaminated_spans": contaminated_spans,
    "sample_bloom_contamination": bloom_contamination,
    "sample_dsir_weights": dsir_weights,
    "repetition_ratio": repetition_ratio,
    "corpus_vocab_stats": corpus_vocab_stats,
    "sequence_pack_assign": sequence_pack_assign,
    "stratified_sample": stratified_sample,
    "source_overlap": source_overlap,
    "sample_mixture_resample": sample_mixture_resample,
    "sample_domain_cap": sample_domain_cap,
    "corpus_dup_inflation": corpus_dup_inflation,
    "sample_epoch_schedule": sample_epoch_schedule,
    "sample_token_budget": sample_token_budget,
    "corpus_pack_efficiency": corpus_pack_efficiency,
}
