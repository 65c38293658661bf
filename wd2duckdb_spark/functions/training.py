"""Training-data preparation operators: deterministic dataset
splitting, sequence packing, corpus-frequency boilerplate pruning, and
heavy-hitter token accounting.

These are the "last mile" of an LLM data pipeline — after cleaning and
dedup (functions.text / functions.dedup), the corpus is split into
train/val/test, packed into fixed-size context windows, and audited
for vocabulary skew. Everything here is pure Column expressions plus
bounded-size broadcasts: the only shuffles are (a) keyed aggregates on
low-cardinality keys and (b) the per-shard packing window, whose
parallelism is the shard count — chosen by the caller to match the
cluster, so the sequential scan inside each shard stays executor-local
at any corpus size.

Cross-engine determinism: all randomness-like assignment (splits,
shards) derives from md5 of a stable key — the same convention as
``operators.analytics.q_hash_sample`` — so Spark and DuckDB agree
bit-for-bit and reruns/retries can't reshuffle the split.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from wd2duckdb_spark.catalog import (
    half_up,
    local_frame,
    scan_partitions,
    session_memo,
    spread,
    tbl,
)

#: Context-window capacity (tokens) for q_pack_sequences. Small because
#: the synthetic docs average ~55 tokens; the operator is
#: capacity-agnostic.
PACK_CAPACITY = 128

#: Packing shards. At scale this is the parallelism of the packing
#: stage (one ordered scan per shard); 1000-executor clusters want
#: thousands of shards. 8 keeps the fixture result auditable.
PACK_SHARDS = 8

#: Document-frequency ratio above which a token is considered corpus
#: boilerplate and pruned from every document.
BOILERPLATE_DF = 0.78

#: Minimum corpus-frequency share for a token to count as a heavy
#: hitter (0.5% of all tokens).
HEAVY_SUPPORT = 0.005


def md5_bucket(col: Column, n: int) -> Column:
    """Deterministic bucket in [0, n): first 8 md5 hex chars → int.

    Portable across engines (md5 is bit-stable everywhere) unlike
    ``hash()``/``rand()``; the 8-hex prefix is < 2^32 so the value is
    nonnegative and ``pmod`` == ``%``.
    """
    return F.pmod(
        F.conv(F.substring(F.md5(col.cast("string")), 1, 8), 16, 10).cast(
            "long"
        ),
        F.lit(n),
    )


def md5_bucket_sql(expr: str, n: int) -> str:
    """DuckDB twin of :func:`md5_bucket`."""
    return (
        f"(('0x' || substr(md5(CAST({expr} AS VARCHAR)), 1, 8))::BIGINT"
        f" % {n})"
    )


def _ws_tokens(col: str = "text") -> Column:
    return F.size(F.split(F.trim(col), " "))


def split_label(col: Column) -> Column:
    """The 90/5/5 train/val/test assignment of a doc-id column:
    md5(doc_id) mod 100 — content-stable, so adding or removing other
    documents never moves an existing document between splits
    (re-ingest safe), and every engine/retry agrees. Single source of
    the split rule, shared by :func:`q_dataset_split` and the leakage
    audit; SQL twin :func:`split_label_sql`."""
    b = md5_bucket(col, 100)
    return F.when(b < 90, "train").when(b < 95, "val").otherwise("test")


def split_label_sql(expr: str) -> str:
    """DuckDB twin of :func:`split_label`."""
    return (
        f"CASE WHEN {md5_bucket_sql(expr, 100)} < 90 THEN 'train'"
        f" WHEN {md5_bucket_sql(expr, 100)} < 95 THEN 'val'"
        f" ELSE 'test' END"
    )


def q_dataset_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 90/5/5 train/val/test split with per-source
    accounting (doc + token counts, per-source doc share).

    Assignment is :func:`split_label`. The plan is
    one scan → one tiny (split, source) aggregate → a window over that
    aggregate's handful of rows; nothing data-sized shuffles.
    """
    d = tbl(spark, sf_dir, "documents")
    split = split_label(F.col("doc_id")).alias("split")
    agg = (
        d.select(split, "source", _ws_tokens().alias("n_tokens"))
        .groupBy("split", "source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
        )
    )
    w = Window.partitionBy("source")
    return agg.select(
        "split",
        "source",
        "n_docs",
        "total_tokens",
        # floor-normalized (PLANS.md "rounding ties")
        half_up(F.col("n_docs") / F.sum("n_docs").over(w), 4).alias("doc_share"),
    ).orderBy("source", "split")


def q_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-FREE split assignment: the fix for what
    :func:`q_split_leakage_audit` measures. Instead of splitting each
    document independently (which strands near-duplicate pairs on
    opposite sides of the train/eval boundary), assign the WHOLE
    near-dup cluster by hashing its canonical id: split =
    :func:`split_label` of the cluster's min doc_id. Singletons hash
    by their own id, so for them the assignment is bit-identical to
    :func:`q_dataset_split` — only clustered docs can move, and after
    the move a cross-split near-dup candidate pair is impossible by
    construction (both sides share a cluster_id, hence a split;
    pinned in tests/test_round8_ops.py).

    Composition discipline: the clustering is exactly
    :func:`~wd2duckdb_spark.functions.dedup._labeled_clusters` (the
    memoized CC over the minhash_lsh_pairs graph that keep_list /
    keep_best / cluster_stats consume) and the split rule is exactly
    :func:`split_label`; the oracle composes the shared recursive-CC
    prefix and the split-rule SQL twin verbatim.

    Plan: both labels are computed IN-ROW from ids already present on
    the labeled frame (md5 — no join back, no extra shuffle), then one
    ≤3-group aggregate. Scale cost = the shared CC itself; this query
    adds nothing corpus-shaped.
    """
    from wd2duckdb_spark.functions.dedup import _labeled_clusters

    labeled = _labeled_clusters(spark, sf_dir)
    safe = split_label(F.col("cluster_id"))
    naive = split_label(F.col("doc_id"))
    return (
        labeled.select(
            safe.alias("split"),
            "cluster_id",
            (safe != naive).cast("long").alias("moved"),
        )
        .groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("cluster_id").alias("n_clusters"),
            F.sum("moved").alias("n_moved"),
        )
        .orderBy("split")
    )


def q_split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-contamination audit: counts LSH near-dup
    candidate pairs by the split memberships of their two sides. A
    near-dup pair crossing train↔val/test means eval answers leak
    into training — the failure mode the decontaminate/dedup tier
    exists to prevent; this query MEASURES it for the engine's own
    deterministic split, the audit a pipeline runs before trusting
    its eval numbers.

    Composition discipline: the pair set is exactly
    :func:`~wd2duckdb_spark.functions.dedup.lsh_candidate_pairs` (the
    minhash_lsh_pairs pipeline, shared code) and the split rule is
    exactly :func:`split_label` (shared with dataset_split); the
    oracle embeds both SQL twins verbatim, so the audit cannot
    disagree with either component about what "near-dup" or "split"
    means.

    Plan: the pair pipeline's one shuffle, then both split labels
    computed IN-ROW from the pair's ids (md5 of the id — no join back
    to the corpus), least/greatest canonicalization (labels are never
    NULL, so the least() NULL-skip trap does not bite), and a ≤6-row
    aggregate. Scale cost = the pair pipeline itself.
    """
    from wd2duckdb_spark.functions.dedup import lsh_candidate_pairs

    pairs = lsh_candidate_pairs(
        tbl(spark, sf_dir, "documents"),
        scan_parts=scan_partitions(spark, sf_dir, "documents"),
    )
    sa = split_label(F.col("a_id"))
    sb = split_label(F.col("b_id"))
    return (
        pairs.select(
            F.least(sa, sb).alias("split_a"),
            F.greatest(sa, sb).alias("split_b"),
        )
        .groupBy("split_a", "split_b")
        .agg(F.count("*").alias("n_pairs"))
        .select(
            "split_a",
            "split_b",
            "n_pairs",
            (F.col("split_a") != F.col("split_b")).alias("is_cross"),
        )
        .orderBy("split_a", "split_b")
    )


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-split sequence packing: assign documents to
    fixed-capacity context windows and report per-window fill.

    The GPT-style packing discipline — concatenate documents in a
    deterministic order, cut every PACK_CAPACITY tokens — is a running
    prefix sum, which is inherently sequential. The scalable form
    shards the corpus first (md5(doc_id) mod PACK_SHARDS) and packs
    within each shard: the prefix sum becomes a per-shard window
    (sum ROWS UNBOUNDED PRECEDING..1 PRECEDING), so parallelism =
    shard count and each shard wastes at most one underfilled tail
    window. A document is assigned to the window where its first token
    lands (floor(cum_before / capacity)); boundary-spanning documents
    overflow into the next cut, which the fill_ratio column exposes.
    """
    d = tbl(spark, sf_dir, "documents")
    shard = md5_bucket(F.col("doc_id"), PACK_SHARDS).alias("shard")
    base = d.select(shard, "doc_id", _ws_tokens().alias("n_tokens"))
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum_before = F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    assigned = base.withColumn(
        "window_id",
        F.floor(cum_before / float(PACK_CAPACITY)).cast("long"),
    )
    return (
        assigned.groupBy("shard", "window_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("window_tokens"),
            F.min("doc_id").alias("first_doc"),
        )
        .select(
            "shard",
            "window_id",
            "n_docs",
            "window_tokens",
            "first_doc",
            half_up(F.col("window_tokens") / float(PACK_CAPACITY), 4).alias(
                "fill_ratio"
            ),
        )
        .orderBy("shard", "window_id")
    )


def q_boilerplate_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-frequency boilerplate pruning: drop every token whose
    document-frequency ratio exceeds BOILERPLATE_DF, preserving the
    order of the survivors, and fingerprint the cleaned text.

    The C4/Gopher "remove ubiquitous boilerplate" step re-expressed
    for Spark: the high-DF vocabulary is computed once (explode →
    distinct → count, bounded by |vocab| not corpus size), collapsed
    to a single array row, and broadcast; the prune itself is then a
    pure higher-order ``filter`` expression over each document's token
    array — order-preserving, zero shuffle, whole-stage codegen. At
    100 TB the only data-sized pass is the DF count; the rewrite pass
    is scan-bound.
    """
    d = spread(
        tbl(spark, sf_dir, "documents"),
        scan_parts=scan_partitions(spark, sf_dir, "documents"),
    )
    toks = F.split(F.lower(F.trim("text")), " ")
    ndocs = d.agg(F.count("*").alias("n_total"))  # 1 row
    dfc = (
        d.select("doc_id", F.explode(toks).alias("word"))
        # hash(word) satisfies both the (doc_id, word) distinct and the
        # DF aggregate — one exchange instead of two (guide §2.4;
        # measured 1.18 s → 0.84 s at sf0.1)
        .repartition("word")
        .distinct()
        .groupBy("word")
        .agg(F.count("*").alias("d"))
    )
    # 1 row (possibly empty array), consumed once under the broadcast —
    # no persist, no memo: a session memo here would only exclude the
    # corpus DF pass from warm benchmark reps
    hi = (
        dfc.crossJoin(F.broadcast(ndocs))
        .filter(F.col("d") / F.col("n_total") > BOILERPLATE_DF)
        .agg(F.sort_array(F.collect_list("word")).alias("hiwords"))
    )
    kept = F.filter(
        toks, lambda x: ~F.array_contains(F.col("hiwords"), x)
    )
    return (
        d.crossJoin(F.broadcast(hi))
        .select(
            "doc_id",
            F.size(toks).cast("int").alias("n_before"),
            F.size(kept).cast("int").alias("n_after"),
            F.md5(F.array_join(kept, " ")).alias("cleaned_fp"),
        )
        .orderBy("doc_id")
    )


def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact corpus heavy hitters: tokens holding ≥ HEAVY_SUPPORT of
    all token occurrences, with their frequency share, top-20.

    Two-phase exact counting (partial map-side combine into a |vocab|-
    sized aggregate), a 1-row broadcast for the total, deterministic
    (cnt DESC, word) tie-break. The mergeable-sketch variant of this
    audit — per-partition count-min sketches merged on the driver — is
    cross-checked against these exact counts in
    tests/test_training.py.
    """
    d = spread(
        tbl(spark, sf_dir, "documents"),
        scan_parts=scan_partitions(spark, sf_dir, "documents"),
    )
    words = d.select(
        F.explode(F.split(F.lower(F.trim("text")), " ")).alias("word")
    )
    counts = words.groupBy("word").agg(F.count("*").alias("cnt"))
    total = counts.agg(F.sum("cnt").alias("total"))  # 1 row
    return (
        counts.crossJoin(F.broadcast(total))
        .filter(F.col("cnt") >= F.lit(HEAVY_SUPPORT) * F.col("total"))
        .select(
            "word",
            "cnt",
            half_up(F.col("cnt") / F.col("total"), 4).alias("share"),
        )
        .orderBy(F.desc("cnt"), "word")
        .limit(20)
    )


def q_importance_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted importance resampling: keep each document with
    probability proportional to a quality weight (here: token count
    capped at 100 tokens → weight 1.0), using md5(doc_id)/10000 as the
    uniform draw — the DSIR-style data-selection step, made
    deterministic so every engine, retry, and re-run keeps the same
    documents.

    One scan, one tiny (source) aggregate reporting kept/total docs,
    kept tokens, and the realized acceptance rate. No shuffle touches
    document text.
    """
    d = tbl(spark, sf_dir, "documents")
    n_tokens = _ws_tokens()
    weight = F.least(n_tokens / 100.0, F.lit(1.0))
    u = md5_bucket(F.col("doc_id"), 10000) / 10000.0
    return (
        d.select(
            "source",
            n_tokens.alias("n_tokens"),
            (u < weight).cast("long").alias("keep"),
        )
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("keep").alias("n_kept"),
            F.sum(F.col("keep") * F.col("n_tokens")).alias("kept_tokens"),
        )
        .select(
            "source",
            "n_docs",
            "n_kept",
            "kept_tokens",
            half_up(F.col("n_kept") / F.col("n_docs"), 4).alias("accept_rate"),
        )
        .orderBy("source")
    )


#: Shard count for the reproducible training-order manifest.
N_SHARDS = 16


def q_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible global shuffle: assign every document to one of
    N_SHARDS shards by content-stable md5 (NOT rand() — re-ingest,
    retry, and engine changes must not move documents), and emit the
    per-shard manifest a training job consumes: document count, token
    count, byte count, and an order-insensitive content checksum
    (sum of per-doc md5 prefixes) that lets the trainer verify a
    shard's integrity without re-reading the corpus.

    One uniform (shard) shuffle of doc-sized rows; the manifest is
    N_SHARDS rows regardless of corpus size. The checksum is a SUM of
    64-bit values — associative/commutative, so partial aggregation
    order cannot change it (mod-2^63 wraparound aside, which Spark and
    DuckDB both define as two's-complement BIGINT overflow... avoided
    here by summing 8-hex (32-bit) prefixes: 2^32 × corpus size stays
    far below 2^63).
    """
    d = tbl(spark, sf_dir, "documents")
    doc_h = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 9, 8), 16, 10
    ).cast("long")
    return (
        d.select(
            md5_bucket(F.col("doc_id"), N_SHARDS).alias("shard"),
            _ws_tokens().alias("n_tokens"),
            F.length("text").alias("n_chars"),
            doc_h.alias("h"),
        )
        .groupBy("shard")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
            F.sum("n_chars").alias("n_chars"),
            F.sum("h").alias("checksum"),
        )
        .orderBy("shard")
    )


#: Sample size for the weighted-without-replacement draw.
WSAMPLE_K = 50


def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement (Efraimidis–Spirakis
    exponential-sort): draw WSAMPLE_K documents with probability
    proportional to token count — the exact-k counterpart of
    :func:`q_importance_resample`'s independent keep/drop draws (which
    yield a BINOMIAL sample size). E-S: per item draw u ∈ (0,1],
    keep the k smallest ``-ln(u)/w`` — provably equivalent to
    sequential weighted draws without replacement.

    u derives from md5(doc_id) (content-stable, engine/retry
    deterministic — the module-docstring convention); u = (h+1)/2³²
    over the 32-bit hash prefix, so u ∈ (0,1] exactly and ln(u) is
    finite. The plan is a scan + TakeOrderedAndProject: top-k by key
    never sorts the corpus, and at 100 TB each partition forwards only
    its local k candidates. ln() may differ by 1 ulp across engines;
    a flip requires two of the 500 keys within that ulp of the rank-k
    boundary — the same accepted residual risk as every floor-rounded
    decision in PLANS.md, but with no bounded normalization available
    (selection is a rank, not a value).
    """
    d = tbl(spark, sf_dir, "documents")
    h = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
    ).cast("long")
    u = (h + F.lit(1)) / F.lit(float(2**32))
    key = -F.log(u) / _ws_tokens()
    return (
        d.select(
            "doc_id",
            "source",
            _ws_tokens().alias("n_tokens"),
            key.alias("k"),
        )
        .orderBy("k", "doc_id")
        .limit(WSAMPLE_K)
        .select("doc_id", "source", "n_tokens")
        .orderBy("doc_id")
    )


def mix_weighted_from_counts(counts: DataFrame) -> DataFrame:
    """Per-source (n_docs, total_tokens, w=floor(sqrt(tokens))) frame
    cross-joined with the 1-row (all_tokens, all_w) broadcast, from
    ANY per-document ``(source, n_tokens)`` frame — the pluggable
    seam that lets the budget plan consume real BPE counts
    (functions/bpe.py) instead of the whitespace estimate."""
    per_src = counts.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
    )
    w = F.floor(F.sqrt(F.col("total_tokens").cast("double"))).cast("long")
    weighted = per_src.select("*", w.alias("w"))
    totals = weighted.agg(
        F.sum("total_tokens").alias("all_tokens"),
        F.sum("w").alias("all_w"),
    )
    return weighted.crossJoin(F.broadcast(totals))


def _mix_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The registered queries' instantiation of
    :func:`mix_weighted_from_counts`: whitespace token counts over
    ``documents`` (SQL twin :func:`_mix_sql_cte`)."""
    d = tbl(spark, sf_dir, "documents")
    return mix_weighted_from_counts(
        d.select("source", _ws_tokens().alias("n_tokens"))
    )


#: Target training-token budget for q_token_budget_plan. Arbitrary but
#: fixture-meaningful: ~36× the sf0.01 corpus, so epochs land both
#: above and below 1 across sources (up- AND down-sampling visible).
TOKEN_BUDGET = 1_000_000


def q_token_budget_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget allocation plan: split a fixed training
    budget of :data:`TOKEN_BUDGET` tokens across sources by the
    √-temperature mixing weights, and report the implied EPOCH count
    per source (allocated / available) — >1 means the source repeats
    (upsampling a small high-value source), <1 means a single partial
    pass. This is the planning artifact a data-mixing run materializes
    before sampling (the DoReMi/LLaMA-style budget sheet).

    Integer-exact where it matters: weights are integer
    (floor∘sqrt), allocations are integer ``(BUDGET·w) div all_w``
    (never a float share times the budget — those accumulate rounding
    drift), so Σ alloc ≤ BUDGET with the shortfall < n_sources tokens;
    only the epochs ratio is floated, floor4-snapped. Shares the
    weighted base (one low-cardinality aggregate + 1-row broadcast)
    with source_mix_weights; the oracle composes the same SQL CTE.
    """
    return budget_plan_from_counts(
        tbl(spark, sf_dir, "documents").select(
            "source", _ws_tokens().alias("n_tokens")
        )
    )


def budget_plan_from_counts(
    counts: DataFrame, budget: int = TOKEN_BUDGET
) -> DataFrame:
    """Public budget-plan API over ANY per-document ``(source,
    n_tokens)`` frame — e.g. real BPE counts from
    :func:`wd2duckdb_spark.functions.bpe.bpe_encode` joined with the
    source column (pinned in tests/test_round9_ops.py). Same
    integer-exact allocation arithmetic as the registered query."""
    if budget < 1:
        raise ValueError(f"budget must be >= 1, got {budget}")
    alloc = F.expr(f"CAST(({budget} * w) DIV all_w AS BIGINT)")
    return (
        mix_weighted_from_counts(counts)
        .select(
            "source",
            "n_docs",
            F.col("total_tokens").alias("available_tokens"),
            F.col("w").alias("weight"),
            alloc.alias("alloc_tokens"),
            half_up(alloc / F.col("total_tokens"), 4).alias("epochs"),
        )
        .orderBy("source")
    )


def q_source_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-weighted source mixing (the LLaMA/GPT-style data
    mix step): per source, sampling share ∝ √(total_tokens) — a
    α=0.5 temperature that upsamples small high-value sources and
    downsamples the dominant crawl — next to the natural share and
    the implied up/down-sampling factor.

    Cross-engine determinism: weights are ``floor(sqrt(tokens))`` —
    sqrt is correctly rounded IEEE and floor makes the weight an
    integer, so the shares are ratios of exact integers; a float
    ``pow(t, α)`` would differ between libm implementations in the
    last ulp and flake the value hash. Shares use the floor-1e6
    rounding convention (PLANS.md). One low-cardinality aggregate —
    nothing document-sized shuffles more than once.
    """
    return (
        _mix_weighted(spark, sf_dir)
        .select(
            "source",
            "n_docs",
            "total_tokens",
            half_up(F.col("total_tokens") / F.col("all_tokens"), 6).alias(
                "natural_share"
            ),
            half_up(F.col("w") / F.col("all_w"), 6).alias("mix_share"),
            half_up(
                (F.col("w") / F.col("all_w"))
                / (F.col("total_tokens") / F.col("all_tokens")),
                6,
            ).alias("sampling_factor"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Trainable quality filter: weak-label logistic regression
# ---------------------------------------------------------------------------

#: Full-batch gradient-descent iterations. Each is ONE aggregate pass
#: over the corpus; like KMEANS_ITERS, fixed and small so the oracle
#: can unroll them as chained CTEs.
LR_ITERS = 4
#: Learning rate — exact in binary so driver-side Python updates and
#: the oracle's SQL updates use the identical constant.
LR_ETA = 1.0


def _lr_features(d: DataFrame) -> DataFrame:
    """(x1, x2, x3, y, source) feature rows for the quality LR.

    Features are cheap, fully JVM-native, and cross-engine exact:
    length ratios and ln — no tokenization (split semantics differ
    between engines on degenerate whitespace). Each is floored to
    6 dp so both engines carry identical doubles into training.
    NULL text rows are excluded symmetrically (the oracle's WHERE)."""
    L = F.length("text")
    digits = L - F.length(F.regexp_replace("text", "[0-9]", ""))
    spaces = L - F.length(F.regexp_replace("text", " ", ""))
    return d.filter(F.col("text").isNotNull()).select(
        "source",
        half_up(F.log(F.lit(1.0) + L) / 10, 6).alias("x1"),
        half_up(digits / (L + F.lit(1)), 6).alias("x2"),
        half_up(spaces / (L + F.lit(1)), 6).alias("x3"),
        F.when(F.col("lang") == "en", 1.0).otherwise(0.0).alias("y"),
    )


def _lr_sigma(z: Column) -> Column:
    """floor6(σ(floor4(z))): the raw margin is first snapped to a
    1e-4 grid so ``exp`` sees identical inputs in both engines, and
    the probability is floored to 6 dp so a ≤1-ulp difference between
    JVM Math.exp and DuckDB's libm cannot survive into the weights."""
    z4 = half_up(z, 4)
    return half_up(F.lit(1.0) / (F.lit(1.0) + F.exp(-z4)), 6)


def q_quality_lr_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trainable quality filter: weak-label logistic regression over
    the corpus's own cheap features — the fastText-style "model-based
    quality classifier" stage of a training-data pipeline, expressed
    as pure DataFrame aggregates (no MLlib, no UDFs).

    Weak label: ``lang == 'en'`` (train a filter for the pipeline's
    target language from the lang-id column it already has). Features:
    scaled ln-length, digit ratio, whitespace ratio. Training is
    LR_ITERS full-batch GD steps; each step is ONE corpus aggregate
    producing the 4-component gradient (a constant-size driver
    collect — the parameter-server pattern, same bounded-collect
    discipline as the PCA partials), followed by a driver-side weight
    update. Output: per-source doc counts, mean predicted
    P(target-language), and how many docs the filter would flag
    (score < 0.5) — the quality-mix report a curriculum builder
    consumes.

    Scale: each GD step is a map-side-combinable aggregate over
    (3+1) doubles per row — the 4-column feature frame is persisted
    for the loop's duration (one corpus scan + LR_ITERS cached-column
    scans, unpersisted in a finally), one 4-value shuffle per
    iteration, weights are 4 floats on the driver. At 100 TB you
    swap full-batch for a deterministic hash-sample mini-batch
    (hash_sample) without changing the dataflow.

    Cross-engine determinism (kmeans's floor-normalization contract):
    features floor6; margin snapped to 1e-4 before exp; σ floor6;
    per-component gradient = floor6(avg(...)); weight update
    floor6(w + η·g) — computed in Python here and in SQL CTEs in the
    oracle, over bit-identical inputs at every step. Empty corpus:
    gradients coalesce to 0, weights stay 0, zero output rows.

    On the driver's synthetic fixtures the text is generated
    independently of ``lang``, so NO feature separates the label and
    the correct fit is the base rate (~0.44 'en') — the oracle gate
    verifies the exact GD trajectory toward it, and every doc lands
    under the 0.5 flag line. tests/test_training.py trains the same
    operator on a constructed SEPARABLE corpus and asserts it
    actually separates — the learning dynamics, not just the
    arithmetic.
    """
    return (
        _lr_scored(spark, sf_dir)
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            half_up(F.avg("score"), 4).alias("mean_score"),
            F.sum(F.when(F.col("score") < 0.5, 1).otherwise(0))
            .cast("bigint")
            .alias("n_flagged"),
        )
        .orderBy("source")
    )


@session_memo
def _lr_weights(spark: SparkSession, sf_dir: str) -> list[float]:
    """Train the weak-label LR once per session and memo the 4 weights:
    every consumer (the per-source score report, the calibration audit)
    scores against the same weights, the way a production pipeline
    treats a trained filter (an upstream artifact, not a per-query
    cost). Each GD step is ONE map-side-combinable corpus aggregate + a
    4-float driver collect; the feature frame is persisted for the
    loop's duration and unpersisted in the finally (1 corpus scan +
    LR_ITERS cached-column scans, no CacheManager entry outlives the
    loop)."""
    import math

    pf6 = lambda x: math.floor(x * 1e6 + 0.5) / 1e6  # noqa: E731
    w = [0.0, 0.0, 0.0, 0.0]
    xs = [F.lit(1.0), F.col("x1"), F.col("x2"), F.col("x3")]
    feats = _lr_features(tbl(spark, sf_dir, "documents")).persist()
    try:
        for _ in range(LR_ITERS):
            z = (
                F.lit(w[0])
                + F.lit(w[1]) * F.col("x1")
                + F.lit(w[2]) * F.col("x2")
                + F.lit(w[3]) * F.col("x3")
            )
            r = F.col("y") - _lr_sigma(z)
            g = feats.agg(
                *[
                    F.coalesce(
                        half_up(F.avg(r * x), 6),
                        F.lit(0.0),
                    ).alias(f"g{j}")
                    for j, x in enumerate(xs)
                ]
            ).first()
            w = [pf6(w[j] + LR_ETA * g[j]) for j in range(4)]
    finally:
        # the consumers' scoring frames recompute from the parquet
        # source (one fresh scan each) — the cache served the loop only
        feats.unpersist()
    return w


def _lr_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(source, y, score): every document scored by the memoized
    trained filter — the shared input of the per-source report and
    the calibration audit. Lazy single-scan frame; score is the
    floor4-snapped σ(floor4(margin)) of the oracle contract."""
    w = _lr_weights(spark, sf_dir)
    feats = _lr_features(tbl(spark, sf_dir, "documents"))
    z = (
        F.lit(w[0])
        + F.lit(w[1]) * F.col("x1")
        + F.lit(w[2]) * F.col("x2")
        + F.lit(w[3]) * F.col("x3")
    )
    z4 = half_up(z, 4)
    score = half_up(F.lit(1.0) / (F.lit(1.0) + F.exp(-z4)), 4)
    return feats.select("source", "y", score.alias("score"))


def q_quality_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration audit of the trained quality filter: bucket the
    predicted P(target-language) into deciles and compare, per bucket,
    the mean predicted score against the ACTUAL label rate — the
    reliability-diagram table every model-based data filter should
    ship with (a filter that says 0.8 must be right ~80% of the time,
    or its threshold is meaningless). Shares the train-once weight
    memo with ``quality_lr_score``, so the two reports can never
    disagree about the model.

    One scan + one ≤10-group aggregate; bucket = least(floor(10·s), 9)
    so a perfect 1.0 lands in the top decile. All outputs floor4 /
    integer — oracle-exact.
    """
    s = _lr_scored(spark, sf_dir)
    bucket = F.least(F.floor(F.col("score") * 10), F.lit(9)).cast("int")
    return (
        s.groupBy(bucket.alias("bucket"))
        .agg(
            F.count("*").alias("n_docs"),
            half_up(F.avg("score"), 4).alias("mean_score"),
            half_up(F.avg("y"), 4).alias("pos_rate"),
        )
        .orderBy("bucket")
    )


def _lr_oracle() -> str:
    """Unrolled-CTE twin of :func:`q_quality_lr_score` — the same
    feature floors, margin snap, σ floor, gradient floors, and weight
    updates, with the weights carried through CTEs instead of the
    driver (the kmeans oracle convention, so training semantics
    cannot drift between engines)."""
    zexpr = "(a + b * x1 + c * x2 + d * x3)"
    z4 = f"floor({zexpr} * 1e4 + 0.5) / 1e4"
    sig6 = f"floor((1.0 / (1.0 + exp(-({z4})))) * 1e6 + 0.5) / 1e6"
    steps = []
    for i in range(1, LR_ITERS + 1):
        steps.append(
            f"""r{i} AS (
            SELECT x1, x2, x3, y - {sig6} AS r
            FROM feats CROSS JOIN w{i - 1}
        ), g{i} AS (
            SELECT coalesce(floor(avg(r) * 1e6 + 0.5) / 1e6, 0.0) AS g0,
                   coalesce(floor(avg(r * x1) * 1e6 + 0.5) / 1e6, 0.0) AS g1,
                   coalesce(floor(avg(r * x2) * 1e6 + 0.5) / 1e6, 0.0) AS g2,
                   coalesce(floor(avg(r * x3) * 1e6 + 0.5) / 1e6, 0.0) AS g3
            FROM r{i}
        ), w{i} AS (
            SELECT floor((a + {LR_ETA} * g0) * 1e6 + 0.5) / 1e6 AS a,
                   floor((b + {LR_ETA} * g1) * 1e6 + 0.5) / 1e6 AS b,
                   floor((c + {LR_ETA} * g2) * 1e6 + 0.5) / 1e6 AS c,
                   floor((d + {LR_ETA} * g3) * 1e6 + 0.5) / 1e6 AS d
            FROM w{i - 1} CROSS JOIN g{i}
        )"""
        )
    chained = ",\n        ".join(steps)
    score4 = f"floor((1.0 / (1.0 + exp(-({z4})))) * 1e4 + 0.5) / 1e4"
    return f"""
        WITH feats AS (
            SELECT source,
                   floor(ln(1.0 + len(text)) / 10 * 1e6 + 0.5) / 1e6 AS x1,
                   floor((len(text) - len(regexp_replace(text, '[0-9]', '', 'g')))
                         / CAST(len(text) + 1 AS DOUBLE) * 1e6 + 0.5) / 1e6 AS x2,
                   floor((len(text) - len(regexp_replace(text, ' ', '', 'g')))
                         / CAST(len(text) + 1 AS DOUBLE) * 1e6 + 0.5) / 1e6 AS x3,
                   CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y
            FROM documents
            WHERE text IS NOT NULL
        ),
        w0 AS (SELECT CAST(0 AS DOUBLE) AS a, CAST(0 AS DOUBLE) AS b,
                      CAST(0 AS DOUBLE) AS c, CAST(0 AS DOUBLE) AS d),
        {chained},
        scored AS (
            SELECT source, y, {score4} AS score
            FROM feats CROSS JOIN w{LR_ITERS}
        )
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_docs,
               floor(avg(score) * 1e4 + 0.5) / 1e4 AS mean_score,
               CAST(count_if(score < 0.5) AS BIGINT) AS n_flagged
        FROM scored
        GROUP BY source
        ORDER BY source
    """


def _lr_calibration_oracle() -> str:
    """Calibration twin: the SAME unrolled training-and-scoring CTE
    prefix as :func:`_lr_oracle` (shared via the common ``scored``
    construction, so the model cannot drift between the two reports),
    bucketed into deciles."""
    prefix = _lr_oracle()
    prefix = prefix[: prefix.rindex("SELECT source,")]
    return (
        prefix
        + """SELECT CAST(least(floor(score * 10), 9) AS INT) AS bucket,
               CAST(count(*) AS BIGINT) AS n_docs,
               floor(avg(score) * 1e4 + 0.5) / 1e4 AS mean_score,
               floor(avg(y) * 1e4 + 0.5) / 1e4 AS pos_rate
        FROM scored
        GROUP BY bucket
        ORDER BY bucket
    """
    )


#: Per-source document cap for the registered query — sized to cut at
#: every fixture SF (≈25 docs/source at sf0.001, ≈250 at sf0.1).
DOMAIN_CAP = 15

#: Quota maps up to this size compile to a literal CASE chain (the
#: plan-pinned WindowGroupLimit shape); larger maps broadcast-join a
#: (source, quota) lookup instead — a thousands-entry CASE chain is
#: O(|caps|) expression depth and risks Catalyst codegen/stack blowup.
DOMAIN_CAP_CASE_MAX = 64


def q_domain_cap_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4/RefinedWeb-style PER-DOMAIN document cap: keep at most
    :data:`DOMAIN_CAP` documents per source, chosen in deterministic
    md5 order (salted id hash, doc_id tie-break — the engine's
    standard content-stable selection rule, so re-ingest never flips
    a document's fate), and flag the rest. The anti-overfitting /
    anti-domination step a web-scale corpus mixer runs before
    training: without it one crawl-heavy domain swamps the mix.

    Plan: ONE source-keyed exchange. This registered form outputs a
    per-document KEPT FLAG (so downstream filters compose without a
    join back), which by construction keeps every row — when only the
    surviving set is needed, use :func:`domain_cap_keep`, whose
    rank-filter form plans as WindowGroupLimit (map-side per-source
    top-K before the exchange, so a hot domain ships K rows per task,
    never its full row count — plan-pinned in
    tests/test_round9_ops.py).
    """
    d = tbl(spark, sf_dir, "documents")
    return (
        d.select(
            "doc_id",
            "source",
            (F.row_number().over(_domain_cap_window()) <= DOMAIN_CAP).alias(
                "kept"
            ),
        )
        .orderBy("doc_id")
    )


def _domain_cap_window() -> Window:
    return Window.partitionBy("source").orderBy(
        F.md5(F.concat(F.lit("domaincap|"), F.col("doc_id").cast("string"))),
        "doc_id",
    )


def domain_cap_keep(
    docs: DataFrame,
    cap: int = DOMAIN_CAP,
    *,
    caps: dict[str, int] | None = None,
    default_cap: int | None = None,
) -> DataFrame:
    """The pruning form of the per-domain cap: only the surviving
    documents per source. The ``rank ≤ cap`` FILTER (not a projected
    flag) lets Catalyst plan WindowGroupLimit — each map task
    pre-prunes to its local per-source top-``cap`` before the
    shuffle, which is what bounds a crawl-heavy hot domain's exchange
    at cap·n_tasks rows.

    ``caps`` is a per-source quota map — the real
    C4/RefinedWeb shape where crawl-heavy domain classes get smaller
    budgets than curated ones. Sources absent from the map fall back
    to ``default_cap`` (default: ``cap``). The filter is planted as
    ``rank ≤ max(all quotas) AND rank ≤ quota(source)``: the constant
    conjunct is what WindowGroupLimit extracts (plan-pinned — Partial
    + Final with the max bound), so map tasks still pre-prune to the
    LARGEST quota and the exact per-source cut applies after; the
    quota expression itself is a bounded literal CASE chain
    (|caps| entries — a dimension, never corpus data)."""
    if cap < 1:
        raise ValueError(f"cap must be >= 1, got {cap}")
    rn = F.row_number().over(_domain_cap_window())
    if caps is None:
        return (
            docs.withColumn("_rn", rn)
            .filter(F.col("_rn") <= cap)
            .drop("_rn")
        )
    fallback = cap if default_cap is None else default_cap
    if fallback < 1 or any(v < 1 for v in caps.values()):
        raise ValueError("every quota must be >= 1")
    if None in caps:
        raise ValueError(
            "NULL source has no quota semantics — filter NULL-source "
            "rows (or assign them a real source) before capping"
        )
    max_cap = max([fallback, *caps.values()])
    ranked = docs.withColumn("_rn", rn)
    if len(caps) <= DOMAIN_CAP_CASE_MAX:
        # bounded literal CASE chain — fine for dimension-sized maps
        cap_expr = F.lit(fallback)
        for src, k in sorted(caps.items()):
            cap_expr = F.when(F.col("source") == src, F.lit(k)).otherwise(
                cap_expr
            )
        return (
            ranked.filter(
                (F.col("_rn") <= F.lit(max_cap)) & (F.col("_rn") <= cap_expr)
            )
            .drop("_rn")
        )
    # a thousands-entry CASE chain gives O(|caps|)
    # expression DEPTH — Catalyst codegen / analyzer stack blowup and
    # per-row linear evaluation. Above the threshold, ship the map as
    # a broadcast (source, _quota) lookup instead: same max-cap
    # CONSTANT conjunct (that's what WindowGroupLimit extracts, so
    # map-side pre-pruning is unchanged), per-source cut via the
    # joined quota with the fallback for unmapped sources.
    spark = docs.sparkSession
    cap_rows = [(s, int(k)) for s, k in sorted(caps.items())]
    cap_df = local_frame(spark, cap_rows, "source string, _quota int")
    return (
        ranked.filter(F.col("_rn") <= F.lit(max_cap))
        .join(F.broadcast(cap_df), "source", "left")
        .filter(F.col("_rn") <= F.coalesce(F.col("_quota"), F.lit(fallback)))
        .select(*docs.columns)  # USING-join reorders; restore input order
    )


#: Heterogeneous quotas for the registered quota-map query: sources
#: at ODD alphabetical rank get the large budget, even ranks the
#: small one — a deterministic rule both engines derive from the
#: corpus itself, standing in for the per-domain-class budgets a real
#: C4/RefinedWeb mixer configures.
DOMAIN_QUOTA_LARGE = 18
DOMAIN_QUOTA_SMALL = 8


def q_domain_cap_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain cap with a HETEROGENEOUS quota map: surviving (doc_id, source) rows where each source keeps
    at most its OWN budget — :data:`DOMAIN_QUOTA_LARGE` for odd-rank
    source names, :data:`DOMAIN_QUOTA_SMALL` for even — selected in
    the same salted-md5 deterministic order as the global cap.

    The quota dict is built from a bounded collect of DISTINCT
    sources (a dimension — |sources| rows, same class as the engine's
    centroid memos) and fed through ``domain_cap_keep(caps=...)``, so
    the registered query exercises the real dict-parameter API; the
    filter still plans WindowGroupLimit on the max quota
    (plan-pinned in tests/test_round10_ops.py)."""
    # explicit NULL-source contract: a NULL source has no
    # quota semantics — Python sorted() would raise on str/None, and
    # the oracle's JOIN ... USING (source) silently DROPS NULL-source
    # rows while a CASE chain would cap them at the fallback. Filter
    # them on both the distinct collect and the capped frame so the
    # engines stay aligned by construction.
    d = tbl(spark, sf_dir, "documents").filter(F.col("source").isNotNull())
    srcs = sorted(
        r["source"] for r in d.select("source").distinct().collect()
    )
    caps = {
        s: (DOMAIN_QUOTA_LARGE if i % 2 == 0 else DOMAIN_QUOTA_SMALL)
        for i, s in enumerate(srcs)
    }
    return domain_cap_keep(
        d.select("doc_id", "source"),
        caps=caps,
        default_cap=DOMAIN_QUOTA_SMALL,
    ).orderBy("doc_id")


ORACLES_DOMAIN_QUOTA = f"""
    WITH srcs AS (SELECT DISTINCT source FROM documents),
    caps AS (
        SELECT source,
               CASE WHEN row_number() OVER (ORDER BY source) % 2 = 1
                    THEN {DOMAIN_QUOTA_LARGE}
                    ELSE {DOMAIN_QUOTA_SMALL} END AS cap
        FROM srcs
    ), r AS (
        SELECT doc_id, source,
               row_number() OVER (
                   PARTITION BY source
                   ORDER BY md5('domaincap|' || CAST(doc_id AS VARCHAR)),
                            doc_id
               ) AS rn
        FROM documents
    )
    SELECT doc_id, source
    FROM r JOIN caps USING (source)
    WHERE rn <= cap
    ORDER BY doc_id
"""


ORACLES_DOMAIN_CAP = f"""
    SELECT doc_id, source,
           row_number() OVER (
               PARTITION BY source
               ORDER BY md5('domaincap|' || CAST(doc_id AS VARCHAR)),
                        doc_id
           ) <= {DOMAIN_CAP} AS kept
    FROM documents
    ORDER BY doc_id
"""

QUERIES = {
    "domain_cap_sample": q_domain_cap_sample,
    "domain_cap_quota": q_domain_cap_quota,
    "quality_calibration": q_quality_calibration,
    "quality_lr_score": q_quality_lr_score,
    "shard_manifest": q_shard_manifest,
    "source_mix_weights": q_source_mix_weights,
    "token_budget_plan": q_token_budget_plan,
    "weighted_sample": q_weighted_sample,
    "dataset_split": q_dataset_split,
    "split_leakage_audit": q_split_leakage_audit,
    "leakage_safe_split": q_leakage_safe_split,
    "importance_resample": q_importance_resample,
    "pack_sequences": q_pack_sequences,
    "boilerplate_prune": q_boilerplate_prune,
    "heavy_hitters": q_heavy_hitters,
}

def _mix_sql_cte() -> str:
    """per_src -> weighted -> tot CTE chain: the SQL twin of
    :func:`_mix_weighted`, composed by the source_mix_weights AND
    token_budget_plan oracles so the weighting rule has one source."""
    return """per_src AS (
            SELECT source,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(len(string_split(trim(text), ' '))) AS BIGINT)
                       AS total_tokens
            FROM documents GROUP BY source
        ),
        weighted AS (
            SELECT *,
                   CAST(floor(sqrt(CAST(total_tokens AS DOUBLE))) AS BIGINT)
                       AS w
            FROM per_src
        ),
        tot AS (
            SELECT CAST(sum(total_tokens) AS BIGINT) AS all_tokens,
                   CAST(sum(w) AS BIGINT) AS all_w
            FROM weighted
        )"""


def _split_leakage_oracle() -> str:
    # imported lazily to keep module import order flexible; composes
    # the LSH pair CTE and the split rule VERBATIM (see the query)
    from wd2duckdb_spark.functions.dedup import lsh_pairs_sql_cte

    return f"""
        WITH {lsh_pairs_sql_cte()},
        labeled AS (
            SELECT least({split_label_sql("a_id")},
                         {split_label_sql("b_id")}) AS split_a,
                   greatest({split_label_sql("a_id")},
                            {split_label_sql("b_id")}) AS split_b
            FROM pairs
        )
        SELECT split_a, split_b,
               CAST(count(*) AS BIGINT) AS n_pairs,
               split_a <> split_b AS is_cross
        FROM labeled
        GROUP BY split_a, split_b
        ORDER BY split_a, split_b
    """


def _leakage_safe_split_oracle() -> str:
    # the recursive-CC prefix (shared with keep_list/keep_best/
    # cluster_stats) ends in labeled = (doc_id, cluster_id, text);
    # split rule composed verbatim via split_label_sql
    from wd2duckdb_spark.functions.dedup import _cc_sql_prefix

    return f"""
        WITH RECURSIVE {_cc_sql_prefix()}
        SELECT {split_label_sql("cluster_id")} AS split,
               CAST(count(*) AS BIGINT) AS n_docs,
               count(DISTINCT cluster_id) AS n_clusters,
               CAST(sum(CASE WHEN {split_label_sql("cluster_id")}
                             <> {split_label_sql("doc_id")}
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_moved
        FROM labeled
        GROUP BY 1
        ORDER BY 1
    """


ORACLES: dict[str, str] = {
    "domain_cap_sample": ORACLES_DOMAIN_CAP,
    "domain_cap_quota": ORACLES_DOMAIN_QUOTA,
    "split_leakage_audit": _split_leakage_oracle(),
    "leakage_safe_split": _leakage_safe_split_oracle(),
    "quality_calibration": _lr_calibration_oracle(),
    "quality_lr_score": _lr_oracle(),
    "source_mix_weights": f"""
        WITH {_mix_sql_cte()}
        SELECT source, n_docs, total_tokens,
               floor(CAST(total_tokens AS DOUBLE) / all_tokens * 1e6 + 0.5)
                   / 1e6 AS natural_share,
               floor(CAST(w AS DOUBLE) / all_w * 1e6 + 0.5) / 1e6
                   AS mix_share,
               floor((CAST(w AS DOUBLE) / all_w)
                     / (CAST(total_tokens AS DOUBLE) / all_tokens)
                     * 1e6 + 0.5) / 1e6 AS sampling_factor
        FROM weighted CROSS JOIN tot
        ORDER BY source
    """,
    "token_budget_plan": f"""
        WITH {_mix_sql_cte()}
        SELECT source, n_docs,
               total_tokens AS available_tokens,
               w AS weight,
               CAST(({TOKEN_BUDGET} * w) // all_w AS BIGINT) AS alloc_tokens,
               floor(CAST(({TOKEN_BUDGET} * w) // all_w AS DOUBLE)
                     / total_tokens * 1e4 + 0.5) / 1e4 AS epochs
        FROM weighted CROSS JOIN tot
        ORDER BY source
    """,
    "weighted_sample": f"""
        WITH d AS (
            SELECT doc_id, source,
                   len(string_split(trim(text), ' ')) AS n_tokens,
                   -ln((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                            ::BIGINT + 1) / 4294967296.0)
                       / len(string_split(trim(text), ' ')) AS k
            FROM documents
        )
        SELECT doc_id, source, CAST(n_tokens AS INT) AS n_tokens
        FROM (SELECT * FROM d ORDER BY k, doc_id LIMIT {WSAMPLE_K})
        ORDER BY doc_id
    """,
    "shard_manifest": f"""
        WITH d AS (
            SELECT {md5_bucket_sql('doc_id', N_SHARDS)} AS shard,
                   len(string_split(trim(text), ' ')) AS n_tokens,
                   length(text) AS n_chars,
                   ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 9, 8))::BIGINT
                       AS h
            FROM documents
        )
        SELECT shard,
               count(*) AS n_docs,
               CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
               CAST(sum(n_chars) AS BIGINT) AS n_chars,
               CAST(sum(h) AS BIGINT) AS checksum
        FROM d
        GROUP BY shard
        ORDER BY shard
    """,
    "importance_resample": f"""
        WITH d AS (
            SELECT source,
                   len(string_split(trim(text), ' ')) AS n_tokens,
                   CASE WHEN {md5_bucket_sql('doc_id', 10000)} / 10000.0
                             < least(len(string_split(trim(text), ' '))
                                     / 100.0, 1.0)
                        THEN 1 ELSE 0 END AS keep
            FROM documents
        )
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(keep) AS BIGINT) AS n_kept,
               CAST(sum(keep * n_tokens) AS BIGINT) AS kept_tokens,
               floor(sum(keep) / CAST(count(*) AS DOUBLE) * 10000 + 0.5)
                   / 10000 AS accept_rate
        FROM d
        GROUP BY source
        ORDER BY source
    """,
    "dataset_split": f"""
        WITH d AS (
            SELECT doc_id, source,
                   {md5_bucket_sql('doc_id', 100)} AS b,
                   len(string_split(trim(text), ' ')) AS n_tokens
            FROM documents
        ),
        agg AS (
            SELECT CASE WHEN b < 90 THEN 'train'
                        WHEN b < 95 THEN 'val'
                        ELSE 'test' END AS split,
                   source,
                   count(*) AS n_docs,
                   sum(n_tokens) AS total_tokens
            FROM d GROUP BY 1, 2
        )
        SELECT split, source,
               CAST(n_docs AS BIGINT) AS n_docs,
               CAST(total_tokens AS BIGINT) AS total_tokens,
               floor(n_docs / CAST(sum(n_docs) OVER (PARTITION BY source)
                                   AS DOUBLE) * 10000 + 0.5) / 10000
                   AS doc_share
        FROM agg
        ORDER BY source, split
    """,
    "pack_sequences": f"""
        WITH d AS (
            SELECT doc_id,
                   {md5_bucket_sql('doc_id', PACK_SHARDS)} AS shard,
                   len(string_split(trim(text), ' ')) AS n_tokens
            FROM documents
        ),
        assigned AS (
            SELECT shard, doc_id, n_tokens,
                   CAST(floor(COALESCE(sum(n_tokens) OVER (
                       PARTITION BY shard ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), 0) / {PACK_CAPACITY}.0) AS BIGINT) AS window_id
            FROM d
        )
        SELECT shard, window_id,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_tokens) AS BIGINT) AS window_tokens,
               CAST(min(doc_id) AS BIGINT) AS first_doc,
               floor(sum(n_tokens) / {PACK_CAPACITY}.0 * 10000 + 0.5) / 10000
                   AS fill_ratio
        FROM assigned
        GROUP BY 1, 2
        ORDER BY 1, 2
    """,
    "boilerplate_prune": f"""
        WITH words AS (
            SELECT doc_id,
                   unnest(string_split(lower(trim(text)), ' ')) AS word
            FROM documents
        ),
        dfc AS (
            SELECT word, count(DISTINCT doc_id) AS d FROM words GROUP BY 1
        ),
        hi AS (
            SELECT COALESCE(list(word ORDER BY word), []) AS hiwords
            FROM dfc
            WHERE CAST(d AS DOUBLE) / (SELECT count(*) FROM documents)
                  > {BOILERPLATE_DF}
        ),
        pruned AS (
            SELECT doc_id, tk,
                   list_filter(tk, x -> NOT list_contains(hi.hiwords, x))
                       AS kept
            FROM (SELECT doc_id, string_split(lower(trim(text)), ' ') AS tk
                  FROM documents), hi
        )
        SELECT doc_id,
               CAST(len(tk) AS INT) AS n_before,
               CAST(len(kept) AS INT) AS n_after,
               -- DuckDB array_to_string([]) is NULL, Spark array_join
               -- ([]) is '' — coalesce so a fully-pruned doc hashes
               -- identically in both engines
               md5(COALESCE(array_to_string(kept, ' '), '')) AS cleaned_fp
        FROM pruned
        ORDER BY doc_id
    """,
    "heavy_hitters": f"""
        WITH words AS (
            SELECT unnest(string_split(lower(trim(text)), ' ')) AS word
            FROM documents
        ),
        c AS (
            SELECT word, count(*) AS cnt FROM words GROUP BY 1
        ),
        t AS (SELECT sum(cnt) AS total FROM c)
        SELECT word,
               CAST(cnt AS BIGINT) AS cnt,
               floor(cnt / CAST(t.total AS DOUBLE) * 10000 + 0.5) / 10000
                   AS share
        FROM c, t
        WHERE cnt >= {HEAVY_SUPPORT} * t.total
        ORDER BY cnt DESC, word
        LIMIT 20
    """,
}
