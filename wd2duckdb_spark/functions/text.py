"""Text-analysis operators for LLM-data pipelines (north-star
extensions, BASELINE.json): language-ID, quality scoring, token
statistics, document fingerprinting.

All operators are pure Column expressions over the ``documents`` table —
they run inside whole-stage codegen and scale linearly with no shuffle
except the final aggregations. At 100 TB these are the cheapest class
of operator in the engine: scan-bound, trivially partition-parallel.
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

#: Tiny high-frequency English function-word set for the n-gram/stopword
#: language heuristic. Deliberately small + deterministic — this is the
#: public-knowledge "stopword ratio" heuristic, not a trained model.
EN_STOPWORDS = ("the", "and", "of", "to", "in", "a", "is", "that")


#: Unicode-aware token class: letter / combining
#: mark / digit runs. One-letter general categories (\p{L}, \p{M},
#: \p{N}) parse identically in Java regex (Spark) and RE2 (DuckDB's
#: regexp_* functions), so oracles stay exact. \p{M} keeps combining
#: diacritics attached to their base letter (decomposed "café" stays
#: ONE token — a bare \p{L} class would split at the combining acute);
#: punctuation — including CJK ideographic 、。 (\p{P}) — delimits, so
#: a space-less CJK sentence tokenizes per punctuation-bounded run
#: instead of collapsing to one whole-line token like whitespace
#: split does (the planted-fixture test pins exactly this failure).
UNICODE_TOKEN_RE = r"[\p{L}\p{M}\p{N}]+"


def tokens(text: Column, tokenizer: str = "whitespace") -> Column:
    """Token array of ``text`` under the selected tokenizer — the
    engine-wide tokenizer seam. ``whitespace`` (default — every
    registered oracle-pinned query keeps it, so hashes are stable) is
    the ASCII-centric split the reference-era pipeline used;
    ``unicode`` extracts :data:`UNICODE_TOKEN_RE` runs and is the
    right choice for multilingual corpora (CJK has no spaces;
    combining-character text breaks ASCII classes). Both lowercase
    first, and both are pure JVM-side expressions (zero UDFs)."""
    if tokenizer == "whitespace":
        return F.split(F.lower(F.trim(text)), " ")
    if tokenizer == "unicode":
        return F.regexp_extract_all(
            F.lower(text), F.lit(UNICODE_TOKEN_RE), F.lit(0)
        )
    raise ValueError(f"unknown tokenizer {tokenizer!r}")


def token_count(text: Column, tokenizer: str = "whitespace") -> Column:
    """Token count (int) under the selected tokenizer (default:
    whitespace — the oracle-stable legacy behavior)."""
    if tokenizer == "whitespace":
        return F.size(F.split(F.trim(text), " "))
    return F.size(tokens(text, tokenizer))


def non_alnum_ratio(text: Column) -> Column:
    """Share of characters outside [A-Za-z0-9 ] — the punctuation/noise
    quality signal (shared by q_text_quality and the cleaning pipeline)."""
    return F.length(F.regexp_replace(text, "[A-Za-z0-9 ]", "")) / F.length(text)


def _stopword_hits_sql() -> str:
    """The EN_STOPWORDS hit-count as a DuckDB SQL expression — single
    source for every oracle that filters or scores by stopword hits."""
    return "(" + " + ".join(
        f"CASE WHEN contains(' ' || lower(text) || ' ', ' {w} ')"
        " THEN 1 ELSE 0 END"
        for w in EN_STOPWORDS
    ) + ")"


def en_stopword_hits(text: Column) -> Column:
    """How many distinct EN stopwords appear as whole tokens."""
    padded = F.concat(F.lit(" "), F.lower(text), F.lit(" "))
    hits = [
        F.when(padded.contains(f" {w} "), 1).otherwise(0) for w in EN_STOPWORDS
    ]
    out = hits[0]
    for h in hits[1:]:
        out = out + h
    return out


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-hit language heuristic: ≥2 distinct EN function words →
    'en'. Returns prediction next to the gold ``lang`` column."""
    d = tbl(spark, sf_dir, "documents")
    pred = F.when(en_stopword_hits(F.col("text")) >= 2, "en").otherwise("other")
    return d.select(
        "doc_id",
        "lang",
        pred.alias("lang_pred"),
        en_stopword_hits(F.col("text")).alias("en_hits"),
    ).orderBy("doc_id")


def q_lang_id_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID quality eval: the confusion matrix of the
    stopword-heuristic prediction against the stored gold ``lang``
    label — one row per (gold, predicted) cell with its doc count and
    its share of the gold class (so the diagonal cells read as
    per-class recall). The eval-tier twin of :func:`q_lang_id`: a
    pipeline promoting a cheap classifier to a corpus filter measures
    it against labeled data first, exactly like bm25_eval measures the
    retrieval scorer and ann_recall_eval the ANN index.

    Plan: the per-doc prediction never leaves the scan stage — one
    map-side-combined groupBy collapses the corpus to ≤ |langs|×2
    cells, and the share window runs on that tiny matrix. Composes
    :func:`q_lang_id` verbatim (same heuristic, same threshold); the
    oracle reuses the lang_id oracle's stopword SQL, so classifier and
    eval cannot drift. Gold-NULL docs form their own row in both
    engines; ordering is NULLS LAST on both sides."""
    p = q_lang_id(spark, sf_dir).select("lang", "lang_pred")
    m = p.groupBy("lang", "lang_pred").agg(F.count("*").alias("n_docs"))
    w = Window.partitionBy("lang")
    return (
        m.withColumn(
            "share_of_lang",
            half_up(F.col("n_docs") / F.sum("n_docs").over(w), 4),
        )
        .orderBy(F.asc_nulls_last("lang"), "lang_pred")
    )


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-scoring features: length, token count, mean token length,
    non-alnum ratio — the standard pre-training filter signals."""
    d = tbl(spark, sf_dir, "documents")
    text = F.col("text")
    n_chars = F.length(text)
    n_tokens = token_count(text)
    compact = F.replace(text, F.lit(" "), F.lit(""))
    return d.select(
        "doc_id",
        n_chars.alias("n_chars"),
        n_tokens.alias("n_tokens"),
        F.round(F.length(compact) / n_tokens, 4).alias("avg_token_len"),
        F.round(non_alnum_ratio(text), 4).alias("non_alnum_ratio"),
    ).orderBy("doc_id")


def q_token_stats_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus token accounting per source — the budget query every
    training-data pipeline runs."""
    d = tbl(spark, sf_dir, "documents")
    n_tokens = token_count(F.col("text"))
    return (
        d.groupBy("source")
        .agg(
            F.sum(n_tokens).alias("total_tokens"),
            F.round(F.avg(n_tokens), 2).alias("avg_tokens"),
            F.max(n_tokens).alias("max_tokens"),
            F.count("*").alias("n_docs"),
        )
        .orderBy("source")
    )


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content fingerprint: md5 of the normalized text (lower+trim) —
    the exact-dup key. Deterministic across engines."""
    d = tbl(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.md5(F.lower(F.trim(F.col("text")))).alias("fingerprint"),
    ).orderBy("doc_id")


#: BPE-ish tokenizer regex: alphanumeric runs OR single non-space
#: symbols — the standard pre-BPE word/punct split. ``\x0B`` is listed
#: explicitly because Java's ``\s`` includes vertical tab and RE2's
#: does not; with it, the excluded class is identical in both engines.
BPE_TOKEN_RE = r"[A-Za-z0-9]+|[^A-Za-z0-9\s\x0B]"

#: Rolling-hash parameters (Rabin-Karp polynomial fold).
RH_BASE = 131
RH_MOD = 2147483647  # 2^31-1; acc*131+2^32 stays far inside int64


def q_token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting, both ways (north-star text-analysis row):
    whitespace tokens vs a BPE-ish regex token estimate, plus the
    punct-token surplus — the pre-training cost-estimate signals."""
    d = tbl(spark, sf_dir, "documents")
    ws = token_count(F.col("text"))
    # pattern passed as data (lit), not spliced into SQL — no escaping
    bpe = F.regexp_count("text", F.lit(BPE_TOKEN_RE))
    return d.select(
        "doc_id",
        ws.alias("ws_tokens"),
        bpe.alias("bpe_tokens"),
        (bpe - ws).alias("punct_surplus"),
    ).orderBy("doc_id")


def q_token_stats_unicode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Unicode tokenizer seam, oracle-exact:
    per-doc token counts under BOTH tokenizers plus the unicode
    distinct-token count. On ASCII fixtures the two mostly agree
    (punctuation splits differ); on CJK/diacritics corpora the
    whitespace column degrades to whole-line tokens while the unicode
    column stays correct — the planted-fixture test in
    tests/test_round11_ops.py pins that divergence. Pure per-row
    expressions: one scan, no shuffle, no UDF."""
    d = tbl(spark, sf_dir, "documents")
    uni = tokens(F.col("text"), "unicode")
    return d.select(
        "doc_id",
        token_count(F.col("text")).alias("ws_tokens"),
        F.size(uni).alias("uni_tokens"),
        F.size(F.array_distinct(uni)).alias("uni_distinct"),
    ).orderBy("doc_id")


def q_rolling_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sensitive document fingerprint: Rabin-Karp polynomial fold
    over the token stream, ``h = (h*B + md5_32(tok)) mod M``. Unlike
    the md5 content key (q_doc_fingerprint), equal token MULTISETS in
    different order fingerprint differently — the shape a rolling-hash
    shingle fingerprint needs. Pure sequential fold per row: one scan,
    no shuffle, identical arithmetic on both engines."""
    d = tbl(spark, sf_dir, "documents")
    fold = F.expr(
        "aggregate("
        "  transform(split(lower(trim(text)), ' '),"
        "            t -> cast(conv(substr(md5(t), 1, 8), 16, 10) as bigint)),"
        "  cast(0 as bigint),"
        f"  (acc, x) -> (acc * {RH_BASE} + x) % {RH_MOD})"
    )
    return d.select("doc_id", fold.alias("rolling_hash")).orderBy("doc_id")


def q_clean_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed training-data cleaning pipeline — the end-to-end
    reason this engine exists: language filter (≥2 EN stopword hits) →
    quality thresholds (≥20 tokens, non-alnum ratio < 0.1) → exact
    dedup (keep min doc_id per normalized content) → per-source
    accounting of the surviving corpus.

    One narrow filter chain into one dedup shuffle into one tiny agg —
    at 100 TB the only data movement is the md5-key dedup exchange."""
    d = tbl(spark, sf_dir, "documents")
    text = F.col("text")
    n_tokens = token_count(text)
    filtered = d.filter(
        (en_stopword_hits(text) >= 2)
        & (n_tokens >= 20)
        & (non_alnum_ratio(text) < 0.1)
    )
    kept = (
        filtered.withColumn("n_tokens", n_tokens)
        .groupBy(F.md5(F.lower(F.trim(text))).alias("content_key"))
        .agg(
            F.min("doc_id").alias("doc_id"),
            # deterministic representative: the kept (min-id) doc's
            # attributes, matching the oracle's arg_min
            F.expr("min_by(source, doc_id)").alias("source"),
            F.expr("min_by(n_tokens, doc_id)").alias("n_tokens"),
        )
    )
    return (
        kept.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
        )
        .orderBy("source")
    )


def q_word_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition quality signals (the Gopher-style filters): per-doc
    duplicate-word fraction and top-word fraction.

    Plan: explode → count per (doc, word) → per-doc reduce. The
    shuffle key is (doc_id, word) — cardinality-bounded by corpus
    vocabulary × docs, and the second aggregate reuses the same
    hash partitioning on doc_id's prefix. No per-doc collect anywhere.
    """
    # round-robin repartition: the corpus arrives as ONE input split,
    # and AQE's bytes-based sizing would leave the CPU-bound tokenize +
    # explode on a single core (same trap as q_explode_words); skipped
    # when the scan is already multi-split (catalog.spread)
    d = spread(
        tbl(spark, sf_dir, "documents"),
        scan_parts=scan_partitions(spark, sf_dir, "documents"),
    )
    words = d.select(
        "doc_id",
        F.explode(F.split(F.lower(F.trim("text")), " ")).alias("word"),
    )
    counts = words.groupBy("doc_id", "word").agg(F.count("*").alias("cnt"))
    return (
        counts.groupBy("doc_id")
        .agg(
            F.sum("cnt").alias("n_tokens"),
            F.count("*").alias("n_distinct"),
            F.max("cnt").alias("top_cnt"),
        )
        .select(
            "doc_id",
            F.col("n_tokens").cast("int").alias("n_tokens"),
            F.round(1 - F.col("n_distinct") / F.col("n_tokens"), 4).alias(
                "dup_word_ratio"
            ),
            F.round(F.col("top_cnt") / F.col("n_tokens"), 4).alias(
                "top_word_ratio"
            ),
        )
        .orderBy("doc_id")
    )


#: Chunk width (tokens) for cross-corpus segment dedup.
CHUNK_TOKENS = 10


def q_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-corpus segment-level dedup: split every document into
    non-overlapping 10-token chunks, find chunks whose exact text
    occurs earlier in the corpus (keeper = lowest (doc_id, position)),
    and report per-doc contamination counts.

    This is the paragraph-dedup shape (dedup below document
    granularity). Plan: narrow chunk fan-out (no shuffle) → ONE
    exchange on the chunk string for the keeper argmin → broadcast-able
    join back → per-doc agg. The keeper ordinal is doc_id*1e6+pos so
    the argmin is a plain numeric min (same trick in the oracle).
    """
    # spread the CPU-bound chunk fan-out across cores (single-split input)
    d = spread(
        tbl(spark, sf_dir, "documents"),
        scan_parts=scan_partitions(spark, sf_dir, "documents"),
    )
    toks = F.split(F.lower(F.trim("text")), " ")
    n_chunks = F.ceil(F.size(toks) / float(CHUNK_TOKENS)).cast("int")
    chunks_arr = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.array_join(
            F.slice(toks, i * CHUNK_TOKENS + 1, CHUNK_TOKENS), " "
        ),
    )
    occ = (
        d.select("doc_id", F.posexplode(chunks_arr).alias("pos", "chunk"))
        .withColumn("occ_key", F.col("doc_id") * 1000000 + F.col("pos"))
        # one hash(chunk) exchange serves BOTH the keeper argmin and
        # the join back (co-partitioned — guide §2.4), and the chunk
        # fan-out is computed once into the persisted frame instead of
        # once per branch; an AQE broadcast of the corpus-LINEAR
        # distinct-chunk table on the keeper side is fine at fixture
        # scale, the wrong shape at 100 TB. The persist is armed per
        # invocation, not memoized per session.
        .repartition("chunk")
        .persist()
    )
    keeper = occ.groupBy("chunk").agg(F.min("occ_key").alias("keeper_key"))
    return (
        occ.join(keeper, "chunk")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_chunks"),
            F.sum(
                (F.col("occ_key") != F.col("keeper_key")).cast("long")
            ).alias("n_dup_chunks"),
        )
        .orderBy("doc_id")
    )


def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source characteristic terms: TF-IDF over source-level
    pseudo-documents, top-5 terms per source.

    tf = term count within the source; idf = ln(#sources / #sources
    containing the term). Plan: explode → (source, word) counts → word
    document-frequency (tiny, broadcast back) → per-source top-k via
    window. The vocabulary table is the only thing that moves twice,
    and it is bounded by |vocab|, not corpus size.
    """
    d = tbl(spark, sf_dir, "documents")
    words = spread(
        d, scan_parts=scan_partitions(spark, sf_dir, "documents")
    ).select(
        "source",
        F.explode(F.split(F.lower(F.trim("text")), " ")).alias("word"),
    )
    tf = words.groupBy("source", "word").agg(F.count("*").alias("tf"))
    df = tf.groupBy("word").agg(F.count("*").alias("df"))
    n_src = d.agg(F.countDistinct("source").alias("n_src"))  # 1-row, broadcast
    scored = (
        # df is the per-word document frequency — VOCABULARY-scale
        # (Heaps' law: grows with the corpus), so never force-broadcast
        tf.join(df, "word")
        .crossJoin(F.broadcast(n_src))
        .withColumn(
            "score",
            F.col("tf") * F.log(F.col("n_src").cast("double") / F.col("df")),
        )
    )
    w = Window.partitionBy("source").orderBy(F.desc("score"), F.col("word"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 5)
        .select(
            "source",
            F.col("rnk").cast("int").alias("rnk"),
            "word",
            F.col("tf").cast("long").alias("tf"),
            F.col("df").cast("long").alias("df"),
            F.round("score", 4).alias("tfidf"),
        )
        .orderBy("source", "rnk")
    )




#: Fixed BM25 query-term set (alphabetical — the per-doc score is
#: folded in this order so float addition order is engine-identical).
#: Drawn from the synthetic generator's core vocabulary so every
#: fixture SF matches; :func:`bm25_scored` is the parameterized scorer
#: a production caller feeds its own term list.
BM25_TERMS = ("merge", "scan", "window")
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOPK = 10

#: Fixed retrieval-eval query set (each sorted alphabetically — the
#: fold-order contract of bm25_scored). Two common-term queries and
#: one with a rare term ('dup', df ≈ 5% of docs) so the eval exercises
#: both idf regimes; every query has all-terms-present (relevant) docs
#: at all three fixture SFs.
BM25_EVAL_QUERIES = (("dup", "scan"), ("hash", "join"), ("merge", "sort"))


def _bm25_tf(toks: Column, term: str) -> Column:
    # NOTE: F.filter dispatches on lambda ARITY (two params means
    # (element, index)) — close over the term via a def, never a
    # default-arg lambda
    return F.size(F.filter(toks, lambda x: x == F.lit(term)))


def _bm25_contrib(term: str) -> Column:
    """One term's floor6-snapped BM25 contribution, as an expression
    over the shared ``tf_<term>`` / ``df_<term>`` / ``dl`` / ``avgdl``
    / ``n_docs`` columns — the single Spark-side source of the BM25
    arithmetic (the SQL twin is :func:`_bm25_sql_contrib`)."""
    tf = F.col(f"tf_{term}")
    idf = half_up(
        F.log(
            (F.col("n_docs") - F.col(f"df_{term}") + F.lit(0.5))
            / (F.col(f"df_{term}") + F.lit(0.5))
            + F.lit(1.0)
        ),
        6,
    )
    return half_up(
        idf
        * (tf * F.lit(BM25_K1 + 1.0))
        / (
            tf
            + F.lit(BM25_K1)
            * (
                F.lit(1.0)
                - F.lit(BM25_B)
                + F.lit(BM25_B) * F.col("dl") / F.col("avgdl")
            )
        ),
        6,
    )


def _bm25_tfs(docs: DataFrame, all_terms: tuple[str, ...]) -> DataFrame:
    """The narrow (doc_id, dl, tf_<term>...) frame of
    :func:`_bm25_base` — one vectorized corpus scan, no shuffle."""
    d = docs.filter(F.col("text").isNotNull())
    toks = F.split(F.lower(F.trim("text")), " ")
    return d.select(
        "doc_id",
        F.size(toks).alias("dl"),
        *[_bm25_tf(toks, t).alias(f"tf_{t}") for t in all_terms],
    )


def _bm25_base(
    docs: DataFrame,
    all_terms: tuple[str, ...],
    persist: bool = False,
) -> DataFrame:
    """Shared two-scan BM25 base: per-doc ``tf_<term>`` columns plus
    the ONE broadcast stats row (n_docs, avgdl, df per term) — exactly
    two corpus scans and zero wide shuffles regardless of how many
    queries consume it. ``persist=True`` caches the (narrow: doc_id,
    dl, k tf columns) tf frame so a MULTI-BRANCH consumer (bm25_eval's
    aggregate passes) tokenizes the corpus once instead of once per
    branch — the same documented optimizer-barrier persist() pattern
    as ngram_decontaminate/jaccard_prefix_join, armed per invocation.
    It is not memoized per session: that would only exclude the
    tokenize pass from warm benchmark reps, and a cross-caller cache
    keyed without the ``docs`` frame could serve one caller's tf rows
    to another's filtered docs."""
    tfs = _bm25_tfs(docs, all_terms)
    if persist:
        tfs = tfs.persist()
    stats = tfs.agg(
        F.count("*").alias("n_docs"),
        half_up(F.avg("dl"), 6).alias("avgdl"),
        *[
            F.sum((F.col(f"tf_{t}") > 0).cast("long")).alias(f"df_{t}")
            for t in all_terms
        ],
    )
    return tfs.crossJoin(F.broadcast(stats))


def _bm25_query_cols(terms: tuple[str, ...]) -> tuple[Column, Column]:
    """(n_terms, floor4 score) for one query over the shared base —
    contributions folded in the tuple's (sorted) order."""
    total = F.lit(0.0)
    n_terms = F.lit(0)
    for t in terms:
        tf = F.col(f"tf_{t}")
        total = total + F.when(tf > 0, _bm25_contrib(t)).otherwise(F.lit(0.0))
        n_terms = n_terms + (tf > 0).cast("int")
    score = half_up(total, 4)
    return n_terms, score


def bm25_scored(docs: DataFrame, terms) -> DataFrame:
    """Parameterized BM25 scorer: score every doc
    of ``docs`` matching ≥1 of ``terms`` against the query, returning
    ``(doc_id, n_terms, score)`` unranked — callers add their own
    top-k / threshold. Lucene idf form (always positive); score is
    floor4 of floor6-snapped per-term contributions folded in sorted
    term order, so results are engine-deterministic (see q_bm25_topk
    for the full contract). Terms are deduplicated and sorted.

    Exactly two corpus scans, zero wide shuffles, no caching: a
    per-session tf-frame cache keyed without ``docs`` would let a
    caller passing a filtered frame silently read another caller's
    cached tf rows.

    Terms must match ``^[a-z0-9_]+$``: they are spliced
    into derived column names and a filter expression, so a space,
    quote, hyphen, uppercase, or other non-identifier character would
    mis-parse or silently never match (documents are lowercased before
    tokenizing) — rejected loudly instead."""
    import re

    terms = tuple(sorted(set(terms)))
    if not terms:
        raise ValueError("bm25_scored: empty query-term list")
    bad = [t for t in terms if not re.fullmatch(r"[a-z0-9_]+", str(t))]
    if bad:
        raise ValueError(
            "bm25_scored: query terms must match ^[a-z0-9_]+$ "
            f"(lowercased identifiers): {bad!r}"
        )
    base = _bm25_base(docs, terms)
    n_terms, score = _bm25_query_cols(terms)
    return base.filter(
        " OR ".join(f"tf_{t} > 0" for t in terms)
    ).select("doc_id", n_terms.alias("n_terms"), score.alias("score"))


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 retrieval over the corpus for a fixed query-term set —
    the canonical lexical-search scorer (Robertson/Sparck Jones; the
    Lucene ``(N - df + 0.5)/(df + 0.5) + 1`` idf form so it is always
    positive), returning the top-``BM25_TOPK`` docs. This is the
    text-side sibling of the ANN tier: a training-data pipeline uses
    it for targeted corpus retrieval (find docs about X), relevance
    labeling, and search-quality evals (:func:`q_bm25_eval`).

    Plan shape (the 100 TB posture): EXPLODE-FREE — per-term tf is a
    vectorized ``size(filter(tokens, = term))`` column, so the whole
    query is exactly TWO corpus scans and ZERO wide shuffles: scan 1
    folds (N, avgdl, df per term) into ONE map-side-combinable 1-row
    aggregate; scan 2 scores matched docs against that broadcast row
    and feeds ``orderBy().limit()`` → TakeOrderedAndProject
    (per-partition heaps, no full sort, no groupBy). The naive
    explode→groupBy(word) formulation was measured at 3 scans + 4
    hash exchanges, and its word-keyed stages shuffle all matched
    rows onto K partitions — a built-in skew at corpus scale.

    Cross-engine determinism (the repo's floor-normalization
    contract): avgdl and idf are floor6-snapped after the division/
    ``ln`` (libm-vs-JVM last-ulp guard), each term's contribution is
    floor6-snapped, and the per-doc sum folds the K contributions in
    FIXED alphabetical term order — never a float sum in shuffle
    arrival order. Final score floor4. NULL text is excluded
    symmetrically.
    """
    return (
        bm25_scored(tbl(spark, sf_dir, "documents"), BM25_TERMS)
        .orderBy(F.desc("score"), "doc_id")
        .limit(BM25_TOPK)
    )


def q_bm25_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval-quality eval of the BM25 scorer:
    MRR and precision@10 per eval query against a DERIVABLE relevance
    rule — a doc is relevant to a query iff it contains EVERY query
    term (AND-containment), so ground truth comes from the corpus
    itself, no labels needed. One row per query: matched/relevant doc
    counts, the rank of the first relevant doc, its reciprocal (rr —
    the per-query MRR component) and precision@10.

    Single-pass over the query SET: all queries share one tf frame
    over the union of their terms and ONE broadcast stats row (the
    per-term df/idf values are query-independent); per-doc per-query
    (score, relevance) structs are built in-row and exploded (q rows
    per matched doc — bounded by the query-set size, not the
    vocabulary). Numerics compose :func:`bm25_scored` verbatim (same
    floor6/floor4 snapping, same sorted fold order), and the oracle
    embeds the bm25_topk oracle's arithmetic via the same SQL template
    (:func:`_bm25_sql_scored`), so scorer and eval cannot drift.

    Plan shape (NO per-query global sort): the
    query key has only len(BM25_EVAL_QUERIES) values, so ranking with
    ``row_number() OVER (PARTITION BY query)`` would funnel every
    matched corpus row into that many tasks for a full sort — billions
    of rows per task at 100 TB. Ranks are only ever consumed as
    (a) the rank of the FIRST relevant doc and (b) relevant-in-top-10
    counts, and both reduce to shuffle-free forms:

    - ``first_rel_rank`` = 1 + |{matched docs sorting strictly before
      the best relevant doc}| under (score DESC, doc_id ASC). The best
      relevant doc per query is one map-side-combinable
      ``max(struct(score, -doc_id))`` aggregate; the count-above is a
      second aggregate against that 3-row frame broadcast back. Both
      shuffles move per-partition PARTIAL rows (≤ queries × tasks),
      never corpus rows.
    - ``p@10`` needs only the global top-10 matched docs per query,
      and its window IS rank-limited (``rnk <= 10``), which Spark
      plans as a partial ``WindowGroupLimit`` BELOW the exchange: each
      input partition locally sorts and keeps ≤ 10·|queries| rows, so
      the query-key exchange moves rank-limited candidates, never the
      matched corpus. (An unbounded window — ranks consumed as an
      unfiltered min() — disables this pushdown and forces the full
      per-query sort.)

    The shared tf frame (narrow: doc_id, dl, k tf columns) is
    persist()ed so the corpus is tokenized ONCE and every aggregate
    branch reads the cache (MEMORY_AND_DISK at production scale) —
    without it each branch re-ran the scan+tokenize (measured 2.6 s vs
    1.8 s for the window form at sf0.1; with the cache the aggregate
    form is the faster one as well as the scale-safe one). The
    exploded per-(doc, query) scored frame ``ex`` is persisted too:
    without it passes A/B/C each re-run the explode + K-term scoring
    from the tf cache — three score passes per invocation — so the
    scores are computed once and the three barrier aggregates read the (narrow:
    doc_id, query, score, rel) cache. Both persists are within ONE
    invocation's plan; nothing is cached across invocations. The
    oracle keeps the window formulation — rank semantics are identical
    by the argument above.

    Ties at equal floor4 score break by doc_id in BOTH engines; rr is
    0.0 when a query has no relevant doc (never true on the fixtures).
    A query matching NO docs at all (e.g. an empty corpus — caught by
    the degenerate-corpus sweep) still reports its row: counts 0,
    first_rel_rank NULL, rr/p@10 0.0 — an eval that silently drops
    queries reads as "forgot to run them", not "retrieved nothing".
    """
    qsets = [tuple(sorted(set(q))) for q in BM25_EVAL_QUERIES]
    all_terms = tuple(sorted({t for q in qsets for t in q}))
    base = _bm25_base(
        tbl(spark, sf_dir, "documents"), all_terms, persist=True
    )

    structs = []
    for q in qsets:
        n_terms, score = _bm25_query_cols(q)
        structs.append(
            F.struct(
                F.lit(" ".join(q)).alias("query"),
                score.alias("score"),
                n_terms.alias("nt"),
                (n_terms == len(q)).alias("rel"),
            )
        )
    ex = (
        base.select("doc_id", F.explode(F.array(*structs)).alias("q"))
        .select("doc_id", "q.*")
        .filter(F.col("nt") > 0)
        # score once, aggregate thrice: passes A/B/C below read this
        # materialization instead of re-running the explode + K-term
        # scoring per pass (within-invocation only)
        .persist()
    )

    # pass A: per-query counts + the best relevant doc (max score,
    # min doc_id among ties — struct max with the id negated). One
    # map-side-combined aggregate; max() skips the NULL struct of
    # non-relevant rows, so _best is NULL iff n_relevant = 0.
    bestagg = ex.groupBy("query").agg(
        F.count("*").alias("n_matched"),
        F.sum(F.col("rel").cast("long")).alias("n_relevant"),
        F.max(
            F.when(
                F.col("rel"),
                F.struct(
                    F.col("score").alias("s"),
                    (-F.col("doc_id")).alias("nid"),
                ),
            )
        ).alias("_best"),
    )
    # |queries| rows, consumed TWICE (broadcast into pass B, plain
    # rows in the final join) — two different exchange types, so
    # ReusedExchange never dedupes them and the full explode+score+agg
    # corpus pass ran twice. Materializing the tiny frame once
    # (localCheckpoint — same trade as graph._rcte_edges) removes a
    # whole corpus pass per invocation (guide §2.4/§5); this job also
    # fills the tf-frame persist for passes B and C.
    bestagg = bestagg.localCheckpoint()
    best = bestagg.select(
        "query",
        F.col("_best.s").alias("_bs"),
        (-F.col("_best.nid")).alias("_bd"),
    )
    # pass B: matched docs sorting strictly before the best relevant —
    # score/doc_id are recomputed bit-identically, so the float
    # equality in the tie arm is exact.
    ahead = (
        ex.join(F.broadcast(best), "query")
        .groupBy("query")
        .agg(
            F.sum(
                (
                    (F.col("score") > F.col("_bs"))
                    | (
                        (F.col("score") == F.col("_bs"))
                        & (F.col("doc_id") < F.col("_bd"))
                    )
                ).cast("long")
            ).alias("_ahead")
        )
    )

    # pass C: relevant-in-top-10 via a RANK-LIMITED window — the
    # rnk <= 10 filter makes Spark insert a partial WindowGroupLimit
    # below the exchange (per-partition top-10 heaps, in-JVM), so only
    # ≤ 10·|queries| rows per input partition ever shuffle.
    w = Window.partitionBy("query").orderBy(F.desc("score"), "doc_id")
    hits = (
        ex.select("query", "doc_id", "score", "rel")
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 10)
        .groupBy("query")
        .agg(F.sum(F.col("rel").cast("long")).alias("_hits10"))
    )

    agg = (
        bestagg.join(ahead, "query", "left")
        .join(hits, "query", "left")
        .select(
            "query",
            "n_matched",
            "n_relevant",
            F.when(
                F.col("n_relevant") > 0,
                F.coalesce("_ahead", F.lit(0)) + 1,
            )
            .cast("long")
            .alias("first_rel_rank"),
            "_hits10",
        )
    )
    # LEFT JOIN from the literal query list so zero-match queries keep
    # their row (groupBy alone drops them on an empty/matchless corpus)
    labels = local_frame(
        spark, [(" ".join(q),) for q in qsets], "query string"
    )
    return (
        labels.join(agg, "query", "left")
        .select(
            "query",
            F.coalesce("n_matched", F.lit(0)).alias("n_matched"),
            F.coalesce("n_relevant", F.lit(0)).alias("n_relevant"),
            "first_rel_rank",
            F.coalesce(
                half_up(F.lit(1.0) / F.col("first_rel_rank"), 4), F.lit(0.0)
            ).alias("rr"),
            half_up(F.coalesce("_hits10", F.lit(0)) / F.lit(10.0), 4).alias(
                "p_at_10"
            ),
        )
        .orderBy("query")
    )


#: Sliding-window chunking parameters: 32-token windows advancing by
#: 24 tokens (8-token overlap) — the RAG/context-prep shape where
#: overlap preserves cross-boundary context for retrieval.
RAG_CHUNK_TOKENS = 32
RAG_CHUNK_STRIDE = 24


def q_rag_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking with overlap: split
    every document into ``RAG_CHUNK_TOKENS``-token windows advancing
    by ``RAG_CHUNK_STRIDE`` — the chunk-for-retrieval primitive of a
    RAG / context-window prep pipeline (``chunk_dedup`` uses
    non-overlapping chunks internally for dedup; this one EMITS the
    chunks with provenance: doc_id, chunk_id, start token offset,
    chunk length, text).

    Plan: pure column expressions — tokenize once, compute the chunk
    COUNT per doc, expand starts with an in-row ``transform(sequence)``
    and ``posexplode``; no shuffle at all until the presentation sort
    (a production writer drops the sort and partitions by doc hash).
    Chunk fan-out is bounded by ⌈(n-W)/S⌉+1 per doc — linear in corpus
    tokens, embarrassingly parallel at any scale.

    Chunk-count rule (mirrored verbatim in the oracle): docs with
    ≤ W tokens yield exactly ONE chunk; otherwise ⌈(n-W)/S⌉+1, so the
    final window always reaches the last token and no window starts
    past the end (no empty trailing chunks).
    """
    W, S = RAG_CHUNK_TOKENS, RAG_CHUNK_STRIDE
    d = tbl(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    # spread the CPU-bound fan-out across cores (single-split corpus)
    d = spread(d, scan_parts=scan_partitions(spark, sf_dir, "documents"))
    toks = F.split(F.trim("text"), " ")
    n = F.size(toks)
    n_chunks = F.when(n <= W, F.lit(1)).otherwise(
        F.ceil((n - F.lit(W)) / F.lit(float(S))).cast("int") + F.lit(1)
    )
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.slice(toks, i * S + 1, W),
    )
    return (
        d.select("doc_id", F.posexplode(chunks).alias("chunk_id", "_c"))
        .select(
            "doc_id",
            "chunk_id",
            (F.col("chunk_id") * S).alias("start_tok"),
            F.size("_c").alias("n_tok"),
            F.array_join("_c", " ").alias("chunk_text"),
        )
        .orderBy("doc_id", "chunk_id")
    )


def q_vocab_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source vocabulary statistics: Shannon entropy of the word
    frequency distribution, vocabulary size, and type-token ratio —
    the corpus-diversity signals of a training-data audit (low entropy
    = templated/boilerplate-heavy source).

    H = -Σ p·log2(p) over per-source word frequencies; computed as
    log2(N) - Σ n·log2(n) / N so ONE aggregate over word counts
    suffices (no per-word p column, no second pass over tokens).
    """
    # round-robin repartition: single-split corpus + CPU-bound tokenize
    # (same trap documented at q_word_repetition)
    d = spread(
        tbl(spark, sf_dir, "documents"),
        scan_parts=scan_partitions(spark, sf_dir, "documents"),
    )
    words = d.select(
        "source",
        F.explode(F.split(F.lower(F.trim("text")), " ")).alias("word"),
    ).filter(F.col("word") != "")
    counts = words.groupBy("source", "word").agg(F.count("*").alias("n"))
    return (
        counts.groupBy("source")
        .agg(
            F.sum("n").alias("n_tokens"),
            F.count("*").alias("vocab"),
            # per-word n·log2(n) in integer 1e-12 micro-units via an
            # exact decimal product: snap the BOUNDED factor log2(n)
            # (< 64, so log2(n)·1e12 < 6.4e13 — exactly representable
            # in a double AND far from the 2^63 long clamp) and
            # multiply by n as decimal(38,0). Snapping the PRODUCT
            # would floor a long that clamps at 2^63 for any word with
            # n ≳ 4.4e5 while DuckDB's HUGEINT doesn't; this form has
            # no long intermediate at any corpus size, and stays
            # order-free (an exact integer sum in any order).
            F.sum(
                F.col("n").cast("decimal(19,0)")
                * F.floor(F.log2("n") * 1e12 + F.lit(0.5)).cast(
                    "decimal(19,0)"
                )
            ).cast("decimal(38,0)").alias("_nlogn_micro"),
        )
        .select(
            "source",
            "n_tokens",
            "vocab",
            # floor-normalized, not round(): division-derived doubles
            # can land on exact decimal ties where Spark and DuckDB
            # round() disagree (PLANS.md "rounding ties")
            half_up(
                F.log2("n_tokens")
                - F.col("_nlogn_micro").cast("double")
                / 1e12
                / F.col("n_tokens"),
                4,
            ).alias("entropy_bits"),
            half_up(F.col("vocab") / F.col("n_tokens"), 4).alias(
                "type_token_ratio"
            ),
        )
        .orderBy("source")
    )


ORACLES: dict[str, str] = {
    "vocab_entropy": """
        WITH words AS (
            SELECT source, unnest(string_split(lower(trim(text)), ' ')) AS word
            FROM documents
        ), counts AS (
            SELECT source, word, count(*) AS n
            FROM words WHERE word <> '' GROUP BY 1, 2
        )
        SELECT source,
               sum(n) AS n_tokens,
               count(*) AS vocab,
               floor((log2(sum(n))
                      - CAST(sum(CAST(n AS HUGEINT)
                                 * CAST(floor(log2(n) * 1e12 + 0.5)
                                        AS HUGEINT)) AS DOUBLE)
                        / 1e12 / sum(n))
                     * 10000 + 0.5) / 10000 AS entropy_bits,
               floor(CAST(count(*) AS DOUBLE) / sum(n)
                     * 10000 + 0.5) / 10000 AS type_token_ratio
        FROM counts GROUP BY source ORDER BY source
    """,

    "clean_corpus_pipeline": f"""
        WITH filtered AS (
            SELECT doc_id, source, text,
                   len(string_split(trim(text), ' ')) AS n_tokens
            FROM documents
            WHERE {_stopword_hits_sql()} >= 2
              AND len(string_split(trim(text), ' ')) >= 20
              AND CAST(length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g'))
                       AS DOUBLE) / length(text) < 0.1
        ),
        kept AS (
            SELECT min(doc_id) AS doc_id,
                   arg_min(source, doc_id) AS source,
                   arg_min(n_tokens, doc_id) AS n_tokens
            FROM filtered
            GROUP BY md5(lower(trim(text)))
        )
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_tokens) AS BIGINT) AS total_tokens
        FROM kept
        GROUP BY source
        ORDER BY source
    """,
    "token_count_bpe": f"""
        SELECT doc_id,
               CAST(len(string_split(trim(text), ' ')) AS INT) AS ws_tokens,
               CAST(len(regexp_extract_all(text, '{BPE_TOKEN_RE}')) AS INT)
                   AS bpe_tokens,
               CAST(len(regexp_extract_all(text, '{BPE_TOKEN_RE}'))
                    - len(string_split(trim(text), ' ')) AS INT)
                   AS punct_surplus
        FROM documents
        ORDER BY doc_id
    """,
    "rolling_fingerprint": f"""
        SELECT doc_id,
               list_reduce(
                   [CAST(0 AS BIGINT)] ||
                   list_transform(string_split(lower(trim(text)), ' '),
                       t -> ('0x' || substr(md5(t), 1, 8))::BIGINT),
                   (acc, x) -> (acc * {RH_BASE} + x) % {RH_MOD}
               ) AS rolling_hash
        FROM documents
        ORDER BY doc_id
    """,
    "lang_id": f"""
        WITH hits AS (
            SELECT doc_id, lang,
                   {_stopword_hits_sql()} AS en_hits
            FROM documents
        )
        SELECT doc_id, lang,
               CASE WHEN en_hits >= 2 THEN 'en' ELSE 'other' END AS lang_pred,
               CAST(en_hits AS INT) AS en_hits
        FROM hits
        ORDER BY doc_id
    """,
    "lang_id_eval": f"""
        WITH hits AS (
            SELECT lang, {_stopword_hits_sql()} AS en_hits
            FROM documents
        ),
        pred AS (
            SELECT lang,
                   CASE WHEN en_hits >= 2 THEN 'en' ELSE 'other' END
                       AS lang_pred
            FROM hits
        ),
        m AS (
            SELECT lang, lang_pred, CAST(count(*) AS BIGINT) AS n_docs
            FROM pred GROUP BY lang, lang_pred
        )
        SELECT lang, lang_pred, n_docs,
               floor(CAST(n_docs AS DOUBLE)
                     / sum(n_docs) OVER (PARTITION BY lang)
                     * 1e4 + 0.5) / 1e4 AS share_of_lang
        FROM m
        ORDER BY lang NULLS LAST, lang_pred
    """,
    "text_quality": """
        SELECT doc_id,
               CAST(length(text) AS INT) AS n_chars,
               CAST(len(string_split(trim(text), ' ')) AS INT) AS n_tokens,
               round(CAST(length(replace(text, ' ', '')) AS DOUBLE)
                     / len(string_split(trim(text), ' ')), 4) AS avg_token_len,
               round(CAST(length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g'))
                     AS DOUBLE) / length(text), 4) AS non_alnum_ratio
        FROM documents
        ORDER BY doc_id
    """,
    "token_stats_by_source": """
        SELECT source,
               CAST(sum(len(string_split(trim(text), ' '))) AS BIGINT)
                   AS total_tokens,
               round(avg(len(string_split(trim(text), ' '))), 2) AS avg_tokens,
               CAST(max(len(string_split(trim(text), ' '))) AS INT) AS max_tokens,
               CAST(count(*) AS BIGINT) AS n_docs
        FROM documents
        GROUP BY source
        ORDER BY source
    """,
    "doc_fingerprint": """
        SELECT doc_id, md5(lower(trim(text))) AS fingerprint
        FROM documents
        ORDER BY doc_id
    """,
    "word_repetition": """
        WITH counts AS (
            SELECT doc_id, w AS word, count(*) AS cnt
            FROM documents,
                 UNNEST(string_split(lower(trim(text)), ' ')) AS t(w)
            GROUP BY 1, 2
        )
        SELECT doc_id,
               CAST(sum(cnt) AS INT) AS n_tokens,
               round(1 - CAST(count(*) AS DOUBLE) / sum(cnt), 4)
                   AS dup_word_ratio,
               round(CAST(max(cnt) AS DOUBLE) / sum(cnt), 4)
                   AS top_word_ratio
        FROM counts
        GROUP BY doc_id
        ORDER BY doc_id
    """,
    "chunk_dedup": f"""
        WITH toks AS (
            SELECT doc_id, string_split(lower(trim(text)), ' ') AS tk
            FROM documents
        ),
        occ AS (
            SELECT doc_id,
                   unnest(range(0, CAST(ceil(len(tk) / {CHUNK_TOKENS}.0)
                                        AS BIGINT))) AS pos,
                   tk
            FROM toks
        ),
        keyed AS (
            SELECT doc_id,
                   doc_id * 1000000 + pos AS occ_key,
                   array_to_string(
                       tk[(pos * {CHUNK_TOKENS} + 1):(pos * {CHUNK_TOKENS}
                           + {CHUNK_TOKENS})], ' ') AS chunk
            FROM occ
        ),
        keeper AS (
            SELECT chunk, min(occ_key) AS keeper_key
            FROM keyed GROUP BY chunk
        )
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_chunks,
               CAST(sum(CASE WHEN occ_key != keeper_key THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_dup_chunks
        FROM keyed JOIN keeper USING (chunk)
        GROUP BY doc_id
        ORDER BY doc_id
    """,
    "tfidf_top_terms": """
        WITH words AS (
            SELECT source, w AS word
            FROM documents,
                 UNNEST(string_split(lower(trim(text)), ' ')) AS t(w)
        ),
        tf AS (
            SELECT source, word, count(*) AS tf
            FROM words GROUP BY 1, 2
        ),
        df AS (
            SELECT word, count(*) AS df FROM tf GROUP BY word
        ),
        scored AS (
            SELECT source, word, tf.tf, df.df,
                   tf.tf * ln(CAST((SELECT count(DISTINCT source)
                                    FROM documents) AS DOUBLE) / df.df)
                       AS score
            FROM tf JOIN df USING (word)
        )
        SELECT source, CAST(rnk AS INT) AS rnk, word,
               CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
               round(score, 4) AS tfidf
        FROM (SELECT *, row_number() OVER (PARTITION BY source
                                           ORDER BY score DESC, word) AS rnk
              FROM scored)
        WHERE rnk <= 5
        ORDER BY source, rnk
    """,
}

def q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted index over the corpus: word → document frequency,
    total occurrences, and the sorted posting list of doc_ids — the
    retrieval-side structure a dedup/search pipeline materializes next
    to the corpus (and the relational dual of the reference's
    dst_id secondary index, value.rs:332-350).

    explode → one (word) shuffle; the posting list is built with
    collect_set + array_sort so the aggregation buffer holds each
    doc_id once. At 100 TB posting lists for stopword-grade terms are
    the skew risk — cap them (slice) or shard the hot words with the
    salting pattern in operators/skew.py; the fixture vocabulary is
    bounded so the plain form is exact here.
    """
    d = tbl(spark, sf_dir, "documents")
    words = d.select(
        "doc_id",
        F.explode(F.split(F.lower(F.trim("text")), " ")).alias("word"),
    )
    return (
        words.groupBy("word")
        .agg(
            F.countDistinct("doc_id").alias("df"),
            F.count("*").alias("tf_total"),
            F.array_sort(F.collect_set("doc_id")).alias("postings"),
        )
        .orderBy("word")
    )


#: Redaction patterns (identical Java-regex / RE2 semantics: no
#: lookaround, no backreferences).
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_NUMBER = r"[0-9]+"


def q_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII-style pattern redaction over the event payload column:
    scrub email addresses and digit runs to placeholder tokens and
    report per-event-type match counts plus the surviving template
    cardinality — the pre-training scrubbing pass every text pipeline
    runs, instrumented the way an audit needs it (how much was
    redacted, what shapes remain).

    Pure per-row regexp expressions (JVM codegen, no UDF) feeding one
    partial+final aggregate: at 100 TB this runs at scan speed, and
    the output is bounded by |event types| × |templates|. The
    patterns deliberately use the regex subset with identical
    semantics in Java regex and RE2 (no lookaround/backreferences) so
    the DuckDB oracle runs the same expressions verbatim.
    """
    e = tbl(spark, sf_dir, "events")
    redacted = F.regexp_replace(
        F.regexp_replace("props", F.lit(PII_EMAIL), F.lit("<EMAIL>")),
        F.lit(PII_NUMBER),
        F.lit("<NUM>"),
    )
    return (
        e.select(
            "event_type",
            F.regexp_count("props", F.lit(PII_NUMBER)).alias("nums"),
            F.regexp_count("props", F.lit(PII_EMAIL)).alias("emails"),
            redacted.alias("template"),
        )
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("nums").alias("n_numbers"),
            F.sum("emails").alias("n_emails"),
            F.countDistinct("template").alias("n_templates"),
            F.min("template").alias("sample_template"),
        )
        .orderBy("event_type")
    )


#: Add-k smoothing constant for the bigram LM.
BIGRAM_K = 0.5


def _doc_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``(doc_id, source, bg)``: one row per adjacent word pair of each
    document."""
    d = tbl(spark, sf_dir, "documents")
    toks = F.split(F.lower(F.trim("text")), " ")
    bigrams = F.expr(
        "transform(sequence(1, size(w) - 1),"
        " i -> concat(element_at(w, i), ' ', element_at(w, i + 1)))"
    )
    return (
        d.select("doc_id", "source", toks.alias("w"))
        # sequence(1, 0) would auto-step DOWN ([1, 0]) for single-token
        # docs and element_at(w, 0) throws INVALID_INDEX_OF_ZERO —
        # guard like _with_shingles does; the oracle's range(1, len(w))
        # is empty for the same docs, so both sides drop them.
        .filter(F.size("w") >= 2)
        .select("doc_id", "source", F.explode(bigrams).alias("bg"))
    )


@session_memo
def _bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trained bigram LM table ``(bg, smicro)``: each bigram's
    add-k surprisal −ln P(w₂ | w₁), floor-snapped to integer 1e-12
    micro-units. Persisted once per session: it is trained model state,
    vocabulary²-bounded, deterministic and invocation-invariant, and a
    production pipeline trains once and scores many times."""
    bg_counts = (
        _doc_bigrams(spark, sf_dir).groupBy("bg").agg(F.count("*").alias("c12"))
    )
    uni = bg_counts.select(
        F.split("bg", " ").getItem(0).alias("w1"), "c12"
    ).groupBy("w1").agg(F.sum("c12").alias("c1"))
    vocab = uni.agg(F.count("*").alias("v"))  # 1 row
    return (
        bg_counts.select(
            "bg", F.split("bg", " ").getItem(0).alias("w1"), "c12"
        )
        .join(uni, "w1")
        .crossJoin(F.broadcast(vocab))
        .select(
            "bg",
            F.floor(
                -F.log(
                    (F.col("c12") + F.lit(BIGRAM_K))
                    / (F.col("c1") + F.lit(BIGRAM_K) * F.col("v"))
                )
                * 1e12
                + F.lit(0.5)
            )
            .cast("decimal(38,0)")
            .alias("smicro"),
        )
        .persist()
    )


def doc_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document corpus-trained bigram language-model score
    ``(doc_id, source, doc_surprisal)`` — the perplexity-style quality
    signal of a training-data pipeline, without an external model:
    train bigram/unigram counts on the corpus itself, then score every
    document by its mean token surprisal −ln P(wᵢ | wᵢ₋₁) with add-k
    smoothing. Documents whose word sequences are improbable under the
    corpus's own statistics (boilerplate-free gibberish, wrong-language
    fragments) score high. Shared by :func:`q_bigram_surprisal` and
    :func:`q_perplexity_bucket_sample`; SQL twin
    :func:`_surprisal_sql_cte`.

    Dataflow: bigrams are built array-side (zip of the token array
    with its own shift — no posexplode self-join), then ONE (bigram)
    aggregate trains the LM; the model table is vocabulary²-bounded,
    so it joins back as an ordinary shuffle join (broadcast if the
    vocab is small, as here). Scoring is a second aggregate keyed by
    doc. At 100 TB: identical shape — the LM table is the only reused
    state, and it is data-bounded, not corpus-bounded.

    Determinism: each bigram's surprisal is a
    deterministic double of the integer (c12, c1, v) inputs, but the
    per-doc MEAN used to sum those doubles in engine-specific order —
    so every per-bigram surprisal is floor-snapped to integer 1e-12
    micro-units in the LM table and the per-doc mean is an exact
    decimal(38,0)/HUGEINT sum divided once; the 4-dp floor then sees
    bit-identical inputs on both engines. Per-source means are floored
    again; the argmax doc ties break on doc_id via min-struct.
    """
    return (
        _doc_bigrams(spark, sf_dir)
        .join(_bigram_lm(spark, sf_dir), "bg")
        .groupBy("doc_id", "source")
        .agg(
            half_up(
                F.sum("smicro").cast("double")
                / F.count("*").cast("double")
                / 1e12,
                4,
            ).alias("doc_surprisal")
        )
    )


def q_bigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source summary of the corpus-trained bigram LM scores —
    see :func:`doc_surprisal` for the model and its scale shape."""
    per_doc = doc_surprisal(spark, sf_dir)
    return (
        per_doc.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            # exact integer micro-unit sum of the 4-dp doc scores
            # (same order-free discipline as perplexity_bucket_sample)
            (
                half_up(
                    F.sum(
                        F.floor(
                            F.col("doc_surprisal") * 1e4 + F.lit(0.5)
                        ).cast("long")
                    ).cast("double")
                    / F.count("*").cast("double"),
                    0,
                )
                / 1e4
            ).alias("avg_surprisal"),
            F.max(
                F.struct(
                    F.col("doc_surprisal").alias("s"),
                    (-F.col("doc_id")).alias("negid"),
                )
            ).getField("s").alias("max_surprisal"),
            (
                -F.max(
                    F.struct(
                        F.col("doc_surprisal").alias("s"),
                        (-F.col("doc_id")).alias("negid"),
                    )
                ).getField("negid")
            ).alias("most_surprising_doc"),
        )
        .orderBy("source")
    )


def q_vocab_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Jensen–Shannon divergence between the unigram word
    distributions of every source pair — the dataset-drift /
    source-redundancy diagnostic of a corpus mixer: JS ≈ 0 means two
    sources are interchangeable (mix them with one weight), JS → ln 2
    means disjoint vocabularies. Complements
    ``source_overlap_matrix`` (document n-gram containment) with a
    distribution-level signal that sees topical drift even when no
    n-gram is shared.

    Exact-sum identity used: JS(P,Q) = ½Σ_shared [p·ln(2p/(p+q)) +
    q·ln(2q/(p+q))] + ½ln2·[(1−Σ_shared p) + (1−Σ_shared q)] — words
    private to one side contribute exactly ½·p·ln2, so summing ONLY
    the inner-joined shared vocabulary plus the two residual masses is
    the full JS with no outer join and no per-pair full-vocabulary
    frame. Pairs with FULLY DISJOINT vocabularies are seeded from the
    tiny totals frame and report exactly JS = ln 2 with
    n_shared_words = 0 (the most-divergent pairs are the
    ones a drift audit most wants to see — the inner join alone would
    silently drop them).

    Cross-engine determinism: the per-word js/mass terms
    are deterministic doubles of the integer (c, tot) inputs, but
    their SUM is accumulation-order-dependent — so each term is
    floor-snapped to integer 1e-12 micro-units per row and summed as
    exact integers (decimal(38,0) in Spark, HUGEINT in DuckDB — no
    overflow at any corpus size); the final divide and 4-dp floor are
    single IEEE ops on identical integers. Worst-case snap error is
    5e-13 per shared word — invisible at the 4-dp output precision.

    Plan: one (source, word) aggregate, a broadcast of the
    ≤|sources| totals row set, then ONE word-keyed aggregate that
    collects each word's (source, p) list — bounded by |sources|, a
    dimension — and expands the shared pairs IN-ROW (sorted list +
    upper-triangle transform), then a |sources|²-group aggregate and a
    broadcast left join onto the all-pairs seed. A self-join of two
    copies of the distribution on `word` would re-compute the corpus
    unigram count on BOTH join sides (no exchange reuse across the
    persist boundary) — the in-row
    expansion pays the corpus-scale exchange exactly once and drops
    the join entirely; per-word work is |sources|² with identical
    per-pair terms, so the oracle (which keeps the readable join
    formulation) still matches hash-exactly.
    """
    d = tbl(spark, sf_dir, "documents")
    words = d.select(
        "source",
        F.explode(F.split(F.lower(F.trim("text")), " ")).alias("word"),
    )
    # NOT memoized (measured): persisting the (source, word)
    # counts broke the count→JS codegen fusion and regressed the query
    # (A/B 1.20 → 1.41 s min) — the downstream is one fused pass, so
    # the materialization costs more than the re-derivation saves.
    counts = words.groupBy("source", "word").agg(F.count("*").alias("c"))
    totals = counts.groupBy("source").agg(F.sum("c").alias("tot")).persist()
    dist = counts.join(F.broadcast(totals), "source").select(
        "source", "word", (F.col("c") / F.col("tot")).alias("p")
    )
    per_word = dist.groupBy("word").agg(
        F.array_sort(F.collect_list(F.struct("source", "p"))).alias("ss")
    )
    # upper-triangle pair expansion over the per-word source list:
    # struct array_sort orders by the first field (source), so pairs
    # come out with source_a < source_b exactly like the join+filter
    shared = per_word.select(
        F.explode(
            F.expr(
                """flatten(transform(ss, (x, i) ->
                       transform(slice(ss, i + 2, size(ss)), y ->
                           struct(x.source as source_a,
                                  y.source as source_b,
                                  x.p as p, y.p as q))))"""
            )
        ).alias("pr")
    ).select("pr.source_a", "pr.source_b", "pr.p", "pr.q")
    ln2 = 0.6931471805599453
    term = 0.5 * (
        F.col("p") * F.log(2 * F.col("p") / (F.col("p") + F.col("q")))
        + F.col("q") * F.log(2 * F.col("q") / (F.col("p") + F.col("q")))
    )
    dec = "decimal(38,0)"
    m12 = lambda c: F.floor(c * 1e12 + F.lit(0.5)).cast(dec)  # noqa: E731
    agg = shared.groupBy("source_a", "source_b").agg(
        F.count("*").alias("nw"),
        F.sum(m12(term)).alias("js_micro"),
        F.sum(m12(F.col("p"))).alias("ma_micro"),
        F.sum(m12(F.col("q"))).alias("mb_micro"),
    )
    pairs = (
        totals.select(F.col("source").alias("source_a"))
        .crossJoin(
            F.broadcast(totals.select(F.col("source").alias("source_b")))
        )
        .filter(F.col("source_a") < F.col("source_b"))
    )
    z = F.lit(0).cast("bigint")
    js = (
        F.coalesce(F.col("js_micro"), F.lit(0)).cast("double") / 1e12
        + 0.5
        * ln2
        * (
            (1 - F.coalesce(F.col("ma_micro"), F.lit(0)).cast("double") / 1e12)
            + (1 - F.coalesce(F.col("mb_micro"), F.lit(0)).cast("double") / 1e12)
        )
    )
    return (
        pairs.join(F.broadcast(agg), ["source_a", "source_b"], "left")
        .select(
            "source_a",
            "source_b",
            F.coalesce(F.col("nw"), z).alias("n_shared_words"),
            half_up(js, 4).alias("js_divergence"),
        )
        .orderBy("source_a", "source_b")
    )


def q_perplexity_bucket_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity-bucket sampling (Wenzek et al. 2020):
    score every document with the corpus-trained bigram LM
    (:func:`doc_surprisal`, shared code AND shared oracle CTE), z-score
    the per-doc surprisal against the global mean/stddev, bucket into
    head (z < −0.5, most fluent), middle (|z| ≤ 0.5), tail (z > 0.5,
    least fluent), and keep each bucket at a different deterministic
    rate — head 100%, middle 50%, tail 10% — via the engine's standard
    content-stable md5 keep rule (same
    :func:`~wd2duckdb_spark.functions.training.md5_bucket` as
    dataset_split / hash_sample, so re-ingest never flips a doc's
    fate). Docs under 2 tokens have no bigrams and are out of scope on
    both engines.

    Plan: the LM pipeline's joins, then ONE 1-row global stats
    aggregate broadcast back (z is computed in-row — no sort, no
    window, no percentile pass: z-buckets replace CCNet's tercile cuts
    precisely because exact global terciles need either a global sort
    or a second histogram pass at 100 TB, while mean/std partial-agg
    in one reduction), then one ≤(3×sources)-group aggregate.

    Determinism: doc_surprisal is floored to 4 dp upstream; the
    global mean/stddev are derived from EXACT INTEGER sums of its
    1e-4 micro-units (Σx and Σx² as decimal(38,0) / HUGEINT —
    avg/stddev_samp over doubles accumulate in engine-specific
    order, so a doc whose 4-dp z lands exactly on a ±0.5 boundary
    could bucket differently across engines; with order-free integer
    sums the z inputs are bit-identical and the boundary comparison
    cannot flake); z is floored to 4 dp before the ±0.5 comparisons
    (PLANS.md "rounding ties"); the keep decision hashes ids, never
    floats.
    """
    from wd2duckdb_spark.functions.training import md5_bucket

    # persist: the per-doc frame feeds BOTH the 1-row stats aggregate
    # and the z-scoring pass — without the barrier the whole bigram-LM
    # training pipeline (the dominant cost) plans and RUNS twice. At
    # bench SFs the second training pass hides in fixed overhead
    # (min-of-3 2.15 s → 1.74 s at sf0.1), but at 100 TB it is a
    # straight 2× of the heaviest stage; same rationale as
    # ngram_decontaminate's barrier.
    per_doc = (
        doc_surprisal(spark, sf_dir)
        .withColumn(
            "micro", F.floor(F.col("doc_surprisal") * 1e4 + F.lit(0.5))
        )
        .persist()
    )
    dec = "decimal(38,0)"
    stats = per_doc.agg(
        F.count("*").alias("n_all"),
        F.sum(F.col("micro").cast(dec)).alias("s_micro"),
        F.sum((F.col("micro") * F.col("micro")).cast(dec)).alias("ssq_micro"),
    )
    n_d = F.col("n_all").cast("double")
    s_d = F.col("s_micro").cast("double")
    ssq_d = F.col("ssq_micro").cast("double")
    var = (ssq_d - s_d * s_d / n_d) / (n_d - 1)
    z = (
        F.when((F.col("n_all") < 2) | (var <= 0), F.lit(0.0))
        .otherwise(
            half_up(
                (F.col("micro").cast("double") - s_d / n_d) / F.sqrt(var), 4
            )
        )
    )
    bucket = (
        F.when(F.col("z") < -0.5, "head")
        .when(F.col("z") <= 0.5, "middle")
        .otherwise("tail")
    )
    rate = (
        F.when(F.col("bucket") == "head", F.lit(100))
        .when(F.col("bucket") == "middle", F.lit(50))
        .otherwise(F.lit(10))
    )
    return (
        per_doc.crossJoin(F.broadcast(stats))
        .withColumn("z", z)
        .withColumn("bucket", bucket)
        .withColumn(
            "kept", (md5_bucket(F.col("doc_id"), 100) < rate).cast("long")
        )
        .groupBy("bucket", "source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("kept").alias("n_kept"),
            # integer micro-units (doc_surprisal is already 4-dp): the
            # sum is exact, the single division is one IEEE op — no
            # accumulation-order ulp for the floor to amplify
            F.sum(F.col("micro").cast("long")).alias("sum_micro"),
        )
        .select(
            "bucket",
            "source",
            "n_docs",
            "n_kept",
            (half_up(F.col("sum_micro") / F.col("n_docs"), 0) / 1e4).alias(
                "avg_surprisal"
            ),
        )
        .orderBy("bucket", "source")
    )


def _surprisal_sql_cte() -> str:
    """DuckDB twin of :func:`doc_surprisal`: CTE chain ending in
    ``per_doc`` = (doc_id, source, doc_surprisal). Shared verbatim by
    the bigram_surprisal and perplexity_bucket_sample oracles so the
    LM semantics cannot drift between them."""
    return f"""t AS (
        SELECT doc_id, source,
               string_split(lower(trim(text)), ' ') AS w
        FROM documents
    ), base AS (
        SELECT doc_id, source,
               unnest(list_transform(range(1, len(w)),
                      i -> w[i] || ' ' || w[i + 1])) AS bg
        FROM t
    ), bgc AS (
        SELECT bg, count(*) AS c12 FROM base GROUP BY bg
    ), uni AS (
        SELECT string_split(bg, ' ')[1] AS w1, sum(c12) AS c1
        FROM bgc GROUP BY 1
    ), vocab AS (
        SELECT count(*) AS v FROM uni
    ), lm AS (
        -- per-bigram surprisal snapped to integer 1e-12 micro-units:
        -- the per-doc mean below sums EXACT integers (HUGEINT; the
        -- Spark twin sums decimal(38,0)), so accumulation order
        -- cannot move the 4-dp floor
        SELECT bg,
               CAST(floor(-ln((c12 + {BIGRAM_K}) / (c1 + {BIGRAM_K} * v))
                          * 1e12 + 0.5) AS BIGINT) AS smicro
        FROM bgc JOIN uni ON string_split(bg, ' ')[1] = uni.w1
        CROSS JOIN vocab
    ), per_doc AS (
        SELECT doc_id, source,
               floor(CAST(sum(smicro) AS DOUBLE)
                     / CAST(count(*) AS DOUBLE) / 1e12 * 1e4 + 0.5)
                   / 1e4 AS doc_surprisal
        FROM base JOIN lm USING (bg)
        GROUP BY doc_id, source
    )"""


ORACLES["token_stats_unicode"] = rf"""
    SELECT doc_id,
           CAST(len(string_split(trim(text), ' ')) AS INT) AS ws_tokens,
           CAST(len(regexp_extract_all(lower(text),
                    '{UNICODE_TOKEN_RE}')) AS INT) AS uni_tokens,
           CAST(len(list_distinct(regexp_extract_all(lower(text),
                    '{UNICODE_TOKEN_RE}'))) AS INT) AS uni_distinct
    FROM documents
    ORDER BY doc_id
"""

ORACLES["bigram_surprisal"] = f"""
    WITH {_surprisal_sql_cte()}
    SELECT source,
           count(*) AS n_docs,
           floor(CAST(sum(CAST(floor(doc_surprisal * 1e4 + 0.5) AS BIGINT))
                      AS DOUBLE)
                 / CAST(count(*) AS DOUBLE) + 0.5) / 1e4 AS avg_surprisal,
           max(ROW(doc_surprisal, -doc_id))[1] AS max_surprisal,
           -max(ROW(doc_surprisal, -doc_id))[2] AS most_surprising_doc
    FROM per_doc
    GROUP BY source
    ORDER BY source
"""


def _perplexity_bucket_oracle() -> str:
    # keep rule composed verbatim from the engine's md5 split hash
    from wd2duckdb_spark.functions.training import md5_bucket_sql

    return f"""
        WITH {_surprisal_sql_cte()}, pm AS (
            SELECT doc_id, source, doc_surprisal,
                   CAST(floor(doc_surprisal * 1e4 + 0.5) AS BIGINT) AS micro
            FROM per_doc
        ), stats AS (
            -- exact integer sums of the 4-dp micro-units (HUGEINT;
            -- the Spark twin sums decimal(38,0)) — order-free, so
            -- the z inputs are bit-identical across engines
            SELECT count(*) AS n_all,
                   sum(micro) AS s_micro,
                   sum(micro * micro) AS ssq_micro
            FROM pm
        ), scored AS (
            SELECT doc_id, source, doc_surprisal,
                   CASE WHEN n_all < 2 OR
                             (CAST(ssq_micro AS DOUBLE)
                              - CAST(s_micro AS DOUBLE)
                                * CAST(s_micro AS DOUBLE)
                                / CAST(n_all AS DOUBLE))
                             / (CAST(n_all AS DOUBLE) - 1) <= 0
                        THEN 0.0
                        ELSE floor((CAST(micro AS DOUBLE)
                                    - CAST(s_micro AS DOUBLE)
                                      / CAST(n_all AS DOUBLE))
                                   / sqrt((CAST(ssq_micro AS DOUBLE)
                                           - CAST(s_micro AS DOUBLE)
                                             * CAST(s_micro AS DOUBLE)
                                             / CAST(n_all AS DOUBLE))
                                          / (CAST(n_all AS DOUBLE) - 1))
                                   * 1e4 + 0.5)
                             / 1e4 END AS z
            FROM pm CROSS JOIN stats
        ), b AS (
            SELECT doc_id, source, doc_surprisal,
                   CASE WHEN z < -0.5 THEN 'head'
                        WHEN z <= 0.5 THEN 'middle'
                        ELSE 'tail' END AS bucket
            FROM scored
        )
        SELECT bucket, source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(CASE WHEN {md5_bucket_sql("doc_id", 100)} <
                                  CASE bucket WHEN 'head' THEN 100
                                              WHEN 'middle' THEN 50
                                              ELSE 10 END
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
               floor(sum(CAST(floor(doc_surprisal * 1e4 + 0.5) AS BIGINT))
                     * 1.0 / count(*) + 0.5) / 1e4 AS avg_surprisal
        FROM b
        GROUP BY bucket, source
        ORDER BY bucket, source
    """


ORACLES["perplexity_bucket_sample"] = _perplexity_bucket_oracle()


ORACLES["vocab_divergence"] = """
    WITH words AS (
        SELECT source,
               unnest(string_split(lower(trim(text)), ' ')) AS word
        FROM documents
    ), counts AS (
        SELECT source, word, count(*) AS c FROM words GROUP BY 1, 2
    ), totals AS (
        SELECT source, sum(c) AS tot FROM counts GROUP BY 1
    ), dist AS (
        SELECT source, word, c * 1.0 / tot AS p
        FROM counts JOIN totals USING (source)
    ), shared AS (
        SELECT a.source AS source_a, b.source AS source_b,
               a.p AS p, b.p AS q
        FROM dist a JOIN dist b
          ON a.word = b.word AND a.source < b.source
    ), agg AS (
        -- per-word terms snapped to integer 1e-12 micro-units before
        -- summing (exact HUGEINT sums — accumulation-order-free, the
        -- Spark twin sums decimal(38,0) of the identical per-row
        -- doubles)
        SELECT source_a, source_b,
               CAST(count(*) AS BIGINT) AS nw,
               sum(CAST(floor(0.5 * (p * ln(2 * p / (p + q))
                                     + q * ln(2 * q / (p + q)))
                              * 1e12 + 0.5) AS BIGINT)) AS js_micro,
               sum(CAST(floor(p * 1e12 + 0.5) AS BIGINT)) AS ma_micro,
               sum(CAST(floor(q * 1e12 + 0.5) AS BIGINT)) AS mb_micro
        FROM shared
        GROUP BY source_a, source_b
    ), pairs AS (
        SELECT a.source AS source_a, b.source AS source_b
        FROM totals a JOIN totals b ON a.source < b.source
    )
    SELECT source_a, source_b,
           coalesce(nw, 0) AS n_shared_words,
           floor((coalesce(js_micro, 0) / 1e12
                  + 0.5 * ln(2)
                    * ((1 - coalesce(ma_micro, 0) / 1e12)
                       + (1 - coalesce(mb_micro, 0) / 1e12)))
                 * 1e4 + 0.5) / 1e4 AS js_divergence
    FROM pairs LEFT JOIN agg USING (source_a, source_b)
    ORDER BY source_a, source_b
"""


ORACLES["inverted_index"] = """
    WITH words AS (
        SELECT doc_id,
               unnest(string_split(lower(trim(text)), ' ')) AS word
        FROM documents
    ), per_doc AS (
        SELECT word, doc_id, count(*) AS cnt
        FROM words GROUP BY word, doc_id
    )
    SELECT word,
           count(*) AS df,
           sum(cnt) AS tf_total,
           list(doc_id ORDER BY doc_id) AS postings
    FROM per_doc
    GROUP BY word
    ORDER BY word
"""

ORACLES["redact_pii"] = f"""
    WITH r AS (
        SELECT event_type,
               len(regexp_extract_all(props, '{PII_NUMBER}')) AS nums,
               len(regexp_extract_all(props, '{PII_EMAIL}')) AS emails,
               regexp_replace(
                   regexp_replace(props, '{PII_EMAIL}', '<EMAIL>', 'g'),
                   '{PII_NUMBER}', '<NUM>', 'g') AS template
        FROM events
    )
    SELECT event_type,
           count(*) AS n_events,
           CAST(sum(nums) AS BIGINT) AS n_numbers,
           CAST(sum(emails) AS BIGINT) AS n_emails,
           count(DISTINCT template) AS n_templates,
           min(template) AS sample_template
    FROM r
    GROUP BY event_type
    ORDER BY event_type
"""

#: Minimum-token thresholds swept by q_quality_threshold_sweep —
#: spanning "keep everything" to "long-document-only" on the fixture
#: length distribution (~55-token mean).
QUALITY_THRESHOLDS = (0, 10, 20, 50, 100, 200)


def q_quality_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter-tuning report: for each minimum-token-count threshold,
    how many documents and tokens survive, and the doc survival rate
    — the sweep a pipeline runs before committing to a length filter
    (the token cost of each candidate cutoff in one glance).

    Plan: ONE aggregate pass computes every threshold's conditional
    sums (12 counters + count(*)), then a `stack` unpivots the single
    row — no per-threshold scan, no join, nothing document-sized
    shuffles. All counters are exact integers, so cross-engine
    hashing cannot flake; the rate uses the floor-1e4 convention and
    is NULL (both engines) on an empty corpus. NULL-text rows fail
    every `>=` and count as filtered — same quarantine stance as the
    rest of the text tier."""
    d = tbl(spark, sf_dir, "documents")
    n = token_count(F.col("text"))
    aggs = [F.count("*").alias("all_docs")]
    for t in QUALITY_THRESHOLDS:
        cond = n >= F.lit(t)
        aggs.append(
            F.coalesce(
                F.sum(F.when(cond, 1).otherwise(0)), F.lit(0)
            ).alias(f"d{t}")
        )
        aggs.append(
            F.coalesce(
                F.sum(F.when(cond, n).otherwise(0)).cast("long"), F.lit(0)
            ).alias(f"t{t}")
        )
    row = d.agg(*aggs)
    cells = ", ".join(
        f"{t}, d{t}, t{t}" for t in QUALITY_THRESHOLDS
    )
    rate = F.when(F.col("all_docs") == 0, F.lit(None)).otherwise(
        half_up(F.col("n_docs") / F.col("all_docs"), 4)
    )
    return (
        row.select(
            "all_docs",
            F.expr(
                f"stack({len(QUALITY_THRESHOLDS)}, {cells})"
                " AS (threshold, n_docs, total_tokens)"
            ),
        )
        .select(
            F.col("threshold").cast("int").alias("threshold"),
            F.col("n_docs").cast("long").alias("n_docs"),
            F.col("total_tokens").cast("long").alias("total_tokens"),
            rate.alias("survival_rate"),
        )
        .orderBy("threshold")
    )


ORACLES["quality_threshold_sweep"] = f"""
    WITH thr(threshold) AS (
        VALUES {", ".join(f"({t})" for t in QUALITY_THRESHOLDS)}
    ),
    d AS (
        SELECT len(string_split(trim(text), ' ')) AS n_tokens
        FROM documents
    ),
    tot AS (SELECT count(*) AS all_docs FROM documents)
    SELECT CAST(t.threshold AS INT) AS threshold,
           CAST(sum(CASE WHEN d.n_tokens >= t.threshold
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN d.n_tokens >= t.threshold
                         THEN d.n_tokens ELSE 0 END) AS BIGINT)
               AS total_tokens,
           CASE WHEN tot.all_docs = 0 THEN NULL
                ELSE floor(CAST(sum(CASE WHEN d.n_tokens >= t.threshold
                                         THEN 1 ELSE 0 END) AS DOUBLE)
                           / tot.all_docs * 1e4 + 0.5) / 1e4
           END AS survival_rate
    FROM thr t CROSS JOIN tot LEFT JOIN d ON true
    GROUP BY t.threshold, tot.all_docs
    ORDER BY threshold
"""

# --- BM25 oracle SQL template ------------------------------------------
# Single SQL source of the BM25 arithmetic: bm25_topk's oracle and every
# per-query scored CTE of bm25_eval's oracle are generated from the same
# fragments, so the scorer and its eval cannot drift (the composition
# discipline of ann_recall_eval).


def _bm25_sql_contrib(term: str) -> str:
    """One term's floor6-snapped contribution — SQL twin of
    :func:`_bm25_contrib`."""
    return (
        f"CASE WHEN tf_{term} > 0 THEN\n"
        f"                    floor(floor(ln((n_docs - df_{term} + 0.5)"
        f" / (df_{term} + 0.5) + 1.0)\n"
        f"                                * 1e6 + 0.5) / 1e6\n"
        f"                          * (tf_{term} * {BM25_K1 + 1.0})\n"
        f"                          / (tf_{term} + {BM25_K1} * (1.0 - {BM25_B}"
        f" + {BM25_B} * dl / avgdl))\n"
        f"                          * 1e6 + 0.5) / 1e6 ELSE 0.0 END"
    )


def _bm25_sql_base(all_terms: tuple[str, ...]) -> str:
    """tfs + stats CTEs over a term set — SQL twin of :func:`_bm25_base`."""
    tf_cols = ",\n               ".join(
        f"len(list_filter(ws, x -> x = '{t}')) AS tf_{t}" for t in all_terms
    )
    df_cols = ",\n               ".join(
        f"sum(CASE WHEN tf_{t} > 0 THEN 1 ELSE 0 END) AS df_{t}"
        for t in all_terms
    )
    return f"""tfs AS (
        SELECT doc_id,
               len(ws) AS dl,
               {tf_cols}
        FROM (
            SELECT doc_id, string_split(lower(trim(text)), ' ') AS ws
            FROM documents WHERE text IS NOT NULL
        )
    ), stats AS (
        SELECT count(*) AS n_docs,
               floor(avg(dl) * 1e6 + 0.5) / 1e6 AS avgdl,
               {df_cols}
        FROM tfs
    )"""


def _bm25_sql_scored(terms: tuple[str, ...], name: str = "scored") -> str:
    """Per-query scored CTE (n_terms + raw score) — SQL twin of
    :func:`_bm25_query_cols`."""
    flags = "\n                + ".join(
        f"CASE WHEN tf_{t} > 0 THEN 1 ELSE 0 END" for t in terms
    )
    contribs = "\n                + ".join(_bm25_sql_contrib(t) for t in terms)
    where = " OR ".join(f"tf_{t} > 0" for t in terms)
    return f"""{name} AS (
        SELECT doc_id,
               ({flags}) AS n_terms,
               ({contribs}) AS raw
        FROM tfs CROSS JOIN stats
        WHERE {where}
    )"""


ORACLES["bm25_topk"] = f"""
    WITH {_bm25_sql_base(BM25_TERMS)}, {_bm25_sql_scored(BM25_TERMS)}
    SELECT doc_id, CAST(n_terms AS INT) AS n_terms,
           floor((0.0 + raw) * 1e4 + 0.5) / 1e4 AS score
    FROM scored
    ORDER BY score DESC, doc_id
    LIMIT {BM25_TOPK}
"""


def _bm25_eval_oracle() -> str:
    qsets = [tuple(sorted(set(q))) for q in BM25_EVAL_QUERIES]
    all_terms = tuple(sorted({t for q in qsets for t in q}))
    parts = [_bm25_sql_base(all_terms)]
    selects = []
    for i, q in enumerate(qsets):
        parts.append(_bm25_sql_scored(q, f"scored_q{i}"))
        parts.append(f"""ranked_q{i} AS (
        SELECT doc_id, n_terms,
               row_number() OVER (
                   ORDER BY floor((0.0 + raw) * 1e4 + 0.5) / 1e4 DESC, doc_id
               ) AS rnk
        FROM scored_q{i}
    )""")
        parts.append(f"""m_q{i} AS (
        SELECT '{" ".join(q)}' AS query,
               count(*) AS n_matched,
               -- coalesce: sum() over a zero-match query is NULL, the
               -- canonical semantics is a 0-count row (degenerate sweep)
               CAST(coalesce(sum(CASE WHEN n_terms = {len(q)}
                                      THEN 1 ELSE 0 END), 0)
                    AS BIGINT) AS n_relevant,
               CAST(min(CASE WHEN n_terms = {len(q)} THEN rnk END)
                    AS BIGINT) AS first_rel_rank,
               CAST(coalesce(sum(CASE WHEN n_terms = {len(q)} AND rnk <= 10
                                      THEN 1 ELSE 0 END), 0)
                    AS BIGINT) AS hits10
        FROM ranked_q{i}
    )""")
        selects.append(f"SELECT * FROM m_q{i}")
    union = "\n          UNION ALL ".join(selects)
    return f"""
    WITH {", ".join(parts)}
    SELECT query, n_matched, n_relevant, first_rel_rank,
           floor(coalesce(1.0 / first_rel_rank, 0.0) * 1e4 + 0.5) / 1e4 AS rr,
           floor(hits10 / 10.0 * 1e4 + 0.5) / 1e4 AS p_at_10
    FROM ({union})
    ORDER BY query
"""


ORACLES["bm25_eval"] = _bm25_eval_oracle()

ORACLES["rag_chunks"] = f"""
    WITH d AS (
        SELECT doc_id, string_split(trim(text), ' ') AS ws,
               len(string_split(trim(text), ' ')) AS n
        FROM documents WHERE text IS NOT NULL
    ),
    c AS (
        SELECT doc_id, CAST(i AS INT) AS chunk_id,
               CAST(i * {RAG_CHUNK_STRIDE} AS INT) AS start_tok,
               list_slice(ws, i * {RAG_CHUNK_STRIDE} + 1,
                          i * {RAG_CHUNK_STRIDE} + {RAG_CHUNK_TOKENS}) AS sl
        FROM d, LATERAL unnest(range(
            CASE WHEN n <= {RAG_CHUNK_TOKENS} THEN 1
                 ELSE CAST(ceil((n - {RAG_CHUNK_TOKENS})
                                / {RAG_CHUNK_STRIDE}.0) AS BIGINT) + 1
            END)) AS t(i)
    )
    SELECT doc_id, chunk_id, start_tok,
           CAST(len(sl) AS INT) AS n_tok,
           array_to_string(sl, ' ') AS chunk_text
    FROM c
    ORDER BY doc_id, chunk_id
"""

QUERIES = {
    "bm25_topk": q_bm25_topk,
    "bm25_eval": q_bm25_eval,
    "rag_chunks": q_rag_chunks,
    "inverted_index": q_inverted_index,
    "quality_threshold_sweep": q_quality_threshold_sweep,
    "redact_pii": q_redact_pii,
    "bigram_surprisal": q_bigram_surprisal,
    "perplexity_bucket_sample": q_perplexity_bucket_sample,
    "vocab_divergence": q_vocab_divergence,
    "vocab_entropy": q_vocab_entropy,
    "clean_corpus_pipeline": q_clean_corpus_pipeline,
    "token_count_bpe": q_token_count_bpe,
    "token_stats_unicode": q_token_stats_unicode,
    "rolling_fingerprint": q_rolling_fingerprint,
    "lang_id": q_lang_id,
    "lang_id_eval": q_lang_id_eval,
    "text_quality": q_text_quality,
    "token_stats_by_source": q_token_stats_by_source,
    "doc_fingerprint": q_doc_fingerprint,
    "word_repetition": q_word_repetition,
    "chunk_dedup": q_chunk_dedup,
    "tfidf_top_terms": q_tfidf_top_terms,
}
