"""Deduplication operators (north-star extensions, BASELINE.json):
exact, MinHash+LSH, SimHash, n-gram Jaccard, embedding-cosine near-dup.

Design for 100 TB:

- exact dedup: hash-groupBy on the normalized-content key — one shuffle
  on a uniformly-distributed md5 key, no skew;
- MinHash/LSH: shingle → k minhashes → band keys → bucket self-join.
  The self-join is on band keys, never all-pairs; candidate volume is
  controlled by (k, bands) — the classic banding trade-off;
- SimHash: one in-row pass to per-bit counters and a majority vote per
  doc, pairs compared only within banded signature keys at scale;
- n-gram Jaccard: exact verification step for candidate pairs (here
  demonstrated on the deterministic consecutive-id pairing);
- embedding near-dup: banded sign-LSH candidate buckets (one shuffle,
  in-bucket pair expansion, inline cosine verify) — never all-pairs;
  miss probability is parameterized by the banding S-curve.

Each hash family has ONE signature kernel — an in-row projection per
document (:func:`_minhash_sig_frame`, :func:`_simhash_counts`) — and
ONE merge over kernel rows (:func:`_min_merge`, :func:`_sum_merge`):
a signature over many rows (a source, a document split across
micro-batches, an archived store) is a merge of kernel rows, never a
second explode + aggregate formulation.

All hashes are md5-derived so every operator is reproducible in ANSI
SQL — the DuckDB oracles verify signatures, not just row counts. No
UDFs anywhere: shingling uses higher-order array functions, hashing
uses md5+conv, all inside codegen.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from wd2duckdb_spark.catalog import (
    eager_checkpoint,
    half_up,
    scan_partitions,
    session_memo,
    spread,
    tbl,
)
from wd2duckdb_spark.functions.similarity import (
    EMB_DIM,
    _cosine_fold_sql,
    valid_vector,
)

N_MINHASH = 8  #: hash functions in the MinHash signature
N_BANDS = 4  #: LSH bands (rows per band = N_MINHASH // N_BANDS = 2)


def word_shingles_expr(n: int = 3) -> str:
    """SQL expression producing distinct word n-gram shingles of `text`
    (shared shape between the Spark plan and the DuckDB oracle)."""
    gram = " || ' ' || ".join(f"tk[i + {j}]" for j in range(n))
    return (
        "list_distinct(list_transform(range(1, len(tk) - 1), "
        f"i -> {gram}))".replace("tk", "string_split(lower(trim(text)), ' ')")
    )


def _minhash_sig_frame(
    d: DataFrame, *, id_col: str = "doc_id", scan_parts: int | None = None
) -> DataFrame:
    """The MinHash kernel: ``documents``-shaped frame → (``id_col``,
    h0..h7), one row per document with ≥3 tokens, computed entirely
    in-row. A document's shingles live in its own row, so each of the
    8 minima is an ``array_min`` over an in-row transform: no
    aggregation exchange. ``id_col`` is the column the row carries —
    ``doc_id`` for per-document signatures, ``source`` for the
    per-source sketch, which :func:`_min_merge` then reduces.

    One md5 yields four independent 32-bit values (128/32), so the 8
    hash functions cost 2 md5 evaluations per shingle. The two digests
    are computed once per shingle into a 64-hex-char column that the 8
    window extractions slice (the multi-referenced expensive array
    survives CollapseProject, so the md5 work is not duplicated per
    h-column; the same guard the SimHash fold relies on). Shingles are
    not deduplicated per doc: min() is invariant to duplicates and a
    per-doc ``array_distinct`` pass is pure cost here (the DuckDB
    oracle keeps ``list_distinct`` and matches bit-for-bit).

    Rows are spread on ``doc_id`` whatever ``id_col`` is; ``scan_parts``:
    see :func:`wd2duckdb_spark.catalog.spread` (the repartition spreads
    per-row md5 CPU on a single-split local scan and disappears on a
    multi-split one)."""
    gram = F.expr(
        "transform(sequence(1, size(_tk) - 2), i -> concat_ws(' ',"
        " element_at(_tk, i), element_at(_tk, i + 1),"
        " element_at(_tk, i + 2)))"
    )
    wt = (
        spread(d, "doc_id", scan_parts=scan_parts)
        .select(
            id_col, F.split(F.lower(F.trim(F.col("text"))), " ").alias("_tk")
        )
        .filter(F.size("_tk") >= 3)
    )
    hs = F.transform(
        gram,
        lambda s: F.concat(
            F.md5(F.concat(F.lit("0|"), s)), F.md5(F.concat(F.lit("1|"), s))
        ),
    )
    wh = wt.select(id_col, hs.alias("_hh"))
    cols = [
        F.array_min(
            F.transform(
                F.col("_hh"),
                lambda x: F.conv(
                    F.substring(x, 1 + 8 * (i % 4) + 32 * (i // 4), 8), 16, 10
                ).cast("long"),
            )
        ).alias(f"h{i}")
        for i in range(N_MINHASH)
    ]
    return wh.select(id_col, *cols)


def _min_merge(sig: DataFrame) -> DataFrame:
    """MinHash's merge: kernel rows carrying ``source`` (or merged
    partials) → one signature per source, the component-wise ``min``.
    Associative, commutative and idempotent, so partials over any split
    of the rows merge losslessly and re-merging a merged row is a
    no-op."""
    return sig.groupBy("source").agg(
        *[F.min(f"h{i}").alias(f"h{i}") for i in range(N_MINHASH)]
    )


def _with_shingles(
    d: DataFrame,
    tokenizer: str = "whitespace",
    *,
    scan_parts: int | None = None,
) -> DataFrame:
    """documents → (doc_id, sh: array<string>) distinct word-3-grams.

    ``tokenizer`` selects the token stream the shingles are built from:
    ``whitespace`` (default — every registered
    oracle keeps it) or ``unicode``
    (:data:`wd2duckdb_spark.functions.text.UNICODE_TOKEN_RE` runs),
    which is what keeps shingle dedup meaningful on CJK /
    combining-character corpora where whitespace split degrades to
    whole-line tokens.

    Tokenizes ONCE into a materialized ``toks`` column before the
    sliding-window transform — evaluating ``split()`` inside the lambda
    would re-split the text per window element (O(tokens²) per doc).

    Repartitions on doc_id first: the fixture table is one small
    parquet file (one input split), and the higher-order-function
    shingling is interpreted (non-codegen) — without the repartition
    the whole corpus shingles on a single core. On a real multi-split
    corpus the scan parallelizes anyway.

    The partition count is explicit: a bare ``repartition("doc_id")``
    exchange gets AQE-coalesced back to ONE partition (input bytes are
    tiny pre-explosion), silently re-serializing the shingle work.
    Cost is per-shingle CPU, not input bytes, so bytes-based coalescing
    is the wrong heuristic here.

    ``scan_parts``: callers that read straight
    from a parquet scan pass its memoized split count and the
    repartition is SKIPPED when the scan already provides a task per
    core — see :func:`wd2duckdb_spark.catalog.spread`. None (streaming
    micro-batches, derived frames) keeps the unconditional exchange.
    """
    from wd2duckdb_spark.functions.text import tokens

    return (
        spread(d, "doc_id", scan_parts=scan_parts)
        .select("doc_id", tokens(F.col("text"), tokenizer).alias("toks"))
        .filter(F.size("toks") >= 3)
        .select(
            "doc_id",
            F.expr(
                "array_distinct(transform(sequence(1, size(toks) - 2),"
                " i -> concat_ws(' ', element_at(toks, i),"
                " element_at(toks, i + 1), element_at(toks, i + 2))))"
            ).alias("sh"),
        )
    )


def band_keys(docs: DataFrame, *, scan_parts: int | None = None) -> DataFrame:
    """``documents``-shaped DataFrame → (doc_id, band, key): the
    MinHash LSH band keys of every document with ≥3 tokens (shorter
    docs emit no keys — they cannot near-duplicate under word-3-gram
    shingles and are always kept). Each key is the md5 of two adjacent
    signature values, derived in-row from the kernel
    (:func:`_minhash_sig_frame`), so batch pair generation and the
    streaming ingest index cannot drift on signature semantics.
    ``scan_parts``: see :func:`_minhash_sig_frame`."""
    return _minhash_sig_frame(docs, scan_parts=scan_parts).select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.md5(
                            F.concat_ws(
                                ",", F.col(f"h{2 * b}"), F.col(f"h{2 * b + 1}")
                            )
                        ).alias("key"),
                    )
                    for b in range(N_BANDS)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", "bk.band", "bk.key")


def q_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc MinHash signature (h0..h7): the kernel over the
    documents table — in-row, no aggregation exchange."""
    return _minhash_sig_frame(
        tbl(spark, sf_dir, "documents"),
        scan_parts=scan_partitions(spark, sf_dir, "documents"),
    ).orderBy("doc_id")


def lsh_candidate_pairs(
    docs: DataFrame, *, scan_parts: int | None = None
) -> DataFrame:
    """Distinct LSH candidate pairs ``(a_id, b_id)``, ``a_id < b_id``,
    of a ``documents``-shaped frame — the shared pair pipeline behind
    :func:`q_minhash_lsh_pairs` and the split-leakage audit
    (functions/training.py), so "candidate pair" means the same thing
    everywhere.

    Implementation: bands → groupBy(band, key) collecting the (small)
    bucket membership → in-bucket pair expansion with a nested
    transform. One shuffle, signature pipeline computed exactly once —
    no self-join, no cache. Bucket sizes are bounded by the LSH banding
    parameters (pathological all-identical corpora excepted, which is
    inherent to the operator)."""
    buckets = (
        band_keys(docs, scan_parts=scan_parts)
        .groupBy("band", "key")
        .agg(F.sort_array(F.collect_set("doc_id")).alias("ids"))
        .filter(F.size("ids") >= 2)
    )
    pair = F.explode(
        F.expr(
            "flatten(transform(ids, (x, i) ->"
            " transform(slice(ids, i + 2, size(ids)),"
            " y -> struct(x AS a_id, y AS b_id))))"
        )
    )
    return (
        buckets.select(pair.alias("p"))
        .select("p.a_id", "p.b_id")
        .distinct()
    )


def q_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidate pairs: docs sharing any of the 4 band keys
    (band = md5 of 2 adjacent signature values). The join is on band
    keys — the production-scale path (never all-pairs). See
    :func:`lsh_candidate_pairs` for the plan shape."""
    return lsh_candidate_pairs(
        tbl(spark, sf_dir, "documents"),
        scan_parts=scan_partitions(spark, sf_dir, "documents"),
    ).orderBy("a_id", "b_id")


def connected_components(pairs: DataFrame, max_iters: int = 50) -> DataFrame:
    """Undirected connected components over ``(a_id, b_id)`` pairs.

    Returns ``(node, cluster_id)`` where cluster_id = the component's
    minimum node id, by iterative min-label propagation: every node
    repeatedly adopts the minimum label among itself and its neighbors
    until fixpoint. Converges in diameter + 1 rounds (early exit on
    no-change); each round is one join + one aggregation, both on the
    node key, run by the round's checkpoint job, which also counts the
    changed labels in an ``Observation`` (no second change-check job).
    LSH dedup components are shallow (near-cliques), so the round count
    stays small where this runs; a chain-shaped component deeper than
    ``max_iters`` raises rather than returning partial labels, which
    would split real components.

    Every round's labels are eagerly checkpointed
    (:func:`~wd2duckdb_spark.catalog.eager_checkpoint`): iterative
    plans grow per round, and without lineage truncation the driver
    OOMs on plan analysis after ~12 rounds. Local checkpointing (the
    default) trades executor-loss recomputability for zero external
    storage — acceptable for a deterministic re-runnable batch job;
    set the ``RELIABLE_CKPT_CONF`` session conf to a durable dir on
    clusters where executor loss is routine.
    """
    edges = (
        pairs.selectExpr("a_id AS u", "b_id AS v")
        .union(pairs.selectExpr("b_id AS u", "a_id AS v"))
        .distinct()
        .persist()
    )
    labels = eager_checkpoint(
        edges.select(F.col("u").alias("node"))
        .distinct()
        .withColumn("cluster_id", F.col("node"))
    )
    try:
        for _ in range(max_iters):
            neighbor_min = (
                edges.join(labels, edges["v"] == labels["node"])
                .groupBy(edges["u"].alias("node"))
                .agg(F.min("cluster_id").alias("nbr_min"))
            )
            # a node's label changes iff a neighbor's is smaller; the
            # count rides on the round's checkpoint job
            changed = Observation()
            new_labels = eager_checkpoint(  # truncate lineage per round
                labels.join(neighbor_min, "node", "left")
                .observe(
                    changed,
                    F.count_if(F.col("nbr_min") < F.col("cluster_id")).alias(
                        "n"
                    ),
                )
                .select(
                    "node",
                    F.least(
                        "cluster_id", F.coalesce("nbr_min", "cluster_id")
                    ).alias("cluster_id"),
                )
            )
            labels.unpersist()
            labels = new_labels
            if changed.get["n"] == 0:
                return labels
        raise RuntimeError(
            f"connected_components did not converge in {max_iters} rounds "
            "(component diameter exceeds max_iters); raise max_iters"
        )
    finally:
        edges.unpersist()


@session_memo
def _cc_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``(node, cluster_id)`` components of the MinHash-LSH candidate
    graph. Connected components runs eager jobs at build time (unlike
    the lazy queries), so it is memoized per session: that cost, and
    the checkpoint blocks it pins, is paid once per dataset across
    plan sweeps, bench and the driver contract."""
    pairs = q_minhash_lsh_pairs(spark, sf_dir).select("a_id", "b_id")
    return connected_components(pairs)


def q_neardup_keep_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup KEEP-LIST — what a training-data pipeline actually
    consumes: every document with its near-dup cluster id (component
    of the MinHash-LSH candidate graph, canonical = min doc_id) and a
    keep flag. Docs in no candidate pair are their own singleton
    cluster and are kept.

    NOTE: unlike the other registered queries this runs eager Spark
    jobs at DataFrame-construction time (iterative CC cannot be
    expressed lazily); results are memoized per (session, sf_dir)."""
    out = _labeled_clusters(spark, sf_dir).select(
        "doc_id",
        "cluster_id",
        (F.col("doc_id") == F.col("cluster_id")).alias("keep"),
    )
    return out.orderBy("doc_id")


def _labeled_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, cluster_id) for every document: its near-dup component
    (memoized CC over the MinHash-LSH candidate graph, shared with
    :func:`q_neardup_keep_list`), singletons labeled by themselves."""
    cc = _cc_labels(spark, sf_dir)
    d = tbl(spark, sf_dir, "documents")
    return d.join(cc, d["doc_id"] == cc["node"], "left").select(
        d["doc_id"],
        F.coalesce("cluster_id", d["doc_id"]).alias("cluster_id"),
        d["text"],
    )


def q_neardup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware canonical selection: per near-dup cluster keep
    the LONGEST document (whitespace token count; doc_id tie-break) —
    the production keep rule when near-duplicates are partial copies
    and the most complete version should survive, vs
    :func:`q_neardup_keep_list`'s min-id rule (stable across
    re-ingest but quality-blind). One row_number window over the
    cluster labels — the clustering itself is the memoized CC, so
    the added cost is one narrow shuffle on cluster_id.

    Determinism: (n_tokens DESC NULLS LAST, doc_id) is a total order
    within a cluster (doc_id unique); NULLS LAST spelled explicitly
    because Spark and DuckDB disagree on default null order for ASC.
    """
    from pyspark.sql import Window

    from wd2duckdb_spark.functions.text import token_count

    labeled = _labeled_clusters(spark, sf_dir).select(
        "doc_id", "cluster_id", token_count(F.col("text")).alias("n_tokens")
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc_nulls_last("n_tokens"), F.asc("doc_id")
    )
    return (
        labeled.withColumn("_rn", F.row_number().over(w))
        .select(
            "doc_id",
            "cluster_id",
            "n_tokens",
            (F.col("_rn") == 1).alias("keep"),
        )
        .orderBy("doc_id")
    )


def q_dedup_cluster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup audit: the near-dup cluster-SIZE distribution —
    (cluster_size, n_clusters, n_docs) — the report a pipeline emits
    to justify its dedup rate (how much of the corpus sits in dup
    clusters of each size, singletons included). Two tiny aggregates
    over the memoized cluster labels; nothing document-sized moves
    after the groupBy on cluster_id."""
    sizes = (
        _labeled_clusters(spark, sf_dir)
        .groupBy("cluster_id")
        .agg(F.count("*").alias("cluster_size"))
    )
    return (
        sizes.groupBy("cluster_size")
        .agg(
            F.count("*").alias("n_clusters"),
            F.sum("cluster_size").alias("n_docs"),
        )
        .orderBy("cluster_size")
    )


def q_lsh_keep_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the streaming dedup-at-ingest stage
    (streaming/dedup_ingest.py): the BUCKET-MIN keep rule applied to
    the whole corpus as one batch — a doc is dropped iff any of its
    LSH band keys is shared with a smaller doc_id. Same
    :func:`band_keys` pipeline, same rule, so the streaming stage's
    keep semantics are oracle-verified here (the stream test then
    pins only the incremental/index mechanics).

    Weaker than `neardup_keep_list` by design: bucket-min drops a doc
    whose keeper was itself dropped (no transitive connected
    components) — the trade the streaming stage makes for O(1)-pass
    incremental decisions against a persisted index.

    One bands shuffle + one window + one anti join; the window state
    per (band, key) is the bucket membership — bounded by the LSH
    banding parameters exactly like the pair generator."""
    from pyspark.sql import Window

    docs = tbl(spark, sf_dir, "documents").select("doc_id")
    bands = band_keys(
        tbl(spark, sf_dir, "documents"),
        scan_parts=scan_partitions(spark, sf_dir, "documents"),
    )
    w = Window.partitionBy("band", "key")
    dup_ids = (
        bands.withColumn("_mn", F.min("doc_id").over(w))
        .filter(F.col("doc_id") > F.col("_mn"))
        .select("doc_id")
        .distinct()
    )
    return (
        docs.join(
            dup_ids.withColumn("_d", F.lit(1)), "doc_id", "left"
        )
        .select("doc_id", F.col("_d").isNull().alias("keep"))
        .orderBy("doc_id")
    )


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on normalized content: keep min doc_id per content
    key, count copies. One shuffle on the uniform md5 key."""
    d = tbl(spark, sf_dir, "documents")
    key = F.md5(F.lower(F.trim(F.col("text"))))
    return (
        d.groupBy(key.alias("content_key"))
        .agg(
            F.min("doc_id").alias("keep_id"),
            F.count("*").alias("n_copies"),
        )
        .orderBy("keep_id")
    )


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash per doc over distinct tokens: bit j of the
    signature = majority vote of bit j across the tokens' md5 hashes
    read from their first 4 hex chars. Those are the top 16 of the
    60-bit kernel's hash bits, so this is the kernel's signature
    (:func:`simhash_signatures`) shifted right by 44 — one in-row
    pass, no per-token rows and no aggregate."""
    d = spread(
        # see _with_shingles — the md5-per-token work must spread over
        # all cores locally; skipped when the scan is multi-split
        tbl(spark, sf_dir, "documents"),
        "doc_id",
        scan_parts=scan_partitions(spark, sf_dir, "documents"),
    )
    top16 = F.shiftright("sim", SIMHASH_BITS - 16).cast("int")
    return (
        simhash_signatures(d)
        .select("doc_id", top16.alias("simhash"))
        .orderBy("doc_id")
    )


SIMHASH_BITS = 60  # 15 md5 hex chars — stays inside a signed 64-bit
SIMHASH_BANDS = 4  # Hamming ≤ 3 ⇒ ≥1 untouched band (pigeonhole)
SIMHASH_HAMMING = SIMHASH_BANDS - 1
_BAND_BITS = SIMHASH_BITS // SIMHASH_BANDS  # 15-bit keys, 32768 values

#: Wide-key variant registered as `simhash_wide_pairs`: 6 blocks of
#: 10 bits, C(6,3) = 20 tables keyed on 3-block (30-bit) combined
#: keys — expected random key collisions drop from ~4·N²/2^16 to
#: ~20·N²/2^31, the Manku-et-al table-count-vs-key-width trade that
#: keeps the candidate superset sub-quadratic at ≥10⁸ documents.
SIMHASH_WIDE_BLOCKS = 6

#: Plan-bloat guard: each table is one branch of the exploded key
#: array; C(blocks, hamming) beyond this is a config mistake.
_MAX_SIMHASH_TABLES = 256


def simhash_block_widths(bits: int, blocks: int) -> list[int]:
    """Split a ``bits``-wide signature into ``blocks`` contiguous
    blocks whose widths differ by at most 1 (wider blocks first, at
    the low end) — the block layout of Manku, Jain & Das Sarma
    (WWW'07) §3, which does not require ``blocks`` to divide
    ``bits``."""
    base, extra = divmod(bits, blocks)
    return [base + 1 if i < extra else base for i in range(blocks)]


def simhash_tables(blocks: int, hamming: int) -> list[tuple[int, ...]]:
    """The probe tables for Hamming ≤ ``hamming`` over ``blocks``
    blocks: every combination of ``blocks − hamming`` block indices.
    Pigeonhole: ≤ ``hamming`` flipped bits touch ≤ ``hamming``
    blocks, so SOME combination of ``blocks − hamming`` blocks is
    untouched in both signatures and its combined key matches exactly
    — zero false negatives (property-tested over (blocks, hamming) in
    tests/test_round9_ops.py)."""
    import itertools

    return list(itertools.combinations(range(blocks), blocks - hamming))


def _simhash_combo_key(
    sim: Column, combo: tuple[int, ...], widths: list[int], offsets: list[int]
) -> Column:
    """Concatenate the chosen blocks' bit ranges into one integer key
    (pure Column bit arithmetic — stays in codegen)."""
    key: Column | None = None
    for b in combo:
        val = F.shiftright(sim, offsets[b]).bitwiseAND((1 << widths[b]) - 1)
        key = val if key is None else F.shiftleft(key, widths[b]).bitwiseOR(val)
    assert key is not None
    return key


def _validate_simhash_banding(bits: int, blocks: int, hamming: int) -> None:
    import math

    if not 1 <= bits <= 63:
        raise ValueError(f"bits must be in [1, 63], got {bits}")
    if not 1 <= blocks <= bits:
        raise ValueError(
            f"blocks must be in [1, bits={bits}], got {blocks}"
        )
    if not 0 <= hamming < blocks:
        raise ValueError(
            "hamming must satisfy 0 <= hamming < blocks "
            f"(got hamming={hamming}, blocks={blocks}); with "
            "hamming >= blocks the pigeonhole guarantee is void — "
            "add blocks or lower the radius"
        )
    n_tables = math.comb(blocks, blocks - hamming)
    if n_tables > _MAX_SIMHASH_TABLES:
        raise ValueError(
            f"C({blocks}, {blocks - hamming}) = {n_tables} probe "
            f"tables exceeds the {_MAX_SIMHASH_TABLES}-table guard; "
            "use fewer blocks"
        )


def _simhash_counts(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = SIMHASH_BITS,
) -> DataFrame:
    """The SimHash kernel: per-document bit counters ``(id_col, n, c)``
    over the md5 hashes of the document's DISTINCT non-empty whitespace
    tokens — ``n`` tokens, ``c[j]`` of them with bit j set (bit j of
    the long read from the md5's first 15 hex chars). Documents without
    tokens emit no row.

    Computed entirely in-row: a document's tokens live in its own row,
    so the counters are one ``aggregate()`` fold over the hashed token
    array (one ``bits``-int accumulator per row) — no exchange, and no
    shuffle of the corpus text to a doc-keyed aggregate. Counters are
    sums, so rows over disjoint token sets of one document merge by
    :func:`_sum_merge`. They stay one array column here: spreading them
    over ``bits`` columns in the kernel made :func:`simhash_signatures`
    ~1.6× slower at sf0.1, so only the streaming counter store spreads
    them, at its write."""
    if not 1 <= bits <= 60:
        raise ValueError(
            f"bits must be in [1, 60] (15 md5 hex chars), got {bits}"
        )
    hs = F.transform(
        F.filter(
            F.array_distinct(F.split(F.lower(F.trim(text_col)), " ")),
            lambda t: t != F.lit(""),
        ),
        lambda t: F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("long"),
    )
    wh = docs.select(F.col(id_col), hs.alias("_hs")).filter(
        F.size("_hs") > 0
    )
    seq = F.sequence(F.lit(0), F.lit(bits - 1))
    counts = F.aggregate(
        "_hs",
        F.array_repeat(F.lit(0), bits),
        lambda acc, h: F.zip_with(
            acc,
            seq,
            lambda a, j: a
            + F.call_function("shiftright", h, j).bitwiseAND(1).cast("int"),
        ),
    )
    return wh.select(F.col(id_col), F.size("_hs").alias("n"), counts.alias("c"))


def _sum_merge(counts: DataFrame) -> DataFrame:
    """SimHash's merge, over counter rows in the store layout
    ``(doc_id, n, c0..c59)`` (the kernel's array spread over columns):
    one row per ``doc_id``, the component-wise sum. Sums are not
    idempotent, so a row must be counted once — the counter store's
    replay rule."""
    return counts.groupBy("doc_id").agg(
        F.sum("n").alias("n"),
        *[F.sum(f"c{j}").alias(f"c{j}") for j in range(SIMHASH_BITS)],
    )


def _simhash_vote(
    counts: DataFrame, *, id_col: str = "doc_id", bits: int = SIMHASH_BITS
) -> DataFrame:
    """Finalize ``(id_col, n, c)`` counters into signatures
    ``(id_col, sim)``: bit j set iff the majority of counted tokens had
    it set (``2·c[j] > n``) — a second in-row fold."""
    seq = F.sequence(F.lit(0), F.lit(bits - 1))
    sim = F.aggregate(
        F.zip_with(
            F.col("c"),
            seq,
            lambda c, j: F.when(
                c * 2 > F.col("n"),
                F.call_function("shiftleft", F.lit(1).cast("long"), j),
            ).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return counts.select(F.col(id_col), sim.alias("sim"))


def simhash_signatures(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = SIMHASH_BITS,
) -> DataFrame:
    """Per-document SimHash: majority vote per bit over the md5
    hashes of the document's DISTINCT whitespace tokens → one
    ``bits``-wide signature (``(id_col, sim)``) — the kernel
    (:func:`_simhash_counts`) finalized by :func:`_simhash_vote`, in
    one in-row pass with no exchange. The streaming store merges the
    same kernel rows before the same vote, so a document that arrives
    whole gets the same signature there (pinned by the batch-twin
    parity test in tests/test_streaming.py)."""
    return _simhash_vote(
        _simhash_counts(docs, id_col=id_col, text_col=text_col, bits=bits),
        id_col=id_col,
        bits=bits,
    )


def _simhash_keys(
    sig: DataFrame,
    *,
    bits: int = SIMHASH_BITS,
    blocks: int = SIMHASH_BANDS,
    hamming: int = SIMHASH_HAMMING,
) -> DataFrame:
    """(doc_id, sim) signatures → (doc_id, sim, tbl, key) probe rows,
    one per Manku table (:func:`simhash_tables`): ``key`` concatenates
    the table's blocks of ``sim``. The one banded-key builder — the
    batch pair queries self-join its rows (:func:`_simhash_key_pairs`)
    and the SimHash ingest index persists and probes them."""
    _validate_simhash_banding(bits, blocks, hamming)
    widths = simhash_block_widths(bits, blocks)
    offsets = [sum(widths[:i]) for i in range(blocks)]
    entries = F.array(
        *[
            F.struct(
                F.lit(t).alias("tbl"),
                _simhash_combo_key(
                    F.col("sim"), combo, widths, offsets
                ).alias("key"),
            )
            for t, combo in enumerate(simhash_tables(blocks, hamming))
        ]
    )
    return sig.select("doc_id", "sim", F.explode(entries).alias("e")).select(
        "doc_id",
        "sim",
        F.col("e.tbl").alias("tbl"),
        F.col("e.key").alias("key"),
    )


def _simhash_key_pairs(keys: DataFrame) -> DataFrame:
    """Distinct candidate pairs ``(a_id, b_id, sa, sb)``, ``a_id <
    b_id``, of :func:`_simhash_keys` rows: docs sharing any (tbl,
    key). The self-join runs on (tbl, key) — hot exact-dup clusters
    skew a key, and AQE's skew-join split handles exactly that
    shape."""
    a = keys.select(
        F.col("doc_id").alias("a_id"), F.col("sim").alias("sa"), "tbl", "key"
    )
    b = keys.select(
        F.col("doc_id").alias("b_id"), F.col("sim").alias("sb"), "tbl", "key"
    )
    return (
        a.join(b, ["tbl", "key"])
        .filter(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id", "sa", "sb")
        .distinct()
    )


def simhash_candidates(
    sig: DataFrame,
    *,
    bits: int = SIMHASH_BITS,
    blocks: int = SIMHASH_BANDS,
    hamming: int = SIMHASH_HAMMING,
    id_col: str = "doc_id",
    sim_col: str = "sim",
) -> DataFrame:
    """The banded candidate SUPERSET (``a_id, b_id, sa, sb``) — every
    pair whose signatures agree on at least one probe table's
    combined key. Zero false negatives for Hamming ≤ ``hamming`` by
    the pigeonhole argument in :func:`simhash_tables`; the false-
    POSITIVE volume is what (blocks, hamming) tunes: key width is
    ``(blocks − hamming) · bits/blocks`` bits, so expected random
    collisions ≈ ``C(blocks, hamming) · N² / 2^keywidth``. Exposed
    separately from :func:`simhash_pairs` so the candidate count —
    the quantity that goes quadratic when keys are too narrow — is
    directly measurable (tools/bench_simhash_bands.py).

    Plan: ONE generator pass explodes each signature into its
    C(blocks, hamming) (table, key) probes (:func:`_simhash_keys`),
    then the (table, key) self-join (:func:`_simhash_key_pairs`)."""
    _validate_simhash_banding(bits, blocks, hamming)  # before touching sig
    sig = sig.select(F.col(id_col).alias("doc_id"), F.col(sim_col).alias("sim"))
    return _simhash_key_pairs(
        _simhash_keys(sig, bits=bits, blocks=blocks, hamming=hamming)
    )


def simhash_pairs(
    sig: DataFrame,
    *,
    bits: int = SIMHASH_BITS,
    blocks: int = SIMHASH_BANDS,
    hamming: int = SIMHASH_HAMMING,
    id_col: str = "doc_id",
    sim_col: str = "sim",
) -> DataFrame:
    """Every signature pair within Hamming distance ≤ ``hamming``
    (exact — the banding is a complete candidate generator, the
    in-row ``bit_count(a XOR b)`` verifies). ``blocks``/``hamming``
    pick the Manku-style table-count-vs-key-width point; the answer
    set is IDENTICAL for every valid setting, only the candidate
    volume changes."""
    cand = simhash_candidates(
        sig,
        bits=bits,
        blocks=blocks,
        hamming=hamming,
        id_col=id_col,
        sim_col=sim_col,
    )
    return (
        cand.select(
            "a_id",
            "b_id",
            F.bit_count(F.col("sa").bitwiseXOR(F.col("sb")))
            .cast("int")
            .alias("hamming"),
        )
        .filter(F.col("hamming") <= hamming)
        .orderBy("a_id", "b_id")
    )


def _simhash_sig(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted 60-bit signature frame for the banded pair queries.
    The persist is within-plan reuse (guide §5): BOTH sides of the
    banded self-join (every probe table of the wide layout) read the
    one materialized signature frame — the dominant cost; the
    banding is cheap. Armed per invocation, not per session: Spark's
    CacheManager dedupes the identical canonicalized plan, so repeat
    invocations in one session still share a single cache entry."""
    return simhash_signatures(tbl(spark, sf_dir, "documents")).persist()


def q_simhash_hamming_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup PAIRS at corpus scale (Manku, Jain & Das
    Sarma, WWW'07 — Google's web near-dup detector): a 60-bit SimHash
    per document (majority vote per bit over distinct-token md5
    hashes), then every pair within Hamming distance ≤ 3 via the
    4-block pigeonhole banding (3 flipped bits cannot touch all 4 of
    the signature's 15-bit bands). Expressed through the public
    :func:`simhash_pairs` API at (blocks=4, hamming=3) — the
    narrow-key point: 4 tables, 15-bit keys. The oracle builds the
    identical banding (a brute-force twin is quadratic in the
    corpus); completeness vs brute force is pinned at fixture scale
    in tests/test_round8_ops.py, and the answer-set equality with the
    wide-key variant (`simhash_wide_pairs`) is pinned by giving both
    the same oracle. Complements `simhash` (the per-doc 16-bit
    fingerprint report) and `minhash_lsh_pairs` (set-Jaccard
    banding): SimHash catches small EDITS, MinHash catches set
    overlap."""
    return simhash_pairs(
        _simhash_sig(spark, sf_dir),
        blocks=SIMHASH_BANDS,
        hamming=SIMHASH_HAMMING,
    )


def q_simhash_wide_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME exact Hamming ≤ 3 pair set as `simhash_hamming_pairs`
    (same oracle — exactness means the banding choice cannot change
    the answer), generated through the WIDE-KEY table layout
    (blocks=6, hamming=3): C(6,3) = 20 probe tables keyed on 30-bit
    3-block combined keys. This is the ≥10⁸-document posture:
    random-collision candidates scale ~20·N²/2^31 vs the
    narrow layout's ~4·N²/2^16 — ~6,500× fewer false candidates per
    pair of documents, bought with 5× the probe rows. The candidate-
    volume crossover is measured, not asserted:
    tools/bench_simhash_bands.py prints candidate counts for both
    layouts at 1×/4×/16× corpus scale."""
    return simhash_pairs(
        _simhash_sig(spark, sf_dir),
        blocks=SIMHASH_WIDE_BLOCKS,
        hamming=SIMHASH_HAMMING,
    )


def _shingle_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted (doc_id, sh) distinct word-3-gram sets of the
    documents table — the shared input frame of :func:`q_ngram_jaccard`
    (both sides of its self-join) and :func:`q_ngram_decontaminate`
    (its benchmark and corpus branches). The persist is a within-plan
    optimizer barrier AND shares one shingling pass between the two
    branches of a single invocation; it is armed per invocation, not
    per session, so every invocation pays its own shingle pass."""
    return _with_shingles(
        tbl(spark, sf_dir, "documents"),
        scan_parts=scan_partitions(spark, sf_dir, "documents"),
    ).persist()


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-3-gram Jaccard similarity — the verification operator
    for candidate pairs, demonstrated on consecutive-id pairs."""
    s = _shingle_sets(spark, sf_dir)
    a = s.alias("a")
    b = s.alias("b")
    inter = F.size(F.array_intersect(F.col("a.sh"), F.col("b.sh")))
    union = F.size(F.array_union(F.col("a.sh"), F.col("b.sh")))
    return (
        a.join(b, F.col("a.doc_id") + 1 == F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("a_id"),
            F.col("b.doc_id").alias("b_id"),
            F.round(inter.cast("double") / union, 4).alias("jaccard"),
        )
        .orderBy("a_id")
    )


def q_ngram_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag corpus documents sharing ANY
    word-3-gram with a held-out benchmark set (here doc_id < 10) — the
    eval-leakage filter every training-data pipeline runs before a
    corpus ships.

    Scale shape: the benchmark gram set is small by construction
    (benchmarks are KBs-MBs, the corpus is the 100 TB side), so it
    broadcasts; the corpus side streams through a map-side left-semi
    probe and never shuffles. Dedup of flagged ids is a distinct on the
    (tiny) match output.

    The shingled table is persist()ed as an optimizer BARRIER, not for
    reuse speed: both branches explode `sh`, and Generate's inferred
    predicates (size(sh) > 0, isnotnull(sh)) otherwise push below the
    repartition — re-evaluating the full interpreted shingle transform
    inside the one-task scan stage, per branch (measured 6.3 s → 1.5 s
    at sf0.1 with the barrier). The cached relation also shares ONE
    shingling pass between the benchmark and corpus branches."""
    d = _shingle_sets(spark, sf_dir)
    bench = (
        d.filter(F.col("doc_id") < 10)
        .select(F.explode("sh").alias("gram"))
        .distinct()
    )
    corpus = d.filter(F.col("doc_id") >= 10).select(
        "doc_id", F.explode("sh").alias("gram")
    )
    return (
        corpus.join(F.broadcast(bench), "gram", "left_semi")
        .select("doc_id")
        .distinct()
        .orderBy("doc_id")
    )


SPAN_N = 5  # word n-gram width for repeated-span detection


def q_repeated_ngram_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact repeated-substring detection at word-5-gram granularity
    (the scalable analog of Lee et al. 2022's suffix-array substring
    dedup, "Deduplicating Training Data Makes Language Models
    Better"): a 5-gram occurring ≥2 times ANYWHERE in the corpus
    (cross- or intra-document) marks its positions as duplicated, and
    maximal runs of consecutive duplicated positions are the repeated
    SPANS — a run of r consecutive duplicated 5-grams is a repeated
    substring of r+4 tokens. Per affected document: gram count,
    duplicated-gram count, longest span, duplicated fraction — the
    per-doc signal a span-remover or a dup-aware loss mask consumes.

    Plan: positions ride the explode (posexplode — no second scan for
    offsets); the duplicated-gram set comes from ONE gram-keyed
    aggregate whose map-side partial combine collapses each task's
    repeats before the shuffle; marking is an inner join back on gram
    (only duplicated positions survive — the frame entering the
    per-doc stage is contamination-sized, not corpus-sized). The
    gaps-and-islands window partitions by doc_id — millions of
    bounded groups at 100 TB, never a low-cardinality key.

    Determinism: island bookkeeping never leaves the engine
    (0- vs 1-based positions cancel in pos − row_number()); the only
    float is one division of two exact longs, floored to 4 dp.
    """
    from pyspark.sql import Window

    d = tbl(spark, sf_dir, "documents")
    grams = F.expr(
        f"transform(sequence(1, size(w) - {SPAN_N - 1}),"
        f" i -> concat_ws(' ', slice(w, i, {SPAN_N})))"
    )
    base = (
        d.select(
            "doc_id", F.split(F.lower(F.trim("text")), " ").alias("w")
        )
        # sequence(1, 0) counts DOWN (same guard as _with_shingles)
        .filter(F.size("w") >= SPAN_N)
        .select("doc_id", F.posexplode(grams).alias("pos", "gram"))
        # persisted straight off the scan, NOT pre-partitioned on gram
        # (guide §2.2/§2.4): of this frame's
        # three consumers only the dup aggregate keys on gram — and its
        # map-side partial combine shuffles (gram, count) partials, far
        # fewer bytes than the full occurrence rows an up-front
        # repartition("gram") moves; the mark-join's dup side is
        # contamination-sized (broadcastable) and `totals` keys on
        # doc_id, so neither benefits from gram partitioning.
        # Interleaved A/B min-of-3 at sf0.1: repartition 1.81 s /
        # 8.8 MB shuffle-write vs combine-first 1.63 s / 5.7 MB.
        # (ngram_novelty and the span-removal twins KEEP their explicit
        # gram exchange — there ALL consumers key on gram and the same
        # A/B shows it winning: see their comments.)
        .persist()
    )
    dupg = (
        base.groupBy("gram")
        .agg(F.count("*").alias("c"))
        .filter(F.col("c") >= 2)
        .select("gram")
    )
    marked = base.join(dupg, "gram").select("doc_id", "pos")
    w = Window.partitionBy("doc_id").orderBy("pos")
    runs = (
        marked.withColumn("island", F.col("pos") - F.row_number().over(w))
        .groupBy("doc_id", "island")
        .agg(F.count("*").alias("run"))
    )
    per_doc = runs.groupBy("doc_id").agg(
        F.sum("run").alias("n_dup_grams"),
        F.max("run").alias("max_run"),
    )
    totals = base.groupBy("doc_id").agg(F.count("*").alias("n_grams"))
    return (
        per_doc.join(totals, "doc_id")
        .select(
            "doc_id",
            "n_grams",
            "n_dup_grams",
            (F.col("max_run") + F.lit(SPAN_N - 1)).alias(
                "max_dup_span_tokens"
            ),
            half_up(F.col("n_dup_grams") / F.col("n_grams"), 4).alias("dup_fraction"),
        )
        .orderBy("doc_id")
    )


def q_dedup_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ACTION twin of :func:`q_repeated_ngram_spans` — Lee et
    al. 2022's remove-later-occurrences policy at word-5-gram
    granularity: for every 5-gram occurring ≥2 times in the corpus,
    the lexicographically first occurrence (min (doc_id, pos)) is
    canonical and stays; every other occurrence marks its 5 token
    positions for removal; a document's cleaned text is its token
    array minus all marked positions (overlapping spans union
    naturally in the drop set). Per affected document: token counts
    before/after and the md5 of the cleaned text — the hash pins the
    exact reconstruction cross-engine without shipping corpus-sized
    strings through the compare.

    Plan: one gram-keyed aggregate finds duplicated grams AND their
    canonical occurrence in the same pass (min-struct); the join back
    keeps only duplicated-gram occurrences (contamination-sized), the
    ×5 index explode is bounded by 5×removals, and the per-doc drop
    set is one doc-keyed aggregate whose lists are bounded by document
    length. Reconstruction is an in-row index-aware filter at scan
    speed — no window, no sort, nothing corpus-sized shuffles twice.

    Positions are 1-based on both engines (Spark's 0-based posexplode
    is shifted at birth) so min-struct canonicalization and drop-set
    membership agree bit-for-bit.
    """
    d = tbl(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.split(F.lower(F.trim("text")), " ").alias("w")
    )
    return _span_removal_frame(toks, SPAN_N)


def _span_removal_frame(
    toks: DataFrame,
    n: int,
    hash_grams: bool = False,
) -> DataFrame:
    """Shared remove-later-occurrences machinery of
    :func:`q_dedup_span_removal` (word 5-grams) and
    :func:`q_verbatim_span_removal` (16-token verbatim windows):
    ``toks`` = (doc_id, w array<string>); every ``n``-gram occurring
    ≥2 times corpus-wide keeps only its min-(doc_id, pos) occurrence,
    all other occurrences mark their ``n`` positions for removal, and
    affected documents report before/after counts + the md5 of the
    reconstructed text. Same plan shape at any ``n`` — one gram-keyed
    aggregate, contamination-sized join back, in-row reconstruction.
    ``hash_grams`` shuffles md5 digests instead of raw gram strings —
    worth it once ``n`` makes grams wider than the 32-char digest
    (gram values are keys only, never output, so results are
    unchanged; md5 is deterministic on both engines)."""
    gram_sql = f"concat_ws(' ', slice(w, i, {n}))"
    if hash_grams:
        gram_sql = f"md5({gram_sql})"
    grams = F.expr(
        f"transform(sequence(1, size(w) - {n - 1}), i -> {gram_sql})"
    )
    # one shingling pass feeds the dup aggregate AND the occurrence
    # side of the join back (same barrier rationale as
    # q_repeated_ngram_spans / ngram_decontaminate); the persist is
    # armed per invocation. The explicit gram exchange
    # STAYS: both consumers key on gram, and the interleaved A/B
    # min-of-3 at sf0.1 shows it winning (word-5-gram 1.53 s vs
    # 2.39 s combine-first; 16-token verbatim 1.71 s vs 2.23 s;
    # shuffle-write bytes equal either way because the dup aggregate's
    # min-struct payload barely combines on mostly-unique grams).
    occ = (
        toks.filter(F.size("w") >= n)
        .select("doc_id", F.posexplode(grams).alias("pos0", "gram"))
        .select("doc_id", (F.col("pos0") + 1).alias("pos"), "gram")
        .repartition("gram")
        .persist()
    )
    dup = (
        occ.groupBy("gram")
        .agg(
            F.count("*").alias("c"),
            F.min(
                F.struct(
                    F.col("doc_id").alias("d"), F.col("pos").alias("p")
                )
            ).alias("canon"),
        )
        .filter(F.col("c") >= 2)
        .select("gram", "canon")
    )
    removals = (
        occ.join(dup, "gram")
        .filter(
            ~(
                (F.col("doc_id") == F.col("canon.d"))
                & (F.col("pos") == F.col("canon.p"))
            )
        )
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + (n - 1))
            ).alias("idx"),
        )
    )
    drops = removals.groupBy("doc_id").agg(
        F.collect_set("idx").alias("drop_idx")
    )
    kept = F.expr(
        "filter(w, (t, i) -> NOT array_contains(drop_idx, i + 1))"
    )
    return (
        toks.join(drops, "doc_id")
        .select(
            "doc_id",
            F.size("w").cast("long").alias("n_tokens"),
            F.size("drop_idx").cast("long").alias("n_removed"),
            F.md5(F.concat_ws(" ", kept)).alias("cleaned_hash"),
        )
        .orderBy("doc_id")
    )


def q_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Novelty-decay curve: treating ascending doc_id as arrival
    order, a document's novelty is the fraction of its word-5-grams
    whose corpus-wide FIRST occurrence (min doc_id; intra-doc repeats
    collapse to the doc) is this document. Aggregated into ten
    arrival-order deciles, the curve answers the data-curation
    question "is newly collected data still contributing unseen
    content, or replaying what we have?" — flat-high = healthy
    acquisition, decaying = the source is exhausted (the growth-side
    twin of the dedup attrition funnel).

    Plan: one (doc, gram)-distinct + one gram-keyed min aggregate —
    the first-seen table — joined back along the same gram key; the
    decile cut uses a broadcast 1-row max(doc_id) (no ntile window,
    no global sort: ntile over the corpus is exactly the
    100 TB-hostile shape this engine avoids; id-range deciles are
    in-row arithmetic). Per-doc novelty is two exact longs divided
    once; decile means use the integer micro-unit trick
    (PLANS.md "rounding ties").
    """
    d = tbl(spark, sf_dir, "documents")
    grams = F.expr(
        f"transform(sequence(1, size(w) - {SPAN_N - 1}),"
        f" i -> concat_ws(' ', slice(w, i, {SPAN_N})))"
    )
    doc_grams = (
        d.select(
            "doc_id", F.split(F.lower(F.trim("text")), " ").alias("w")
        )
        .filter(F.size("w") >= SPAN_N)
        .select("doc_id", F.explode(grams).alias("gram"))
        # hash(gram) satisfies the distinct's (doc_id, gram)
        # clustering AND the first-seen aggregate AND the join back
        # — one corpus-sized exchange instead of three (guide §2.4;
        # interleaved A/B min-of-3 at
        # sf0.1: 2.07 s / 7.6 MB shuffle-write with the shared gram
        # exchange vs 2.41 s / 14.4 MB combine-first — here, unlike
        # repeated_ngram_spans, EVERY consumer keys on gram, including
        # the corpus-sized first-seen join back). The persist feeds
        # first-seen, the join back and the max_id ceiling within ONE
        # invocation; it is armed per invocation.
        .repartition("gram")
        .distinct()
        .persist()
    )
    first_seen = doc_grams.groupBy("gram").agg(
        F.min("doc_id").alias("first_doc")
    )
    per_doc = (
        doc_grams.join(first_seen, "gram")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.sum(
                (F.col("doc_id") == F.col("first_doc")).cast("long")
            ).alias("n_novel"),
        )
    )
    # max over the CACHED gram frame, not per_doc: per_doc's doc set
    # equals doc_grams' (the first-seen join always matches), and
    # aggregating per_doc here would re-run the gram-keyed join a
    # second time just to find the ceiling
    max_id = doc_grams.agg(F.max("doc_id").alias("mx"))
    novelty_micro = F.floor(
        F.col("n_novel") / F.col("n_grams") * 1e4 + F.lit(0.5)
    ).cast("long")
    return (
        per_doc.crossJoin(F.broadcast(max_id))
        .select(
            F.least(
                F.lit(9),
                F.floor(F.col("doc_id") * 10 / (F.col("mx") + 1)).cast(
                    "int"
                ),
            ).alias("decile"),
            "n_grams",
            "n_novel",
            novelty_micro.alias("nm"),
        )
        .groupBy("decile")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_grams").alias("total_grams"),
            F.sum("n_novel").alias("novel_grams"),
            (half_up(F.sum("nm") / F.count("*"), 0) / 1e4).alias(
                "avg_novelty"
            ),
        )
        .orderBy("decile")
    )


def q_dedup_stage_attrition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source dedup attrition funnel: how many documents survive
    the EXACT stage (content-hash keep-min), then the NEAR-DUP stage
    (LSH bucket keep-min over the exact survivors) — the stage-by-stage
    accounting report a pipeline owner reads to see where each source's
    volume goes and whether a source is dominated by boilerplate
    (large exact drop) or templated near-copies (large near-dup drop).
    Stages compose in pipeline order: near-dup runs on EXACT SURVIVORS
    only, exactly as dedup executes in production (no point fuzzily
    comparing byte-identical copies).

    Plan: the exact stage is one window over the md5 content key (one
    uniform-key shuffle); the near-dup stage reuses :func:`band_keys`
    over the survivors (the batch/stream-shared signature pipeline)
    plus the bucket-min window; the flags then aggregate per source.
    Every shuffle is corpus-linear on a high-cardinality key; the dup
    id set joins back on doc_id.

    Counts are integers — oracle-exact by construction. NULL text rows
    share one content group (md5(NULL) groups together in both
    engines) and emit no band keys, symmetrically.
    """
    from pyspark.sql import Window

    d = tbl(spark, sf_dir, "documents")
    ckey = F.md5(F.lower(F.trim("text")))
    flags = d.withColumn(
        "_mn", F.min("doc_id").over(Window.partitionBy(ckey))
    ).withColumn("keep_exact", F.col("doc_id") == F.col("_mn"))
    survivors = flags.filter("keep_exact").select(
        "doc_id", "text", "source"
    )
    w = Window.partitionBy("band", "key")
    near_dups = (
        band_keys(survivors)
        .withColumn("_bmn", F.min("doc_id").over(w))
        .filter(F.col("doc_id") > F.col("_bmn"))
        .select("doc_id")
        .distinct()
        .withColumn("is_neardup", F.lit(True))
    )
    return (
        flags.join(near_dups, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.col("keep_exact").cast("int"))
            .cast("bigint")
            .alias("n_exact_kept"),
            F.sum(
                (
                    F.col("keep_exact") & F.col("is_neardup").isNull()
                ).cast("int")
            )
            .cast("bigint")
            .alias("n_neardup_kept"),
        )
        .orderBy("source")
    )


def _source_shingles(
    d: DataFrame, *, scan_parts: int | None = None
) -> DataFrame:
    """documents → (source, shingle) exploded word-3-grams (tokenize →
    inline-explode; NOT per-doc-distinct, which the consumer tolerates:
    collect_set is duplicate-invariant). The input of
    :func:`q_source_overlap_matrix`, which needs the shingle SETS, not
    signatures — MinHash signatures over any grouping come from the
    in-row kernel plus :func:`_min_merge`.
    ``scan_parts``: see :func:`_with_shingles`."""
    toks = (
        spread(d, "doc_id", scan_parts=scan_parts)
        .select(
            "source",
            F.split(F.lower(F.trim(F.col("text"))), " ").alias("toks"),
        )
        .filter(F.size("toks") >= 3)
    )
    return toks.select(
        "source",
        F.explode(
            F.expr(
                "transform(sequence(1, size(toks) - 2),"
                " i -> concat_ws(' ', element_at(toks, i),"
                " element_at(toks, i + 1), element_at(toks, i + 2)))"
            )
        ).alias("shingle"),
    )


def q_source_overlap_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-sketch estimate of the cross-source contamination
    matrix — the documented scale path of
    :func:`q_source_overlap_matrix` made real: each source is reduced
    to ONE k=8 MinHash signature over its shingle set, and every pair's
    Jaccard is estimated as the fraction of agreeing components. Where
    the exact matrix ships sets (bounded by S per shingle but still a
    corpus-sized aggregate), the sketch ships S×k longs TOTAL — at
    thousands of sources the matrix becomes a driver-trivial
    sketch-to-sketch compare, and signatures are mergeable (min) so
    they maintain incrementally as new shards land.

    Estimate granularity is 1/k (coarse by design — k=8 matches the
    doc-level MinHash tier); the EXACT matrix is the ground-truth twin.
    Unlike the exact matrix, every co-shingled source pair appears,
    including 0-agreement pairs (the sketch can't distinguish "no
    overlap" from "overlap below 1/k").

    Plan: the doc tier's in-row kernel carrying ``source``, then one
    per-source :func:`_min_merge` — the min over a source's per-doc
    minima is the min over its shingles, and only S×k partial rows per
    task reach the shuffle, where exploding shingles shipped one row
    per shingle to the aggregate.

    Determinism: the signature is the same md5-derived minhash family
    as the doc tier (one md5 → four 32-bit lanes), so the oracle
    reproduces it bit-for-bit; the estimate is n_match/8.0 — an exact
    binary fraction, no rounding needed. Sources whose every doc has
    <3 tokens have no shingle set and are absent, symmetrically.
    """
    sig = _minhash_sig_frame(
        tbl(spark, sf_dir, "documents"),
        id_col="source",
        scan_parts=scan_partitions(spark, sf_dir, "documents"),
    )
    return overlap_from_signatures(_min_merge(sig))


def overlap_from_signatures(sig: DataFrame) -> DataFrame:
    """Pairwise contamination estimates from a (source, h0..h7)
    signature table — shared by the batch query above and the
    streaming-maintained signatures (streaming/signatures.py), so
    the estimate semantics cannot drift between tiers."""
    a, b = sig.alias("a"), sig.alias("b")
    n_match = sum(
        (F.col(f"a.h{i}") == F.col(f"b.h{i}")).cast("int")
        for i in range(N_MINHASH)
    )
    return (
        a.join(b, F.col("a.source") < F.col("b.source"))
        .select(
            F.col("a.source").alias("src_a"),
            F.col("b.source").alias("src_b"),
            n_match.alias("n_match"),
            (n_match / F.lit(float(N_MINHASH))).alias("est_jaccard"),
        )
        .orderBy("src_a", "src_b")
    )


def q_source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise cross-source contamination matrix: for every source
    pair (a < b), the number of distinct word-3-gram shingles they
    share and the Jaccard similarity of their shingle sets — the
    audit a pipeline runs before treating sources as independent
    splits (train/eval leakage across crawls, mirrored sites, syndicated
    content). The pairwise generalization of ``ngram_decontaminate``'s
    one-benchmark check; pairs sharing nothing are absent.

    Scale shape — ONE corpus-wide shuffle, no shingle-keyed join: the
    exploded grams aggregate straight into per-shingle
    ``collect_set(source)`` (map-side partial sets are capped at S
    elements, so a stopword-grade shingle appearing in millions of
    docs ships ≤ S values per map task — the combiner kills the skew a
    self-join on ``shingle`` would eat); pair counts and per-source
    set sizes are then derived from the tiny (|vocab| × ≤S) sets
    frame, with pair expansion bounded by S·(S-1)/2 per shingle (S =
    #sources: crawls/datasets, a small constant). The naive
    formulation — DISTINCT then self-join on shingle — evaluates the
    corpus subtree three times and was rewritten away. At thousands
    of sources, swap the exact intersection for per-source MinHash
    sketches (operators/sketches.py) — same matrix, sketch merge
    instead of set expansion.

    Determinism: integer counts; jaccard = floor4 of a bigint/bigint
    double division — bit-identical cross-engine. NULL sources never
    pair (collect_set drops NULLs; the oracle's strict ``<`` likewise)
    and NULL/short texts shingle to nothing, symmetrically.
    """
    d = tbl(spark, sf_dir, "documents")
    sets = (
        _source_shingles(
            d, scan_parts=scan_partitions(spark, sf_dir, "documents")
        )
        .groupBy("shingle")
        .agg(F.array_sort(F.collect_set("source")).alias("srcs"))
    )
    sizes = (
        sets.select(F.explode("srcs").alias("source"))
        .groupBy("source")
        .agg(F.count("*").alias("n"))
    )
    pairs = (
        sets.filter(F.size("srcs") >= 2)
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(srcs, (x, i) ->"
                    " transform(slice(srcs, i + 2, size(srcs)),"
                    " y -> named_struct('src_a', x, 'src_b', y))))"
                )
            ).alias("p")
        )
        .groupBy(F.col("p.src_a").alias("src_a"), F.col("p.src_b").alias("src_b"))
        .agg(F.count("*").alias("n_shared"))
    )
    na = F.broadcast(
        sizes.select(F.col("source").alias("src_a"), F.col("n").alias("n_a"))
    )
    nb = F.broadcast(
        sizes.select(F.col("source").alias("src_b"), F.col("n").alias("n_b"))
    )
    jac = F.col("n_shared") / (
        F.col("n_a") + F.col("n_b") - F.col("n_shared")
    )
    return (
        pairs.join(na, "src_a")
        .join(nb, "src_b")
        .select(
            "src_a",
            "src_b",
            "n_shared",
            half_up(jac, 4).alias("jaccard"),
        )
        .orderBy("src_a", "src_b")
    )


#: Exact embedding near-dup: block-partitioned GEMM parameters.  The
#: corpus is hashed into EMB_BLOCKS groups; every unordered block pair
#: becomes one task computing a (|bi| x |bj|) cosine Gram matrix in
#: BLAS.  Tasks = B(B+1)/2, each bounded by (N/B)^2 — choose
#: B ~ N/1024 at scale so a task's matrices stay ~MB-sized.
EMB_BLOCKS = 8

#: Near-dup cosine threshold (fixture embeddings are near-orthogonal
#: random vectors, max pairwise cosine ~0.6 — 0.4 exercises the
#: operator non-degenerately; production near-dup uses ~0.95).
EMB_NEARDUP_THR = 0.4


def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs above EMB_NEARDUP_THR
    (rounded to 4 dp), computed EXACTLY via block-partitioned matrix
    multiplication.

    Why not LSH here: sign-LSH banding prunes candidates by the
    S-curve s = 1 - theta/pi, and at a LOW threshold (0.4 => s = 0.63)
    achieving ~1e-7 miss probability needs (2 planes, 32 tables) —
    measured on this corpus, that generates ~8x MORE candidate
    cosines than the exact all-pairs count (a banded implementation
    cost 50 s at sf0.1 where this kernel costs ~1 s).
    Banding only pays at high thresholds (0.95 => s = 0.9, where
    (12, 16) prunes ~500x) — that regime is served by
    ``similarity.ann_lsh_bucketed``.  Below it, the scalable exact
    answer is blocked GEMM:

    1. hash vectors into EMB_BLOCKS groups (one groupBy shuffle),
    2. join the B-row block table with itself on blk_a <= blk_b —
       B(B+1)/2 task descriptors, a deliberately tiny nested-loop
       join of B-row inputs, NOT a data-sized cartesian,
    3. each task computes its cosine Gram matrix in numpy/BLAS
       (Arrow-batched mapInPandas — the one place per-element HOF
       expressions genuinely lose to vectorized code, by ~100x) and
       emits candidate id pairs above (threshold - 1e-6),
    4. candidates (result-sized, tiny) re-verify through the
       sequential-fold JVM cosine so the emitted value is
       bitwise-identical to the DuckDB oracle's list_reduce — BLAS
       reassociates float additions, so its Gram entries are only
       used as a (margin-guarded) pre-filter, never as output.

    Scale: tasks grow as B^2 but each is bounded; at N = 1M with
    B = 1024 that is ~524k independent GEMM tasks — embarrassingly
    parallel, no skew, no driver state.  Beyond brute-force scale,
    raise the threshold and switch to the LSH/IVF candidate paths.
    """
    e = tbl(spark, sf_dir, "embeddings").filter(
        valid_vector()  # dirty rows (null / wrong-dimension) can't pair
    ).select(
        "vec_id",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("v"),
    )
    blocks = e.groupBy(
        F.pmod(F.col("vec_id"), F.lit(EMB_BLOCKS)).alias("blk")
    ).agg(F.collect_list(F.struct("vec_id", "v")).alias("m"))
    left = blocks.select(F.col("blk").alias("blk_a"), F.col("m").alias("ma"))
    right = blocks.select(F.col("blk").alias("blk_b"), F.col("m").alias("mb"))
    tasks = left.join(right, F.col("blk_a") <= F.col("blk_b"))

    thr = EMB_NEARDUP_THR

    def gemm_candidates(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            out_a, out_b = [], []
            for ma, mb, same in zip(
                pdf["ma"], pdf["mb"], pdf["blk_a"] == pdf["blk_b"]
            ):
                ids_a = np.array([r["vec_id"] for r in ma])
                X = np.stack([np.asarray(r["v"]) for r in ma])
                ids_b = np.array([r["vec_id"] for r in mb])
                Y = np.stack([np.asarray(r["v"]) for r in mb])
                Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
                Yn = Y / np.linalg.norm(Y, axis=1, keepdims=True)
                G = Xn @ Yn.T
                # margin guards BLAS reassociation noise (~1e-15); the
                # JVM re-verify applies the exact threshold
                ai, bi = np.nonzero(G > thr - 1e-6)
                pa, pb = ids_a[ai], ids_b[bi]
                keep = pa < pb if bool(same) else np.ones(len(pa), bool)
                lo = np.minimum(pa, pb)[keep]
                hi = np.maximum(pa, pb)[keep]
                out_a.append(lo)
                out_b.append(hi)
            yield pd.DataFrame(
                {
                    "a_id": np.concatenate(out_a) if out_a else [],
                    "b_id": np.concatenate(out_b) if out_b else [],
                }
            )

    cand = tasks.mapInPandas(gemm_candidates, "a_id long, b_id long")

    ea = e.select(F.col("vec_id").alias("a_id"), F.col("v").alias("va"))
    eb = e.select(F.col("vec_id").alias("b_id"), F.col("v").alias("vb"))
    return (
        cand.join(ea, "a_id")
        .join(eb, "b_id")
        .withColumn(
            "cosine", F.round(F.expr(_cosine_fold_sql("va", "vb")), 4)
        )
        .filter(F.col("cosine") > thr)
        .select("a_id", "b_id", "cosine")
        .orderBy("a_id", "b_id")
    )


def _minhash_hashes_sql() -> str:
    """The h0..h7 minhash aggregate list of :func:`_minhash_sql_cte`,
    exposed separately so source-keyed oracles can GROUP BY source."""
    return ", ".join(
        f"min(('0x' || substr(md5('{i // 4}|' || shingle), {1 + 8 * (i % 4)}, 8))"
        f"::BIGINT) AS h{i}"
        for i in range(N_MINHASH)
    )


def _sig_matches_sql() -> str:
    """Component-agreement count between two aliased signatures."""
    return " + ".join(
        f"CASE WHEN a.h{i} = b.h{i} THEN 1 ELSE 0 END"
        for i in range(N_MINHASH)
    )


def _minhash_sql_cte() -> str:
    """Shared oracle CTE: doc_id → h0..h7 minhash signature."""
    return f"""
        shingled AS (
            SELECT doc_id, unnest({word_shingles_expr(3)}) AS shingle
            FROM documents
            WHERE len(string_split(lower(trim(text)), ' ')) >= 3
        ),
        sig AS (SELECT doc_id, {_minhash_hashes_sql()} FROM shingled GROUP BY doc_id)
    """


def lsh_pairs_sql_cte() -> str:
    """Shared oracle CTE chain ending in ``pairs`` = distinct
    ``(a_id, b_id)``, ``a_id < b_id``, LSH candidate pairs — the SQL
    twin of :func:`lsh_candidate_pairs`, composed verbatim by the
    minhash_lsh_pairs oracle, the CC prefix, and the split-leakage
    audit (functions/training.py)."""
    bands_union = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band,"
        f" md5(CAST(h{2 * b} AS VARCHAR) || ',' || CAST(h{2 * b + 1} AS VARCHAR))"
        f" AS key FROM sig"
        for b in range(N_BANDS)
    )
    return f"""
        {_minhash_sql_cte()},
        bands AS ({bands_union}),
        pairs AS (
            SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
            FROM bands a JOIN bands b
              ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
        )
    """


def _cc_sql_prefix() -> str:
    """Shared oracle CTE chain ending in ``labeled`` = (doc_id,
    cluster_id, text): near-dup connected components over the LSH
    candidate graph, singletons self-labeled — the oracle twin of
    :func:`_labeled_clusters`, shared by the neardup_keep_list /
    neardup_keep_best / dedup_cluster_stats oracles so the clustering
    semantics cannot drift between them. Must follow a
    ``WITH RECURSIVE``."""
    return f"""
        {lsh_pairs_sql_cte()},
        edges AS (
            SELECT a_id AS u, b_id AS v FROM pairs
            UNION SELECT b_id, a_id FROM pairs
        ),
        reach(node, r) AS (
            SELECT u, u FROM (SELECT u FROM edges)
            UNION
            SELECT e.u, re.r FROM edges e JOIN reach re ON re.node = e.v
        ),
        cc AS (SELECT node, min(r) AS cluster_id FROM reach GROUP BY node),
        labeled AS (
            SELECT d.doc_id,
                   coalesce(cc.cluster_id, d.doc_id) AS cluster_id,
                   d.text
            FROM documents d LEFT JOIN cc ON d.doc_id = cc.node
        )
    """




def q_fuzzy_name_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-duplicate detection with blocking: part names
    sharing their noun (last word) pair up only inside that block, then
    `levenshtein` ≤ 4 keeps close adjectives. The block key bounds the
    quadratic term — pairs per block, not per table; at 100 TB widen
    the key (noun + length band / soundex) until blocks fit a task.
    JVM built-in levenshtein, no UDF.

    Plan: a GRID-DECOMPOSED shuffle self-join on the block key —
    ``operators/skew.grid_self_join``. This fixture has only 8
    distinct block nouns, so a plain shuffle equi-join would funnel
    each block's full quadratic pair expansion into ONE reduce task;
    the G×G grid routes pair (x, y) to cell (h(x), h(y)), giving the
    same |block|²/n_cells per-task pair bound as salting but with
    each side replicated only √n_cells ways — shuffle volume 2√S·N
    instead of the salted plan's S·N (≈ 46·N vs 513·N at the cap),
    and per-cell hash builds of |block|/G rows instead of |block|.

    The ``shuffle_hash`` hint pins the strategy: Catalyst's size
    estimate for the exploded replica side is unreliable and an
    auto-broadcast of a table-sized side is the failure this plan
    exists to avoid. Hash beats merge here because neither
    side's sort order is reusable and the per-cell build side is
    |block|/G rows — bounded by the same widen-the-key rule that
    bounds pair count.

    Two measured cuts inside the block (75 s at full O(n*m) per pair
    → 38 s banded → ~2.5 s spread at sf0.1):
    (a) a length prefilter |len(a)-len(b)| <= 4 — implied by the
    distance bound, so it drops pairs before any DP runs; (b) the
    THRESHOLD form ``levenshtein(a, b, 4)``, which runs the banded
    O(len*k) DP with early exit instead of the full O(len^2) matrix,
    returning -1 past the bound.

    A third cut (guide §1.2 "per-task work"): both names in a block
    END with the identical ``" <noun>"`` suffix, and edit distance is
    invariant under stripping a shared suffix — so the DP runs on the
    noun-STRIPPED prefixes (~20% shorter strings, and the DP is
    super-linear in length), with the reported ``lev_dist`` value
    unchanged by the theorem. Guarded per pair: the strip is only
    symmetric when BOTH names are multi-word (a one-word name shares
    only ``noun``, not ``" noun"``, with a multi-word partner), so
    single-word pairs fall back to the full-string DP — on the
    fixtures (5-word TPC-H part names) the fast path always fires.
    Measured 3.3 s → 1.6 s at sf0.1; oracle (full-name levenshtein)
    hash unchanged."""
    from wd2duckdb_spark.operators.skew import grid_self_join

    p = tbl(spark, sf_dir, "part").select("p_partkey", "p_name")
    noun = F.element_at(F.split("p_name", " "), -1)
    base = F.expr(
        "substring(p_name, 1, length(p_name)"
        " - length(element_at(split(p_name, ' '), -1)) - 1)"
    )
    multi = F.size(F.split("p_name", " ")) >= 2
    a = p.select(
        F.col("p_partkey").alias("a_key"),
        F.col("p_name").alias("a_name"),
        base.alias("a_base"),
        multi.alias("a_multi"),
        noun.alias("block"),
    )
    b = p.select(
        F.col("p_partkey").alias("b_key"),
        F.col("p_name").alias("b_name"),
        base.alias("b_base"),
        multi.alias("b_multi"),
        noun.alias("block"),
    )
    # 2x cores locally, capped at 512 CELLS: cells divide per-task
    # pair work (|block|^2 / n_cells) while each side's replication is
    # only sqrt(n_cells) — unbounded cells on a 1000-executor cluster
    # (defaultParallelism ~ 10^4) would buy task sizes that 512 cells
    # per block already make small. 8 blocks x 512 cells = 4096
    # reduce cells, plenty for any realistic executor count.
    n_cells = min(spark.sparkContext.defaultParallelism * 2, 512)
    return (
        grid_self_join(a, b, on="block", n_cells=n_cells, join_hint="shuffle_hash")
        .filter(
            (F.col("a_key") < F.col("b_key"))
            & (
                F.abs(F.length("a_name") - F.length("b_name")) <= 4
            )  # implied by lev <= 4; prunes before the DP
        )
        .withColumn(
            "lev_dist",
            F.when(
                F.col("a_multi") & F.col("b_multi"),
                F.levenshtein("a_base", "b_base", 4),
            ).otherwise(F.levenshtein("a_name", "b_name", 4)),
        )
        .filter(F.col("lev_dist") >= 0)  # threshold form: -1 = pruned
        .select("a_key", "b_key", "a_name", "b_name", "lev_dist")
        # no ORDER BY: at this fixture's block selectivity the pair set
        # is tens of millions of rows — a presentation-only global sort
        # of that is pure waste (the oracle compare is order-insensitive)
    )


#: Jaccard threshold for the prefix-filter join, as an exact rational
#: (JACCARD_NUM/JACCARD_DEN) so every derived bound uses integer
#: arithmetic — no FP ceil() off-by-one can shorten a prefix.
JACCARD_NUM, JACCARD_DEN = 4, 5  # t = 0.8

def _prefix_frames(
    spark: SparkSession, sf_dir: str, num: int, den: int
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Shared candidate machinery of the two prefix-filter joins:
    ``(sets, toks, prefix)`` where ``sets`` is the persisted per-doc
    sorted shingle arrays, ``toks`` the exploded (doc_id, n, tok)
    inverted list, and ``prefix`` each doc's first ``n − ⌈t·n⌉ + 1``
    shingles in global document-frequency order (rarest first, ties
    on the shingle) for threshold t = num/den. ⌈t·n⌉ is computed as
    ``(num·n + num) DIV den`` — integer, so an FP ceil can never
    silently shorten a prefix into missed pairs.

    The shingle-DF table ``dfc`` is CORPUS-LINEAR (distinct shingles),
    so it must NOT be force-broadcast (at 100 TB that pins a
    vocabulary-sized table to the driver and every executor). Both
    sides are keyed by ``tok``; the shuffle join is the scale-safe
    plan, AQE still downgrades to broadcast at runtime when dfc is
    genuinely small, and tools/bench_dedup_scale64.py
    measures candidate volume + wall-clock staying per-row-flat at
    1×/4×/16× corpus (where dfc itself grows 16×): with per-copy
    token namespaces (so pair semantics scale linearly by
    construction), sf0.1 measured candidates 118,826 → 475,304 →
    1,901,216 and accepted pairs 256 → 1,024 → 4,096 (both EXACTLY
    ×4/×16) at 3.3 s → 4.6 s → 11.0 s wall — per-row throughput
    improves as fixed overhead amortizes. Plan-pinned in
    tests/test_round10_ops.py: no BroadcastExchange survives
    threshold=-1.

    Both persists are WITHIN-PLAN reuse (guide §5): the Jaccard
    self-join consumes ``prefix`` twice and the verification join
    consumes ``sets`` twice (and containment probes ``prefix`` against
    the ``toks`` projection of ``sets``). They are armed per
    invocation, and Spark's CacheManager dedupes the identical
    canonicalized plans, so repeat invocations in one session still
    share a single cache entry per frame (no unbounded-entry leak).
    """
    from pyspark.sql import Window

    d = tbl(spark, sf_dir, "documents")
    sets = (
        _with_shingles(
            d, scan_parts=scan_partitions(spark, sf_dir, "documents")
        )
        .select("doc_id", F.array_sort("sh").alias("ts"))
        .persist()
    )
    toks = sets.select(
        "doc_id", F.size("ts").alias("n"), F.explode("ts").alias("tok")
    )
    dfc = toks.groupBy("tok").agg(F.count("*").alias("df"))
    w = Window.partitionBy("doc_id").orderBy("df", "tok")
    plen = (
        F.col("n")
        - F.expr(f"({num} * n + {num}) DIV {den}")
        + F.lit(1)
    )
    prefix = (
        toks.join(dfc, "tok")
        .withColumn("pos", F.row_number().over(w))
        .filter(F.col("pos") <= plen)
        .select("doc_id", "tok")
        # the Jaccard self-join consumes prefix TWICE and containment
        # probes it against the full inverted list; without the
        # barrier each consumer re-derives the whole DF-count +
        # window pipeline (measured sf0.1: 2.7 → 1.8-2.3 s). ~n/5
        # rare shingles per doc — the same bounded-intermediate class
        # as `sets`.
        .persist()
    )
    return sets, toks, prefix


def q_jaccard_prefix_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact set-similarity self-join (3-gram shingle Jaccard ≥ 0.8)
    via PREFIX FILTERING (SSJoin/PPJoin family) — the third candidate-
    generation strategy next to MinHash banding (probabilistic, same
    shingle sets) and blocked GEMM (dense vectors): exact, and
    sub-quadratic whenever near-identical documents are rare.

    The filter: order every document's shingle set by global document
    frequency (rarest first, ties on the shingle); if J(a,b) ≥ t,
    then a and b MUST share a shingle within their first
    ``n - ⌈t·n⌉ + 1`` shingles — so candidate pairs come from an
    equi-join on prefix shingles only. At t = 0.8 the prefix is ~n/5
    rare shingles; the ubiquitous shingles that would explode the
    join never enter a prefix. Verification is exact: |A∩B| via
    array_intersect on the per-doc sorted shingle arrays, and the
    threshold test is integer cross-multiplication
    (5·|A∩B| ≥ 4·|A∪B|) — no FP at any decision point, which is what
    makes the brute-force DuckDB oracle match exactly. Bounds use
    integer arithmetic too (⌈4n/5⌉ = (4n+4) DIV 5): an FP ``ceil``
    can round 28.000000000000004 up and silently shorten a prefix,
    turning a pruning bug into missed pairs.

    Scale: one (shingle) shuffle for DF counts, one per-doc window
    sort for prefix positions, then a join whose fan-out is bounded
    by the DF of *prefix* shingles — the classic exact alternative to
    LSH when the threshold is high and misses are unacceptable. The
    candidate machinery (incl. the de-broadcast of the
    corpus-linear shingle-DF table) is shared with
    :func:`q_containment_join` via :func:`_prefix_frames`.
    """
    sets, _toks, prefix = _prefix_frames(
        spark, sf_dir, JACCARD_NUM, JACCARD_DEN
    )
    cand = (
        prefix.alias("a")
        .join(prefix.alias("b"), "tok")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("a_id"), F.col("b.doc_id").alias("b_id")
        )
        .distinct()
    )
    sa = sets.select(F.col("doc_id").alias("a_id"), F.col("ts").alias("ta"))
    sb = sets.select(F.col("doc_id").alias("b_id"), F.col("ts").alias("tb"))
    scored = (
        cand.join(sa, "a_id")
        .join(sb, "b_id")
        .select(
            "a_id",
            "b_id",
            F.size(F.array_intersect("ta", "tb")).alias("ni"),
            (F.size("ta") + F.size("tb")).alias("nab"),
        )
        .filter(
            F.lit(JACCARD_DEN) * F.col("ni")
            >= F.lit(JACCARD_NUM) * (F.col("nab") - F.col("ni"))
        )
    )
    return scored.select(
        "a_id",
        "b_id",
        half_up(F.col("ni") / (F.col("nab") - F.col("ni")), 4).alias("jaccard"),
    ).orderBy("a_id", "b_id")


#: Content-defined chunking (CDC) parameters: a chunk boundary falls
#: AFTER token e = i+W−1 wherever the W-token window hash at i is
#: ≡ 0 (mod CDC_MOD) — so boundaries are functions of CONTENT, not
#: position, and an insertion re-synchronizes within ~W tokens
#: instead of shifting every later fixed-grid chunk (FastCDC/LBFS
#: gear-hash idea, expressed over word tokens).
CDC_W = 4
CDC_MOD = 32  # expected chunk length ≈ 32 tokens
CDC_B = 131
CDC_M = 2147483647  # 2^31−1; th < 2^32, th·131³ < 2^54 — fits int64
#: FastCDC-style normalization: chunk lengths are
#: clamped to [CDC_MIN, CDC_MAX] (avg/4, avg·4 — the classic FastCDC
#: ratios). Without clamps a low-entropy token stream degenerates:
#: a constant-token doc whose window hash happens to be ≡0 (mod 32)
#: would cut at EVERY position (1-token chunks), and one that doesn't
#: would never cut (document-sized chunks) — exactly the boilerplate
#: corpora chunk dedup targets. A hash boundary closer than CDC_MIN
#: to the previous cut is skipped; CDC_MAX tokens without a boundary
#: force one. The final chunk may be shorter than CDC_MIN.
CDC_MIN = 8
CDC_MAX = 128


def _cdc_chunks_col() -> Column:
    """array<string> of CDC chunks over the ``cuts`` column (the
    boundary positions) — pure higher-order Column expression (no
    UDF), 1-based element_at/slice so the arithmetic is line-for-line
    the DuckDB oracle's."""
    ends = "concat(cuts, array(size(tk)))"
    starts = "concat(array(1), transform(cuts, c -> c + 1))"
    return F.expr(
        f"""transform(
              sequence(1, size({ends})),
              j -> concat_ws(' ',
                     slice(tk, element_at({starts}, j),
                           element_at({ends}, j)
                             - element_at({starts}, j) + 1)))"""
    )


def _cdc_cuts_col() -> Column:
    """Boundary positions with FastCDC length normalization: walking
    token positions e = 1..n−1 left to right with ``last`` = the
    previous cut (0 initially), cut at e iff

    - ``e − last ≥ CDC_MAX`` (forced cut — caps chunk length), or
    - ``e − last ≥ CDC_MIN`` and the W-token window ENDING at e has
      rolling hash ≡ 0 (mod CDC_MOD) (a content boundary far enough
      from the previous cut — floors chunk length).

    The clamp makes the rule SEQUENTIAL (each decision depends on the
    previous cut), so it runs as one in-row ``aggregate`` over the
    position sequence — still zero UDFs, zero shuffles, O(n) hash
    work per doc; the DuckDB oracle mirrors it with ``list_reduce``
    over the same accumulator. The implicit final boundary at n is
    excluded (added by the chunk assembler) and the final chunk may
    be shorter than CDC_MIN."""
    b3, b2, b1 = CDC_B**3, CDC_B**2, CDC_B
    # window ending at e covers tokens e−3..e (≡ window starting at
    # i = e−W+1); evaluated only under e ≥ CDC_W, so element_at never
    # sees index ≤ 0 (ANSI element_at(_, 0) throws; negative indexes
    # from the END — both traps guarded by the IF nesting)
    wh = (
        f"(element_at(th, e - 3) * {b3}L + element_at(th, e - 2) * {b2}L"
        f" + element_at(th, e - 1) * {b1}L + element_at(th, e))"
        f" % {CDC_M}L"
    )
    cut = "named_struct('last', e, 'cs', concat(acc.cs, array(e)))"
    return F.expr(
        f"""CASE WHEN size(tk) >= 2
                 THEN aggregate(
                        sequence(1, size(tk) - 1),
                        named_struct('last', 0,
                                     'cs', cast(array() as array<int>)),
                        (acc, e) -> IF(
                            e - acc.last >= {CDC_MAX}, {cut},
                            IF(e >= {CDC_W} AND e - acc.last >= {CDC_MIN},
                               IF({wh} % {CDC_MOD} = 0, {cut}, acc),
                               acc)),
                        acc -> acc.cs)
                 ELSE cast(array() as array<int>) END"""
    )


def q_cdc_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document dedup on CONTENT-DEFINED chunks: split every
    document at rolling-hash-chosen token boundaries (see CDC_*), and
    report every chunk fingerprint that occurs ≥ 2 times anywhere in
    the corpus with its occurrence and document counts. The
    insertion-robust complement to `chunk_dedup` (fixed 32-token
    grid): one inserted token shifts EVERY later fixed-grid chunk of
    a document (so a near-identical pair shares almost no grid
    chunks), while CDC boundaries re-synchronize within ~W tokens of
    the edit — pinned by a planted-insertion test in
    tests/test_round9_ops.py where CDC finds the shared tail and the
    fixed grid finds nothing after the edit point. Chunk lengths are
    clamped to [CDC_MIN, CDC_MAX] (FastCDC normalization) so
    low-entropy streams can't degenerate to 1-token or document-sized
    chunks — pinned by an all-same-token planted doc
    in tests/test_round10_ops.py.

    Plan: tokenize + window-hash + boundary selection + chunk
    assembly are ONE in-row higher-order expression (zero UDFs, zero
    shuffles); the only exchange is the chunk-fingerprint groupBy on
    a uniform md5 key. 100 TB cost = the same one shuffle
    `dedup_exact` pays, at chunk granularity.
    """
    d = tbl(spark, sf_dir, "documents")
    toks = spread(
        d, "doc_id", scan_parts=scan_partitions(spark, sf_dir, "documents")
    ).select(
        "doc_id",
        F.expr(
            "filter(split(lower(trim(text)), ' '), x -> x <> '')"
        ).alias("tk"),
    ).filter(F.size("tk") >= 1)
    hashed = toks.withColumn(
        "th",
        F.expr(
            "transform(tk, t -> cast(conv(substr(md5(t), 1, 8), 16, 10)"
            " as bigint))"
        ),
    ).withColumn("cuts", _cdc_cuts_col())
    chunks = hashed.select(
        "doc_id", F.explode(_cdc_chunks_col()).alias("chunk")
    )
    return (
        chunks.groupBy(F.md5("chunk").alias("chunk_md5"))
        .agg(
            F.count("*").alias("n_occ"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
        .filter(F.col("n_occ") >= 2)
        .orderBy("chunk_md5")
    )


#: Verbatim-overlap window length (tokens) and the pair-report floor:
#: pairs sharing fewer than VERBATIM_MIN_SHARED distinct windows are
#: noise (a single colliding idiom), not contamination.
VERBATIM_K = 16
VERBATIM_MIN_SHARED = 2


def q_verbatim_overlap_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT-substring overlap pairs (the dedup mode of Lee et al.
    2022, "Deduplicating Training Data Makes Language Models Better"):
    document pairs sharing ≥ :data:`VERBATIM_MIN_SHARED` distinct
    verbatim :data:`VERBATIM_K`-token windows — the raw signal behind
    suffix-array dedup, re-expressed as window fingerprints. Catches
    the case every fingerprint REPORT here aggregates away: WHICH
    documents share copied passages (chunk_dedup / cdc_chunk_dedup
    count duplicated chunks; this names the pairs), and unlike the
    Jaccard/containment joins it fires on a single long quotation
    inside otherwise-unrelated documents.

    ANCHORED pair semantics — the scale contract: each window key
    pairs its holders with the window's MINIMUM doc_id only (the
    corpus-level keep-min convention of `lsh_keep_list` and the
    ingest tiers), so per-window fan-out is LINEAR in occurrences —
    a boilerplate header shared by a million documents emits a
    million (anchor, doc) rows, never the 10¹² all-pairs explosion
    an unanchored self-join would. Every duplicate document still
    pairs with its cluster's anchor, which is exactly what a keep-min
    dedup pass consumes; `n_shared_windows` counts the DISTINCT
    window keys of b whose corpus minimum holder is a (per-doc
    repeated windows count once — the (doc, key) frame is distinct).

    Plan: tokenize + window-hash in-row (zero UDFs), ONE exchange on
    the uniform md5 window key for the distinct + per-key min, then a
    pair-keyed aggregate. Hashing the `.distinct()` on (doc_id, wkey)
    and re-shuffling on wkey for the window would cost TWO
    corpus-sized exchanges of the same frame (guide §2.4). An explicit
    repartition on wkey alone satisfies BOTH downstream requirements
    (hash(wkey) clusters every (wkey, doc_id) group, a subset of the
    distinct's keys, and is exactly the window's partitioning), so the
    dedup and the per-key min ride one exchange; plan-pinned.
    The oracle keeps the anchored rule via min() OVER (PARTITION BY
    window).
    """
    d = spread(
        tbl(spark, sf_dir, "documents"),
        scan_parts=scan_partitions(spark, sf_dir, "documents"),
    )
    tk = F.expr("filter(split(lower(trim(text)), ' '), x -> x <> '')")
    wins = (
        d.select("doc_id", tk.alias("tk"))
        .filter(F.size("tk") >= VERBATIM_K)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    f"transform(sequence(1, size(tk) - {VERBATIM_K - 1}),"
                    f" i -> md5(concat_ws(' ', slice(tk, i, {VERBATIM_K}))))"
                )
            ).alias("wkey"),
        )
        .repartition("wkey")
        .distinct()
    )
    from pyspark.sql import Window

    anchored = wins.withColumn(
        "a_id", F.min("doc_id").over(Window.partitionBy("wkey"))
    )
    return (
        anchored.filter(F.col("doc_id") > F.col("a_id"))
        .groupBy("a_id", F.col("doc_id").alias("b_id"))
        .agg(F.count("*").alias("n_shared_windows"))
        .filter(F.col("n_shared_windows") >= VERBATIM_MIN_SHARED)
        .orderBy("a_id", "b_id")
    )


def q_verbatim_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ACTION twin of :func:`q_verbatim_overlap_pairs`:
    Lee et al. 2022's actual dedup REMOVES the shared
    verbatim spans — the pairs query only NAMES the documents. This
    cuts every later occurrence of any corpus-repeated
    :data:`VERBATIM_K`-token window: the min-(doc_id, pos) occurrence
    is canonical and stays (first-occurrence-wins, the same rule as
    :func:`q_dedup_span_removal` — shared machinery,
    :func:`_span_removal_frame`); all other occurrences mark their
    16 positions for removal, overlapping repeats union naturally,
    and the cleaned text is pinned by md5 cross-engine. A quoted
    passage embedded in a later document is removed from the later
    document ONLY (planted-pair test in tests/test_round11_ops.py).

    Token stream matches the pairs query exactly (lower/trim split
    with empty tokens dropped), so a window this removes is a window
    the pairs query counted — the two views cannot disagree on what
    "verbatim shared" means. Same scale posture as the 5-gram
    remover: the only corpus-sized exchange is the gram-keyed
    aggregate; at K=16 the gram strings are ~3× longer but the
    repeated-window set is far sparser (only real copied passages
    repeat 16 straight tokens). Window keys shuffle as md5 digests —
    the same uniform 32-char key the pairs query exchanges — instead
    of ~16-word raw gram strings."""
    d = spread(
        tbl(spark, sf_dir, "documents"),
        scan_parts=scan_partitions(spark, sf_dir, "documents"),
    )
    toks = d.select(
        "doc_id",
        F.expr("filter(split(lower(trim(text)), ' '), x -> x <> '')").alias(
            "w"
        ),
    )
    return _span_removal_frame(toks, VERBATIM_K, hash_grams=True)


#: Containment threshold t = |A∩B|/|A| ≥ 9/10 as an exact integer
#: ratio, so bounds and the accept test never touch floating point.
CONTAIN_NUM, CONTAIN_DEN = 9, 10


def q_containment_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric CONTAINMENT self-join: directed
    pairs (a → b) where ≥ 90% of a's word-3-gram shingles appear in b
    — the doc-IN-doc contamination mode Jaccard misses by
    construction: a 50-gram document embedded verbatim in a
    5,000-gram one has containment 1.0 but Jaccard ≈ 0.01, far below
    any sane near-dup threshold (the planted-pair test in
    tests/test_round9_ops.py pins exactly this case).

    Prefix filter, adapted from PPJoin to the asymmetric measure: if
    |A∩B| ≥ ⌈t·|A|⌉ then A can miss at most |A| − ⌈t·|A|⌉ of its own
    shingles, so among A's FIRST |A| − ⌈t·|A|⌉ + 1 shingles in global
    document-frequency order (rarest first) at least one is shared
    with B. Unlike the symmetric Jaccard bound, only the CONTAINED
    side can be prefix-pruned — the container must be probe-able on
    any of its shingles — so candidates come from joining A-prefixes
    (at t = 0.9, ~|A|/10 rare shingles per doc) against the full
    (doc, shingle) inverted list of the corpus. Prefix shingles are
    globally rare by the ordering, which is what bounds the join
    fan-out; verification is exact via array_intersect, and the
    threshold test is integer cross-multiplication (10·|A∩B| ≥
    9·|A|). ⌈9n/10⌉ = (9n+9) DIV 10 — integer, so an FP ceil can
    never silently shorten a prefix into missed pairs.

    Scale: one shingle-DF shuffle, one per-doc window sort for prefix
    positions (shared with `jaccard_prefix_join` via
    :func:`_prefix_frames`, incl. the de-broadcast of the
    corpus-linear shingle-DF table), then the prefix-probe join.
    100 TB posture: the inverted list is linear in corpus shingles;
    candidate volume is Σ_prefix-shingle df(s) — controlled by prefix
    rarity, never all-pairs.
    """
    sets, toks, prefix = _prefix_frames(
        spark, sf_dir, CONTAIN_NUM, CONTAIN_DEN
    )
    cand = (
        prefix.alias("a")
        .join(toks.alias("b"), "tok")
        .filter(F.col("a.doc_id") != F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("a_id"), F.col("b.doc_id").alias("b_id")
        )
        .distinct()
    )
    sa = sets.select(F.col("doc_id").alias("a_id"), F.col("ts").alias("ta"))
    sb = sets.select(F.col("doc_id").alias("b_id"), F.col("ts").alias("tb"))
    scored = (
        cand.join(sa, "a_id")
        .join(sb, "b_id")
        .select(
            "a_id",
            "b_id",
            F.size(F.array_intersect("ta", "tb")).alias("ni"),
            F.size("ta").alias("na"),
        )
        .filter(
            F.lit(CONTAIN_DEN) * F.col("ni")
            >= F.lit(CONTAIN_NUM) * F.col("na")
        )
    )
    return scored.select(
        "a_id",
        "b_id",
        "na",
        half_up(F.col("ni") / F.col("na"), 4).alias("containment"),
    ).orderBy("a_id", "b_id")


def q_lsh_candidate_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate-generation quality eval: precision/recall
    of the MinHash-LSH candidate pairs against EXACT ground truth —
    the pairs at word-3-gram Jaccard ≥ 0.8 that the PPJoin prefix
    filter (:func:`q_jaccard_prefix_join`) finds exactly and
    sub-quadratically. The eval-tier twin of the dedup sketches,
    same discipline as ann_recall_eval/bm25_eval/lang_id_eval: before
    a pipeline trusts banding (8 hashes × 4 bands ⇒ ≈98% theoretical
    recall at s=0.8), it measures the realized recall on its own
    corpus, and the precision column prices the exact-verification
    pass that follows candidate generation.

    One row: (n_candidates, n_true, n_hits, precision, recall),
    floor4 integer ratios, 0.0 (not NULL/NaN) on empty sides — the
    degenerate-corpus rule. All corpus-scale work happens inside the
    two composed pipelines (each already plan-audited: banded buckets
    for LSH, prefix-filtered join for truth); the eval itself is a
    full-outer join of two bounded near-dup pair sets. The oracle
    embeds both component oracles verbatim, so ground truth and
    candidates cannot drift from the queries they evaluate."""
    cand = (
        lsh_candidate_pairs(
            tbl(spark, sf_dir, "documents"),
            scan_parts=scan_partitions(spark, sf_dir, "documents"),
        )
        .select("a_id", "b_id")
        .withColumn("_c", F.lit(1))
    )
    truth = (
        q_jaccard_prefix_join(spark, sf_dir)
        .select("a_id", "b_id")
        .withColumn("_t", F.lit(1))
    )
    f = cand.join(truth, ["a_id", "b_id"], "full").agg(
        F.coalesce(F.sum("_c"), F.lit(0)).alias("n_candidates"),
        F.coalesce(F.sum("_t"), F.lit(0)).alias("n_true"),
        F.coalesce(F.sum(F.col("_c") * F.col("_t")), F.lit(0)).alias(
            "n_hits"
        ),
    )
    return f.select(
        "n_candidates",
        "n_true",
        "n_hits",
        F.when(
            F.col("n_candidates") > 0,
            half_up(F.col("n_hits") / F.col("n_candidates"), 4),
        )
        .otherwise(F.lit(0.0))
        .alias("precision"),
        F.when(
            F.col("n_true") > 0, half_up(F.col("n_hits") / F.col("n_true"), 4)
        )
        .otherwise(F.lit(0.0))
        .alias("recall"),
    )


def q_neardup_method_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup METHOD-AGREEMENT matrix: pairwise overlap (Jaccard of
    pair SETS) between the engine's three near-dup definitions —
    MinHash-LSH band candidates (`lsh_band`), exact word-3-gram
    Jaccard ≥ 0.8 (`jaccard08`, the PPJoin join), and SimHash
    Hamming ≤ 3 (`simhash3`). The methods-audit a pipeline runs before
    standardizing on one definition: high agreement means the cheap
    method can stand in for the expensive one on THIS corpus; low
    agreement means they catch different duplication modes (set
    overlap vs small edits) and a production dedup needs both.

    Composition discipline: all three pair sets are the registered
    pipelines' own code, and the oracle embeds all three component
    oracles verbatim — the matrix cannot disagree with the queries it
    compares. All corpus-scale work happens inside the composed
    (already plan-audited) pipelines; the matrix itself is one
    union + one pair-keyed aggregate over three bounded pair sets and
    a 1-row reduction.
    """
    pairs = [
        (
            "l",
            lsh_candidate_pairs(
                tbl(spark, sf_dir, "documents"),
                scan_parts=scan_partitions(spark, sf_dir, "documents"),
            ),
        ),
        ("j", q_jaccard_prefix_join(spark, sf_dir)),
        ("s", q_simhash_hamming_pairs(spark, sf_dir)),
    ]
    tagged = None
    for flag, df in pairs:
        t = df.select(
            "a_id",
            "b_id",
            *[
                F.lit(1 if f == flag else 0).alias(f)
                for f in ("l", "j", "s")
            ],
        )
        tagged = t if tagged is None else tagged.union(t)
    flags = tagged.groupBy("a_id", "b_id").agg(
        F.max("l").alias("l"), F.max("j").alias("j"), F.max("s").alias("s")
    )
    z = F.lit(0)
    tot = flags.agg(
        F.coalesce(F.sum("l"), z).alias("nl"),
        F.coalesce(F.sum("j"), z).alias("nj"),
        F.coalesce(F.sum("s"), z).alias("ns"),
        F.coalesce(F.sum(F.col("l") * F.col("j")), z).alias("nlj"),
        F.coalesce(F.sum(F.col("l") * F.col("s")), z).alias("nls"),
        F.coalesce(F.sum(F.col("j") * F.col("s")), z).alias("njs"),
    )
    rows = tot.selectExpr(
        "stack(3,"
        " 'jaccard08', 'lsh_band',  nj, nl, nlj,"
        " 'jaccard08', 'simhash3',  nj, ns, njs,"
        " 'lsh_band',  'simhash3',  nl, ns, nls)"
        " AS (m1, m2, n_m1, n_m2, n_both)"
    )
    denom = F.col("n_m1") + F.col("n_m2") - F.col("n_both")
    return rows.select(
        "m1",
        "m2",
        "n_m1",
        "n_m2",
        "n_both",
        F.when(
            denom > 0,
            half_up(F.col("n_both") / denom, 4),
        )
        .otherwise(F.lit(0.0))
        .alias("overlap"),
    ).orderBy("m1", "m2")


ORACLES: dict[str, str] = {
    # brute force WITHOUT the prefix filter (independent check of the
    # pruning), but via shingle co-occurrence counting rather than an
    # all-pairs list_intersect nested loop: a pair with 0 shared
    # shingles can't reach any t > 0, so the equi-join on shingle
    # enumerates every relevant pair, hash-parallel and lambda-free
    # (the list_intersect form took >10 min at sf0.1; this runs ~7 s)
    "jaccard_prefix_join": f"""
        WITH s AS (
            SELECT doc_id, {word_shingles_expr(3)} AS ts
            FROM documents
        ), tok AS (
            SELECT doc_id, len(ts) AS n, unnest(ts) AS shingle FROM s
        ), inter AS (
            SELECT a.doc_id AS a_id, b.doc_id AS b_id,
                   count(*) AS ni, min(a.n) AS na, min(b.n) AS nb
            FROM tok a
            JOIN tok b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
        )
        SELECT a_id, b_id,
               floor(ni / CAST(na + nb - ni AS DOUBLE) * 1e4 + 0.5) / 1e4
                   AS jaccard
        FROM inter
        WHERE {JACCARD_DEN} * ni >= {JACCARD_NUM} * (na + nb - ni)
        ORDER BY a_id, b_id
    """,
    "containment_join": f"""
        WITH s AS (
            SELECT doc_id, {word_shingles_expr(3)} AS ts
            FROM documents
        ), tok AS (
            SELECT doc_id, len(ts) AS n, unnest(ts) AS shingle FROM s
        ), inter AS (
            SELECT a.doc_id AS a_id, b.doc_id AS b_id,
                   count(*) AS ni, min(a.n) AS na
            FROM tok a
            JOIN tok b ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
            GROUP BY a.doc_id, b.doc_id
        )
        SELECT a_id, b_id, CAST(na AS INT) AS na,
               floor(ni / CAST(na AS DOUBLE) * 1e4 + 0.5) / 1e4
                   AS containment
        FROM inter
        WHERE {CONTAIN_DEN} * ni >= {CONTAIN_NUM} * na
        ORDER BY a_id, b_id
    """,
    "fuzzy_name_pairs": """
        WITH p AS (
            SELECT p_partkey, p_name,
                   string_split(p_name, ' ')[-1] AS block
            FROM part
        )
        SELECT a.p_partkey AS a_key, b.p_partkey AS b_key,
               a.p_name AS a_name, b.p_name AS b_name,
               CAST(levenshtein(a.p_name, b.p_name) AS INT) AS lev_dist
        FROM p a JOIN p b ON a.block = b.block
                          AND a.p_partkey < b.p_partkey
        WHERE abs(length(a.p_name) - length(b.p_name)) <= 4
          AND levenshtein(a.p_name, b.p_name) <= 4
    """,

    "minhash_signatures": f"""
        WITH {_minhash_sql_cte()}
        SELECT * FROM sig ORDER BY doc_id
    """,
    "minhash_lsh_pairs": f"""
        WITH {lsh_pairs_sql_cte()}
        SELECT a_id, b_id FROM pairs
        ORDER BY a_id, b_id
    """,
    "neardup_keep_list": f"""
        WITH RECURSIVE
        {_cc_sql_prefix()}
        SELECT doc_id, cluster_id, doc_id = cluster_id AS keep
        FROM labeled
        ORDER BY doc_id
    """,
    "neardup_keep_best": f"""
        WITH RECURSIVE
        {_cc_sql_prefix()},
        scored AS (
            SELECT doc_id, cluster_id,
                   CAST(len(string_split(trim(text), ' ')) AS INT)
                       AS n_tokens
            FROM labeled
        )
        SELECT doc_id, cluster_id, n_tokens,
               row_number() OVER (
                   PARTITION BY cluster_id
                   ORDER BY n_tokens DESC NULLS LAST, doc_id
               ) = 1 AS keep
        FROM scored
        ORDER BY doc_id
    """,
    "dedup_cluster_stats": f"""
        WITH RECURSIVE
        {_cc_sql_prefix()},
        sizes AS (
            SELECT cluster_id, count(*) AS cluster_size
            FROM labeled GROUP BY cluster_id
        )
        SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
               CAST(count(*) AS BIGINT) AS n_clusters,
               CAST(sum(cluster_size) AS BIGINT) AS n_docs
        FROM sizes
        GROUP BY cluster_size
        ORDER BY cluster_size
    """,
    "lsh_keep_list": f"""
        WITH {_minhash_sql_cte()},
        bands AS (
            {" UNION ALL ".join(
                f"SELECT doc_id, {b} AS band,"
                f" md5(CAST(h{2*b} AS VARCHAR) || ',' || CAST(h{2*b+1} AS VARCHAR))"
                f" AS key FROM sig"
                for b in range(N_BANDS)
            )}
        ),
        dups AS (
            SELECT DISTINCT b.doc_id
            FROM bands a JOIN bands b
              ON a.band = b.band AND a.key = b.key
             AND a.doc_id < b.doc_id
        )
        SELECT d.doc_id, dups.doc_id IS NULL AS keep
        FROM documents d LEFT JOIN dups ON d.doc_id = dups.doc_id
        ORDER BY d.doc_id
    """,
    "dedup_exact": """
        SELECT md5(lower(trim(text))) AS content_key,
               min(doc_id) AS keep_id,
               CAST(count(*) AS BIGINT) AS n_copies
        FROM documents
        GROUP BY 1
        ORDER BY keep_id
    """,
    "simhash": f"""
        WITH toks AS (
            SELECT doc_id,
                   unnest(list_distinct(string_split(lower(trim(text)), ' ')))
                       AS tok
            FROM documents
        ),
        agg AS (
            SELECT doc_id, count(*) AS n,
                   {", ".join(
                       f"sum((('0x' || substr(md5(tok), 1, 4))::INT >> {j}) & 1)"
                       f" AS c{j}"
                       for j in range(16)
                   )}
            FROM toks WHERE tok <> '' GROUP BY doc_id
        )
        SELECT doc_id,
               CAST({" + ".join(
                   f"CASE WHEN c{j} * 2 > n THEN {1 << j} ELSE 0 END"
                   for j in range(16)
               )} AS INT) AS simhash
        FROM agg
        ORDER BY doc_id
    """,
    "dedup_stage_attrition": f"""
        WITH ek AS (
            SELECT doc_id, source, text,
                   min(doc_id) OVER (
                       PARTITION BY md5(lower(trim(text)))) AS mn
            FROM documents
        ), surv AS (
            SELECT doc_id, source, text FROM ek WHERE doc_id = mn
        ), shingled AS (
            SELECT doc_id, unnest({word_shingles_expr(3)}) AS shingle
            FROM surv
            WHERE len(string_split(lower(trim(text)), ' ')) >= 3
        ), sig AS (
            SELECT doc_id, {_minhash_hashes_sql()} FROM shingled
            GROUP BY doc_id
        ), bands AS (
            {" UNION ALL ".join(f"SELECT doc_id, {b} AS band," f" md5(CAST(h{2*b} AS VARCHAR) || ',' || CAST(h{2*b+1} AS VARCHAR))" f" AS key FROM sig" for b in range(N_BANDS))}
        ), dups AS (
            SELECT DISTINCT b.doc_id
            FROM bands a JOIN bands b
              ON a.band = b.band AND a.key = b.key
             AND a.doc_id < b.doc_id
        )
        SELECT ek.source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(CASE WHEN ek.doc_id = ek.mn THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_exact_kept,
               CAST(sum(CASE WHEN ek.doc_id = ek.mn
                             AND dups.doc_id IS NULL THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_neardup_kept
        FROM ek LEFT JOIN dups ON ek.doc_id = dups.doc_id
        GROUP BY ek.source
        ORDER BY ek.source
    """,
    "source_overlap_sketch": f"""
        WITH shingled AS (
            SELECT source, unnest({word_shingles_expr(3)}) AS shingle
            FROM documents
            WHERE len(string_split(lower(trim(text)), ' ')) >= 3
        ), sig AS (
            SELECT source, {_minhash_hashes_sql()} FROM shingled
            GROUP BY source
        )
        SELECT a.source AS src_a, b.source AS src_b,
               CAST(({_sig_matches_sql()}) AS INT) AS n_match,
               ({_sig_matches_sql()}) / 8.0 AS est_jaccard
        FROM sig a JOIN sig b ON a.source < b.source
        ORDER BY src_a, src_b
    """,
    "source_overlap_matrix": """
        WITH g AS (
            SELECT DISTINCT source,
                   unnest(list_transform(
                       range(1, len(string_split(lower(trim(text)), ' ')) - 1),
                       i -> string_split(lower(trim(text)), ' ')[i] || ' ' ||
                            string_split(lower(trim(text)), ' ')[i + 1] || ' ' ||
                            string_split(lower(trim(text)), ' ')[i + 2]
                   )) AS shingle
            FROM documents
            WHERE len(string_split(lower(trim(text)), ' ')) >= 3
        ), sizes AS (
            SELECT source, count(*) AS n FROM g GROUP BY source
        ), pairs AS (
            SELECT a.source AS src_a, b.source AS src_b,
                   count(*) AS n_shared
            FROM g a JOIN g b
              ON a.shingle = b.shingle AND a.source < b.source
            GROUP BY a.source, b.source
        )
        SELECT src_a, src_b, CAST(n_shared AS BIGINT) AS n_shared,
               floor(CAST(n_shared AS DOUBLE)
                     / (sa.n + sb.n - n_shared) * 1e4 + 0.5) / 1e4 AS jaccard
        FROM pairs
        JOIN sizes sa ON sa.source = pairs.src_a
        JOIN sizes sb ON sb.source = pairs.src_b
        ORDER BY src_a, src_b
    """,
    "ngram_jaccard": f"""
        WITH s AS (
            SELECT doc_id, {word_shingles_expr(3)} AS sh
            FROM documents
            WHERE len(string_split(lower(trim(text)), ' ')) >= 3
        )
        SELECT a.doc_id AS a_id, b.doc_id AS b_id,
               round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                     / len(list_distinct(a.sh || b.sh)), 4) AS jaccard
        FROM s a JOIN s b ON a.doc_id + 1 = b.doc_id
        ORDER BY a_id
    """,
    "ngram_decontaminate": f"""
        WITH s AS (
            SELECT doc_id, {word_shingles_expr(3)} AS sh
            FROM documents
            WHERE len(string_split(lower(trim(text)), ' ')) >= 3
        ), bench AS (
            SELECT DISTINCT unnest(sh) AS gram FROM s WHERE doc_id < 10
        ), corpus AS (
            SELECT doc_id, unnest(sh) AS gram FROM s WHERE doc_id >= 10
        )
        SELECT DISTINCT doc_id
        FROM corpus JOIN bench USING (gram)
        ORDER BY doc_id
    """,
    "embedding_neardup": f"""
        WITH clean AS (
            SELECT vec_id, embedding FROM embeddings
            WHERE embedding IS NOT NULL AND len(embedding) = {EMB_DIM}
        )
        SELECT a.vec_id AS a_id, b.vec_id AS b_id,
               round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                            CAST(b.embedding AS DOUBLE[])), 4)
                   AS cosine
        FROM clean a JOIN clean b ON a.vec_id < b.vec_id
        WHERE round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                           CAST(b.embedding AS DOUBLE[])), 4)
              > 0.4
        ORDER BY a_id, b_id
    """,
}

QUERIES = {
    "minhash_signatures": q_minhash_signatures,
    "minhash_lsh_pairs": q_minhash_lsh_pairs,
    "neardup_keep_list": q_neardup_keep_list,
    "neardup_keep_best": q_neardup_keep_best,
    "dedup_cluster_stats": q_dedup_cluster_stats,
    "lsh_keep_list": q_lsh_keep_list,
    "dedup_exact": q_dedup_exact,
    "simhash": q_simhash,
    "simhash_hamming_pairs": q_simhash_hamming_pairs,
    "simhash_wide_pairs": q_simhash_wide_pairs,
    "neardup_method_overlap": q_neardup_method_overlap,
    "dedup_stage_attrition": q_dedup_stage_attrition,
    "repeated_ngram_spans": q_repeated_ngram_spans,
    "dedup_span_removal": q_dedup_span_removal,
    "ngram_novelty": q_ngram_novelty,
    "source_overlap_sketch": q_source_overlap_sketch,
    "source_overlap_matrix": q_source_overlap_matrix,
    "ngram_jaccard": q_ngram_jaccard,
    "ngram_decontaminate": q_ngram_decontaminate,
    "embedding_neardup": q_embedding_neardup,
    "fuzzy_name_pairs": q_fuzzy_name_pairs,
    "jaccard_prefix_join": q_jaccard_prefix_join,
    "containment_join": q_containment_join,
    "cdc_chunk_dedup": q_cdc_chunk_dedup,
    "verbatim_overlap_pairs": q_verbatim_overlap_pairs,
    "verbatim_span_removal": q_verbatim_span_removal,
    "lsh_candidate_eval": q_lsh_candidate_eval,
}

ORACLES["repeated_ngram_spans"] = f"""
    WITH t AS (
        SELECT doc_id, string_split(lower(trim(text)), ' ') AS w
        FROM documents
    ), base AS (
        -- zipped unnests: pos and gram advance together
        SELECT doc_id,
               unnest(range(1, greatest(len(w) - {SPAN_N - 2}, 1)))
                   AS pos,
               unnest(list_transform(
                   range(1, greatest(len(w) - {SPAN_N - 2}, 1)),
                   i -> array_to_string(w[i:i + {SPAN_N - 1}], ' ')))
                   AS gram
        FROM t
    ), dupg AS (
        SELECT gram FROM base GROUP BY gram HAVING count(*) >= 2
    ), marked AS (
        SELECT doc_id, pos FROM base JOIN dupg USING (gram)
    ), runs AS (
        SELECT doc_id,
               pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos)
                   AS island
        FROM marked
    ), island_runs AS (
        SELECT doc_id, island, count(*) AS run
        FROM runs GROUP BY doc_id, island
    ), per_doc AS (
        SELECT doc_id,
               CAST(sum(run) AS BIGINT) AS n_dup_grams,
               CAST(max(run) AS BIGINT) AS max_run
        FROM island_runs GROUP BY doc_id
    ), totals AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams
        FROM base GROUP BY doc_id
    )
    SELECT doc_id, n_grams, n_dup_grams,
           max_run + {SPAN_N - 1} AS max_dup_span_tokens,
           floor(n_dup_grams * 1.0 / n_grams * 1e4 + 0.5) / 1e4
               AS dup_fraction
    FROM per_doc JOIN totals USING (doc_id)
    ORDER BY doc_id
"""


ORACLES["simhash_hamming_pairs"] = f"""
    WITH toks AS (
        SELECT doc_id,
               unnest(list_distinct(string_split(lower(trim(text)), ' ')))
                   AS tok
        FROM documents
    ), agg AS (
        SELECT doc_id, count(*) AS n,
               {", ".join(
                   f"sum((('0x' || substr(md5(tok), 1, 15))::BIGINT"
                   f" >> {j}) & 1) AS c{j}"
                   for j in range(SIMHASH_BITS)
               )}
        FROM toks WHERE tok <> '' GROUP BY doc_id
    ), sig AS (
        SELECT doc_id,
               CAST({" + ".join(
                   f"CASE WHEN c{j} * 2 > n THEN {1 << j} ELSE 0 END"
                   for j in range(SIMHASH_BITS)
               )} AS BIGINT) AS sim
        FROM agg
    ), bands AS (
        SELECT doc_id, sim, band,
               (sim >> ({_BAND_BITS} * band)) & {(1 << _BAND_BITS) - 1}
                   AS key
        FROM sig, (SELECT unnest(range({SIMHASH_BANDS})) AS band)
    ), cand AS (
        SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
                        a.sim AS sa, b.sim AS sb
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
    )
    SELECT a_id, b_id,
           CAST(bit_count(xor(sa, sb)) AS INT) AS hamming
    FROM cand
    WHERE bit_count(xor(sa, sb)) <= {SIMHASH_HAMMING}
    ORDER BY a_id, b_id
"""

#: Exactness makes the banding layout invisible in the answer: the
#: wide-key (blocks=6) plan must produce bit-for-bit the same pair
#: set, so it shares the narrow-banded oracle — any wide-path false
#: negative breaks the hash match.
ORACLES["simhash_wide_pairs"] = ORACLES["simhash_hamming_pairs"]

ORACLES["cdc_chunk_dedup"] = f"""
    WITH RECURSIVE t AS (
        SELECT doc_id,
               list_filter(string_split(lower(trim(text)), ' '),
                           x -> x <> '') AS tk
        FROM documents
    ), h AS (
        SELECT doc_id, tk, len(tk) AS n,
               list_transform(
                   tk, tok -> ('0x' || substr(md5(tok), 1, 8))::BIGINT)
                   AS th
        FROM t WHERE len(tk) >= 1
    ), bl AS (
        -- hash boundary positions e in [W, n-1] (window ends at e)
        SELECT doc_id, n,
               list_filter(list_transform(range({CDC_W}, n),
                   e -> CASE WHEN (th[e - 3] * {CDC_B**3}
                                   + th[e - 2] * {CDC_B**2}
                                   + th[e - 1] * {CDC_B}
                                   + th[e])
                                  % {CDC_M} % {CDC_MOD} = 0
                             THEN e ELSE CAST(-1 AS BIGINT) END),
                   e -> e > 0) AS bs
        FROM h
    ), rec AS (
        -- the greedy clamp walk as recursion: next cut = earliest
        -- hash boundary in [last+MIN, last+MAX-1], else the forced
        -- cut at last+MAX while it stays inside the doc. (The
        -- straight-line list_reduce form is NOT usable here: DuckDB
        -- v1.0.0 list_reduce miscomputes batched rows whenever the
        -- lambda's CONDITION depends on the accumulator — verified
        -- with a 500-row repro; the recursion sidesteps it.)
        SELECT doc_id, CAST(0 AS BIGINT) AS cut, bs, n FROM bl
        UNION ALL
        SELECT doc_id, nxt, bs, n FROM (
            SELECT doc_id,
                   coalesce(list_min(list_filter(bs,
                                e -> e >= cut + {CDC_MIN}
                                     AND e <= cut + {CDC_MAX} - 1)),
                            CASE WHEN cut + {CDC_MAX} <= n - 1
                                 THEN cut + {CDC_MAX} END) AS nxt,
                   bs, n
            FROM rec) WHERE nxt IS NOT NULL
    ), c AS (
        SELECT h.doc_id, h.tk, cl.cuts
        FROM h JOIN (
            SELECT doc_id,
                   coalesce(list_sort(list(cut) FILTER (WHERE cut > 0)),
                            []) AS cuts
            FROM rec GROUP BY doc_id) cl USING (doc_id)
    ), ch AS (
        SELECT doc_id,
               unnest(list_transform(
                   range(1, len(cuts) + 2),
                   j -> array_to_string(
                            tk[(CASE WHEN j = 1 THEN 1
                                     ELSE cuts[j - 1] + 1 END):
                               (CASE WHEN j = len(cuts) + 1 THEN len(tk)
                                     ELSE cuts[j] END)],
                            ' '))) AS chunk
        FROM c
    )
    SELECT md5(chunk) AS chunk_md5,
           CAST(count(*) AS BIGINT) AS n_occ,
           count(DISTINCT doc_id) AS n_docs
    FROM ch
    GROUP BY chunk_md5
    HAVING count(*) >= 2
    ORDER BY chunk_md5
"""


ORACLES["verbatim_overlap_pairs"] = f"""
    WITH t AS (
        SELECT doc_id,
               list_filter(string_split(lower(trim(text)), ' '),
                           x -> x <> '') AS tk
        FROM documents
    ), w AS (
        SELECT DISTINCT doc_id,
               unnest(list_transform(
                   range(1, len(tk) - {VERBATIM_K - 1} + 1),
                   i -> md5(array_to_string(
                            tk[i:i + {VERBATIM_K - 1}], ' ')))) AS wkey
        FROM t WHERE len(tk) >= {VERBATIM_K}
    ), anchored AS (
        SELECT doc_id, wkey,
               min(doc_id) OVER (PARTITION BY wkey) AS a_id
        FROM w
    )
    SELECT a_id, doc_id AS b_id,
           CAST(count(*) AS BIGINT) AS n_shared_windows
    FROM anchored
    WHERE doc_id > a_id
    GROUP BY a_id, doc_id
    HAVING count(*) >= {VERBATIM_MIN_SHARED}
    ORDER BY a_id, b_id
"""


ORACLES["ngram_novelty"] = f"""
    WITH t AS (
        SELECT doc_id, string_split(lower(trim(text)), ' ') AS w
        FROM documents
    ), dg AS (
        SELECT DISTINCT doc_id, gram FROM (
            SELECT doc_id,
                   unnest(list_transform(
                       range(1, greatest(len(w) - {SPAN_N - 2}, 1)),
                       i -> array_to_string(w[i:i + {SPAN_N - 1}], ' ')))
                       AS gram
            FROM t)
    ), fs AS (
        SELECT gram, min(doc_id) AS first_doc FROM dg GROUP BY gram
    ), pd AS (
        SELECT doc_id, count(*) AS n_grams,
               sum(CASE WHEN doc_id = first_doc THEN 1 ELSE 0 END)
                   AS n_novel
        FROM dg JOIN fs USING (gram) GROUP BY doc_id
    ), mxr AS (SELECT max(doc_id) AS mx FROM pd)
    SELECT CAST(least(9, floor(doc_id * 10.0 / (mx + 1))) AS INT)
               AS decile,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_grams) AS BIGINT) AS total_grams,
           CAST(sum(n_novel) AS BIGINT) AS novel_grams,
           floor(sum(floor(n_novel * 1.0 / n_grams * 1e4 + 0.5))
                 / count(*) + 0.5) / 1e4 AS avg_novelty
    FROM pd CROSS JOIN mxr
    GROUP BY 1 ORDER BY 1
"""


ORACLES["verbatim_span_removal"] = f"""
    WITH t AS (
        SELECT doc_id,
               list_filter(string_split(lower(trim(text)), ' '),
                           x -> x <> '') AS w
        FROM documents
    ), base AS (
        SELECT doc_id,
               unnest(range(1, greatest(len(w) - {VERBATIM_K - 2}, 1)))
                   AS pos,
               unnest(list_transform(
                   range(1, greatest(len(w) - {VERBATIM_K - 2}, 1)),
                   i -> array_to_string(w[i:i + {VERBATIM_K - 1}], ' ')))
                   AS gram
        FROM t
    ), dup AS (
        SELECT gram, min(ROW(doc_id, pos)) AS canon
        FROM base GROUP BY gram HAVING count(*) >= 2
    ), rem AS (
        SELECT doc_id, unnest(range(pos, pos + {VERBATIM_K})) AS idx
        FROM base JOIN dup USING (gram)
        WHERE NOT (doc_id = canon[1] AND pos = canon[2])
    ), dropset AS (
        SELECT doc_id, list(DISTINCT idx) AS drop_idx
        FROM rem GROUP BY doc_id
    )
    SELECT t.doc_id,
           CAST(len(w) AS BIGINT) AS n_tokens,
           CAST(len(drop_idx) AS BIGINT) AS n_removed,
           md5(coalesce(array_to_string(
               list_transform(
                   list_filter(list_zip(w, range(1, len(w) + 1)),
                               x -> NOT list_contains(drop_idx, x[2])),
                   x -> x[1]),
               ' '), '')) AS cleaned_hash
    FROM t JOIN dropset ON t.doc_id = dropset.doc_id
    ORDER BY t.doc_id
"""

ORACLES["dedup_span_removal"] = f"""
    WITH t AS (
        SELECT doc_id, string_split(lower(trim(text)), ' ') AS w
        FROM documents
    ), base AS (
        SELECT doc_id,
               unnest(range(1, greatest(len(w) - {SPAN_N - 2}, 1)))
                   AS pos,
               unnest(list_transform(
                   range(1, greatest(len(w) - {SPAN_N - 2}, 1)),
                   i -> array_to_string(w[i:i + {SPAN_N - 1}], ' ')))
                   AS gram
        FROM t
    ), dup AS (
        SELECT gram, min(ROW(doc_id, pos)) AS canon
        FROM base GROUP BY gram HAVING count(*) >= 2
    ), rem AS (
        SELECT doc_id, unnest(range(pos, pos + {SPAN_N})) AS idx
        FROM base JOIN dup USING (gram)
        WHERE NOT (doc_id = canon[1] AND pos = canon[2])
    ), dropset AS (
        SELECT doc_id, list(DISTINCT idx) AS drop_idx
        FROM rem GROUP BY doc_id
    )
    SELECT t.doc_id,
           CAST(len(w) AS BIGINT) AS n_tokens,
           CAST(len(drop_idx) AS BIGINT) AS n_removed,
           -- array_to_string of an EMPTY list is NULL in DuckDB
           -- (Spark's concat_ws gives ''); coalesce for the
           -- everything-removed doc
           md5(coalesce(array_to_string(
               list_transform(
                   list_filter(list_zip(w, range(1, len(w) + 1)),
                               x -> NOT list_contains(drop_idx, x[2])),
                   x -> x[1]),
               ' '), '')) AS cleaned_hash
    FROM t JOIN dropset ON t.doc_id = dropset.doc_id
    ORDER BY t.doc_id
"""


# candidate-quality eval: composes the LSH-pair and exact
# PPJoin oracles verbatim — candidates and ground truth cannot drift
# from the queries this eval evaluates
ORACLES["lsh_candidate_eval"] = f"""
    WITH cand AS (SELECT a_id, b_id FROM ({ORACLES["minhash_lsh_pairs"]})),
    truth AS (SELECT a_id, b_id FROM ({ORACLES["jaccard_prefix_join"]})),
    counts AS (
        SELECT (SELECT count(*) FROM cand) AS n_candidates,
               (SELECT count(*) FROM truth) AS n_true,
               (SELECT count(*) FROM cand JOIN truth USING (a_id, b_id))
                   AS n_hits
    )
    SELECT CAST(n_candidates AS BIGINT) AS n_candidates,
           CAST(n_true AS BIGINT) AS n_true,
           CAST(n_hits AS BIGINT) AS n_hits,
           CASE WHEN n_candidates > 0
                THEN floor(CAST(n_hits AS DOUBLE) / n_candidates
                           * 1e4 + 0.5) / 1e4
                ELSE 0.0 END AS precision,
           CASE WHEN n_true > 0
                THEN floor(CAST(n_hits AS DOUBLE) / n_true * 1e4 + 0.5) / 1e4
                ELSE 0.0 END AS recall
    FROM counts
"""


# methods-audit matrix: all three near-dup pair
# oracles composed verbatim — the agreement numbers cannot drift from
# the pipelines they compare
ORACLES["neardup_method_overlap"] = f"""
    WITH lp AS (SELECT a_id, b_id FROM ({ORACLES["minhash_lsh_pairs"]})),
    jp AS (SELECT a_id, b_id FROM ({ORACLES["jaccard_prefix_join"]})),
    sp AS (SELECT a_id, b_id FROM ({ORACLES["simhash_hamming_pairs"]})),
    tagged AS (
        SELECT a_id, b_id, 1 AS l, 0 AS j, 0 AS s FROM lp
        UNION ALL SELECT a_id, b_id, 0, 1, 0 FROM jp
        UNION ALL SELECT a_id, b_id, 0, 0, 1 FROM sp
    ), flags AS (
        SELECT a_id, b_id, max(l) AS l, max(j) AS j, max(s) AS s
        FROM tagged GROUP BY a_id, b_id
    ), tot AS (
        SELECT coalesce(sum(l), 0) AS nl,
               coalesce(sum(j), 0) AS nj,
               coalesce(sum(s), 0) AS ns,
               coalesce(sum(l * j), 0) AS nlj,
               coalesce(sum(l * s), 0) AS nls,
               coalesce(sum(j * s), 0) AS njs
        FROM flags
    ), rows3 AS (
        SELECT 'jaccard08' AS m1, 'lsh_band' AS m2,
               nj AS n_m1, nl AS n_m2, nlj AS n_both FROM tot
        UNION ALL SELECT 'jaccard08', 'simhash3', nj, ns, njs FROM tot
        UNION ALL SELECT 'lsh_band', 'simhash3', nl, ns, nls FROM tot
    )
    SELECT m1, m2,
           CAST(n_m1 AS BIGINT) AS n_m1,
           CAST(n_m2 AS BIGINT) AS n_m2,
           CAST(n_both AS BIGINT) AS n_both,
           CASE WHEN n_m1 + n_m2 - n_both > 0
                THEN floor(CAST(n_both AS DOUBLE)
                           / (n_m1 + n_m2 - n_both) * 1e4 + 0.5) / 1e4
                ELSE 0.0 END AS overlap
    FROM rows3
    ORDER BY m1, m2
"""
