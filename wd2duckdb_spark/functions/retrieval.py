"""Hybrid lexical + semantic retrieval: Reciprocal Rank Fusion.

The two retrieval tiers already in the engine — explode-free BM25
(functions/text.py) and exact/ANN cosine search
(functions/similarity.py) — are fused the way production search
stacks do it: Reciprocal Rank Fusion (Cormack/Clarke/Büttcher, SIGIR
2009), ``RRF(d) = Σ_lists 1/(K + rank_list(d))`` with the standard
K=60. RRF needs only RANKS, not comparable scores, which is exactly
why it is the default fusion for heterogeneous scorers (BM25 scores
and cosines live on unrelated scales).

Scale shape: fusion consumes only the top-``RRF_DEPTH`` of each list
(1/(K+r) decays hyperbolically, so depth beyond ~100 cannot change a
top-10), and each list is produced by that tier's own scale path
(TakeOrderedAndProject per-partition heaps for BM25; the IVF/LSH
bucket pruning for the vector side at corpus scale). The fusion
itself — a full-outer join of two ≤RRF_DEPTH-row frames — is
driver-trivial at ANY corpus size; the single-partition rank windows
run on those bounded frames only, never on the corpus.

Doc↔vector linkage: the fixtures carry no explicit mapping, so the
derivable rule ``vec_id = doc_id`` is used on both engines (documented
here, mirrored in the oracle). Docs appearing in only one list get
only that list's RRF term — standard RRF-over-union semantics.

Determinism: both input rankings are already engine-deterministic
(floor4 BM25 scores / round6 cosines, doc_id tie-breaks); the RRF sum
adds the two reciprocal terms in fixed (lex, sem) order and floor6-
snaps, and the final top-k tie-breaks by doc_id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from wd2duckdb_spark.catalog import half_up, local_frame, tbl

#: RRF smoothing constant (the value from the original RRF paper and
#: the default in Elasticsearch/OpenSearch/Vespa hybrid search).
RRF_K = 60
#: Fusion depth: how deep each ranking contributes. 1/(60+100) per
#: missed doc bounds the error of truncating deeper.
RRF_DEPTH = 100
HYBRID_TOPK = 10


def rrf_fuse(
    lex: DataFrame,
    sem: DataFrame,
    k: int = RRF_K,
    topk: int = HYBRID_TOPK,
) -> DataFrame:
    """Fuse two (doc_id, <rank>) frames — ``lex_rank`` / ``sem_rank``
    columns — into the RRF top-``topk``. Inputs must already be
    depth-bounded (the caller's TakeOrdered); the join is tiny."""
    fused = lex.join(sem, "doc_id", "full_outer")
    rrf = half_up(
        F.coalesce(F.lit(1.0) / (F.lit(k) + F.col("lex_rank")), F.lit(0.0))
        + F.coalesce(F.lit(1.0) / (F.lit(k) + F.col("sem_rank")), F.lit(0.0)),
        6,
    )
    return (
        fused.select(
            "doc_id",
            F.col("lex_rank").cast("long").alias("lex_rank"),
            F.col("sem_rank").cast("long").alias("sem_rank"),
            rrf.alias("rrf"),
        )
        .orderBy(F.desc("rrf"), "doc_id")
        .limit(topk)
    )


def q_hybrid_rrf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval for the fixed BM25 query-term set + the
    vec_id=0 probe: top-10 docs by RRF over the two top-100 rankings.

    Plan: BM25's two corpus scans end in TakeOrderedAndProject(100);
    the cosine tier's scan ends the same; each 100-row frame gets its
    rank via a single-partition window (bounded input — the
    "no-partition window" warning does not apply at depth 100), and
    the fusion is a full-outer join of two 100-row frames. No corpus
    row ever shuffles.
    """
    from wd2duckdb_spark.functions.similarity import cosine_scored
    from wd2duckdb_spark.functions.text import BM25_TERMS, bm25_scored

    lex100 = (
        bm25_scored(tbl(spark, sf_dir, "documents"), BM25_TERMS)
        .orderBy(F.desc("score"), "doc_id")
        .limit(RRF_DEPTH)
    )
    lex = lex100.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.desc("score"), "doc_id"))
        .alias("lex_rank"),
    )
    sem100 = (
        cosine_scored(spark, sf_dir, 0)
        .orderBy(F.desc("cosine"), "vec_id")
        .limit(RRF_DEPTH)
    )
    sem = sem100.select(
        F.col("vec_id").alias("doc_id"),
        F.row_number()
        .over(Window.orderBy(F.desc("cosine"), "vec_id"))
        .alias("sem_rank"),
    )
    return rrf_fuse(lex, sem)


def _hybrid_oracle() -> str:
    """Composes the BM25 SQL template and the brute-force cosine
    oracle VERBATIM at fusion depth — the ann_recall_eval discipline:
    the fusion's ground truth is definitionally the two component
    rankings, so embedding their SQL means the three queries cannot
    drift."""
    from wd2duckdb_spark.functions.similarity import _ann_bf_sql
    from wd2duckdb_spark.functions.text import (
        BM25_TERMS,
        _bm25_sql_base,
        _bm25_sql_scored,
    )

    return f"""
    WITH {_bm25_sql_base(BM25_TERMS)}, {_bm25_sql_scored(BM25_TERMS)},
    lex AS (
        SELECT doc_id,
               row_number() OVER (
                   ORDER BY floor((0.0 + raw) * 1e4 + 0.5) / 1e4 DESC, doc_id
               ) AS lex_rank
        FROM scored
        QUALIFY lex_rank <= {RRF_DEPTH}
    ),
    sem AS (
        SELECT vec_id AS doc_id,
               row_number() OVER (ORDER BY cosine DESC, vec_id) AS sem_rank
        FROM ({_ann_bf_sql(RRF_DEPTH)})
    )
    SELECT coalesce(lex.doc_id, sem.doc_id) AS doc_id,
           CAST(lex_rank AS BIGINT) AS lex_rank,
           CAST(sem_rank AS BIGINT) AS sem_rank,
           floor((coalesce(1.0 / ({RRF_K} + lex_rank), 0.0)
                  + coalesce(1.0 / ({RRF_K} + sem_rank), 0.0))
                 * 1e6 + 0.5) / 1e6 AS rrf
    FROM lex FULL OUTER JOIN sem ON lex.doc_id = sem.doc_id
    ORDER BY rrf DESC, doc_id
    LIMIT {HYBRID_TOPK}
"""


#: MMR trade-off: 0.5 weighs relevance-to-query and redundancy-to-
#: already-selected equally (the Carbonell/Goldstein default regime).
MMR_LAMBDA = 0.5
#: Greedy selection length and the candidate pool it draws from.
MMR_K = 5
MMR_DEPTH = 20
#: Composite (a_id, b_id) key encoding for the oracle's sim map —
#: fixture vec_ids are ≪ 1e6, asserted at build time in the query.
_MMR_ENC = 1_000_000


def _mmr_pair_sims(spark: SparkSession, sf_dir: str, cand_ids: list[int]):
    """round6 pairwise cosines among the candidate vectors — computed
    IN SPARK with the sequential-fold cosine (the dot, norms and
    product order of :func:`cosine_scored`, so the same doubles), so
    the driver-side greedy and the DuckDB oracle see identical
    numbers."""
    from wd2duckdb_spark.functions.similarity import (
        _as_double,
        _cosine_fold_sql,
        clean_embeddings,
    )

    e = (
        clean_embeddings(spark, sf_dir)
        .filter(F.col("vec_id").isin(cand_ids))
        .select("vec_id", _as_double(F.col("embedding")).alias("_v"))
    )
    a = e.select(F.col("vec_id").alias("a_id"), F.col("_v").alias("_va"))
    b = e.select(F.col("vec_id").alias("b_id"), F.col("_v").alias("_vb"))
    sim = F.round(F.expr(_cosine_fold_sql("_va", "_vb")), 6)
    return (
        a.crossJoin(b)
        .filter(F.col("a_id") != F.col("b_id"))
        .select("a_id", "b_id", sim.alias("sim"))
        .collect()
    )


def q_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein,
    SIGIR 1998) of the cosine retrieval: greedily select ``MMR_K``
    results from the top-``MMR_DEPTH`` candidates, each step taking
    the doc maximizing ``λ·rel(d) − (1−λ)·max_{s∈S} sim(d, s)`` — the
    standard redundancy-removal step between retrieval and a context
    window (near-identical chunks waste the prompt budget that
    diversity spends well).

    Distribution discipline: the EXPENSIVE parts — candidate top-k
    over the corpus and the pairwise candidate sims — run in Spark
    with :func:`cosine_scored`'s exact arithmetic; the greedy itself
    is inherently sequential over ≤ MMR_DEPTH rows, so it runs
    driver-side on those bounded collects (the ``query_vector``
    boundedness class: ≤ 20 + 380 tiny rows at any corpus size).

    Determinism (oracle-exact): rel and sim are round6 cosines, each
    step's score is floor6(λ·rel − (1−λ)·max_sim), ties break on
    vec_id — and the DuckDB oracle replays the SAME greedy as a
    recursive CTE carrying the remaining-candidate state (running
    max-sim per candidate updated with each pick), so both engines
    walk the identical selection path. First pick has max_sim 0 (empty
    selected set), i.e. it is the pure-relevance top-1.
    """
    import math

    from wd2duckdb_spark.functions.similarity import cosine_scored

    schema = "rank int, vec_id long, rel double, max_sim double, mmr double"
    cands = (
        cosine_scored(spark, sf_dir, 0)
        .orderBy(F.desc("cosine"), "vec_id")
        .limit(MMR_DEPTH)
        .collect()
    )
    if not cands:
        return local_frame(spark, [], schema)
    rel = {r.vec_id: r.cosine for r in cands}
    assert all(v < _MMR_ENC for v in rel), "vec_id exceeds oracle encoding"
    sims: dict[tuple[int, int], float] = {
        (r.a_id, r.b_id): r.sim
        for r in _mmr_pair_sims(spark, sf_dir, list(rel))
    }
    f6 = lambda x: math.floor(x * 1e6 + 0.5) / 1e6  # noqa: E731
    selected: list[int] = []
    out = []
    for step in range(min(MMR_K, len(rel))):
        best = None
        for v in sorted(rel):
            if v in selected:
                continue
            ms = max((sims[(v, s)] for s in selected), default=0.0)
            score = f6(MMR_LAMBDA * rel[v] - (1.0 - MMR_LAMBDA) * ms)
            key = (-score, v)
            if best is None or key < best[0]:
                best = (key, v, rel[v], ms, score)
        selected.append(best[1])
        out.append((step + 1, best[1], float(best[2]), float(best[3]), best[4]))
    return local_frame(spark, out, schema).orderBy("rank")


def _mmr_oracle() -> str:
    """Recursive-CTE replay of the greedy: the working row carries the
    REMAINING candidates with their running max-sim-to-selected, each
    iteration picks ``list_min`` over (−floor6(score), vec_id) structs
    and folds the pick's sims into the remainder — pure scalar list
    ops (DuckDB lambdas cannot capture correlated columns, so the
    state travels IN the row instead of being re-derived per step).
    Embeds the brute-force cosine oracle at MMR_DEPTH verbatim as the
    candidate CTE — the ann_recall_eval composition discipline."""
    from wd2duckdb_spark.functions.similarity import _ann_bf_sql

    lam, om = MMR_LAMBDA, 1.0 - MMR_LAMBDA
    d0 = "CAST(0.0 AS DOUBLE)"
    return f"""
    WITH RECURSIVE cands AS (
        SELECT vec_id, cosine FROM ({_ann_bf_sql(MMR_DEPTH)})
    ),
    pairs AS (
        SELECT a.vec_id AS a_id, b.vec_id AS b_id,
               round(list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
                                            CAST(eb.embedding AS DOUBLE[])),
                     6) AS sim
        FROM cands a
        JOIN embeddings ea ON ea.vec_id = a.vec_id
        JOIN cands b ON b.vec_id <> a.vec_id
        JOIN embeddings eb ON eb.vec_id = b.vec_id
    ),
    smap AS (
        SELECT map(coalesce(list(a_id * {_MMR_ENC} + b_id),
                            CAST([] AS BIGINT[])),
                   coalesce(list(sim), CAST([] AS DOUBLE[]))) AS m
        FROM pairs
    ),
    base AS (
        SELECT s.m AS m,
               list_min(list_transform(cl.lst,
                   e -> {{'mneg': -floor(({lam} * e.rel) * 1e6 + 0.5) / 1e6,
                         'v': e.v, 'rel': e.rel, 'ms': {d0}}})) AS pick,
               cl.lst AS lst
        FROM (SELECT list({{'v': vec_id, 'rel': cosine}}) AS lst
              FROM cands) cl,
             smap s
    ),
    sel(rank, vec_id, rel, max_sim, mmr, rem, m) AS (
        SELECT 1, pick.v, pick.rel, pick.ms, -pick.mneg,
               list_transform(
                   list_filter(lst, e -> e.v <> pick.v),
                   e -> {{'v': e.v, 'rel': e.rel,
                         'ms': coalesce(m[e.v * {_MMR_ENC} + pick.v][1],
                                        {d0})}}) AS rem,
               m
        FROM base
        WHERE pick IS NOT NULL
      UNION ALL
        SELECT rank + 1, pick.v, pick.rel, pick.ms, -pick.mneg,
               list_transform(
                   list_filter(rem, e -> e.v <> pick.v),
                   e -> {{'v': e.v, 'rel': e.rel,
                         'ms': greatest(e.ms,
                               coalesce(m[e.v * {_MMR_ENC} + pick.v][1],
                                        {d0}))}}) AS rem,
               m
        FROM (
            SELECT sel.rank AS rank, sel.rem AS rem, sel.m AS m,
                   list_min(list_transform(sel.rem,
                       e -> {{'mneg': -floor(({lam} * e.rel - {om} * e.ms)
                                            * 1e6 + 0.5) / 1e6,
                             'v': e.v, 'rel': e.rel, 'ms': e.ms}})) AS pick
            FROM sel
            WHERE sel.rank < {MMR_K} AND len(sel.rem) > 0
        )
    )
    SELECT CAST(rank AS INT) AS rank, vec_id, rel, max_sim, mmr
    FROM sel ORDER BY rank
"""


ORACLES: dict[str, str] = {
    "hybrid_rrf_topk": _hybrid_oracle(),
    "mmr_rerank": _mmr_oracle(),
}

QUERIES = {
    "hybrid_rrf_topk": q_hybrid_rrf_topk,
    "mmr_rerank": q_mmr_rerank,
}
