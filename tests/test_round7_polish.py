"""Round-7 polish: ADVICE r6 fixes + VERDICT r6 ranked items.

Covers:
- eager_checkpoint re-points the process-global checkpoint dir only
  when the selected dir changes;
- the Lloyd cluster-once memo keys on the RESOLVED checkpoint mode so
  a conf flip re-materializes instead of serving stale local blocks;
- hot_keys_report NULL-key tie-break matches DuckDB (ADVICE r6 item 3);
- checkpoint files are reclaimed (or bounded) across clear_memos +
  re-materialize cycles now that get_spark enables
  spark.cleaner.referenceTracking.cleanCheckpoints (VERDICT r6 nit 3).
"""

from __future__ import annotations

import gc
import os
import time

import duckdb
import pytest

from tests.conftest import SF_DIR


def _rdd_ckpt_dirs(root: str) -> set[str]:
    """rdd-N checkpoint directories anywhere under root."""
    out = set()
    for dp, dns, _ in os.walk(root):
        for d in dns:
            if d.startswith("rdd-"):
                out.add(os.path.join(dp, d))
    return out


def test_eager_checkpoint_sets_dir_once_per_resolved_dir(spark, tmp_path):
    """setCheckpointDir appends a random UUID subdir per call, and the
    dir is process-global SparkContext state — so eager_checkpoint
    must re-point only when the selected dir actually changes. Two
    calls under the same RELIABLE_CKPT_CONF must land in the SAME
    context checkpoint dir (UUID subdir stable); a different conf
    value must re-point."""
    from wd2duckdb_spark import catalog
    from wd2duckdb_spark.catalog import RELIABLE_CKPT_CONF

    d1 = str(tmp_path / "ckpt_a")
    d2 = str(tmp_path / "ckpt_b")
    df = spark.range(10)

    try:
        spark.conf.set(RELIABLE_CKPT_CONF, d1)
        catalog.eager_checkpoint(df)
        jctx = spark.sparkContext._jsc.sc()
        first = jctx.getCheckpointDir().get()
        catalog.eager_checkpoint(spark.range(20))
        assert jctx.getCheckpointDir().get() == first, (
            "same dir must not re-point the global checkpoint dir"
        )

        spark.conf.set(RELIABLE_CKPT_CONF, d2)
        catalog.eager_checkpoint(spark.range(5))
        second = jctx.getCheckpointDir().get()
        assert second != first
        assert d2.lstrip("/") in second

        # and back: the context follows the LAST selected dir
        spark.conf.set(RELIABLE_CKPT_CONF, d1)
        catalog.eager_checkpoint(spark.range(3))
        assert d1.lstrip("/") in jctx.getCheckpointDir().get()
    finally:
        spark.conf.unset(RELIABLE_CKPT_CONF)


def test_lloyd_memo_keys_on_checkpoint_mode(spark, tmp_path):
    """A memo entry materialized under localCheckpoint must NOT be
    served after the session selects a durable checkpoint dir — the
    resolved dir is part of the key, so the conf flip re-materializes
    into the reliable dir."""
    from wd2duckdb_spark import catalog
    from wd2duckdb_spark.catalog import RELIABLE_CKPT_CONF
    from wd2duckdb_spark.functions.similarity import (
        _lloyd_assignment_materialized,
        _lloyd_checkpointed,
    )

    catalog.clear_memos()
    app = spark.sparkContext.applicationId
    local_frame = _lloyd_assignment_materialized(spark, SF_DIR)
    assert (app, SF_DIR, None) in _lloyd_checkpointed.cache

    ckpt_dir = str(tmp_path / "reliable")
    spark.conf.set(RELIABLE_CKPT_CONF, ckpt_dir)
    try:
        durable_frame = _lloyd_assignment_materialized(spark, SF_DIR)
        # distinct memo entry, NOT the stale local-blocks frame
        assert durable_frame is not local_frame
        assert (app, SF_DIR, ckpt_dir) in _lloyd_checkpointed.cache
        assert _rdd_ckpt_dirs(ckpt_dir), (
            "durable entry must have written reliable checkpoint data"
        )
        # identical content either way (deterministic Lloyd)
        a = sorted(tuple(r) for r in local_frame.collect())
        b = sorted(tuple(r) for r in durable_frame.collect())
        assert a == b
        # repeated call under the same conf rides the memo
        assert _lloyd_assignment_materialized(spark, SF_DIR) is durable_frame
    finally:
        spark.conf.unset(RELIABLE_CKPT_CONF)
        catalog.clear_memos()


def test_hot_keys_report_null_key_tiebreak(spark, tmp_path):
    """ADVICE r6 item 3: Spark sorts NULLs first on ascending, DuckDB
    defaults to NULLS LAST — a NULL key group tying at the top-10
    boundary diverged before the asc_nulls_last fix. Build an events
    table where the NULL group ties with real keys at the boundary and
    pin Spark row-for-row to the DuckDB oracle."""
    from wd2duckdb_spark import catalog
    from wd2duckdb_spark.operators.skew import ORACLES, q_hot_keys_report

    sf_dir = str(tmp_path / "null_sf")
    os.makedirs(sf_dir)
    # 12 user_id groups, ALL with 3 rows each (every boundary is a
    # tie), one of them NULL — forces the tie-break to decide membership
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    rows = []
    for uid in [None, *(f"u{i:02d}" for i in range(11))]:
        rows.extend([(uid, "click", t0)] * 3)
    spark.createDataFrame(
        rows, "user_id string, event_type string, ts timestamp"
    ).coalesce(1).write.parquet(f"{sf_dir}/events.parquet")

    got = [tuple(r) for r in q_hot_keys_report(spark, sf_dir).collect()]
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{sf_dir}/events.parquet/*.parquet')"
    )
    want = con.execute(ORACLES["hot_keys_report"]).fetchall()
    con.close()
    catalog.clear_memos()  # drop the synthetic sf_dir scan from the cache
    assert got == want
    # NULL must NOT have displaced a named key at the boundary
    assert None not in {k for k, *_ in got}


def test_reliable_checkpoints_reclaimed_or_bounded(spark, tmp_path):
    """VERDICT r6 nit 3: with cleanCheckpoints on (set by get_spark at
    context construction — asserted here), checkpoint data of
    GC-unreachable frames is reclaimed by the ContextCleaner. GC
    timing is nondeterministic, so the hard assertion is BOUNDED
    accumulation: after N clear_memos + re-materialize cycles and a
    GC nudge, live rdd-* dirs must be < N (i.e., at least one old
    snapshot was reclaimed, accumulation is not monotone)."""
    from wd2duckdb_spark import catalog
    from wd2duckdb_spark.catalog import RELIABLE_CKPT_CONF

    assert (
        spark.conf.get("spark.cleaner.referenceTracking.cleanCheckpoints")
        == "true"
    )

    ckpt_dir = str(tmp_path / "gc_ckpt")
    cycles = 4
    spark.conf.set(RELIABLE_CKPT_CONF, ckpt_dir)
    try:
        for i in range(cycles):
            df = catalog.eager_checkpoint(spark.range(100 + i))
            df.count()
            del df  # drop the only Python reference → py4j detach → JVM GC
    finally:
        spark.conf.unset(RELIABLE_CKPT_CONF)
    # nudge: CPython refcount released the Datasets already; ask the
    # JVM to collect so the ContextCleaner's weak-ref queue drains
    deadline = time.time() + 30
    while time.time() < deadline:
        gc.collect()
        spark.sparkContext._jvm.System.gc()
        if len(_rdd_ckpt_dirs(ckpt_dir)) < cycles:
            break
        time.sleep(1)
    remaining = _rdd_ckpt_dirs(ckpt_dir)
    assert len(remaining) < cycles, (
        f"no checkpoint snapshot was reclaimed across {cycles} cycles: "
        f"{sorted(remaining)}"
    )


def test_hot_keys_sketch_plan_never_shuffles_corpus_rows(spark):
    """VERDICT r6 item 2: the sketch diagnostic must not pay the
    skewed key shuffle it measures. Pin: in the executed plan, the
    subtree BELOW the MapInPandas node (scan side) contains no
    Exchange — corpus rows flow scan → summary without shuffling; the
    only exchanges in the whole plan move sketch rows above it."""
    from wd2duckdb_spark.operators.skew import q_hot_keys_sketch

    df = q_hot_keys_sketch(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan
    # the tree prints a node's subtree before its next sibling, and
    # MapInPandas → scan is a linear chain, so the span from
    # MapInPandas down to its FileScan leaf IS the corpus-row path;
    # an Exchange there would mean data rows shuffled before the
    # summary (exchanges elsewhere move only sketch rows)
    below = plan[plan.index("MapInPandas") :]
    span = below[: below.index("FileScan")]
    assert "Exchange" not in span, span
    # and the scan is pruned to the key column only
    scan = below[below.index("FileScan") :].splitlines()[0]
    assert "user_id" in scan and "event_type" not in scan, scan


def test_hot_keys_sketch_error_bound_degradation(spark):
    """Past the counter budget Misra-Gries trims: every output count
    is a LOWER bound with undercount <= N/(counters+1), and any key
    heavier than that bound still surfaces. Pin it with a deliberately
    tiny budget on a skewed synthetic frame."""
    from wd2duckdb_spark.operators.skew import hot_keys_sketch

    counters = 8
    # 1 partition, 3 hot keys + 200 singleton keys forcing trims
    rows = (
        [("hot_a",)] * 400 + [("hot_b",)] * 150 + [("hot_c",)] * 60
        + [(f"cold{i:03d}",) for i in range(200)]
    )
    n = len(rows)
    df = spark.createDataFrame(rows, "k string").coalesce(1)
    got = {
        r.key: r.n_rows
        for r in hot_keys_sketch(df, "k", k=5, counters=counters).collect()
    }
    bound = n // (counters + 1)  # 810 // 9 = 90
    exact = {"hot_a": 400, "hot_b": 150, "hot_c": 60}
    for key, true_n in exact.items():
        if true_n > bound:
            assert key in got, f"{key} ({true_n} > bound {bound}) missing"
            assert got[key] <= true_n  # never overcounts
            assert true_n - got[key] <= bound, (key, got[key], true_n, bound)
    # exactness regime: ample budget reproduces true counts verbatim
    exact_got = {
        r.key: r.n_rows
        for r in hot_keys_sketch(df, "k", k=5, counters=4096).collect()
    }
    assert exact_got["hot_a"] == 400 and exact_got["hot_b"] == 150


def test_hot_keys_sketch_null_keys_and_multibatch(spark):
    """NULL keys are tracked as a real counter (the exact report
    reports them), and multi-partition + multi-batch inputs merge
    correctly through the tiny groupBy."""
    from wd2duckdb_spark.operators.skew import hot_keys_sketch

    rows = [(None,)] * 30 + [("a",)] * 20 + [("b",)] * 10 + [("c",)] * 10
    df = spark.createDataFrame(rows, "k string").repartition(4)
    got = [(r.key, r.n_rows) for r in hot_keys_sketch(df, "k", k=3).collect()]
    # NULL heaviest, then a; b/c tie broken by key, NULLS sort by count
    assert got == [(None, 30), ("a", 20), ("b", 10)]


def test_bm25_scored_parameterized_composition(spark):
    """VERDICT r6 item 4: bm25_scored is the parameterized scorer, and
    q_bm25_eval's single-pass shared-stats scoring must be numerically
    IDENTICAL to composing bm25_scored per query (per-term df/idf are
    query-independent). Recompute each eval query's metrics from
    bm25_scored and pin them against the eval rows."""
    from wd2duckdb_spark.catalog import tbl
    from wd2duckdb_spark.functions.text import (
        BM25_EVAL_QUERIES,
        bm25_scored,
        q_bm25_eval,
    )

    docs = tbl(spark, SF_DIR, "documents")
    eval_rows = {r.query: r for r in q_bm25_eval(spark, SF_DIR).collect()}
    assert set(eval_rows) == {" ".join(sorted(set(q))) for q in BM25_EVAL_QUERIES}

    for q in BM25_EVAL_QUERIES:
        qs = tuple(sorted(set(q)))
        scored = bm25_scored(docs, qs).collect()
        ranked = sorted(scored, key=lambda r: (-r.score, r.doc_id))
        rel_ranks = [
            i + 1 for i, r in enumerate(ranked) if r.n_terms == len(qs)
        ]
        row = eval_rows[" ".join(qs)]
        assert row.n_matched == len(ranked)
        assert row.n_relevant == len(rel_ranks)
        assert row.first_rel_rank == rel_ranks[0]
        import math

        assert row.rr == math.floor(1.0 / rel_ranks[0] * 1e4 + 0.5) / 1e4
        assert row.p_at_10 == math.floor(
            sum(1 for k in rel_ranks if k <= 10) / 10.0 * 1e4 + 0.5
        ) / 1e4

    # parameterization contract: dedup+sort, empty rejected
    a = bm25_scored(docs, ("scan", "dup", "scan")).collect()
    b = bm25_scored(docs, ("dup", "scan")).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    with pytest.raises(ValueError, match="empty query-term list"):
        bm25_scored(docs, ())


def test_bm25_eval_plan_no_per_query_corpus_sort(spark):
    """VERDICT r7 item 1: the eval must NEVER hash-partition corpus
    rows on the |queries|-valued query key for a global per-query
    sort. Pins: every ranking window in the plan is RANK-LIMITED
    (its child is a WindowGroupLimit, so per-partition top-10 heaps
    run below the shuffle), every query-key exchange moves either
    partial-aggregate rows or rank-limited candidate rows — never raw
    matched docs — no Python anywhere, and the shared tf frame is
    cached so the corpus tokenizes once, not once per aggregate
    branch."""
    from wd2duckdb_spark.functions.text import q_bm25_eval
    from wd2duckdb_spark.plans import explain_str, plan_summary

    df = q_bm25_eval(spark, SF_DIR)
    s = plan_summary(df)
    assert s["python_udf"] == 0 and s["map_in_pandas"] == 0
    p = explain_str(df, "simple")
    lines = p.splitlines()
    # every ranking window sits directly on a WindowGroupLimit chain
    # (an UNFILTERED row_number window over the 3-value query key —
    # the r7 scale killer — would have Sort/Exchange here instead)
    win = [i for i, l in enumerate(lines) if "Window [" in l]
    assert win, p
    for i in win:
        assert any(
            "WindowGroupLimit" in l for l in lines[i + 1 : i + 3]
        ), "\n".join(lines[i : i + 3])
    # every query-key exchange carries partials or ranked candidates
    q_exch = [
        i
        for i, l in enumerate(lines)
        if "Exchange hashpartitioning(query" in l
    ]
    assert q_exch, p
    for i in q_exch:
        # allow a narrow Project between the exchange and its source
        child = "\n".join(lines[i + 1 : i + 3])
        assert (
            "HashAggregate" in child
            or "SortAggregate" in child
            or "WindowGroupLimit" in child
            # the localCheckpointed per-query aggregate (round 11):
            # |queries| materialized rows, not matched corpus docs
            or "Scan ExistingRDD" in child
            # the literal query list the zero-match-preserving left
            # join starts from: |queries| rows built in Python
            or "LocalTableScan [query#" in child
        ), child
    # the tf frame is persisted: branches read the cache, the corpus
    # is scanned+tokenized once per materialization
    assert "InMemoryTableScan" in p, p


def test_rrf_fuse_union_semantics_and_tiebreak(spark):
    """RRF fusion: docs in both lists sum two reciprocal terms, docs in
    one list get that term alone (rank columns NULL for the other),
    and exact-score ties break by doc_id. Hand-built rank frames pin
    the arithmetic: RRF(d) = 1/(60+lex) + 1/(60+sem), floor6."""
    import math

    from wd2duckdb_spark.functions.retrieval import rrf_fuse

    lex = spark.createDataFrame(
        [(1, 1), (2, 2), (3, 3)], "doc_id long, lex_rank int"
    )
    sem = spark.createDataFrame(
        [(2, 1), (4, 2), (5, 3)], "doc_id long, sem_rank int"
    )
    got = {r.doc_id: r for r in rrf_fuse(lex, sem, topk=10).collect()}
    f6 = lambda x: math.floor(x * 1e6 + 0.5) / 1e6  # noqa: E731
    assert got[2].rrf == f6(1 / 62 + 1 / 61)  # both lists
    assert got[1].rrf == f6(1 / 61) and got[1].sem_rank is None
    assert got[4].rrf == f6(1 / 62) and got[4].lex_rank is None
    # tie: doc 1 (lex rank 1 only) vs doc 4+5? order check on equal rrf
    # doc 1 = 1/61 ties nothing here; check global ordering is rrf desc
    ordered = [r.doc_id for r in rrf_fuse(lex, sem, topk=10).collect()]
    assert ordered[0] == 2  # only doc in both lists wins
    # 1/61 (docs 1,4? no: 4 is 1/62) — full expected order:
    # 2 (1/62+1/61), 1 (1/61), 4 (1/62), then 3 and 5 tie at 1/63 → doc_id
    assert ordered == [2, 1, 4, 3, 5]


def test_hybrid_rrf_plan_no_corpus_shuffle(spark):
    """The fusion must ride each tier's top-k path: two
    TakeOrderedAndProject heads (BM25 top-100, cosine top-100), no
    Python, and no hash-exchange of corpus rows — the only shuffles
    feed the bounded rank windows / the 100-row fusion join."""
    from wd2duckdb_spark.functions.retrieval import q_hybrid_rrf_topk
    from wd2duckdb_spark.plans import explain_str, plan_summary

    df = q_hybrid_rrf_topk(spark, SF_DIR)
    s = plan_summary(df)
    assert s["python_udf"] == 0 and s["map_in_pandas"] == 0
    assert s["take_ordered"] >= 2  # both tiers' depth-100 heaps
    p = explain_str(df, "simple")
    # rank windows run on single partitions of ≤100 rows
    assert p.count("Exchange hashpartitioning") <= 1, p


def test_split_leakage_audit_consistency(spark):
    """The audit's pair universe must be EXACTLY the LSH candidate
    pair set (sum of cells == total pairs), its split labels must be
    exactly dataset_split's rule, and is_cross must mark precisely the
    off-diagonal cells with canonical (least,greatest) ordering."""
    from wd2duckdb_spark.catalog import tbl
    from wd2duckdb_spark.functions.dedup import lsh_candidate_pairs
    from wd2duckdb_spark.functions.training import (
        q_split_leakage_audit,
        split_label,
    )
    from pyspark.sql import functions as F

    rows = q_split_leakage_audit(spark, SF_DIR).collect()
    pairs = lsh_candidate_pairs(tbl(spark, SF_DIR, "documents"))
    assert sum(r.n_pairs for r in rows) == pairs.count()
    for r in rows:
        assert r.split_a <= r.split_b  # canonical cell
        assert r.is_cross == (r.split_a != r.split_b)
    # recompute one cell independently via the shared split rule
    labeled = pairs.select(
        split_label(F.col("a_id")).alias("sa"),
        split_label(F.col("b_id")).alias("sb"),
    )
    want_tt = labeled.filter("sa = 'train' AND sb = 'train'").count()
    got_tt = {(r.split_a, r.split_b): r.n_pairs for r in rows}.get(
        ("train", "train"), 0
    )
    assert got_tt == want_tt


def test_token_budget_plan_conservation(spark):
    """Integer allocation discipline: sum of per-source allocations
    never exceeds the budget, the shortfall is < n_sources tokens
    (each source loses < 1 token to the floor), epochs = floor4 of
    alloc/available, and the weights match source_mix_weights' rule
    (floor(sqrt(available)))."""
    import math

    from wd2duckdb_spark.functions.training import (
        TOKEN_BUDGET,
        q_token_budget_plan,
    )

    rows = q_token_budget_plan(spark, SF_DIR).collect()
    assert rows
    total_alloc = sum(r.alloc_tokens for r in rows)
    assert total_alloc <= TOKEN_BUDGET
    assert TOKEN_BUDGET - total_alloc < len(rows)
    for r in rows:
        assert r.weight == math.floor(math.sqrt(r.available_tokens))
        assert r.epochs == math.floor(
            r.alloc_tokens / r.available_tokens * 1e4 + 0.5
        ) / 1e4
    # the √-temperature must both up- and down-sample on the fixtures
    assert any(r.epochs > 1 for r in rows) or any(r.epochs < 1 for r in rows)


def test_rag_chunks_coverage_and_overlap(spark):
    """Chunking invariants: every chunk is a verbatim token slice,
    consecutive full chunks overlap by exactly W-S tokens, the final
    window reaches the last token, no window starts past the end, and
    docs <= W tokens yield exactly one chunk."""
    from wd2duckdb_spark.catalog import tbl
    from wd2duckdb_spark.functions.text import (
        RAG_CHUNK_STRIDE as S,
        RAG_CHUNK_TOKENS as W,
        q_rag_chunks,
    )

    docs = {
        r.doc_id: r.text.strip().split(" ")
        for r in tbl(spark, SF_DIR, "documents")
        .filter("text IS NOT NULL")
        .collect()
    }
    by_doc: dict = {}
    for r in q_rag_chunks(spark, SF_DIR).collect():
        by_doc.setdefault(r.doc_id, []).append(r)
    assert set(by_doc) == set(docs)
    for doc_id, chunks in by_doc.items():
        toks = docs[doc_id]
        n = len(toks)
        chunks.sort(key=lambda r: r.chunk_id)
        import math

        want_chunks = 1 if n <= W else math.ceil((n - W) / S) + 1
        assert len(chunks) == want_chunks, (doc_id, n)
        for c in chunks:
            assert c.start_tok == c.chunk_id * S
            assert c.start_tok < n  # no window starts past the end
            want = toks[c.start_tok : c.start_tok + W]
            assert c.n_tok == len(want)
            assert c.chunk_text == " ".join(want)  # verbatim slice
        # the final window reaches the last token
        last = chunks[-1]
        assert last.start_tok + last.n_tok == n


def test_mmr_rerank_diversifies(spark):
    """MMR properties: the first pick is the pure-relevance top-1, all
    picks come from the depth-bounded candidate pool, no repeats, and
    the selection is LESS redundant than plain top-K — its max
    pairwise cosine is <= the plain top-K head's (that's the point of
    the operator)."""
    from wd2duckdb_spark.functions.retrieval import (
        MMR_DEPTH,
        MMR_K,
        _mmr_pair_sims,
        q_mmr_rerank,
    )
    from wd2duckdb_spark.functions.similarity import cosine_scored
    from pyspark.sql import functions as F

    cands = (
        cosine_scored(spark, SF_DIR, 0)
        .orderBy(F.desc("cosine"), "vec_id")
        .limit(MMR_DEPTH)
        .collect()
    )
    mmr = q_mmr_rerank(spark, SF_DIR).collect()
    assert [r.rank for r in mmr] == list(range(1, MMR_K + 1))
    assert mmr[0].vec_id == cands[0].vec_id  # pure-relevance first pick
    pool = {r.vec_id for r in cands}
    picks = [r.vec_id for r in mmr]
    assert set(picks) <= pool and len(set(picks)) == MMR_K

    sims = {
        (r.a_id, r.b_id): r.sim
        for r in _mmr_pair_sims(spark, SF_DIR, [r.vec_id for r in cands])
    }

    def max_pairwise(ids):
        return max(
            sims[(a, b)] for a in ids for b in ids if a != b
        )

    plain = [r.vec_id for r in cands[:MMR_K]]
    assert max_pairwise(picks) <= max_pairwise(plain)
    # reported max_sim is really the max cosine to PRIOR picks
    for i, r in enumerate(mmr[1:], start=1):
        want = max(sims[(r.vec_id, s)] for s in picks[:i])
        assert r.max_sim == want


def test_ann_filtered_prefilters_not_postfilters(spark):
    """Filtered vector search must apply the predicate BEFORE top-k:
    all results carry the filter label, the result is the top-10 of
    the label-restricted ranking (recomputed independently), and
    post-filtering the GLOBAL top-10 would under-fill — demonstrated
    whenever fewer than 10 of the global top-10 carry the label."""
    from pyspark.sql import functions as F

    from wd2duckdb_spark.catalog import tbl
    from wd2duckdb_spark.functions.similarity import (
        ANN_FILTER_LABEL,
        cosine_scored,
        q_ann_bruteforce_topk,
        q_ann_filtered_topk,
    )

    got = q_ann_filtered_topk(spark, SF_DIR).collect()
    labels = {
        r.vec_id: r.label
        for r in tbl(spark, SF_DIR, "embeddings").select("vec_id", "label").collect()
    }
    assert got and all(labels[r.vec_id] == ANN_FILTER_LABEL for r in got)
    # equals the top-10 of the label-restricted full ranking
    want = [
        (r.vec_id, r.cosine)
        for r in cosine_scored(spark, SF_DIR, 0).collect()
        if labels[r.vec_id] == ANN_FILTER_LABEL
    ]
    want.sort(key=lambda t: (-t[1], t[0]))
    assert [(r.vec_id, r.cosine) for r in got] == want[:10]
    # the naive post-filter would under-fill here (fixture property
    # that makes this test meaningful — global top-10 spans labels)
    global_top = q_ann_bruteforce_topk(spark, SF_DIR).collect()
    n_matching = sum(
        1 for r in global_top if labels[r.vec_id] == ANN_FILTER_LABEL
    )
    assert n_matching < len(got)
