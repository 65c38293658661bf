"""Round-11 scale-posture pins (VERDICT r10): supplier is SF-linear
(10k rows per TPC-H scale factor — only nation/25 and region/5 are
constant), so NO query may force-broadcast it.  Round 11 dropped the
``F.broadcast(supplier)`` hint from the seven flagged sites
(relational.py q5/q7/q8/q9/q15, graph.py graph_triangle,
tpch_derived.py q21); these tests pin that no BroadcastExchange whose
subtree scans supplier survives ``autoBroadcastJoinThreshold=-1``
(under the default threshold AQE still promotes supplier to a runtime
broadcast at fixture scale — that is the wanted behavior; only a
*hint* survives threshold=-1 and only a hint OOMs a 100 TB cluster).
"""

from __future__ import annotations

import re

import pytest

from tests.conftest import SF_DIR


def _plan_threshold_off(spark, build) -> str:
    """Simple-mode plan text with auto-broadcast disabled so any
    surviving BroadcastExchange comes from an F.broadcast hint."""
    from wd2duckdb_spark.plans import explain_str

    saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", None)
    spark.catalog.clearCache()  # avoid cached AQE-finalized subtrees
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        return explain_str(build(), "simple")
    finally:
        if saved is not None:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)


def _node_start(line: str) -> int:
    """Column where the operator name starts (tree art stripped)."""
    m = re.match(r"^[\s:+\-*()0-9]*", line)
    return m.end() if m else 0


def _broadcast_subtrees(plan: str) -> list[str]:
    """Each BroadcastExchange node's subtree as one string."""
    lines = plan.splitlines()
    out = []
    for i, ln in enumerate(lines):
        if "BroadcastExchange" not in ln:
            continue
        depth = _node_start(ln)
        sub = [ln]
        for nxt in lines[i + 1 :]:
            if not nxt.strip():
                break
            if _node_start(nxt) <= depth:
                break
            sub.append(nxt)
        out.append("\n".join(sub))
    return out


def _builders():
    from wd2duckdb_spark.operators.graph import q_graph_triangle
    from wd2duckdb_spark.operators.relational import (
        q_q5_local_supplier_volume,
        q_q7_bilateral_trade,
        q_q8_market_share,
        q_q9_profit_by_nation_year,
        q_q15_top_supplier,
    )
    from wd2duckdb_spark.operators.tpch_derived import q_q21_late_suppliers

    return {
        "q5_local_supplier_volume": q_q5_local_supplier_volume,
        "q7_bilateral_trade": q_q7_bilateral_trade,
        "q8_market_share": q_q8_market_share,
        "q9_profit_by_nation_year": q_q9_profit_by_nation_year,
        "q15_top_supplier": q_q15_top_supplier,
        "graph_triangle": q_graph_triangle,
        "q21_late_suppliers": q_q21_late_suppliers,
    }


@pytest.mark.parametrize("qname", sorted(_builders()))
def test_supplier_never_force_broadcast(spark, qname):
    """With threshold=-1, no surviving BroadcastExchange subtree may
    scan the supplier table.  Truly bounded dims (nation, region) and
    1-row aggregates (q15's global max) keep their hints — those
    subtrees are allowed, and they must NOT read supplier columns."""
    fn = _builders()[qname]
    p = _plan_threshold_off(spark, lambda: fn(spark, SF_DIR))
    for sub in _broadcast_subtrees(p):
        assert "supplier" not in sub, (qname, sub)


@pytest.mark.parametrize(
    "qname",
    ["graph_triangle", "q21_late_suppliers"],
)
def test_no_forced_broadcast_at_all(spark, qname):
    """The two queries with no bounded-dim hints must show ZERO
    BroadcastExchange under threshold=-1."""
    fn = _builders()[qname]
    p = _plan_threshold_off(spark, lambda: fn(spark, SF_DIR))
    assert "BroadcastExchange" not in p, p


def test_supplier_aqe_broadcasts_at_fixture_scale(spark):
    """Sanity twin: under the DEFAULT threshold the optimizer is still
    free to broadcast the tiny fixture-scale supplier in q5 — dropping
    the hint must not have pessimized the local plan."""
    from wd2duckdb_spark.operators.relational import q_q5_local_supplier_volume
    from wd2duckdb_spark.plans import explain_str

    spark.catalog.clearCache()
    p = explain_str(q_q5_local_supplier_volume(spark, SF_DIR), "simple")
    assert "BroadcastExchange" in p  # nation/region hints at minimum


# ---------------------------------------------------------------------------
# ADVICE r10 — memoized persists (prefix frames, PageRank structure)
# ---------------------------------------------------------------------------


def test_prefix_frames_fresh_per_invocation_no_cache_leak(spark):
    """Optimization round 12: the prefix machinery persists per
    INVOCATION (within-plan reuse only — no session memo), and repeat
    invocations do NOT leak CacheManager entries because the
    canonicalized plans are identical (Spark dedupes them) — the r10
    leak stays fixed without the memo."""
    from wd2duckdb_spark.functions.dedup import (
        JACCARD_DEN,
        JACCARD_NUM,
        _prefix_frames,
    )

    cm = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    a = _prefix_frames(spark, SF_DIR, JACCARD_NUM, JACCARD_DEN)
    n_after_one = cm.cachedData().size()
    b = _prefix_frames(spark, SF_DIR, JACCARD_NUM, JACCARD_DEN)
    n_after_two = cm.cachedData().size()
    assert a[0] is not b[0]  # fresh frames, no session memo
    assert n_after_two == n_after_one  # identical plans share entries
    assert b[0].storageLevel.useMemory and b[2].storageLevel.useMemory
    spark.catalog.clearCache()


def test_pagerank_structure_memoized_per_session(spark):
    """Same for the PageRank transition structure (outdeg/trans)."""
    from wd2duckdb_spark.operators.graph import _pr_structure

    _pr_structure.cache.clear()
    a = _pr_structure(spark, SF_DIR)
    b = _pr_structure(spark, SF_DIR)
    assert a[0] is b[0] and a[1] is b[1] and a[2] == b[2] > 0
    assert len(_pr_structure.cache) == 1


# ---------------------------------------------------------------------------
# VERDICT r10 item 7 — tolerance-based PageRank early stop
# ---------------------------------------------------------------------------


def _ring_edges(spark, k=6):
    """Directed ring + reverse ring: symmetric, converges to uniform
    1/k in ONE superstep (the init is already the fixed point)."""
    rows = []
    for i in range(k):
        rows.append((i, (i + 1) % k))
        rows.append(((i + 1) % k, i))
    return spark.createDataFrame(rows, "src long, dst long")


def test_pagerank_tol_early_stops_on_fixed_point(spark):
    """On a graph whose uniform init IS the stationary distribution,
    the L1 delta at the first two checkpoint boundaries is ~0, so
    tol-mode must stop far before max_iters — and still return the
    exact uniform ranks."""
    import wd2duckdb_spark.operators.graph as g

    calls = {"n": 0}
    orig = g.eager_checkpoint

    def counting_ckpt(df, *a, **kw):
        calls["n"] += 1
        return orig(df, *a, **kw)

    g.eager_checkpoint, _saved = counting_ckpt, orig
    try:
        out = g.pagerank(
            _ring_edges(spark), tol=1e-9, max_iters=20,
            checkpoint_interval=2,
        ).collect()
    finally:
        g.eager_checkpoint = _saved
    # boundaries at i=2,4,...; delta computed from the 2nd boundary on
    # → stop at superstep 4 of 20: exactly 2 checkpoint calls
    assert calls["n"] == 2
    assert len(out) == 6
    for r in out:
        assert abs(r["rank"] - 1.0 / 6) < 1e-12, r


def test_pagerank_tol_none_runs_all_supersteps(spark):
    """tol=None keeps the fixed-count contract and matches the
    registered 5-iteration query's math on the same edge frame."""
    from wd2duckdb_spark.operators.graph import pagerank

    out = pagerank(
        _ring_edges(spark), tol=None, max_iters=5, checkpoint_interval=2
    ).collect()
    for r in out:
        assert abs(r["rank"] - 1.0 / 6) < 1e-12, r


# ---------------------------------------------------------------------------
# ADVICE r10 — domain_cap_keep: large quota maps join, NULL contract
# ---------------------------------------------------------------------------


def test_domain_cap_large_map_join_path_matches_case_path(spark):
    """Above DOMAIN_CAP_CASE_MAX the quota ships as a broadcast join;
    results must be identical to the CASE chain on the same input,
    and WindowGroupLimit must still plan on the max-cap conjunct."""
    import wd2duckdb_spark.functions.training as tr

    rows = [
        (100 * s + i, f"src{s:04d}")
        for s in range(6)
        for i in range(10)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, source string")
    caps = {f"src{s:04d}": (3 if s % 2 == 0 else 7) for s in range(6)}

    via_case = tr.domain_cap_keep(docs, caps=caps, default_cap=2)
    saved = tr.DOMAIN_CAP_CASE_MAX
    try:
        tr.DOMAIN_CAP_CASE_MAX = 0  # force every map onto the join path
        via_join = tr.domain_cap_keep(docs, caps=caps, default_cap=2)
        plan = via_join._jdf.queryExecution().executedPlan().toString()
    finally:
        tr.DOMAIN_CAP_CASE_MAX = saved
    assert via_join.columns == docs.columns
    got_c = sorted(tuple(r) for r in via_case.collect())
    got_j = sorted(tuple(r) for r in via_join.collect())
    assert got_c == got_j
    per_src = {}
    for _id, s in got_j:
        per_src[s] = per_src.get(s, 0) + 1
    assert per_src == {
        f"src{s:04d}": (3 if s % 2 == 0 else 7) for s in range(6)
    }
    assert "WindowGroupLimit" in plan, plan


def test_domain_cap_null_source_key_rejected():
    """A None key in the caps dict must fail fast with the contract
    message instead of TypeError-ing later or silently diverging from
    the oracle's NULL-dropping JOIN."""
    import pytest as _pytest

    from wd2duckdb_spark.functions.training import domain_cap_keep

    class _FakeDocs:  # never touched — validation happens first
        pass

    with _pytest.raises(ValueError, match="NULL source"):
        domain_cap_keep(_FakeDocs(), caps={None: 5, "a": 3})


# ---------------------------------------------------------------------------
# VERDICT r10 item 3 — Unicode tokenizer seam
# ---------------------------------------------------------------------------


def test_unicode_tokenizer_on_planted_cjk_and_diacritics(spark):
    """The failure the whitespace tokenizer has on multilingual text,
    and the regexp tokenizer's correct counts: a space-less CJK
    sentence is ONE whitespace token but tokenizes per
    punctuation-bounded run under `[\\p{L}\\p{M}\\p{N}]+`; decomposed
    combining diacritics (e + U+0301) stay attached to their base
    letter."""
    import pyspark.sql.functions as F

    from wd2duckdb_spark.functions.text import token_count, tokens

    rows = [
        (1, "これは、テストです。終わり"),  # CJK, ideographic punct, no spaces
        (2, "café naïve résumé"),  # decomposed
        (3, "Hello, world! 123"),
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: (r.ws, r.uni, r.toks)
        for r in d.select(
            "doc_id",
            token_count(F.col("text")).alias("ws"),
            token_count(F.col("text"), "unicode").alias("uni"),
            tokens(F.col("text"), "unicode").alias("toks"),
        ).collect()
    }
    # whitespace: the whole CJK line is one "token" — the documented
    # degradation; unicode: 3 real tokens split at 、 and 。
    assert got[1] == (1, 3, ["これは", "テストです", "終わり"])
    # combining marks stay inside the token (3 words, not 6+ splinters)
    assert got[2][1] == 3
    assert got[2][2] == [
        "café",
        "naïve",
        "résumé",
    ]
    assert got[3] == (3, 3, ["hello", "world", "123"])


def test_unicode_tokenizer_duckdb_parity_on_planted_rows(spark):
    """The exact regexp literal must tokenize identically in RE2
    (DuckDB) — the property that makes token_stats_unicode
    oracle-exact beyond the ASCII fixtures."""
    import duckdb
    import pyspark.sql.functions as F

    from wd2duckdb_spark.functions.text import UNICODE_TOKEN_RE, tokens

    rows = [
        (1, "これは、テストです。終わり"),
        (2, "café naïve résumé"),
        (3, "Hello, world! 123"),
        (4, ""),
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: list(r.toks)
        for r in d.select(
            "doc_id", tokens(F.col("text"), "unicode").alias("toks")
        ).collect()
    }
    con = duckdb.connect()
    for doc_id, text in rows:
        want = con.execute(
            "SELECT regexp_extract_all(lower(?), ?)",
            [text, UNICODE_TOKEN_RE],
        ).fetchone()[0]
        assert got[doc_id] == list(want), doc_id


def test_shingle_tokenizer_seam_cjk(spark):
    """_with_shingles(tokenizer='unicode') produces real 3-gram
    shingles on a CJK corpus where the whitespace path produces NONE
    (every doc is a single whole-line token, below the 3-token
    minimum)."""
    from wd2duckdb_spark.functions.dedup import _with_shingles

    d = spark.createDataFrame(
        [
            (1, "これは、テストです。終わり、そして、続き"),
            (2, "これは、テストです。終わり、そして、続き"),
        ],
        "doc_id long, text string",
    )
    ws = _with_shingles(d).collect()
    assert ws == []  # whitespace: 1 token per doc -> no shingles
    uni = {r.doc_id: sorted(r.sh) for r in _with_shingles(d, "unicode").collect()}
    assert len(uni) == 2
    assert uni[1] == uni[2] and len(uni[1]) == 3  # 5 tokens -> 3 shingles


# ---------------------------------------------------------------------------
# VERDICT r10 item 4 — verbatim span-removal action twin
# ---------------------------------------------------------------------------


def test_verbatim_span_removal_cuts_later_doc_only(spark):
    """Planted single-quotation pair: doc 2 embeds a 16-token passage
    from doc 1 inside otherwise-unrelated text. The passage must be
    removed from doc 2 ONLY (first-occurrence-wins); doc 1 is
    untouched (and therefore absent from the affected-docs output)."""
    import hashlib

    import pyspark.sql.functions as F

    from wd2duckdb_spark.functions.dedup import (
        VERBATIM_K,
        _span_removal_frame,
    )

    passage = [f"quote{i}" for i in range(VERBATIM_K)]  # exactly 16
    doc1 = ["alpha", "beta"] + passage + ["gamma"]
    doc2 = ["left", "middle"] + passage + ["right", "tail"]
    doc3 = ["unrelated", "words", "only", "here"]
    d = spark.createDataFrame(
        [(1, " ".join(doc1)), (2, " ".join(doc2)), (3, " ".join(doc3))],
        "doc_id long, text string",
    )
    toks = d.select(
        "doc_id",
        F.expr("filter(split(lower(trim(text)), ' '), x -> x <> '')").alias(
            "w"
        ),
    )
    rows = {
        r.doc_id: r
        for r in _span_removal_frame(toks, VERBATIM_K, hash_grams=True)
        .collect()
    }
    # doc 1 holds the canonical (min doc_id) occurrence — unaffected;
    # doc 3 shares nothing — unaffected
    assert set(rows) == {2}
    r2 = rows[2]
    assert r2.n_tokens == len(doc2)
    assert r2.n_removed == VERBATIM_K
    cleaned = " ".join(["left", "middle", "right", "tail"])
    assert r2.cleaned_hash == hashlib.md5(cleaned.encode()).hexdigest()


def test_memoized_frames_repersist_after_clearcache(spark):
    """clearCache() between bench queries unpersists frames. The
    retained model/fixture-bridge memos (lineitem_ext — VERDICT r10
    item 6) must RE-ARM their persist on the next hit; the
    de-memoized prefix machinery must come back fresh AND persisted
    per invocation (optimization round 12)."""
    from wd2duckdb_spark.functions.dedup import (
        JACCARD_DEN,
        JACCARD_NUM,
        _prefix_frames,
    )
    from wd2duckdb_spark.operators.tpch_derived import lineitem_ext

    sets, _toks, prefix = _prefix_frames(
        spark, SF_DIR, JACCARD_NUM, JACCARD_DEN
    )
    li = lineitem_ext(spark, SF_DIR)
    assert sets.storageLevel.useMemory and li.storageLevel.useMemory
    spark.catalog.clearCache()
    assert not sets.storageLevel.useMemory
    sets2, _t2, prefix2 = _prefix_frames(
        spark, SF_DIR, JACCARD_NUM, JACCARD_DEN
    )
    li2 = lineitem_ext(spark, SF_DIR)
    assert li2 is li  # memoized fixture bridge: same object, re-armed
    assert sets2 is not sets  # per-invocation: a fresh frame
    assert sets2.storageLevel.useMemory
    assert prefix2.storageLevel.useMemory
    assert li2.storageLevel.useMemory


# ---------------------------------------------------------------------------
# Round-11 optimization internals — focused pins for the three operators
# whose ALGORITHM changed this round (not just the plan shape): the
# in-row SimHash signature fold, the suffix-stripped levenshtein DP,
# and the self-loop Bellman-Ford superstep.
# ---------------------------------------------------------------------------


def test_simhash_signatures_in_row_zero_exchange_and_values(spark):
    """The round-11 signature rewrite must stay (a) shuffle-free — a
    document's tokens live in its own row, so the plan may contain NO
    Exchange — and (b) value-identical to the definition: majority
    vote per bit over md5 hashes of the document's DISTINCT lowercase
    whitespace tokens, with empty/whitespace-only docs excluded."""
    import hashlib

    from wd2duckdb_spark.functions.dedup import SIMHASH_BITS, simhash_signatures
    from wd2duckdb_spark.plans import explain_str

    docs = spark.createDataFrame(
        [
            (1, "Alpha beta  ALPHA gamma"),  # dup token + double space
            (2, "   "),                      # whitespace-only: excluded
            (3, "delta"),                    # single token
        ],
        "doc_id long, text string",
    )
    sig = simhash_signatures(docs)
    assert "Exchange" not in explain_str(sig, "simple")

    def ref(text: str) -> int:
        toks = [t for t in text.strip().lower().split(" ") if t]
        hs = [
            int(hashlib.md5(t.encode()).hexdigest()[:15], 16)
            for t in dict.fromkeys(toks)
        ]
        out = 0
        for j in range(SIMHASH_BITS):
            if 2 * sum((h >> j) & 1 for h in hs) > len(hs):
                out |= 1 << j
        return out

    rows = {r.doc_id: r.sim for r in sig.collect()}
    assert set(rows) == {1, 3}
    assert rows[1] == ref("Alpha beta  ALPHA gamma")
    assert rows[3] == ref("delta")


def test_fuzzy_suffix_strip_matches_full_levenshtein(spark, tmp_path):
    """The suffix-strip DP must report the SAME lev_dist as the
    full-name levenshtein on every emitted pair — including the
    single-word guard: ("bolt", "a bolt") share only "bolt", not
    " bolt", so an unguarded strip would compute lev("", "a") = 1
    instead of the true lev("bolt", "a bolt") = 2."""
    from wd2duckdb_spark.functions.dedup import q_fuzzy_name_pairs

    names = [
        (1, "midnight linen widget"),   # multi/multi: strip path
        (2, "misty linen widget"),
        (3, "bolt"),                    # single-word: fallback guard
        (4, "a bolt"),
        (5, "x y bolt"),                # strip boundary: base "x y"
        (6, "xy bolt"),                 #   vs "xy" -> dist 1
        (7, "aaaaaa widget"),           # base dist 6 > 4: excluded by
        (8, "zzzzzz widget"),           #   the threshold DP, not length
    ]
    spark.createDataFrame(names, "p_partkey long, p_name string").write.parquet(
        str(tmp_path / "part.parquet")
    )

    def lev(a: str, b: str) -> int:
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(
                    min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
                )
            prev = cur
        return prev[-1]

    by_name = dict(names)
    expect = {
        (a, b): lev(by_name[a], by_name[b])
        for a in by_name
        for b in by_name
        if a < b
        and by_name[a].split(" ")[-1] == by_name[b].split(" ")[-1]
        and abs(len(by_name[a]) - len(by_name[b])) <= 4
        and lev(by_name[a], by_name[b]) <= 4
    }
    got = {
        (r.a_key, r.b_key): r.lev_dist
        for r in q_fuzzy_name_pairs(spark, str(tmp_path)).collect()
    }
    assert got == expect
    assert got[(3, 4)] == 2  # the guard case, explicitly
    assert (7, 8) not in got


def test_shortest_path_self_loop_keeps_settled_distance(spark, tmp_path):
    """Self-loop Bellman-Ford on a planted 4-node trade graph: the
    source's distance 0.0 must survive all 4 supersteps purely via its
    weight-0 self-loop (every relaxation candidate for it is >= 2.0 —
    a relax-only superstep without the loop would overwrite it), and a
    node whose best path appears only at superstep 3 must still
    improve.  Edges (weight = min extendedprice / 1000, bidirectional):
    C1-S1 1.0, C1-S2 10.0, C2-S1 1.0, C2-S2 1.0."""
    import datetime

    from wd2duckdb_spark.operators.graph import (
        _SUPP_NS,
        SP_SRC,
        q_shortest_path_bounded,
    )

    d = datetime.datetime(2024, 1, 1)
    spark.createDataFrame(
        [(101, SP_SRC, d), (201, 2, d)],
        "o_orderkey long, o_custkey long, o_orderdate timestamp",
    ).write.parquet(str(tmp_path / "orders.parquet"))
    spark.createDataFrame(
        [
            (101, 1, 1000.0, d),
            (101, 2, 10000.0, d),
            (201, 1, 1000.0, d),
            (201, 2, 1000.0, d),
        ],
        "l_orderkey long, l_suppkey long, l_extendedprice double,"
        " l_shipdate timestamp",
    ).write.parquet(str(tmp_path / "lineitem.parquet"))

    got = {
        r.node_id: r.dist
        for r in q_shortest_path_bounded(spark, str(tmp_path)).collect()
    }
    assert got == {
        SP_SRC: 0.0,            # kept by the self-loop, 4 times
        _SUPP_NS + 1: 1.0,      # settled at superstep 1, kept after
        2: 2.0,                 # via S1
        _SUPP_NS + 2: 3.0,      # C1->S1->C2->S2 beats the direct 10.0
    }


@pytest.mark.slow
def test_rcte_edges_checkpoint_matches_inline_sql(spark):
    """The localCheckpoint form of reachability_rcte must return
    EXACTLY the rows of the original single-statement SQL (which the
    DuckDB oracle still runs); since round 12 each invocation builds
    its own edge overlay (no session memo)."""
    from wd2duckdb_spark.catalog import tbl
    from wd2duckdb_spark.operators.graph import (
        RCTE_REACHABILITY_SQL,
        _rcte_edges,
        q_reachability_rcte,
    )

    tbl(spark, SF_DIR, "customer").createOrReplaceTempView("customer")
    ref = spark.sql(RCTE_REACHABILITY_SQL).collect()
    got = q_reachability_rcte(spark, SF_DIR).collect()
    assert got == ref

    e1 = _rcte_edges(spark, SF_DIR)
    e2 = _rcte_edges(spark, SF_DIR)
    assert e1 is not e2  # per-invocation checkpoint (round 12, no memo)
    # the frame the recursion references is materialized data, not a
    # recomputable subtree — UnionLoop re-executes its body per
    # iteration and must hit block-manager blocks, not the scan
    assert "LogicalRDD" in e1._jdf.queryExecution().analyzed().toString()


def test_weighted_edges_explode_matches_union_form(spark):
    """_weighted_edges now materializes the pair aggregate once
    (localCheckpoint) and emits both directions with one in-row
    explode; the row MULTISET must equal the textbook
    ``fwd.union(rev)`` form the oracle still uses, and the frame the
    supersteps consume must be materialized data (LogicalRDD), not a
    4x-duplicated join+aggregate subtree."""
    from pyspark.sql import functions as F

    from wd2duckdb_spark.catalog import tbl
    from wd2duckdb_spark.operators.graph import _SUPP_NS, _weighted_edges

    o = tbl(spark, SF_DIR, "orders")
    l = tbl(spark, SF_DIR, "lineitem")
    pair = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .groupBy(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .agg((F.min("l_extendedprice") / 1000.0).alias("w"))
    )
    fwd = pair.select(
        F.col("c").alias("src"), (F.col("s") + _SUPP_NS).alias("dst"), "w"
    )
    rev = pair.select(
        (F.col("s") + _SUPP_NS).alias("src"), F.col("c").alias("dst"), "w"
    )
    ref = sorted(map(tuple, fwd.union(rev).collect()))
    ew = _weighted_edges(spark, SF_DIR)
    got = sorted(map(tuple, ew.collect()))
    assert got == ref
    assert "LogicalRDD" in ew._jdf.queryExecution().analyzed().toString()


def test_spread_skips_shuffle_when_scan_is_parallel(spark):
    """catalog.spread (optimization round 11): the CPU-spread
    repartition fires in the local single-split regime and is SKIPPED
    when the scan already has >= defaultParallelism partitions — the
    100 TB posture where the same repartition would be a pure
    corpus-payload shuffle (guide §8)."""
    from pyspark.sql import functions as F

    from wd2duckdb_spark.catalog import spread

    n = spark.sparkContext.defaultParallelism
    df = spark.range(1000).withColumn("doc_id", F.col("id"))

    # multi-split scan posture: returned UNCHANGED — no new Exchange
    wide = df.repartition(n + 1)
    out = spread(wide, "doc_id", scan_parts=n + 1)
    assert out is wide

    # single-split posture: exactly the previous behavior
    out = spread(df, "doc_id", scan_parts=1)
    assert out.rdd.getNumPartitions() == n

    # keyless form
    out = spread(df, scan_parts=1)
    assert out.rdd.getNumPartitions() == n

    # unknown provenance (streaming micro-batches, post-shuffle
    # frames): None keeps the pre-seam unconditional repartition
    out = spread(wide, "doc_id", scan_parts=None)
    assert out is not wide
    assert out.rdd.getNumPartitions() == n


def test_spread_consumers_result_identical_both_regimes(spark):
    """The seam is pure plan shape: a spreading consumer (the MinHash
    kernel) returns identical rows whether the spread fires
    (scan_parts=1) or is skipped (scan_parts >= cores)."""
    from pyspark.sql import functions as F

    from wd2duckdb_spark.functions.dedup import _minhash_sig_frame

    n = spark.sparkContext.defaultParallelism
    docs = (
        spark.range(200)
        .select(
            F.col("id").alias("doc_id"),
            F.concat(
                F.lit("alpha beta gamma doc "), F.col("id").cast("string")
            ).alias("text"),
        )
        .repartition(n + 3)  # already-parallel scan stand-in
    )
    spread_fires = _minhash_sig_frame(docs, scan_parts=1)
    spread_skipped = _minhash_sig_frame(docs, scan_parts=n + 3)
    a = sorted(map(tuple, spread_fires.collect()))
    b = sorted(map(tuple, spread_skipped.collect()))
    assert a == b and len(a) == 200
    # and spread really added no repartition of its own: the fired
    # plan carries spread's doc_id hash repartition (Catalyst collapses
    # it with the stand-in round-robin — the keyed one wins), the
    # skipped plan carries ONLY the stand-in. (Checked on the
    # single-section optimized LOGICAL plan — the AQE executed-plan
    # string prints Final + Initial sections and would double-count.)
    fired_plan = spread_fires._jdf.queryExecution().optimizedPlan().toString()
    skipped_plan = spread_skipped._jdf.queryExecution().optimizedPlan().toString()
    assert "RepartitionByExpression [doc_id" in fired_plan
    assert "RepartitionByExpression" not in skipped_plan
    assert skipped_plan.count("Repartition") == 1  # the stand-in only


def test_scan_partitions_memoized(spark):
    """scan_partitions probes .rdd once per (session, sf_dir, table) —
    the probe costs ~100 ms of driver planning, far too much to pay
    inline on every query invocation — and the MinHash kernel's spread
    decision over the documents table reads the memoized value."""
    from wd2duckdb_spark.catalog import scan_partitions, session_key
    from wd2duckdb_spark.functions.dedup import q_minhash_signatures

    def spreads() -> bool:
        plan = q_minhash_signatures(spark, SF_DIR)._jdf.queryExecution()
        return "RepartitionByExpression [doc_id" in plan.optimizedPlan().toString()

    n1 = scan_partitions(spark, SF_DIR, "documents")
    key = (session_key(spark), SF_DIR, "documents")
    cache = scan_partitions.cache
    assert cache[key] == n1
    # poison the cache: a re-probe would overwrite, a memo hit returns it
    cache[key] = -7
    try:
        assert scan_partitions(spark, SF_DIR, "documents") == -7
        assert spreads()  # -7 < cores: the kernel spreads
        cache[key] = 1 << 20
        assert not spreads()  # ≥ cores: the memo says the scan is parallel
    finally:
        cache[key] = n1
    assert n1 >= 1


def test_weighted_pair_frame_fresh_per_invocation_and_stable(spark):
    """Optimization round 12 (VERDICT r11 item 1): the SSSP
    weighted-edge build localCheckpoints its pair aggregate PER
    INVOCATION — no session memo, so every invocation measures (and
    recovers from executor loss by) its own build — while the frame
    the supersteps consume is still materialized data, not a
    4x-duplicated join+aggregate subtree. Rows must be identical
    across invocations and clearCache()."""
    from wd2duckdb_spark.operators.graph import (
        _weighted_edges,
        q_shortest_path_bounded,
    )

    e1 = _weighted_edges(spark, SF_DIR)
    e2 = _weighted_edges(spark, SF_DIR)
    assert e1 is not e2  # fresh checkpoint per invocation
    # the materialized plan is data, not a parquet subtree
    assert "Scan parquet" not in e1._jdf.queryExecution().toString()
    r1 = q_shortest_path_bounded(spark, SF_DIR).collect()
    spark.catalog.clearCache()
    r2 = q_shortest_path_bounded(spark, SF_DIR).collect()
    assert r1 == r2


def test_bm25_tier_no_session_cache_and_stable(spark):
    """Optimization round 12 (VERDICT r11 items 1/5): the BM25 tier
    has NO per-session tf cache — every invocation re-derives the tf
    frame from the docs it was given (so a filtered docs frame can
    never read another caller's cached rows, ADVICE r11 item 1) — and
    rows are identical across invocations and clearCache()."""
    import wd2duckdb_spark.functions.text as text_mod
    from wd2duckdb_spark.functions.text import q_bm25_eval, q_bm25_topk

    assert not hasattr(text_mod, "_bm25_tfs_cache")
    r1 = q_bm25_topk(spark, SF_DIR).collect()
    e1 = q_bm25_eval(spark, SF_DIR).collect()
    spark.catalog.clearCache()
    assert r1 == q_bm25_topk(spark, SF_DIR).collect()
    assert e1 == q_bm25_eval(spark, SF_DIR).collect()
    spark.catalog.clearCache()


def test_bm25_eval_single_score_pass(spark):
    """VERDICT r11 item 4: bm25_eval's three barrier aggregates read
    ONE persisted scored frame instead of each re-running the
    explode + K-term scoring — the executed plan contains at most one
    Generate (explode) OUTSIDE InMemoryTableScan reads, and ≥2
    in-memory reads of the scored cache."""
    from wd2duckdb_spark.functions.text import q_bm25_eval

    spark.catalog.clearCache()
    df = q_bm25_eval(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("InMemoryTableScan") >= 2
    spark.catalog.clearCache()


def test_gram_tier_no_session_cache_and_stable(spark):
    """Optimization round 12 (VERDICT r11 items 1/5): the n-gram
    tier's input frames persist per INVOCATION only (within-plan
    reuse) — the module-level session cache is gone — and rows are
    identical across invocations and clearCache()."""
    import wd2duckdb_spark.functions.dedup as dedup_mod
    from wd2duckdb_spark.functions.dedup import (
        q_ngram_decontaminate,
        q_ngram_jaccard,
        q_repeated_ngram_spans,
    )

    assert not hasattr(dedup_mod, "_gram_frame_cache")
    r1 = q_ngram_jaccard(spark, SF_DIR).collect()
    d1 = q_ngram_decontaminate(spark, SF_DIR).collect()
    s1 = q_repeated_ngram_spans(spark, SF_DIR).collect()
    spark.catalog.clearCache()
    assert r1 == q_ngram_jaccard(spark, SF_DIR).collect()
    assert d1 == q_ngram_decontaminate(spark, SF_DIR).collect()
    assert s1 == q_repeated_ngram_spans(spark, SF_DIR).collect()
    spark.catalog.clearCache()


def test_repeated_ngram_spans_no_upfront_gram_exchange(spark):
    """Round-12 A/B (guide §2.2/§2.4): repeated_ngram_spans persists
    its occurrence frame straight off the scan — the dup aggregate's
    map-side partial combine shuffles (gram, count) partials instead
    of an up-front repartition("gram") moving every occurrence row
    (interleaved min-of-3 at sf0.1: 1.63 s / 5.7 MB shuffle-write vs
    1.81 s / 8.8 MB). The cached subtree must contain NO shuffle."""
    from wd2duckdb_spark.functions.dedup import q_repeated_ngram_spans

    spark.catalog.clearCache()
    df = q_repeated_ngram_spans(spark, SF_DIR)
    plan = df._jdf.queryExecution().withCachedData().toString()
    # the InMemoryRelation's cache-build plan: scan -> posexplode,
    # no Exchange before the persist boundary
    cache_part = plan.split("InMemoryRelation", 1)[1].split(
        "InMemoryTableScan", 1
    )[0] if "InMemoryRelation" in plan else ""
    assert "Exchange hashpartitioning(gram" not in cache_part
    spark.catalog.clearCache()


def test_bigram_lm_memoized_and_rearmed(spark):
    """doc_surprisal's trained LM table memoizes per (session,
    sf_dir), re-arms its persist after clearCache, and both consumers
    return identical rows across the memo hit."""
    from wd2duckdb_spark.catalog import session_key
    from wd2duckdb_spark.functions.text import (
        _bigram_lm,
        q_bigram_surprisal,
        q_perplexity_bucket_sample,
    )

    cache = _bigram_lm.cache
    cache.clear()
    r1 = q_bigram_surprisal(spark, SF_DIR).collect()
    key = (session_key(spark), SF_DIR)
    lm = cache[key]
    assert lm.storageLevel.useMemory
    q_perplexity_bucket_sample(spark, SF_DIR)  # shares the model
    assert cache[key] is lm and len(cache) == 1
    spark.catalog.clearCache()
    assert not lm.storageLevel.useMemory
    r2 = q_bigram_surprisal(spark, SF_DIR).collect()
    assert cache[key] is lm  # memo hit, not a retrain
    assert lm.storageLevel.useMemory  # re-armed
    assert r1 == r2


def test_minhash_sig_fresh_and_consistent(spark):
    """The MinHash kernel builds a FRESH signature frame per invocation
    (no session memo); the registered pair query equals the pair
    pipeline over the documents table; and the kernel's values match
    q_minhash_signatures' registered build."""
    from wd2duckdb_spark.catalog import scan_partitions, tbl
    from wd2duckdb_spark.functions.dedup import (
        _minhash_sig_frame,
        lsh_candidate_pairs,
        q_minhash_lsh_pairs,
        q_minhash_signatures,
    )

    sig_pairs = q_minhash_lsh_pairs(spark, SF_DIR).collect()
    fresh_pairs = (
        lsh_candidate_pairs(
            tbl(spark, SF_DIR, "documents"),
            scan_parts=scan_partitions(spark, SF_DIR, "documents"),
        )
        .orderBy("a_id", "b_id")
        .collect()
    )
    assert sig_pairs == fresh_pairs
    docs = tbl(spark, SF_DIR, "documents")
    s1 = _minhash_sig_frame(docs)
    s2 = _minhash_sig_frame(docs)
    assert s1 is not s2  # fresh per invocation, no session memo
    assert not s1.storageLevel.useMemory
    sig_rows = sorted(s1.collect(), key=lambda r: r["doc_id"])
    fresh_rows = q_minhash_signatures(spark, SF_DIR).collect()
    assert sig_rows == fresh_rows


def test_chunk_and_boilerplate_no_session_cache_and_stable(spark):
    """Optimization round 12: chunk_dedup persists its occurrence
    frame per invocation (within-plan reuse: keeper argmin + join
    back); boilerplate_prune's 1-row vocabulary is consumed once and
    not cached at all; the generic catalog.memo_frame session cache is
    gone; rows are identical across invocations and clearCache()."""
    import wd2duckdb_spark.catalog as catalog_mod
    from wd2duckdb_spark.functions.text import q_chunk_dedup
    from wd2duckdb_spark.functions.training import q_boilerplate_prune

    assert not hasattr(catalog_mod, "_frame_cache")
    assert not hasattr(catalog_mod, "memo_frame")
    c1 = q_chunk_dedup(spark, SF_DIR).collect()
    b1 = q_boilerplate_prune(spark, SF_DIR).collect()
    spark.catalog.clearCache()
    assert c1 == q_chunk_dedup(spark, SF_DIR).collect()
    assert b1 == q_boilerplate_prune(spark, SF_DIR).collect()
    spark.catalog.clearCache()
