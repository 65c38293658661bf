"""Connected-components and near-dup keep-rule tests: label
propagation against a union-find reference, and the cluster-level
keep rules built on it."""

from __future__ import annotations

import random

import pytest


def _union_find_labels(n_edges):
    """Ground truth: python union-find, label = component min."""
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in n_edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def test_label_propagation_cc_matches_union_find_on_random_graph(spark):
    """Label propagation equals python union-find on a random sparse
    graph. Propagation converges in diameter + 1 rounds; max_iters = the node
    count bounds any diameter of this graph."""
    from wd2duckdb_spark.functions.dedup import connected_components

    rng = random.Random(7)
    edges = [
        (rng.randrange(300), rng.randrange(300)) for _ in range(220)
    ]
    edges = [(a, b) for a, b in edges if a != b]
    expected = _union_find_labels(edges)

    pairs = spark.createDataFrame(edges, "a_id long, b_id long")
    got = {
        r.node: r.cluster_id
        for r in connected_components(pairs, max_iters=300).collect()
    }
    assert got == expected


def test_iterative_checkpoint_interval_is_result_invariant(spark):
    """The checkpoint interval bounds failure replay, never results:
    :func:`pagerank` over the trade graph with no checkpoint and with
    one every 2 supersteps both give the registered
    ``q_pagerank_topk`` rows (same loop, interval 2)."""
    from pyspark.sql import functions as F

    from tests.conftest import SF_DIR
    from wd2duckdb_spark.operators.graph import (
        PR_ITERS,
        _bipartite_edges,
        pagerank,
        q_pagerank_topk,
    )

    want = q_pagerank_topk(spark, SF_DIR).collect()
    assert len(want) == 20
    for interval in (0, 2):
        got = (
            pagerank(
                _bipartite_edges(spark, SF_DIR),
                max_iters=PR_ITERS,
                checkpoint_interval=interval,
            )
            .select("node_id", F.round("rank", 6).alias("rank"))
            .orderBy(F.desc("rank"), "node_id")
            .limit(20)
            .collect()
        )
        assert got == want, interval


from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 40), st.integers(0, 40)),
        min_size=1,
        max_size=60,
    )
)
def test_label_propagation_cc_property_matches_union_find(spark, edges):
    """Property: for ANY pair list (self-loops, duplicates, parallel
    edges included), the propagation labeling equals python union-find
    with min-label canonicalization. Self-loop-only nodes are their own
    singleton cluster. max_iters = 41 ≥ the node count bounds any
    diameter of these graphs."""
    from wd2duckdb_spark.functions.dedup import connected_components

    expected = _union_find_labels([(a, b) for a, b in edges if a != b])
    # nodes appearing ONLY in self-loops still appear in the output
    for a, b in edges:
        if a == b:
            expected.setdefault(a, a)

    pairs = spark.createDataFrame(edges, "a_id long, b_id long")
    got = {
        r.node: r.cluster_id
        for r in connected_components(pairs, max_iters=41).collect()
    }
    assert got == expected


def test_neardup_keep_best_keeps_longest_with_id_tiebreak(spark, tmp_path, monkeypatch):
    """Round-5 keep-best rule on a handcrafted corpus: within a
    near-dup cluster the doc with the MOST whitespace tokens is kept
    (doc_id breaks ties), singletons always keep; exactly one keeper
    per cluster. Uses a synthetic sf_dir so cluster shapes are known."""
    import wd2duckdb_spark.catalog as catalog
    from wd2duckdb_spark.functions.dedup import (
        q_dedup_cluster_stats,
        q_neardup_keep_best,
    )

    catalog.clear_memos()  # fresh CC memo for the synthetic dir
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        # cluster {1,2,3}: near-dups of base; doc 2 is LONGEST
        (1, base, "en", "w", len(base)),
        (2, base + " lambda mu nu xi omicron", "en", "w", 80),
        (3, base.replace("kappa", "pi"), "en", "w", len(base)),
        # singleton
        (4, "totally unrelated content about distributed engines", "en", "w", 50),
    ]
    schema = "doc_id long, text string, lang string, source string, n_chars long"
    sf_dir = str(tmp_path)
    spark.createDataFrame(rows, schema).write.parquet(f"{sf_dir}/documents.parquet")

    res = {r.doc_id: r for r in q_neardup_keep_best(spark, sf_dir).collect()}
    assert len(res) == 4
    cluster = {res[i].cluster_id for i in (1, 2, 3)}
    assert len(cluster) == 1, "docs 1-3 must share one cluster"
    assert res[4].keep and res[4].cluster_id == 4
    keepers = [i for i in (1, 2, 3) if res[i].keep]
    assert keepers == [2], keepers  # longest wins, not min-id

    stats = {
        r.cluster_size: (r.n_clusters, r.n_docs)
        for r in q_dedup_cluster_stats(spark, sf_dir).collect()
    }
    assert stats == {1: (1, 1), 3: (1, 3)}
    catalog.clear_memos()  # don't leak the synthetic dir's CC memo


def test_dedup_stage_attrition_consistent_with_component_queries(spark):
    """Round 6: the attrition funnel must reconcile with the queries
    it composes — an independent cross-check on top of its oracle:
    sum(n_exact_kept) == number of distinct content keys (the row
    count of dedup_exact), monotonicity n_neardup ≤ n_exact ≤ n_docs
    per source, and sum(n_docs) == corpus size."""
    import pyspark.sql.functions as F

    from tests.conftest import SF_DIR
    from wd2duckdb_spark.catalog import tbl
    from wd2duckdb_spark.functions.dedup import (
        q_dedup_exact,
        q_dedup_stage_attrition,
    )

    rows = q_dedup_stage_attrition(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert 0 <= r.n_neardup_kept <= r.n_exact_kept <= r.n_docs
    assert sum(r.n_docs for r in rows) == tbl(
        spark, SF_DIR, "documents"
    ).count()
    assert sum(r.n_exact_kept for r in rows) == q_dedup_exact(
        spark, SF_DIR
    ).count()
