"""Semantic tests for the round-2 operator batch (beyond the oracle
parity that tests/test_queries.py already enforces for each of them):
bounded shortest paths, Lloyd's k-means, MAD outliers, the equi-width
histogram, and the shard manifest."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_DIR
from wd2duckdb_spark.catalog import tbl
from wd2duckdb_spark.functions.similarity import KMEANS_K, q_kmeans_lloyd
from wd2duckdb_spark.functions.training import N_SHARDS, q_shard_manifest
from wd2duckdb_spark.operators.graph import (
    SP_SRC,
    _weighted_edges,
    q_shortest_path_bounded,
)
from wd2duckdb_spark.operators.quality import q_outlier_mad
from wd2duckdb_spark.operators.analytics import (
    HIST_BUCKETS,
    q_histogram_equiwidth,
)


def test_shortest_path_source_and_relaxation(spark):
    dist = {
        r["node_id"]: r["dist"]
        for r in q_shortest_path_bounded(spark, SF_DIR).collect()
    }
    assert dist[SP_SRC] == 0.0
    # every settled edge obeys the relaxation invariant within the
    # hop bound: d(v) <= d(u) + w(u, v) can be violated only when v's
    # best path needs more hops than remain — never for 1-hop
    # neighbors of the source.
    edges = _weighted_edges(spark, SF_DIR).collect()
    for e in edges:
        if e["src"] == SP_SRC:
            assert dist[e["dst"]] <= e["w"] + 1e-6


def test_kmeans_partitions_the_corpus(spark):
    rows = q_kmeans_lloyd(spark, SF_DIR).collect()
    n_corpus = tbl(spark, SF_DIR, "embeddings").count()
    assert sum(r["n_vecs"] for r in rows) == n_corpus
    assert 1 <= len(rows) <= KMEANS_K
    assert all(r["avg_dist"] >= 0 for r in rows)


def test_outlier_mad_flags_injected_outlier(spark, tmp_path):
    base = tbl(spark, SF_DIR, "events")
    spike = spark.createDataFrame(
        [(999_999, None, 1, "click", 1_000_000.0, "{}")],
        schema=base.schema,
    )
    out = str(tmp_path / "events_sp")
    base.unionByName(spike).write.parquet(f"{out}/events.parquet")
    rows = {
        r["event_type"]: r for r in q_outlier_mad(spark, out).collect()
    }
    assert rows["click"]["n_outliers"] >= 1


def test_histogram_covers_every_order(spark):
    rows = q_histogram_equiwidth(spark, SF_DIR).collect()
    n_orders = tbl(spark, SF_DIR, "orders").count()
    assert sum(r["n_orders"] for r in rows) == n_orders
    assert len(rows) <= HIST_BUCKETS
    # contiguous non-overlapping bins, each mean inside its bin
    for r in rows:
        assert r["bin_lo"] <= r["avg_price"] <= r["bin_hi"] + 0.01


def test_shard_manifest_is_stable_and_complete(spark):
    m1 = q_shard_manifest(spark, SF_DIR).collect()
    m2 = q_shard_manifest(spark, SF_DIR).collect()
    assert m1 == m2  # deterministic: content-hash sharding, no rand()
    n_docs = tbl(spark, SF_DIR, "documents").count()
    assert sum(r["n_docs"] for r in m1) == n_docs
    assert len(m1) == N_SHARDS


def test_kmeans_centroid_broadcast_plan(spark):
    """The centroid side must broadcast — a shuffled join of a K-row
    table against the corpus would be the wrong plan at any scale.
    Pinned on a fresh Lloyd chain under the query's own summary, the
    plan q_kmeans_lloyd's eager checkpoint executes (the public query
    reads the memoized checkpointed assignment)."""
    from wd2duckdb_spark.functions.similarity import (
        _cluster_summary,
        _lloyd_assignment,
    )

    vecs, asg, _cents = _lloyd_assignment(spark, SF_DIR)
    summary = _cluster_summary(asg)
    try:
        plan = summary._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    finally:
        vecs.unpersist()
