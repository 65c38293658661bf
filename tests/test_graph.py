"""k-hop iterative traversal: exact-hop semantics on a known graph and
on the ingested wikidata fixture."""

from __future__ import annotations

import pytest

import pyspark.sql.functions as F

from tests.conftest import SF_DIR


def _edges(spark, pairs):
    return spark.createDataFrame(
        [(s, 31, d) for s, d in pairs], "src_id long, property_id long, dst_id long"
    )


def _start(spark, ids):
    return spark.createDataFrame([(i,) for i in ids], "id long")


def test_k_hop_chain_and_diamond(spark):
    from wd2duckdb_spark.operators.graph import k_hop

    # chain 1→2→3→4 plus diamond 1→5→4
    e = _edges(spark, [(1, 2), (2, 3), (3, 4), (1, 5), (5, 4)])

    def hop(k, starts=(1,)):
        return sorted(
            r.id for r in k_hop(e, _start(spark, starts), k).collect()
        )

    assert hop(1) == [2, 5]
    assert hop(2) == [3, 4]       # via 2 and via 5, deduped
    assert hop(3) == [4]          # only the chain path remains
    assert hop(4) == []           # walked off the graph
    assert hop(0) == [1]          # zero hops = the start set


def test_k_hop_property_filter(spark):
    from wd2duckdb_spark.operators.graph import k_hop

    e = _edges(spark, [(1, 2)]).union(
        spark.createDataFrame([(1, 99, 7)], "src_id long, property_id long, dst_id long")
    )
    only_p31 = k_hop(e, _start(spark, [1]), 1, property_id=31)
    assert sorted(r.id for r in only_p31.collect()) == [2]


def test_k_hop_on_fixture_kg(spark, kg_tables):
    """1-hop from every vertex of the ingested fixture = the distinct
    dst set of the edge table (self-loop markers included — they are
    ordinary edges in the reference's model, value.rs:238-239)."""
    from wd2duckdb_spark.operators.graph import k_hop

    edge = kg_tables["edge"]
    start = kg_tables["vertex"].select("id")
    got = sorted(r.id for r in k_hop(edge, start, 1).collect())
    want = sorted(
        r.dst_id for r in edge.select("dst_id").distinct().collect()
    )
    assert got == want


@pytest.mark.slow
def test_connected_components_long_chain(spark):
    """A 41-node chain (40 rounds of propagation) — the shape that
    OOMed the driver before per-round lineage truncation — converges
    to a single component."""
    from wd2duckdb_spark.functions.dedup import connected_components

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], "a_id long, b_id long"
    )
    got = {
        (r.node, r.cluster_id) for r in connected_components(pairs).collect()
    }
    assert got == {(i, 0) for i in range(41)}


def test_connected_components_unconverged_raises(spark):
    from wd2duckdb_spark.functions.dedup import connected_components

    import pytest

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(10)], "a_id long, b_id long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(pairs, max_iters=3)


def test_connected_components_jobs_per_round(spark):
    """One propagation round is one checkpoint job and its adaptive
    shuffle stages: 5 jobs. The changed-label count is observed on that
    job; a separate change-check join (10 jobs per round that way)
    fails this pin. A chain of n edges converges in n + 1 rounds, so
    one more edge is one more round; the labels stay exact."""
    from wd2duckdb_spark.functions.dedup import connected_components

    sc = spark.sparkContext

    def jobs(n):
        pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(n)], "a_id long, b_id long"
        )
        group = f"cc-jobs-per-round-{n}"
        sc.setJobGroup(group, "connected components")
        try:
            labels = connected_components(pairs)
        finally:
            for k in ("spark.jobGroup.id", "spark.job.description",
                      "spark.job.interruptOnCancel"):
                sc.setLocalProperty(k, None)
        assert {(r.node, r.cluster_id) for r in labels.collect()} == {
            (i, 0) for i in range(n + 1)
        }
        return len(sc.statusTracker().getJobIdsForGroup(group))

    assert jobs(5) - jobs(4) == 5


@pytest.mark.slow
def test_reliable_checkpoint_conf_flows_through_iterative_ops(spark, tmp_path):
    """Round 6: the engine-wide reliable-checkpoint path
    (catalog.eager_checkpoint + RELIABLE_CKPT_CONF) must carry every
    iterative lineage truncation — CC label rounds and PageRank
    supersteps — writing durable snapshots under the
    given dir while leaving results identical to the default path."""
    import os

    from wd2duckdb_spark.catalog import RELIABLE_CKPT_CONF
    from wd2duckdb_spark.functions.dedup import connected_components
    from wd2duckdb_spark.operators.graph import q_pagerank_topk

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(12)] + [(100, 101)],
        "a_id long, b_id long",
    )
    base_prop = {
        (r.node, r.cluster_id) for r in connected_components(pairs).collect()
    }
    base_pr = [
        tuple(r)
        for r in q_pagerank_topk(
            spark, SF_DIR, checkpoint_interval=2
        ).collect()
    ]

    ckpt = str(tmp_path / "reliable")
    spark.conf.set(RELIABLE_CKPT_CONF, ckpt)
    try:
        got_prop = {
            (r.node, r.cluster_id)
            for r in connected_components(pairs).collect()
        }
        got_pr = [
            tuple(r)
            for r in q_pagerank_topk(
                spark, SF_DIR, checkpoint_interval=2
            ).collect()
        ]
    finally:
        spark.conf.unset(RELIABLE_CKPT_CONF)

    assert got_prop == base_prop
    assert got_pr == base_pr
    files = [
        os.path.join(dp, f)
        for dp, _, fs in os.walk(ckpt)
        for f in fs
        if not f.startswith(".")
    ]
    assert files, f"no reliable checkpoint data under {ckpt}"
