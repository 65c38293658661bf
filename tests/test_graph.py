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


def _group_jobs(spark, group, fn):
    """``(fn(), number of Spark jobs fn ran)``, counted by job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        for k in ("spark.jobGroup.id", "spark.job.description",
                  "spark.job.interruptOnCancel"):
            sc.setLocalProperty(k, None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_k_hop_call_runs_no_job(spark):
    """k_hop only builds a plan: the call runs no Spark job, and the
    caller's one action runs every hop. A frontier persisted and
    counted per hop (2 hops: 12 jobs in the call) fails this pin."""
    from wd2duckdb_spark.operators.graph import k_hop

    e = _edges(spark, [(1, 2), (2, 3), (3, 4), (1, 5), (5, 4)])
    start = _start(spark, [1])
    for k, want in ((2, [3, 4]), (3, [4])):
        res, n = _group_jobs(
            spark, f"k-hop-call-{k}", lambda: k_hop(e, start, k)
        )
        assert n == 0
        assert sorted(r.id for r in res.collect()) == want


def test_pagerank_tol_boundary_runs_on_checkpoint_job(spark):
    """``tol`` observes its L1 delta on the boundary's checkpoint job.
    6 supersteps with a boundary every 2 give one delta boundary (the
    4th); its join with the previous vector adds 2 adaptive-stage jobs
    to that checkpoint, and no query of its own (a separate delta
    join + collect: 5 jobs). The graph does not converge, so
    ``tol=0.0`` runs every superstep."""
    from wd2duckdb_spark.operators.graph import pagerank

    rows = [(i, (i + 1) % 6) for i in range(6)] + [(0, 2), (2, 0), (3, 1)]

    def run(tol):
        # a fresh frame per run: its persisted structure is not shared
        edges = spark.createDataFrame(rows, "src long, dst long")
        ranks, n = _group_jobs(
            spark,
            f"pagerank-tol-{tol}",
            lambda: pagerank(edges, tol=tol, max_iters=6,
                             checkpoint_interval=2),
        )
        return {r.node_id: r.rank for r in ranks.collect()}, n

    base, n_base = run(None)
    got, n_tol = run(0.0)
    assert got == base
    assert n_tol - n_base == 2


def test_pagerank_unconverged_releases_its_structure(spark):
    """A call that does not converge still leaves the CacheManager as
    it found it: the returned vector is checkpointed, so the persisted
    ``outdeg``/``trans`` of the call are released."""
    from wd2duckdb_spark.operators.graph import pagerank

    cm = spark._jsparkSession.sharedState().cacheManager()
    edges = spark.createDataFrame([(0, 1), (1, 2), (2, 0)], "src long, dst long")
    before = cm.cachedData().size()
    ranks = pagerank(edges, max_iters=3)
    assert cm.cachedData().size() == before
    assert sorted(r.node_id for r in ranks.collect()) == [0, 1, 2]


def test_connected_components_jobs_per_round(spark):
    """One propagation round is one checkpoint job and its adaptive
    shuffle stages: 5 jobs. The changed-label count is observed on that
    job; a separate change-check join (10 jobs per round that way)
    fails this pin. A chain of n edges converges in n + 1 rounds, so
    one more edge is one more round; the labels stay exact."""
    from wd2duckdb_spark.functions.dedup import connected_components

    def jobs(n):
        pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(n)], "a_id long, b_id long"
        )
        labels, n_jobs = _group_jobs(
            spark, f"cc-jobs-per-round-{n}",
            lambda: connected_components(pairs),
        )
        assert {(r.node, r.cluster_id) for r in labels.collect()} == {
            (i, 0) for i in range(n + 1)
        }
        return n_jobs

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
        for r in q_pagerank_topk(spark, SF_DIR).collect()
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
            for r in q_pagerank_topk(spark, SF_DIR).collect()
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
