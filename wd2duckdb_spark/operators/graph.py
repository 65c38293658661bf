"""Graph-shaped query patterns (SURVEY §2.2): neighbor expansion,
k-hop traversal, as-of lookup.

The reference's schema is built for exactly these: `edge(src_id,
property_id, dst_id)` with endpoint indices (value.rs:332-350). On the
driver's testdata the same patterns run over the order graph
(customer —orders→ order —lineitem→ supplier).

Scale: traversals are equi-joins on the hop key; Catalyst picks
broadcast for dim-sized sides and AQE splits skewed hub keys
(the P31/Q5 problem, SURVEY §4.3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from wd2duckdb_spark.catalog import (
    eager_checkpoint,
    half_up,
    session_memo,
    tbl,
)


def q_graph_2hop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-hop neighbor expansion: customer → orders → lineitem →
    distinct supplier set size per customer.

    The customer⋈orders side carries a shuffle-hash hint for its join
    against lineitem: without it Catalyst broadcasts the projected
    FACT table (2 columns of lineitem squeeze under the threshold) —
    building a 600k-row hashed relation that costs more than the
    shuffle it avoids (measured 1.35s → 0.94s at sf0.1), and at 100 TB
    broadcasting the fact side is exactly backwards. Build side =
    customer+orders, the smaller per-partition side, so the hash fits
    executor memory at any scale."""
    c = tbl(spark, sf_dir, "customer")
    o = tbl(spark, sf_dir, "orders")
    l = tbl(spark, sf_dir, "lineitem")
    co = c.join(o, c.c_custkey == o.o_custkey).hint("shuffle_hash")
    return (
        co.join(l, co.o_orderkey == l.l_orderkey)
        # project to the two consumed columns and repartition ONCE on
        # the group key: hash(c_custkey) satisfies both phases of the
        # COUNT DISTINCT (the (c_custkey, l_suppkey) partial dedup by
        # the subset rule, then the final per-customer count), so the
        # distinct count rides a single exchange instead of two
        # (guide §2.3/§2.4; measured 1.22 s → 0.94 s at sf0.1)
        .select("c_custkey", "l_suppkey")
        .repartition("c_custkey")
        .groupBy("c_custkey")
        .agg(F.countDistinct("l_suppkey").alias("n_suppliers"))
        .orderBy("c_custkey")
    )


def q_graph_triangle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closed-pattern matching: (customer, supplier) pairs in the same
    nation connected through an order — the triple-pattern self-join
    shape of `edge ⋈ edge` (SURVEY §2.2 traversal row)."""
    c = tbl(spark, sf_dir, "customer")
    o = tbl(spark, sf_dir, "orders")
    l = tbl(spark, sf_dir, "lineitem")
    s = tbl(spark, sf_dir, "supplier")
    # shuffle-hash hint: same broadcast-the-pruned-fact trap as
    # q_graph_2hop — without it Catalyst broadcasts lineitem's
    # 2-column projection (see that docstring for the measurement)
    co = c.join(o, c.c_custkey == o.o_custkey).hint("shuffle_hash")
    return (
        co.join(l, co.o_orderkey == l.l_orderkey)
        .join(s, l.l_suppkey == s.s_suppkey)
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
        .select("c_custkey", "s_suppkey")
        .distinct()
        .orderBy("c_custkey", "s_suppkey")
    )


def q_asof_latest_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of lookup: for each user, the latest event at-or-before a
    cutoff, plus its value (max_by = DuckDB arg_max).

    Spark realization: filter + groupBy max/max_by — the distributed
    as-of pattern (sort-merge per key); no per-row subquery.
    """
    e = tbl(spark, sf_dir, "events").filter(F.col("ts") <= "2024-01-15 00:00:00")
    return (
        e.groupBy("user_id")
        .agg(
            F.max("ts").alias("asof_ts"),
            F.expr("max_by(value, struct(ts, event_id))").alias("asof_value"),
        )
        .select(
            "user_id", "asof_ts", F.round("asof_value", 2).alias("asof_value")
        )
        .orderBy("user_id")
    )


#: PageRank constants — shared by the Spark loop and the unrolled SQL
#: oracle. The teleport term uses the literal 0.15 on BOTH sides
#: (Python's `1 - 0.85` is 0.15000000000000002 — a different double —
#: so the complement is never computed arithmetically).
PR_DAMPING = 0.85
PR_TELEPORT = 0.15
PR_ITERS = 5
_SUPP_NS = 1_000_000  # supplier ids namespaced above customer ids


def _bipartite_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed edge list of the customer↔supplier trade graph:
    one edge each way per distinct (customer, supplier) trading pair,
    suppliers offset into their own id namespace."""
    o = tbl(spark, sf_dir, "orders")
    l = tbl(spark, sf_dir, "lineitem")
    cs = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .distinct()
    )
    fwd = cs.select(
        F.col("c").alias("src"), (F.col("s") + _SUPP_NS).alias("dst")
    )
    rev = cs.select(
        (F.col("s") + _SUPP_NS).alias("src"), F.col("c").alias("dst")
    )
    return fwd.union(rev)


#: Registered-query checkpoint interval: the rank vector is
#: checkpointed every 2 supersteps, so a lost executor replays at
#: most 2 supersteps instead of the whole 5-superstep, ~26-exchange
#: chain. Measured at sf0.1 local[8], min-of-2 warm: interval 0 →
#: 3.3 s, 2 → 3.8 s, 1 → 4.3 s. Results are interval-invariant
#: (pinned in tests/test_round3_ops.py).
PR_CKPT_DEFAULT = 2


def _pr_build(edges: DataFrame) -> tuple:
    """Persisted ``(outdeg, trans, n)`` of a ``(src, dst)`` edge frame:
    the rank-independent transition structure ``trans(src, dst, deg)``
    that every superstep reuses, and the vertex count ``n``.

    ``outdeg`` doubles as the vertex set (every vertex is a ``src``
    under :func:`pagerank`'s contract), so the vertex count and the
    uniform init vector read this small persisted frame instead of
    re-shuffling ``trans`` through a distinct. An empty edge frame
    returns ``n == 0`` with both frames already unpersisted."""
    outdeg = edges.groupBy("src").agg(F.count("*").alias("deg")).persist()
    trans = edges.join(outdeg, "src").persist()
    n = outdeg.count()  # warms the vertex cache; trans warms lazily
    if n == 0:
        trans.unpersist()
        outdeg.unpersist()
    return outdeg, trans, n


@session_memo
def _pr_structure(spark: SparkSession, sf_dir: str) -> tuple:
    """:func:`_pr_build` of the trade graph, memoized per session: one
    persisted pair per (session, sf_dir), where a per-call persist
    would leave a pair of cache entries behind on every call."""
    return _pr_build(_bipartite_edges(spark, sf_dir))


def _pr_supersteps(
    outdeg: DataFrame,
    trans: DataFrame,
    n: int,
    max_iters: int,
    checkpoint_interval: int,
    tol: float | None = None,
) -> tuple[DataFrame, bool]:
    """The PageRank superstep loop: ``(ranks(id, rank), converged)``.

    Each superstep is one join of the rank vector with ``trans`` and
    one ``groupBy(dst)``. Each rank vector feeds exactly one later
    superstep, so the lineage is a linear chain and the loop stays
    lazy: one DAG, not one job per superstep (a per-superstep
    persist+count measured 10× slower, all job-scheduling overhead).
    Every ``checkpoint_interval`` supersteps (``<= 0``: never) the rank
    vector is eagerly checkpointed, which bounds failure replay to that
    many supersteps.

    With ``tol`` set, from the second boundary on the checkpoint job
    also observes the L1 delta ``Σ|r − r_prev|`` against the previous
    boundary's vector, and the loop stops once it is below ``tol``:
    the convergence check rides on a job that runs anyway.

    The teleport term is the literal ``PR_TELEPORT / n`` (see
    :data:`PR_TELEPORT`), so the loop matches the SQL oracle. No
    vertices (``n == 0``) give an empty vector (1.0/n would divide by
    zero).
    """
    if n == 0:
        return outdeg.select(
            F.col("src").alias("id"), F.lit(0.0).alias("rank")
        ), False
    ranks = outdeg.select(
        F.col("src").alias("id"), F.lit(1.0 / n).alias("rank")
    )
    prev = None  # rank vector at the last boundary, as (id, prev)
    for i in range(max_iters):
        contribs = (
            trans.join(ranks, trans.src == ranks.id)
            .groupBy("dst")
            .agg(F.sum(F.col("rank") / F.col("deg")).alias("contrib"))
        )
        ranks = contribs.select(
            F.col("dst").alias("id"),
            (F.lit(PR_TELEPORT / n) + PR_DAMPING * F.col("contrib")).alias(
                "rank"
            ),
        )
        at_boundary = (
            checkpoint_interval > 0 and (i + 1) % checkpoint_interval == 0
        )
        if not at_boundary or i + 1 == max_iters:
            continue
        if prev is None or tol is None:
            ranks = eager_checkpoint(ranks)
        else:
            delta = Observation()
            ranks = eager_checkpoint(
                ranks.join(prev, "id", "left")
                .observe(
                    delta,
                    F.sum(F.abs(F.col("rank") - F.col("prev"))).alias("d"),
                )
                .select("id", "rank")
            )
            d = delta.get["d"]
            if d is not None and d < tol:
                return ranks, True
        if tol is not None:
            prev = ranks.select("id", F.col("rank").alias("prev"))
    return ranks, False


def q_pagerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed PageRank (5 synchronous iterations, d=0.85) over the
    customer↔supplier trade graph — the iterative-dataflow pattern
    (repeated join → groupBy per superstep), oracle-verified against an
    unrolled recursive-CTE DuckDB formulation. The top 20 of
    :func:`_pr_supersteps` over the session-memoized transition
    structure, checkpointed every :data:`PR_CKPT_DEFAULT` supersteps.
    Bucketing the edge table on src (layout.py) would make each
    superstep shuffle only the rank vector.

    The bidirectional construction guarantees every vertex has both in-
    and out-degree ≥ 1 — no dangling-mass term, and the contribution
    aggregation alone reaches every vertex (no left-join backfill).
    """
    ranks, _ = _pr_supersteps(
        *_pr_structure(spark, sf_dir), PR_ITERS, PR_CKPT_DEFAULT
    )
    return (
        ranks.select(
            F.col("id").alias("node_id"), F.round("rank", 6).alias("rank")
        )
        .orderBy(F.desc("rank"), "node_id")
        .limit(20)
    )


def pagerank(
    edges: DataFrame,
    tol: float | None = None,
    max_iters: int = 20,
    checkpoint_interval: int = PR_CKPT_DEFAULT,
) -> DataFrame:
    """PageRank (d=0.85) over an arbitrary ``(src, dst)`` edge frame,
    returning ``(node_id, rank)`` for every vertex, with an optional
    tolerance-based early stop: a fixed superstep count either wastes
    supersteps on a fast-converging graph or under-converges a slow
    one.

    Contract: every vertex must appear as a ``src`` (no dangling
    mass) — the same invariant the registered
    :func:`q_pagerank_topk` trade graph satisfies by bidirectional
    construction; callers with dangling nodes should add self-loops
    or reverse edges first.

    With ``tol`` set, convergence is tested at each checkpoint
    boundary (every ``checkpoint_interval`` supersteps; ``<= 0`` means
    no boundary, so no early stop), on the boundary's own checkpoint
    job (see :func:`_pr_supersteps`): ``Σ|r_i − r_{i−k}| < tol`` stops
    the loop. With ``tol=None`` the loop runs exactly ``max_iters``
    supersteps.

    The returned vector is eagerly checkpointed, so the call leaves no
    persisted frame of its own behind.
    """
    outdeg, trans, n = _pr_build(edges)
    ranks, converged = _pr_supersteps(
        outdeg, trans, n, max_iters, checkpoint_interval, tol
    )
    if not converged:
        # the supersteps past the last boundary are still lazy over
        # trans; truncate them so the structure can be released
        ranks = eager_checkpoint(ranks)
    trans.unpersist()
    outdeg.unpersist()
    return ranks.select(F.col("id").alias("node_id"), F.col("rank"))


def _pagerank_oracle() -> str:
    """Unrolled 5-iteration PageRank as chained CTEs (DuckDB)."""
    steps = []
    for i in range(1, PR_ITERS + 1):
        steps.append(
            f"""pr{i} AS (
            SELECT n.id,
                   {PR_TELEPORT}::DOUBLE / p.n
                     + {PR_DAMPING}::DOUBLE * coalesce(c.contrib, 0) AS rank
            FROM nodes n CROSS JOIN params p LEFT JOIN (
                SELECT e.dst AS id, sum(pr.rank / e.deg) AS contrib
                FROM trans e JOIN pr{i - 1} pr ON pr.id = e.src
                GROUP BY e.dst
            ) c ON c.id = n.id)"""
        )
    chained = ",\n        ".join(steps)
    return f"""
        WITH cs AS (
            SELECT DISTINCT o_custkey AS c, l_suppkey AS s
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        ), edges AS (
            SELECT c AS src, s + {_SUPP_NS} AS dst FROM cs
            UNION ALL
            SELECT s + {_SUPP_NS} AS src, c AS dst FROM cs
        ), outdeg AS (
            SELECT src, count(*) AS deg FROM edges GROUP BY src
        ), trans AS (
            SELECT e.src, e.dst, o.deg FROM edges e JOIN outdeg o USING (src)
        ), nodes AS (
            SELECT DISTINCT src AS id FROM edges
        ), params AS (
            SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes
        ), pr0 AS (
            SELECT id, 1.0::DOUBLE / p.n AS rank FROM nodes, params p
        ),
        {chained}
        SELECT id AS node_id, round(rank, 6) AS rank
        FROM pr{PR_ITERS}
        ORDER BY round(rank, 6) DESC, id
        LIMIT 20
    """


def k_hop(
    edge: DataFrame,
    start: DataFrame,
    k: int,
    property_id: int | None = None,
) -> DataFrame:
    """Distinct vertices reachable in exactly ``k`` hops from ``start``
    (a DataFrame with an ``id`` column) — the iterative-join traversal
    over ``edge(src_id, property_id, dst_id)`` that the reference's
    endpoint indices exist to serve (value.rs:332-350; SURVEY §2.2).

    Each hop is one equi-join of the frontier with the edges on
    ``src_id``, then a ``distinct``. The result is one lazy plan,
    linear in ``k``: each hop reads the previous frontier once, so
    nothing is recomputed, and the caller's action runs the whole
    traversal (no job per hop). Scale:

    - a bucketed edge table (layout.py) makes every hop a shuffle of
      the frontier only (the edge side stays in place); at 100 TB the
      frontier is the small side and Catalyst broadcasts it per hop;
    - hub-key skew (P31/Q5) is handled by AQE skew-join; pathological
      frontiers can use operators.skew.salted_join per hop.

    The result is not persisted; ``.unpersist()`` on it is a no-op.
    """
    if property_id is not None:
        edge = edge.filter(F.col("property_id") == property_id)
    edge = edge.select("src_id", "dst_id")
    frontier = start.select(F.col("id").cast("long").alias("id")).distinct()
    for _ in range(k):
        frontier = (
            frontier.join(edge, frontier["id"] == edge["src_id"])
            .select(F.col("dst_id").alias("id"))
            .distinct()
        )
    return frontier


def q_degree_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree-distribution histogram of the customer→supplier trade
    graph (log2-binned) — the first diagnostic you run on any graph
    before choosing a partitioning (SURVEY §4.3's skew question:
    how heavy are the hub keys?).

    Three cascaded aggregations, each strictly smaller than the last:
    edge-dedup → per-vertex degree → per-bin count. All partial+final;
    the histogram output is ≤ 32 rows regardless of graph size.
    """
    o = tbl(spark, sf_dir, "orders")
    l = tbl(spark, sf_dir, "lineitem")
    co = o.join(l, o.o_orderkey == l.l_orderkey).hint("shuffle_hash")
    edges = (
        co.select(
            F.col("o_custkey").alias("src"), F.col("l_suppkey").alias("dst")
        )
        # hash(src) satisfies the (src, dst) dedup AND the degree
        # aggregate — one exchange instead of two (guide §2.4)
        .repartition("src")
        .distinct()
    )
    degrees = edges.groupBy("src").agg(F.count("*").alias("degree"))
    bin_ = F.floor(F.log2("degree")).cast("int")
    return (
        degrees.groupBy(bin_.alias("degree_bin"))
        .agg(
            F.count("*").alias("n_vertices"),
            F.min("degree").alias("min_degree"),
            F.max("degree").alias("max_degree"),
        )
        .orderBy("degree_bin")
    )


ORACLES: dict[str, str] = {
    "degree_histogram": """
        WITH edges AS (
            SELECT DISTINCT o_custkey AS src, l_suppkey AS dst
            FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        ),
        degrees AS (
            SELECT src, count(*) AS degree FROM edges GROUP BY src
        )
        SELECT CAST(floor(log2(degree)) AS INT) AS degree_bin,
               CAST(count(*) AS BIGINT) AS n_vertices,
               CAST(min(degree) AS BIGINT) AS min_degree,
               CAST(max(degree) AS BIGINT) AS max_degree
        FROM degrees
        GROUP BY 1
        ORDER BY 1
    """,
    "graph_2hop": """
        SELECT c_custkey, CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_suppliers
        FROM customer
        JOIN orders   ON o_custkey = c_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        GROUP BY c_custkey
        ORDER BY c_custkey
    """,
    "graph_triangle": """
        SELECT DISTINCT c_custkey, s_suppkey
        FROM customer
        JOIN orders   ON o_custkey = c_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        JOIN supplier ON s_suppkey = l_suppkey
        WHERE c_nationkey = s_nationkey
        ORDER BY c_custkey, s_suppkey
    """,
    "asof_latest_event": """
        SELECT user_id, asof_ts, asof_value FROM (
            SELECT user_id, ts AS asof_ts, round(value, 2) AS asof_value,
                   row_number() OVER (PARTITION BY user_id
                                      ORDER BY ts DESC, event_id DESC) AS rn
            FROM events
            WHERE ts <= TIMESTAMP '2024-01-15 00:00:00'
        ) WHERE rn = 1
        ORDER BY user_id
    """,
}



#: Reachability via recursive CTE — identical text runs on Spark ≥4.0
#: (SPARK-24497 WITH RECURSIVE) and DuckDB, so the oracle IS the query.
#: The graph is a deterministic functional overlay on customer keys
#: (two successor rules → out-degree 2); recursion carries a hop
#: counter, the outer aggregate keeps min-hops per reached node.
#: At scale the frontier join is an equi shuffle join per iteration —
#: same physical shape as graph.k_hop's unrolled loop, but planned by
#: the engine's UnionLoop instead of driver-side iteration.
RCTE_REACHABILITY_SQL = """
WITH RECURSIVE edges AS (
    SELECT c_custkey AS src,
           CAST((c_custkey * 7 + 3) % m.n AS BIGINT) AS dst
    FROM customer, (SELECT max(c_custkey) + 1 AS n FROM customer) m
    UNION ALL
    SELECT c_custkey AS src,
           CAST((c_custkey * 3 + 1) % m.n AS BIGINT) AS dst
    FROM customer, (SELECT max(c_custkey) + 1 AS n FROM customer) m
), reach(node, hops) AS (
    SELECT CAST(1 AS BIGINT) AS node, 0 AS hops
    UNION ALL
    SELECT e.dst AS node, r.hops + 1 AS hops
    FROM reach r JOIN edges e ON e.src = r.node
    WHERE r.hops < 6
)
SELECT node, CAST(min(hops) AS BIGINT) AS min_hops
FROM reach GROUP BY node ORDER BY node
"""


def _rcte_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The static ``edges`` CTE of :data:`RCTE_REACHABILITY_SQL` as a
    LOCALLY-CHECKPOINTED frame: one customer scan + one broadcast
    1-row max, with both successor rules emitted by a single explode —
    row-multiset identical to the SQL's two-branch UNION ALL.

    Checkpoint (not ``persist``): UnionLoop re-plans its body
    per iteration and the CacheManager does NOT substitute cached plans
    into the loop (verified empirically — a persisted edges frame's
    subtree was re-EXECUTED by every iteration), so the only way to
    make the loop read materialized data is to hand it a plan that IS
    materialized data — the checkpoint's LogicalRDD. The
    materialization is paid PER INVOCATION (~0.15 s at sf0.1): a
    per-session memo would survive even ``clearCache()``, so no
    benchmark rep after the first would measure the edge build.
    Within one invocation the checkpoint still saves 24 scans / 12
    aggregates: the 6 supersteps each re-execute the loop body.
    Materialization goes through :func:`eager_checkpoint`:
    executor-local blocks by default, durable ``df.checkpoint`` when
    the session selects :data:`RELIABLE_CKPT_CONF` — the right cluster
    posture where executor loss is routine."""
    c = tbl(spark, sf_dir, "customer").select("c_custkey")
    n = c.agg((F.max("c_custkey") + 1).alias("n"))
    f = (
        c.crossJoin(F.broadcast(n))
        .select(
            F.col("c_custkey").alias("src"),
            F.explode(
                F.array(
                    (F.col("c_custkey") * 7 + 3) % F.col("n"),
                    (F.col("c_custkey") * 3 + 1) % F.col("n"),
                )
            ).alias("dst"),
        )
    )
    return eager_checkpoint(f)


#: The recursion of :data:`RCTE_REACHABILITY_SQL` alone, over a
#: DataFrame-templated edge table (Spark-side only; the oracle keeps
#: the full inline SQL).
_RCTE_RECURSION_SQL = """
WITH RECURSIVE reach(node, hops) AS (
    SELECT CAST(1 AS BIGINT) AS node, 0 AS hops
    UNION ALL
    SELECT e.dst AS node, r.hops + 1 AS hops
    FROM reach r JOIN {edges} e ON e.src = r.node
    WHERE r.hops < 6
)
SELECT node, CAST(min(hops) AS BIGINT) AS min_hops
FROM reach GROUP BY node ORDER BY node
"""


def q_reachability_rcte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive-CTE BFS reachability (min hops from node 1, ≤6 hops).

    Exercises the declarative iterative tier: the SQL recursion plans
    as Spark's UnionLoopExec, complementing the imperative
    ``graph.k_hop``/``pagerank_topk`` unrolled-DAG formulations.

    Round-11 shape (guide §2.4/§5): UnionLoop re-executes the loop
    body's static subtrees on EVERY iteration — with the ``edges`` CTE
    inline, each of the 6 supersteps re-ran 4 customer scans, 2 max
    aggregates and 2 joins (24 scans / 12 aggregates per query). The
    edge overlay is deterministic and iteration-invariant, so it is
    built once (:func:`_rcte_edges`, memoized + localCheckpointed) and
    the recursion references the materialized LogicalRDD; every
    iteration now reads block-manager blocks. Results identical (exact
    row equality vs the inline SQL pinned in tests; the DuckDB oracle
    keeps the original single-statement SQL). Interleaved A/B at
    sf0.1: inline 1.77 s → 0.76 s min."""
    return spark.sql(
        _RCTE_RECURSION_SQL, edges=_rcte_edges(spark, sf_dir)
    )


#: Bellman-Ford superstep bound for :func:`q_shortest_path_bounded`.
SP_ITERS = 4

#: Source vertex (customer key 1 — TPC-H custkeys start at 1).
SP_SRC = 1


def _weighted_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted bidirectional customer↔supplier edges: weight per
    trading pair = min lineitem extended price / 1000 (min is exact
    over doubles, so both engines derive bit-identical weights).

    Round-11 shape (guide §2.4/§5): the old ``fwd.union(rev)`` form
    referenced the lineitem⋈orders + pair-aggregate subtree once per
    direction, and the SSSP caller references the edge frame AGAIN for
    its vertex set — 4 static copies of the join+aggregate (64 parquet
    scans in the plan; ReusedExchange deduped the exchanges at runtime
    but every copy re-ran the post-shuffle final aggregate over the
    pair rows). The aggregated pair frame — trading-PAIR-sized, orders
    of magnitude smaller than lineitem — is therefore materialized
    ONCE PER INVOCATION (``localCheckpoint``) and both directions are
    emitted by ONE in-row explode, so every consumer inside the SSSP
    plan (each superstep's relax join + the vertex seed) reads the
    materialized blocks instead of re-running the join+aggregate.
    Every invocation pays its own build: a per-session memo would
    survive even ``clearCache()``, and no benchmark rep after the
    first would measure the ~1 s pair aggregate. Row multiset
    is identical to ``fwd.union(rev)``: union is bag semantics and the
    explode emits exactly the fwd and rev row per pair (pinned in
    tests/test_round2_ops.py)."""
    o = tbl(spark, sf_dir, "orders")
    l = tbl(spark, sf_dir, "lineitem")
    # materialized via eager_checkpoint:
    # executor-local blocks by default, durable df.checkpoint when the
    # session selects RELIABLE_CKPT_CONF
    pair = eager_checkpoint(
        l.join(o, l.l_orderkey == o.o_orderkey)
        .groupBy(
            F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s")
        )
        .agg((F.min("l_extendedprice") / 1000.0).alias("w"))
    )
    both = F.explode(
        F.array(
            F.struct(
                F.col("c").alias("src"),
                (F.col("s") + _SUPP_NS).alias("dst"),
                F.col("w").alias("w"),
            ),
            F.struct(
                (F.col("s") + _SUPP_NS).alias("src"),
                F.col("c").alias("dst"),
                F.col("w").alias("w"),
            ),
        )
    )
    return pair.select(both.alias("e")).select("e.src", "e.dst", "e.w")


def q_shortest_path_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-source shortest paths within SP_ITERS hops (weighted
    Bellman-Ford supersteps) over the trade graph — the
    cheapest-route / influence-radius query the reference's
    `edge(src_id, dst_id)` schema serves via its endpoint indices
    (value.rs:332-350).

    Each superstep relaxes the CURRENT distance table through the edge
    list (join on `src`) and folds candidates back with a min-agg —
    the textbook iterative-dataflow SSSP. Like PageRank above, the
    loop is a linear lazy chain (one DAG, no per-iteration jobs); only
    the reused edge table is persisted. Distances are exact across
    engines: a path cost is the SAME left-to-right double addition
    sequence in both, and min is exact, so the oracle (unrolled CTEs)
    matches bit-for-bit before the presentation floor-rounding.

    Scale: the frontier table is vertex-sized; the edge table is
    hash-repartitioned on `src` once (partition count =
    spark.sql.shuffle.partitions, so its output partitioning satisfies
    every superstep's join requirement) and deliberately NOT
    persist()ed — the repartition exchange's shuffle files ARE the
    cache (every superstep reads them via ReusedExchange), and keeping
    the fragment out of the block-manager cache leaves AQE free to
    coalesce the tiny distance-vector stages (measured at sf0.1:
    persist 4.7 s → reused exchange 3.2 s, with the 64-task map
    stages of the cached variant collapsing to ~16). Each superstep
    shuffles only the distance vector. Hop-bounded by construction —
    the 100 TB failure mode of unbounded BFS (frontier = whole graph)
    cannot occur. There is no mid-chain checkpoint: SP_ITERS bounds the
    chain, and failure replay re-reads the repartition exchange's
    shuffle files, not the parquet scan (a checkpoint every 2
    supersteps measured 4.6 → 5.9 s at sf0.1 local[8]).

    Superstep shape: the classic ``dist ∪ relax(dist)``
    Bellman-Ford step references ``dist`` TWICE, so the unrolled lazy
    chain doubles the plan subtree per superstep — 2^SP_ITERS copies
    of the early supersteps (485 physical operators / 198 Exchange
    nodes at SP_ITERS=4; runtime dedup via ReusedExchange kept the
    work linear but planning, codegen and stage bookkeeping were not).
    Adding a weight-0 SELF-LOOP per vertex (plus the source) makes
    "keep the current distance" an ordinary relaxation edge —
    ``min(dist + w)`` over the widened edge table IS the superstep,
    ``dist`` appears once, and the plan is linear in SP_ITERS (56
    operators / 13 Exchanges). Exact equivalence: every node ever in
    ``dist`` is a vertex (or the source), its self-loop contributes
    ``dist + 0.0`` — bit-identical to the kept row in IEEE double —
    and all other candidates are unchanged, so the min is unchanged
    (oracle hash pinned before/after; the DuckDB oracle keeps the
    textbook union formulation).
    """
    n_shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))
    ew = _weighted_edges(spark, sf_dir)
    verts = ew.select("src").union(
        spark.range(1).select(F.lit(SP_SRC).cast("long").alias("src"))
    ).distinct()
    loops = verts.select(
        "src", F.col("src").alias("dst"), F.lit(0.0).alias("w")
    )
    edges = ew.unionByName(loops).repartition(n_shuffle, "src")
    dist = spark.range(1).select(
        F.lit(SP_SRC).cast("long").alias("node"),
        F.lit(0.0).alias("dist"),
    )
    for _ in range(SP_ITERS):
        # deliberately NO join-strategy hint: the distance vector is
        # the small side at any scale, and AQE picks broadcast at
        # fixture scale (a pinned shuffle_hash measured +0.75 s here
        # by blocking exactly that runtime conversion — guide §3.1's
        # "check which one you got", applied empirically)
        dist = (
            dist.join(edges, dist.node == edges.src)
            .groupBy(F.col("dst").alias("node"))
            .agg(F.min(F.col("dist") + F.col("w")).alias("dist"))
        )
    return dist.select(
        F.col("node").alias("node_id"),
        half_up(F.col("dist"), 6).alias("dist"),
    ).orderBy("dist", "node_id")


def _shortest_path_oracle() -> str:
    """Unrolled Bellman-Ford as chained CTEs (DuckDB)."""
    steps = []
    for i in range(1, SP_ITERS + 1):
        steps.append(
            f"""d{i} AS (
            SELECT node, min(dist) AS dist FROM (
                SELECT node, dist FROM d{i - 1}
                UNION ALL
                SELECT e.dst AS node, d.dist + e.w AS dist
                FROM d{i - 1} d JOIN edges e ON e.src = d.node
            ) GROUP BY node)"""
        )
    chained = ",\n        ".join(steps)
    return f"""
        WITH pair AS (
            SELECT o_custkey AS c, l_suppkey AS s,
                   min(l_extendedprice) / 1000.0 AS w
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            GROUP BY o_custkey, l_suppkey
        ), edges AS (
            SELECT c AS src, s + {_SUPP_NS} AS dst, w FROM pair
            UNION ALL
            SELECT s + {_SUPP_NS} AS src, c AS dst, w FROM pair
        ), d0 AS (
            SELECT CAST({SP_SRC} AS BIGINT) AS node, 0.0::DOUBLE AS dist
        ),
        {chained}
        SELECT node AS node_id,
               floor(dist * 1e6 + 0.5) / 1e6 AS dist
        FROM d{SP_ITERS}
        ORDER BY dist, node_id
    """


ORACLES["pagerank_topk"] = _pagerank_oracle()
ORACLES["reachability_rcte"] = RCTE_REACHABILITY_SQL
ORACLES["shortest_path_bounded"] = _shortest_path_oracle()

QUERIES = {
    "graph_2hop": q_graph_2hop,
    "degree_histogram": q_degree_histogram,
    "pagerank_topk": q_pagerank_topk,
    "graph_triangle": q_graph_triangle,
    "asof_latest_event": q_asof_latest_event,
    "reachability_rcte": q_reachability_rcte,
    "shortest_path_bounded": q_shortest_path_bounded,
}
