"""Plan-property tests: the scale guarantees, pinned.

These assert what .explain() shows — pushdown, pruning, broadcast
choice, top-k physical op, bucketed-join exchange elimination, salted
join correctness — so a regression in plan shape fails CI even when
results stay correct.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from tests.conftest import SF_DIR
from wd2duckdb_spark.plans import plan_summary, pushed_filters, read_schema


def test_filter_projection_pushdown(spark):
    from wd2duckdb_spark.operators.relational import q_filter_project

    df = q_filter_project(spark, SF_DIR)
    pf = " ".join(pushed_filters(df))
    assert "GreaterThan(l_quantity,45.0)" in pf
    assert "EqualTo(l_returnflag,R)" in pf
    # column pruning: only the 3 projected + 1 filter column are read
    cols = read_schema(df)[0]
    assert set(c.split(":")[0] for c in cols.split(",")) == {
        "l_orderkey", "l_linenumber", "l_quantity", "l_returnflag"
    }


def test_q5_joins_are_broadcast(spark):
    from wd2duckdb_spark.operators.relational import q_q5_local_supplier_volume

    s = plan_summary(q_q5_local_supplier_volume(spark, SF_DIR))
    assert s["broadcast_hash_join"] >= 4  # customer/supplier/nation/region
    assert s["nested_loop_join"] == 0


def test_topk_uses_take_ordered(spark):
    from wd2duckdb_spark.operators.relational import q_topk_orders

    assert plan_summary(q_topk_orders(spark, SF_DIR))["take_ordered"] >= 1


def test_exists_correlated_is_semi_join(spark):
    """The correlated EXISTS decorrelates to a (left semi) join — never
    a per-row nested loop."""
    from wd2duckdb_spark.operators.relational import q_exists_correlated
    from wd2duckdb_spark.plans import explain_str, plan_summary

    df = q_exists_correlated(spark, SF_DIR)
    assert "LeftSemi" in explain_str(df, "simple")
    assert plan_summary(df)["nested_loop_join"] == 0


def test_scalar_subquery_broadcasts_threshold(spark):
    """Aggregate-then-join decorrelation: the per-part threshold table
    and the part filter both broadcast — the fact table is never the
    build side."""
    from wd2duckdb_spark.operators.relational import q_scalar_subquery_part
    from wd2duckdb_spark.plans import plan_summary

    s = plan_summary(q_scalar_subquery_part(spark, SF_DIR))
    assert s["broadcast_hash_join"] >= 2
    assert s["nested_loop_join"] == 0


def test_having_in_subquery_topk_physical(spark):
    """Q18 shape: broadcast joins + TakeOrderedAndProject (no global
    sort materialization for the top-100)."""
    from wd2duckdb_spark.operators.relational import q_having_in_subquery
    from wd2duckdb_spark.plans import plan_summary

    s = plan_summary(q_having_in_subquery(spark, SF_DIR))
    assert s["broadcast_hash_join"] >= 2
    assert s["take_ordered"] >= 1


def test_band_join_avoids_nested_loop(spark):
    """The ε-bucket blocking turns the pure non-equi band predicate
    into a hash join — no BroadcastNestedLoopJoin/CartesianProduct."""
    from wd2duckdb_spark.operators.relational import q_band_join
    from wd2duckdb_spark.plans import plan_summary

    s = plan_summary(q_band_join(spark, SF_DIR))
    assert s["nested_loop_join"] == 0
    assert (
        s["broadcast_hash_join"] + s["shuffled_hash_join"] + s["sort_merge_join"]
        >= 1
    )


def test_embedding_neardup_plan_is_blocked_gemm(spark):
    """Blocked-GEMM near-dup must never materialize a data-sized
    self-join: ONE MapInPandas (the BLAS Gram tasks), exactly one tiny
    nested-loop join (the B-row x B-row block-pair task table — B =
    EMB_BLOCKS rows per side, not data), and only the candidate
    re-verify joins on the result-sized pair set."""
    from wd2duckdb_spark.functions.dedup import q_embedding_neardup
    from wd2duckdb_spark.plans import plan_summary

    s = plan_summary(q_embedding_neardup(spark, SF_DIR))
    assert s["map_in_pandas"] == 1
    assert s["nested_loop_join"] == 1  # B-row task descriptors only
    assert s["sort_merge_join"] == 0
    assert s["python_udf"] == 0  # Arrow-batched, not row-at-a-time
    assert s["exchange"] <= 6


@pytest.mark.slow
def test_embedding_neardup_equals_exhaustive(spark):
    """The margin-guarded BLAS pre-filter plus exact JVM re-verify must
    reproduce the exhaustive all-pairs result exactly on the
    fixture."""
    from wd2duckdb_spark.functions.dedup import q_embedding_neardup
    from wd2duckdb_spark.catalog import tbl

    banded = q_embedding_neardup(spark, SF_DIR).collect()

    e = tbl(spark, SF_DIR, "embeddings").select(
        "vec_id", F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("v")
    )
    a, b = e.alias("a"), e.alias("b")
    dot = F.aggregate(
        F.zip_with(F.col("a.v"), F.col("b.v"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )

    def norm(c):
        return F.sqrt(
            F.aggregate(
                F.transform(c, lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v
            )
        )

    exhaustive = (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("a_id"),
            F.col("b.vec_id").alias("b_id"),
            F.round(dot / (norm(F.col("a.v")) * norm(F.col("b.v"))), 4).alias(
                "cosine"
            ),
        )
        .filter(F.col("cosine") > 0.4)
        .orderBy("a_id", "b_id")
        .collect()
    )
    assert [tuple(r) for r in banded] == [tuple(r) for r in exhaustive]


def test_q19_envelope_pushdown(spark):
    """The OR-of-ANDs disjunction can't push whole, but Catalyst
    derives each column's envelope (union of its ranges) and pushes
    THAT to both scans — pinned so a rewrite of the predicate doesn't
    silently turn the lineitem scan into a full decode."""
    from wd2duckdb_spark.operators.relational import q_q19_disjunctive
    from wd2duckdb_spark.plans import plan_summary

    df = q_q19_disjunctive(spark, SF_DIR)
    pf = " ".join(pushed_filters(df))
    assert "l_quantity" in pf  # quantity range union reached lineitem scan
    assert "p_brand" in pf  # brand/size disjunction reached part scan
    assert plan_summary(df)["nested_loop_join"] == 0


def test_q22_anti_join_and_scalar(spark):
    """Q22 shape: NOT EXISTS is a LeftAnti hash join; the global-avg
    scalar is a 1-row broadcast (the only tolerable nested-loop)."""
    from wd2duckdb_spark.operators.relational import q_q22_idle_balance
    from wd2duckdb_spark.plans import explain_str

    p = explain_str(q_q22_idle_balance(spark, SF_DIR), "simple")
    assert "LeftAnti" in p


def test_topn_per_group_uses_window_group_limit(spark):
    """Grouped top-k plans with WindowGroupLimit (partial + final):
    each map task keeps only k rows per group BEFORE the shuffle —
    the property that makes per-group top-k survive 100 TB."""
    from wd2duckdb_spark.operators.relational import q_topn_per_group
    from wd2duckdb_spark.plans import explain_str

    p = explain_str(q_topn_per_group(spark, SF_DIR), "simple")
    assert p.count("WindowGroupLimit") >= 2  # Partial and Final


def test_window_range_frame_is_range(spark):
    """The trailing-30-day window compiles to a RangeFrame (value
    comparison), not a RowFrame — the tie-safety the query relies on."""
    from wd2duckdb_spark.operators.relational import q_window_range_frame
    from wd2duckdb_spark.plans import explain_str

    assert "RangeFrame" in explain_str(q_window_range_frame(spark, SF_DIR))


@pytest.mark.slow
def test_no_python_udf_in_core_queries(spark):
    """Every core operator stays JVM-side (SURVEY §2.3 UDF row)."""
    from wd2duckdb_spark.registry import all_queries

    for name, fn in all_queries().items():
        s = plan_summary(fn(spark, SF_DIR))
        assert s["python_udf"] == 0, f"{name} fell back to a Python UDF"


def _warehouse_path(spark) -> str:
    """The local path of the session's warehouse dir (a URI in conf)."""
    wh = spark.conf.get("spark.sql.warehouse.dir")
    return spark._jvm.org.apache.hadoop.fs.Path(wh).toUri().getPath()


def test_bucketed_join_has_no_exchange(spark, kg_tables, tmp_path):
    """edge ⋈ vertex on the bucket key: zero Exchange on either side —
    the co-located-join layout (the reference's index intent)."""
    from wd2duckdb_spark.layout import bucketed_table, write_bucketed

    # clear any orphan location left by an interrupted previous run
    import shutil

    spark.sql("DROP DATABASE IF EXISTS kg_test CASCADE")
    wh = _warehouse_path(spark)
    shutil.rmtree(f"{wh}/kg_test.db", ignore_errors=True)

    write_bucketed(
        {"edge": kg_tables["edge"], "vertex": kg_tables["vertex"]},
        database="kg_test",
        n_buckets=4,
    )
    e = bucketed_table(spark, "edge", "kg_test")
    v = bucketed_table(spark, "vertex", "kg_test")
    joined = e.groupBy("src_id").count()
    assert plan_summary(joined)["exchange"] == 0, "bucketed agg should not shuffle"

    j2 = e.join(v.withColumnRenamed("id", "src_id"), "src_id")
    assert plan_summary(j2)["exchange"] <= 1  # at most the small side


def test_salted_join_correctness(spark):
    """Salted join == plain join, row-for-row, on a skewed key set."""
    from wd2duckdb_spark.operators.skew import salted_join

    # 10k rows, 90% on one hot key — the P31 shape
    skewed = spark.range(10000).select(
        F.when(F.col("id") % 10 != 0, F.lit(31)).otherwise(F.col("id") % 97)
        .alias("k"),
        F.col("id").alias("payload"),
    )
    dim = spark.range(100).select(
        F.col("id").cast("long").alias("k"),
        F.concat(F.lit("label_"), F.col("id")).alias("label"),
    )
    plain = skewed.join(dim, "k").select("k", "payload", "label")
    salted = salted_join(skewed, dim, "k", n_salts=8)
    assert sorted(map(tuple, salted.collect())) == sorted(map(tuple, plain.collect()))


def test_aqe_skew_config_on(spark):
    assert spark.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true"
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"


def test_date_partitioned_write_prunes(spark, tmp_path):
    """A date predicate over a hive-partitioned events table shows up
    as PartitionFilters (directory pruning), not just a data filter."""
    from wd2duckdb_spark.catalog import tbl
    from wd2duckdb_spark.layout import write_date_partitioned
    from wd2duckdb_spark.plans import partition_filters

    e = tbl(spark, SF_DIR, "events")
    out = str(tmp_path / "events_by_date")
    write_date_partitioned(e, out)

    back = spark.read.parquet(out)
    one_day = back.filter(F.col("event_date") == "2024-01-10")
    pf = " ".join(partition_filters(one_day))
    assert "event_date" in pf, "date predicate must prune partitions"
    # row parity with the unpartitioned filter
    want = e.filter(F.to_date("ts") == "2024-01-10").count()
    assert one_day.count() == want


def test_aqe_splits_skewed_join(spark):
    """AQE's runtime skew handling ACTUALLY fires — the P31/Q5 hub-key
    defense (SURVEY §4.3) demonstrated, not just config-asserted.
    Thresholds are lowered so fixture-scale skew triggers the split;
    the final adaptive plan must carry the skew=true join marker."""
    from wd2duckdb_spark.plans import executed_plan_str

    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    try:
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1.0")
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16KB"
        )
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8KB")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force SMJ

        big = spark.range(200000).select(
            F.when(F.col("id") % 10 != 0, F.lit(31))
            .otherwise(F.col("id") % 997)
            .alias("k"),
            F.col("id").alias("payload"),
        )
        dim = spark.range(1000).select(
            F.col("id").alias("k"), F.concat(F.lit("v"), F.col("id")).alias("lbl")
        )
        j = big.join(dim, "k")
        # collect() executes j's own query; count() would finalize a
        # different QueryExecution and leave j's plan non-final
        assert len(j.collect()) == 200000  # hot key still joins correctly
        assert "skew=true" in executed_plan_str(j)
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_salted_left_join_correctness(spark):
    """Left salted join == plain left join, including unmatched rows
    (each skewed row carries exactly one salt, so no duplication)."""
    from wd2duckdb_spark.operators.skew import salted_join

    skewed = spark.range(1000).select(
        (F.col("id") % 150).alias("k"), F.col("id").alias("payload")
    )
    dim = spark.range(100).select(  # keys 100-149 unmatched
        F.col("id").alias("k"), F.concat(F.lit("v"), F.col("id")).alias("lbl")
    )
    plain = skewed.join(dim, "k", "left").select("k", "payload", "lbl")
    salted = salted_join(skewed, dim, "k", n_salts=4, how="left")

    def key(row):
        return tuple((v is None, v) for v in row)

    assert sorted(map(tuple, salted.collect()), key=key) == sorted(
        map(tuple, plain.collect()), key=key
    )

    import pytest

    with pytest.raises(ValueError, match="salted_join supports"):
        salted_join(skewed, dim, "k", how="full")


def test_morton_code_values(spark):
    """Known interleavings: (a,b) → z with a in even bits, b in odd."""
    from wd2duckdb_spark.layout import morton_code

    df = spark.createDataFrame(
        [(0, 0), (1, 0), (0, 1), (3, 5), (255, 255)], "a long, b long"
    )
    got = {
        (r["a"], r["b"]): r["z"]
        for r in df.select("a", "b", morton_code("a", "b").alias("z")).collect()
    }
    assert got[(0, 0)] == 0
    assert got[(1, 0)] == 1
    assert got[(0, 1)] == 2
    assert got[(3, 5)] == 0b100111  # a=11, b=101 interleaved
    assert got[(255, 255)] == 0xFFFF


def _rowgroup_hit_fraction(path, col, probes):
    """Fraction of (row group, probe) pairs whose min/max span the probe —
    the footer-stats read amplification of a point lookup on ``col``."""
    import pathlib

    import pyarrow.parquet as pq

    total = hits = 0
    for f in pathlib.Path(path).glob("*.parquet"):
        pf = pq.ParquetFile(f)
        idx = pf.schema_arrow.get_field_index(col)
        for rg in range(pf.metadata.num_row_groups):
            st = pf.metadata.row_group(rg).column(idx).statistics
            for v in probes:
                total += 1
                if st.min <= v <= st.max:
                    hits += 1
    return hits / total


def test_zorder_layout_prunes_both_endpoints(spark, tmp_path):
    """Z-ordered parquet prunes row groups for point lookups on EITHER
    endpoint; the lexical (src, dst) sort only prunes the leading one.
    This is the both-direction index parity (value.rs:332-350) measured
    from actual parquet footers, not claimed from theory."""
    from wd2duckdb_spark.layout import write_zordered

    n = 256  # full 256x256 grid of (src, dst) pairs
    grid = spark.range(n * n).select(
        (F.col("id") % n).alias("src_id"),
        F.floor(F.col("id") / n).cast("long").alias("dst_id"),
    )
    # sub-file row groups so footer stats are the pruning granularity
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    saved = hconf.get("parquet.block.size")
    hconf.set("parquet.block.size", str(64 * 1024))
    zpath, lexpath = str(tmp_path / "edges_z"), str(tmp_path / "edges_lex")
    try:
        write_zordered(grid, zpath, n_files=8)
        (
            grid.repartitionByRange(8, "src_id")
            .sortWithinPartitions("src_id", "dst_id")
            .write.mode("overwrite")
            .parquet(lexpath)
        )
    finally:
        if saved is None:
            hconf.unset("parquet.block.size")
        else:
            hconf.set("parquet.block.size", saved)

    # roundtrip intact: same rows, no helper column materialized
    back = spark.read.parquet(zpath)
    assert back.columns == ["src_id", "dst_id"]
    assert back.count() == n * n

    probes = [37, 101, 200]
    z_src = _rowgroup_hit_fraction(zpath, "src_id", probes)
    z_dst = _rowgroup_hit_fraction(zpath, "dst_id", probes)
    lex_dst = _rowgroup_hit_fraction(lexpath, "dst_id", probes)

    assert z_src <= 0.5, f"z-order should prune src lookups, read {z_src:.0%}"
    assert z_dst <= 0.5, f"z-order should prune dst lookups, read {z_dst:.0%}"
    assert lex_dst >= 0.75, f"lexical sort can't prune dst (read {lex_dst:.0%})"
    assert z_dst < lex_dst / 2


def test_lateral_join_decorrelates(spark):
    """The LATERAL top-k compiles to ONE window top-k + ONE join — not
    a per-row nested-loop re-execution. WindowGroupLimit runs Partial
    before the shuffle (map-side top-k) and the dim side broadcasts."""
    from wd2duckdb_spark.operators.relational import q_lateral_topk_orders
    from wd2duckdb_spark.plans import explain_str

    df = q_lateral_topk_orders(spark, SF_DIR)
    s = plan_summary(df)
    assert s["nested_loop_join"] == 0, "lateral must decorrelate"
    assert s["broadcast_hash_join"] == 1
    assert "WindowGroupLimit" in explain_str(df)


def test_runtime_bloom_filter_injection(spark):
    """When the dim side is selective but too big to broadcast, the
    optimizer injects a bloom_filter_agg semi-filter on the fact scan —
    the runtime row-level pruning tier for 100 TB shuffle joins
    (between static pushdown and the join itself). Thresholds are
    fixture-scaled; the optimized plan must carry the bloom filter."""
    from wd2duckdb_spark.catalog import tbl

    saved = {
        k: spark.conf.get(k)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        )
    }
    try:
        assert (
            spark.conf.get("spark.sql.optimizer.runtime.bloomFilter.enabled")
            == "true"
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "100MB"
        )
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter."
            "applicationSideScanSizeThreshold",
            "1KB",
        )
        li = tbl(spark, SF_DIR, "lineitem")
        o = tbl(spark, SF_DIR, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
        )
        opt = j._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom_filter_agg" in opt, "runtime bloom filter not injected"
        assert "might_contain" in opt
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_dynamic_partition_pruning(spark, tmp_path):
    """Joining a hive-partitioned fact to a filtered dim on the
    partition column injects a dynamicpruning subquery into the scan's
    PartitionFilters — at 100 TB the fact reads only the dim-selected
    partitions, decided at runtime. Complements the static-pruning and
    bloom-filter tiers."""
    from wd2duckdb_spark.catalog import tbl
    from wd2duckdb_spark.layout import write_date_partitioned

    out = str(tmp_path / "ev_by_date")
    write_date_partitioned(tbl(spark, SF_DIR, "events"), out)
    back = spark.read.parquet(out)
    dates = sorted(r["event_date"] for r in back.select("event_date").distinct().collect())
    dim = spark.createDataFrame(
        [(d, "campaign" if i % 7 == 0 else "normal") for i, d in enumerate(dates)],
        "event_date date, day_kind string",
    )
    j = (
        back.join(dim.filter(F.col("day_kind") == "campaign"), "event_date")
        .groupBy("event_date")
        .agg(F.count("*").alias("n"))
    )
    s = j._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in s.lower(), "DPP subquery not injected"
    # correctness of the pruned result
    want = sorted(dates[i] for i in range(0, len(dates), 7))
    got = sorted(r["event_date"] for r in j.collect())
    assert got == want


def test_q9_q10_report_plans(spark):
    """Q9: all dims broadcast, the p_name contains-filter is pushed to
    the part scan. Q10: returnflag + quarter window pushed to the
    scans, dims broadcast, top-20 is TakeOrderedAndProject."""
    from wd2duckdb_spark.operators.relational import (
        q_q9_profit_by_nation_year,
        q_q10_returned_items,
    )

    q9 = q_q9_profit_by_nation_year(spark, SF_DIR)
    s9 = plan_summary(q9)
    assert s9["broadcast_hash_join"] >= 3
    assert s9["nested_loop_join"] == 0
    assert "StringContains(p_name,widget)" in " ".join(pushed_filters(q9))

    q10 = q_q10_returned_items(spark, SF_DIR)
    s10 = plan_summary(q10)
    assert s10["broadcast_hash_join"] >= 3
    assert s10["take_ordered"] >= 1
    pf = " ".join(pushed_filters(q10))
    assert "EqualTo(l_returnflag,R)" in pf
    assert "o_orderdate" in pf


def test_recursive_cte_plans_union_loop(spark):
    """WITH RECURSIVE plans as UnionLoop (Spark 4's recursive-CTE
    operator) — the engine-managed iteration, not a driver-side loop —
    and the result matches the imperative BFS over the same edges."""
    from wd2duckdb_spark.operators.graph import q_reachability_rcte
    from wd2duckdb_spark.plans import explain_str

    df = q_reachability_rcte(spark, SF_DIR)
    assert "UnionLoop" in explain_str(df, "simple")

    got = [(r.node, r.min_hops) for r in df.collect()]
    # independent truth: python BFS on the same functional graph
    import collections

    n_max = max(r[0] for r in got) + 1  # ≥ real modulus is fine for check
    from wd2duckdb_spark.catalog import tbl

    n = (
        tbl(spark, SF_DIR, "customer")
        .agg(F.expr("max(c_custkey) + 1").alias("n"))
        .collect()[0]
        .n
    )
    succ = lambda k: [(k * 7 + 3) % n, (k * 3 + 1) % n]
    dist = {1: 0}
    q = collections.deque([1])
    while q:
        u = q.popleft()
        if dist[u] >= 6:
            continue
        for v in succ(u):
            if v not in dist:
                dist[v] = dist[u] + 1
                q.append(v)
    assert got == sorted(dist.items())


def test_parquet_bloom_filter_layout(spark, tmp_path):
    """write_bloom_filtered emits parquet bloom filters (visible in the
    column metadata) and an equality probe on the filtered column reads
    fewer row groups than the same probe on an unfiltered copy."""
    import pyarrow.parquet as pq

    from wd2duckdb_spark.catalog import tbl
    from wd2duckdb_spark.layout import write_bloom_filtered

    # bloom filters only materialize for columns that exhaust parquet's
    # dictionary encoding — exactly the high-entropy-ID case they're
    # for (a fully dict-encoded column already has an exact filter).
    e = (
        tbl(spark, SF_DIR, "events")
        .select("event_id", "user_id")
        .withColumn("doc_hash", F.md5(F.col("event_id").cast("string")))
    )
    plain = str(tmp_path / "plain")
    bloomed = str(tmp_path / "bloomed")
    e.repartition(4).write.parquet(plain)
    write_bloom_filtered(
        e.repartition(4), bloomed, bloom_cols=("doc_hash",), ndv=2000
    )

    import pathlib

    # pyarrow 16 doesn't surface bloom offsets in ColumnChunkMetaData;
    # the observable contract: identical rows + row-group layout, but
    # the bloomed file carries the filter bytes (same writer, same
    # deterministic data → any size growth is the bloom structure).
    def total(p):
        return sum(
            f.stat().st_size for f in pathlib.Path(p).glob("*.parquet")
        )

    # dataset-level row counts, not one arbitrary part file from each:
    # glob order is unspecified and round-robin repartition rows per
    # part can differ by ±1, so pairing part-00000 with part-00003
    # could fail flakily (ADVICE r1)
    def rows(p):
        return sum(
            pq.ParquetFile(str(f)).metadata.num_rows
            for f in pathlib.Path(p).glob("*.parquet")
        )

    assert rows(bloomed) == rows(plain)
    assert total(bloomed) > total(plain), "bloom filter bytes absent"

    # same rows either way; membership probe still correct
    needle = e.select("doc_hash").first()["doc_hash"]
    probe = spark.read.parquet(bloomed).filter(F.col("doc_hash") == needle)
    want = spark.read.parquet(plain).filter(F.col("doc_hash") == needle)
    assert probe.count() == want.count() > 0


def test_funnel_stages_plan_shape(spark):
    """Pin the funnel's scale guarantees (VERDICT r1 item 8): stage
    joins are broadcast hash joins of shrinking per-user aggregates,
    the only nested loops are the two ONE-ROW cross joins stitching
    the three scalar counts together, and nothing leaves codegen."""
    from wd2duckdb_spark.operators.analytics import q_funnel_stages
    from wd2duckdb_spark.plans import plan_summary

    s = plan_summary(q_funnel_stages(spark, SF_DIR))
    assert s["python_udf"] == 0
    assert s["broadcast_hash_join"] >= 2  # click⋈views, purchase⋈clicks
    assert s["nested_loop_join"] <= 2  # 1-row scalar-count stitches only
    assert s["exchange"] <= 13


def test_tfidf_top_terms_plan_shape(spark):
    """Pin TF-IDF's scale guarantees (VERDICT r1 item 8): the
    document-frequency table joins back BROADCAST (bounded by |vocab|,
    never a corpus shuffle), the only nested loop is the 1-row source
    count, and the explode/tokenize stays JVM-side."""
    from wd2duckdb_spark.functions.text import q_tfidf_top_terms
    from wd2duckdb_spark.plans import plan_summary

    s = plan_summary(q_tfidf_top_terms(spark, SF_DIR))
    assert s["python_udf"] == 0
    assert s["broadcast_hash_join"] >= 1  # tf ⋈ df on word
    assert s["nested_loop_join"] <= 1  # 1-row n_src cross join only
    assert s["exchange"] <= 11
    assert s["generate"] >= 1  # tokenize via explode, not UDF


def test_cbo_join_reorder_with_stats(spark, tmp_path):
    """With column stats + CBO, a fact-fact-dim query written in the
    WORST syntactic order (fact x fact first) is reordered to start
    from the selective filtered pair; without joinReorder the
    syntactic order survives."""
    from wd2duckdb_spark.catalog import tbl
    from wd2duckdb_spark.layout import compute_stats
    from wd2duckdb_spark.plans import explain_str
    import re

    spark.conf.set("spark.sql.cbo.enabled", "true")
    spark.conf.set("spark.sql.cbo.joinReorder.enabled", "true")
    try:
        for t in ("customer", "orders", "lineitem"):
            spark.sql(f"DROP TABLE IF EXISTS {t}_cbo")
            (
                tbl(spark, SF_DIR, t)
                .write.mode("overwrite")
                .option("path", str(tmp_path / t))
                .saveAsTable(f"{t}_cbo")
            )
        compute_stats(spark, ("customer_cbo", "orders_cbo", "lineitem_cbo"))
        q = """
            SELECT c.c_mktsegment, count(*) AS n
            FROM lineitem_cbo l
            JOIN orders_cbo o ON l.l_orderkey = o.o_orderkey
            JOIN customer_cbo c ON o.o_custkey = c.c_custkey
            WHERE c.c_mktsegment = 'BUILDING'
              AND o.o_totalprice > 100000
            GROUP BY c.c_mktsegment
        """

        def scan_order():
            p = explain_str(spark.sql(q), "formatted")
            return [
                m.split("/")[-1]
                for m in re.findall(r"file:[^\]\s]*/(\w+)\]", p)
            ] or re.findall(r"(customer|orders|lineitem)_cbo", p)

        reordered = scan_order()
        spark.conf.set("spark.sql.cbo.joinReorder.enabled", "false")
        syntactic = scan_order()
        assert reordered != syntactic, (reordered, syntactic)
        # the fact table must NOT be in the first join pair under CBO
        assert "lineitem" not in [t.replace("_cbo", "") for t in reordered[:2]]
    finally:
        spark.conf.set("spark.sql.cbo.enabled", "false")
        spark.conf.set("spark.sql.cbo.joinReorder.enabled", "false")
        for t in ("customer", "orders", "lineitem"):
            spark.sql(f"DROP TABLE IF EXISTS {t}_cbo")


def test_asof_join_semantics_and_plan(spark):
    """asof_join: latest at-or-before semantics incl. equal-ts match,
    tie-break by the designated column, NULL when nothing precedes —
    and the plan is ONE shuffle (the union-tag window), no join
    operator at all."""
    import datetime as dt

    from wd2duckdb_spark.operators.relational import asof_join
    from wd2duckdb_spark.plans import plan_summary

    t = lambda m: dt.datetime(2024, 1, 1, 10, m)
    quotes = spark.createDataFrame(
        [
            (1, t(0), 100, 10.0),
            (1, t(5), 101, 11.0),
            (1, t(5), 102, 12.0),  # tie at 10:05 → event_id 102 wins
            (2, t(30), 200, 20.0),
        ],
        "k long, ts timestamp, event_id long, px double",
    )
    probes = spark.createDataFrame(
        [
            (1, t(5), "at-tie"),
            (1, t(4), "between"),
            (2, t(0), "before-any"),
            (3, t(0), "no-key"),
        ],
        "k long, pts timestamp, label string",
    )
    out = asof_join(
        probes, quotes, key="k", left_ts="pts", right_ts="ts",
        value_cols=("px",), right_tiebreak="event_id",
    )
    got = {r.label: r.asof_px for r in out.collect()}
    assert got == {
        "at-tie": 12.0,      # equal ts included, max event_id wins
        "between": 10.0,     # strictly-before row carries forward
        "before-any": None,  # right rows exist but all later
        "no-key": None,      # key absent entirely
    }
    s = plan_summary(out)
    assert (
        s["broadcast_hash_join"] + s["sort_merge_join"]
        + s["shuffled_hash_join"] + s["nested_loop_join"] == 0
    ), "asof_join must not plan any join operator"


def test_ngram_decontaminate_persist_barrier(spark):
    """The shingled relation must come from the cache: without the
    InMemoryRelation barrier, Generate's inferred predicates push the
    interpreted shingle transform below the repartition into the
    one-task scan stage (measured 6.3 s vs 1.5 s at sf0.1)."""
    from wd2duckdb_spark.functions.dedup import q_ngram_decontaminate

    df = q_ngram_decontaminate(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" in plan


def test_math_funcs_no_exchange(spark):
    """Full-table scalar projection: zero exchanges — no presentation
    sort, no shuffle; the whole query is one scan-side codegen stage."""
    from wd2duckdb_spark.functions.scalar import q_math_funcs

    s = plan_summary(q_math_funcs(spark, SF_DIR))
    assert s["exchange"] == 0
    assert s["python_udf"] == 0


def test_fuzzy_name_pairs_no_unbounded_broadcast(spark):
    """VERDICT r2 item 1 / r3 item 2: the edit-distance pair plan must
    not broadcast the part table — that side is O(table) and dies at
    sf100. Pinned shape (round 4): a GRID-decomposed ShuffledHashJoin
    on (block, _gi, _gj) — √cells replication per side instead of the
    salted plan's cells× on one side — broadcast-free, with the
    banded levenshtein evaluated inside the join (no separate
    all-pairs materialization)."""
    from wd2duckdb_spark.functions.dedup import q_fuzzy_name_pairs
    from wd2duckdb_spark.plans import explain_str

    p = explain_str(q_fuzzy_name_pairs(spark, SF_DIR), "simple")
    assert "BroadcastExchange" not in p and "BroadcastHashJoin" not in p
    assert "ShuffledHashJoin" in p
    assert "_gi" in p and "_gj" in p
    assert "levenshtein" in p


def test_bucketed_traversal_edge_side_no_exchange(spark, kg_tables):
    """VERDICT r2 item 3: the bucketed layout must pay off on the
    TRAVERSAL path, not just on aggregations — a k-hop frontier join
    against a src_id-bucketed edge table shuffles ONLY the frontier
    (1 Exchange); the flat twin shuffles both sides (2). This is the
    moral equivalent of the reference's endpoint indices
    (value.rs:332-350) serving its traversal queries."""
    import shutil

    from wd2duckdb_spark.layout import bucketed_table, write_bucketed

    spark.sql("DROP DATABASE IF EXISTS kg_khop CASCADE")
    wh = _warehouse_path(spark)
    shutil.rmtree(f"{wh}/kg_khop.db", ignore_errors=True)
    write_bucketed({"edge": kg_tables["edge"]}, database="kg_khop", n_buckets=4)

    # shuffle_hash models the 100 TB regime where the frontier exceeds
    # the broadcast threshold (a broadcast frontier needs no exchange
    # on ANY layout, so it cannot distinguish the two)
    frontier = kg_tables["vertex"].select("id").hint("shuffle_hash")

    e = bucketed_table(spark, "edge", "kg_khop").select("src_id", "dst_id")
    hop = frontier.join(e, frontier["id"] == e["src_id"]).select("dst_id")
    s = plan_summary(hop)
    assert s["exchange"] == 1, "bucketed edge side must ride its buckets"
    assert s["shuffled_hash_join"] == 1

    flat = kg_tables["edge"].select("src_id", "dst_id")
    hop_flat = frontier.join(flat, frontier["id"] == flat["src_id"]).select(
        "dst_id"
    )
    assert plan_summary(hop_flat)["exchange"] == 2

    # layout contract: ONE file per bucket (write_bucketed repartitions
    # on the bucket key first) — multi-file buckets forfeit the
    # sorted-bucket property and fragment the scan
    import glob

    files = glob.glob(f"{wh}/kg_khop.db/edge/part-*")
    assert len(files) <= 4


def test_semantic_dedup_pair_join_is_grid_shuffle(spark):
    """semantic_dedup's in-cluster pair stage must be the
    grid-decomposed shuffle self-join (cid is an 8-value hot key —
    same regime as fuzzy_name_pairs): ShuffledHashJoin on
    (cid, _gi, _gj), and the only broadcasts are the constant-size
    centroid tables. Pinned on the pair stage over a fresh Lloyd
    chain — the plan the public query's eager checkpoint executes
    (q_semantic_dedup itself returns the checkpointed scan)."""
    from wd2duckdb_spark.functions.similarity import (
        _lloyd_assignment,
        _semantic_keep_plan,
    )
    from wd2duckdb_spark.plans import explain_str

    from wd2duckdb_spark.plans import plan_summary as _ps

    vecs, asg, _cents = _lloyd_assignment(spark, SF_DIR)
    asg = asg.persist()  # it feeds both the pair stage and the keep join
    df = _semantic_keep_plan(spark, vecs, asg)
    try:
        p = explain_str(df, "simple")
        assert "ShuffledHashJoin" in p  # the grid pair join
        assert "_gi" in p and "_gj" in p
        assert _ps(df)["python_udf"] == 0
    finally:
        asg.unpersist()
        vecs.unpersist()


@pytest.mark.slow
def test_grid_self_join_correctness_and_plan(spark):
    """grid_self_join == plain inner join, row-for-row (duplicate
    multisets included), on a pathologically hot key — with the
    pinned plan shape: two Generate/explode replications (√cells per
    side), a ShuffledHashJoin on (key, _gi, _gj), and ZERO broadcast
    of either table-sized side."""
    from wd2duckdb_spark.operators.skew import grid_dim, grid_self_join

    # ceil-sqrt replication factor is the operator's scale contract
    assert [grid_dim(n) for n in (1, 2, 4, 9, 10, 512)] == [1, 2, 2, 3, 4, 23]

    skewed = spark.range(3000).select(
        F.when(F.col("id") % 10 != 0, F.lit(31)).otherwise(F.col("id") % 97)
        .alias("k"),
        F.col("id").alias("a_id"),
    )
    other = spark.range(3000).select(
        F.when(F.col("id") % 10 != 0, F.lit(31)).otherwise(F.col("id") % 97)
        .alias("k"),
        F.col("id").alias("b_id"),
    )
    plain = skewed.join(other, "k").select("k", "a_id", "b_id")
    grid = grid_self_join(skewed, other, "k", n_cells=9, join_hint="shuffle_hash")
    assert sorted(map(tuple, grid.collect())) == sorted(
        map(tuple, plain.collect())
    )
    p = grid._jdf.queryExecution().executedPlan().toString()
    # AQE prints final + initial plan; count nodes in the final only
    final = p.split("== Initial Plan ==")[0]
    assert "ShuffledHashJoin" in final and "Broadcast" not in final
    assert final.count("Generate explode") == 2  # both sides √cells×
    assert "_gi" in final and "_gj" in final


def test_bm25_topk_plan_is_two_scans_zero_shuffles(spark):
    """Round 6: BM25 must keep its explode-free shape — per-term tf as
    vectorized size(filter(...)) columns, corpus stats folded into ONE
    1-row broadcast aggregate, top-k via TakeOrderedAndProject. Zero
    hash exchanges, zero Generate, zero Python — the whole query is
    two scans and per-partition heaps."""
    from wd2duckdb_spark.functions.text import q_bm25_topk
    from wd2duckdb_spark.plans import explain_str, plan_summary

    df = q_bm25_topk(spark, SF_DIR)
    s = plan_summary(df)
    assert s["python_udf"] == 0
    assert s["generate"] == 0  # explode-free tf
    assert s["take_ordered"] == 1  # no global sort
    assert s["sort_merge_join"] == 0 and s["shuffled_hash_join"] == 0
    p = explain_str(df, "simple")
    # the only exchange is the 1-row stats broadcast (+ its single
    # partial/final agg pair) — no hashpartitioning anywhere
    assert "Exchange hashpartitioning" not in p, p
    assert s["nested_loop_join"] == 1  # 1-row stats cross join only


def test_source_overlap_matrix_plan_one_pass_sets(spark):
    """Round 6: the contamination matrix must keep its one-pass shape —
    grams aggregate straight into per-shingle collect_set (map-side
    combine caps hot shingles at S sources per task); pair expansion is
    an in-row array transform, never a shingle-keyed self-join. No wide
    joins, no Python; the heavy exchange is shared via ReuseExchange."""
    import re

    from wd2duckdb_spark.functions.dedup import q_source_overlap_matrix
    from wd2duckdb_spark.plans import plan_summary

    df = q_source_overlap_matrix(spark, SF_DIR)
    s = plan_summary(df)
    assert s["python_udf"] == 0
    assert s["sort_merge_join"] == 0 and s["shuffled_hash_join"] == 0
    assert s["generate"] >= 2  # shingle explode + pair expansion
    df.collect()  # AQE-final plan carries the exchange reuse
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert len(re.findall("ReusedExchange", plan)) >= 1, plan


def test_local_frame_round_trips_nulls_nan_arrays_and_empty(spark):
    """``catalog.local_frame``: a table built from Python rows plans a
    ``LocalTableScan`` with exactly the DDL schema; ``None`` stays
    null, NaN stays NaN (inside arrays too), and zero rows give an
    empty frame of the same schema."""
    import math

    from wd2duckdb_spark.catalog import local_frame

    ddl = "id long, x double, v array<double>, s string, n int"
    nan = float("nan")
    df = local_frame(
        spark,
        [(1, None, [1.5, nan], "it's \\ ü", 7), (2, nan, None, None, None)],
        ddl,
    )
    assert df.schema.simpleString() == (
        "struct<id:bigint,x:double,v:array<double>,s:string,n:int>"
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan
    a, b = df.orderBy("id").collect()
    assert (a.id, a.x, a.v[0], a.s, a.n) == (1, None, 1.5, "it's \\ ü", 7)
    assert math.isnan(a.v[1])
    assert b.id == 2 and math.isnan(b.x)
    assert (b.v, b.s, b.n) == (None, None, None)
    # NaN is a value, not a null, to Spark as well
    assert df.filter(F.isnan("x")).count() == 1
    assert df.filter(F.col("x").isNull()).count() == 1

    empty = local_frame(spark, [], ddl)
    assert empty.schema == df.schema
    assert empty.collect() == []


def test_plans_snapshot_regenerates_byte_identical():
    """PLANS_SNAPSHOT.md is exactly what ``tools/explain_all.py``
    prints for the sf0.001 fixtures. The tool runs in a fresh process,
    so session conf that earlier tests left behind cannot change the
    plans it reports. The snapshot reads the same at local[4] and
    local[32]; the child is pinned to local[4] with a 2g heap, where it
    takes about a minute on a 4-core host (local[32] there: ~10 min)."""
    import os
    import subprocess
    import sys

    from tests.conftest import REPO

    tool = os.path.join(REPO, "tools", "explain_all.py")
    out = subprocess.run(
        [sys.executable, tool, SF_DIR],
        cwd=REPO,
        env=dict(os.environ, SPARK_GRAFT_CPUS="4", SPARK_GRAFT_DRIVER_MEM="2g"),
        capture_output=True,
        text=True,
        timeout=900,
        check=True,
    ).stdout
    with open(os.path.join(REPO, "PLANS_SNAPSHOT.md"), encoding="utf-8") as f:
        assert out == f.read()
