"""Semantic dedup at ingest (streaming/semantic_ingest.py): stream↔
batch parity with the registered oracle-backed ``semantic_dedup``
query across micro-batch layouts, replay idempotence, and the
L2/Lloyd assignment-rule equivalence that makes the parity exact."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from tests.conftest import SF_DIR


def _bootstrap_centroids_only(spark, tmp_path, tag):
    """Index dir with TRAINED centroids and no history — the whole
    corpus arrives via the stream."""
    from wd2duckdb_spark.functions.similarity import trained_centroids

    index_dir = str(tmp_path / f"semidx_{tag}")
    cents = trained_centroids(spark, SF_DIR)
    spark.createDataFrame(
        [(cid, vec) for cid, vec in cents],
        "cid int, embedding array<double>",
    ).coalesce(1).write.parquet(f"{index_dir}/centroids")
    return index_dir


def _stream_corpus(spark, tmp_path, splits, tag):
    """All embeddings, vec_id-ordered, in `splits` micro-batches."""
    from wd2duckdb_spark.catalog import tbl
    from wd2duckdb_spark.streaming.semantic_ingest import (
        semantic_ingest_stream,
    )

    e = tbl(spark, SF_DIR, "embeddings")
    rows = e.orderBy("vec_id").collect()
    in_dir = tmp_path / f"semin_{tag}"
    in_dir.mkdir()
    bounds = [round(i * len(rows) / splits) for i in range(splits + 1)]
    for i in range(splits):
        spark.createDataFrame(
            rows[bounds[i] : bounds[i + 1]], e.schema
        ).coalesce(1).write.parquet(str(in_dir / f"b{i}.parquet"))

    index_dir = _bootstrap_centroids_only(spark, tmp_path, tag)
    out_dir = str(tmp_path / f"semout_{tag}")
    stream = (
        spark.readStream.schema(e.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(in_dir) + "/*.parquet")
    )
    q = semantic_ingest_stream(
        stream, index_dir, out_dir, str(tmp_path / f"semckpt_{tag}")
    )
    q.awaitTermination(300)
    return index_dir, out_dir


def _batch_keep_set(spark):
    from wd2duckdb_spark.functions.similarity import q_semantic_dedup

    return {
        r.vec_id
        for r in q_semantic_dedup(spark, SF_DIR).collect()
        if r.keep
    }


@pytest.mark.slow
def test_l2_assign_col_matches_lloyd_assignment(spark):
    """The in-row L2 argmin reproduces the Lloyd min-struct
    assignment for EVERY clean vector (same floor-6 snap, same
    ascending-cid tie-break)."""
    from wd2duckdb_spark.functions.ann_index import l2_assign_col
    from wd2duckdb_spark.functions.similarity import (
        _as_double,
        _lloyd_assignment,
        clean_embeddings,
        trained_centroids,
    )

    cents = trained_centroids(spark, SF_DIR)
    got = {
        r.vec_id: r.cell
        for r in clean_embeddings(spark, SF_DIR)
        .withColumn("v", _as_double(F.col("embedding")))
        .select("vec_id", l2_assign_col("v", cents).alias("cell"))
        .collect()
    }
    _v, asg, _c = _lloyd_assignment(spark, SF_DIR)
    want = {r.vec_id: r.cid for r in asg.collect()}
    assert got == want and len(got) > 0


@pytest.mark.slow
def test_streamed_semantic_dedup_matches_batch_twin_across_layouts(
    spark, tmp_path
):
    """The kept corpus after streaming the WHOLE corpus in vec_id
    order equals the registered batch query's keep set — for 2-batch
    and 4-batch layouts."""
    want = _batch_keep_set(spark)
    assert want  # non-degenerate fixture
    for splits in (2, 4):
        _idx, out = _stream_corpus(spark, tmp_path, splits, f"s{splits}")
        got = {
            r.vec_id for r in spark.read.parquet(out).select("vec_id").collect()
        }
        assert got == want, (splits, len(got), len(want))


@pytest.mark.slow
def test_replayed_batch_is_idempotent(spark, tmp_path):
    """Re-running a batch against the index it already wrote must not
    self-dup its vectors or change the kept set (the batch != id
    replay filter)."""
    from wd2duckdb_spark.catalog import tbl
    from wd2duckdb_spark.streaming.semantic_ingest import _batch_vec_dedup

    idx, out = _stream_corpus(spark, tmp_path, 2, "replay")
    want = {
        r.vec_id for r in spark.read.parquet(out).select("vec_id").collect()
    }
    e = tbl(spark, SF_DIR, "embeddings")
    rows = e.orderBy("vec_id").collect()
    second_half = spark.createDataFrame(rows[len(rows) // 2 :], e.schema)
    from wd2duckdb_spark.functions.similarity import SEMDEDUP_THR

    _batch_vec_dedup(second_half, 1, idx, out, SEMDEDUP_THR)
    got = {
        r.vec_id for r in spark.read.parquet(out).select("vec_id").collect()
    }
    assert got == want


@pytest.mark.slow
def test_metrics_reconcile_with_kept_corpus(spark, tmp_path):
    """sum(n_kept) == |kept corpus| and n_in covers the clean feed."""
    from wd2duckdb_spark.streaming.lake_index import batch_metrics

    _idx, out = _stream_corpus(spark, tmp_path, 3, "metrics")
    m = batch_metrics(spark, out).collect()
    n_kept = spark.read.parquet(out).count()
    assert sum(r.n_kept for r in m) == n_kept
    assert all(r.n_in == r.n_dups + r.n_kept for r in m)


@pytest.mark.slow
def test_history_probe_streams_index_not_broadcast(spark, tmp_path):
    """Join orientation at scale: the history probe must broadcast
    the MICRO-BATCH side and stream the index — the index FileScan
    appears outside (before) the BroadcastExchange subtree."""
    from wd2duckdb_spark.catalog import tbl
    from wd2duckdb_spark.functions.ann_index import (
        _assigned_rows,
        l2_assign_col,
    )
    from wd2duckdb_spark.functions.similarity import (
        _cosine_fold_sql,
        trained_centroids,
    )
    from wd2duckdb_spark.streaming import lake_index

    idx, _out = _stream_corpus(spark, tmp_path, 2, "orient")
    cents = trained_centroids(spark, SF_DIR)
    batch = tbl(spark, SF_DIR, "embeddings").limit(5)
    assigned = _assigned_rows(batch, l2_assign_col("v", cents), None)
    hist = (
        spark.read.parquet(f"{idx}/assignments")
        .filter(F.col("batch") != 99)
        .select("cell", F.col("v").alias("vh"))
    )
    probe = lake_index.probe(
        assigned.select("cell", "vec_id", F.col("v").alias("vb")),
        hist,
        on=["cell"],
        prune_col="cell",
        verify=F.round(F.expr(_cosine_fold_sql("vb", "vh")), 4) >= F.lit(0.35),
    )
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastExchange" in plan
    assert plan.index("FileScan parquet [") < plan.index(
        "BroadcastExchange"
    ), plan


@pytest.mark.slow
def test_catchup_regime_keeps_same_vectors(spark, tmp_path, monkeypatch):
    """The semantic tier shares the lake-index probe, so a batch past
    MAX_BROADCAST_KEYS takes the shuffled-hash regime (batch side as
    build) — and must keep exactly the vectors the default regime
    keeps."""
    from wd2duckdb_spark.catalog import tbl
    from wd2duckdb_spark.functions.similarity import SEMDEDUP_THR
    from wd2duckdb_spark.streaming import lake_index
    from wd2duckdb_spark.streaming.semantic_ingest import _batch_vec_dedup

    e = tbl(spark, SF_DIR, "embeddings")
    rows = e.orderBy("vec_id").collect()
    halves = [
        spark.createDataFrame(rows[: len(rows) // 2], e.schema),
        spark.createDataFrame(rows[len(rows) // 2 :], e.schema),
    ]

    def run(tag):
        idx = _bootstrap_centroids_only(spark, tmp_path, tag)
        out = str(tmp_path / f"semout_{tag}")
        for i, half in enumerate(halves):
            _batch_vec_dedup(half, i, idx, out, SEMDEDUP_THR)
        return {
            r.vec_id for r in spark.read.parquet(out).select("vec_id").collect()
        }

    default_kept = run("default")
    monkeypatch.setattr(lake_index, "MAX_BROADCAST_KEYS", 1)
    assert run("catchup") == default_kept
    assert default_kept and len(default_kept) < len(rows)
