"""SEMANTIC dedup AT INGEST: a streaming stage that drops incoming
vectors (documents-by-embedding) cosine-near-duplicating anything
EVER ingested — the vector tier's face of the dedup-at-ingest family
(MinHash: streaming/dedup_ingest.py; SimHash: streaming/simhash_sig.py),
and the streaming twin of the batch ``semantic_dedup`` query
(SemDeDup, Abbas et al. 2023, arXiv:2303.09540).

Keep rule — the batch tier's convention made ONLINE: a vector is a
DUP iff some EARLIER vector in the SAME CELL has
``round(cosine, 4) ≥ threshold``, where "earlier" means any already-
indexed vector (previous batches) or a smaller vec_id inside the
current batch. ALL vectors index (kept AND dropped — same rationale
as the MinHash tier: a later vector near a DROPPED one still
near-duplicates previously seen content and must drop, so keep
decisions do not depend on where micro-batch boundaries fell). When
arrival order is vec_id order, this reproduces the batch rule
``∃ u < v in cell : cos(u, v) ≥ t`` — EXACTLY ``semantic_dedup``'s
dup predicate — so stream and batch cannot drift: parity with the
registered oracle-backed query is pinned across micro-batch layouts
in tests/test_ann_dedup_ingest.py, with the index's centroids taken
from ``trained_centroids()``. Cells are always assigned by the Lloyd
rule (:func:`wd2duckdb_spark.functions.ann_index.l2_assign_col` —
floor-6 squared-L2 argmin, bit-identical to the batch clustering).

Appends, replay filter and the history probe are the lake-index
protocol (:mod:`~wd2duckdb_spark.streaming.lake_index`), pruned on the
``cell`` partition column: a rate-limited batch's probe reads only the
cells it touches. Per-cell candidate volume is the SemDeDup bound:
cluster-bounded, never corpus-quadratic. In-batch pairs are batch² per
cell at worst — rate-limit the source like the MinHash tier.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from wd2duckdb_spark.functions.ann_index import (
    _assigned_rows,
    _index_centroids,
    l2_assign_col,
)
from wd2duckdb_spark.functions.similarity import (
    SEMDEDUP_THR,
    _cosine_fold_sql,
)
from wd2duckdb_spark.streaming import lake_index


def _batch_vec_dedup(
    batch_df: DataFrame,
    batch_id: int,
    index_dir: str,
    out_dir: str,
    threshold: float,
) -> None:
    cents = _index_centroids(batch_df.sparkSession, index_dir)
    near = F.round(F.expr(_cosine_fold_sql("vb", "vh")), 4) >= F.lit(
        round(float(threshold), 4)
    )

    def dups(b: DataFrame, assigned: DataFrame, seen) -> DataFrame:
        b_side = assigned.select(
            "cell", F.col("vec_id").alias("b_id"), F.col("v").alias("vb")
        )
        in_batch = (
            assigned.select(
                "cell", F.col("vec_id").alias("a_id"), F.col("v").alias("vh")
            )
            .join(F.broadcast(b_side), "cell")
            .filter((F.col("a_id") < F.col("b_id")) & near)
            .select(F.col("b_id").alias("vec_id"))
        )
        if seen is None:
            return in_batch
        return lake_index.probe(
            assigned.select("cell", "vec_id", F.col("v").alias("vb")),
            seen.select("cell", F.col("v").alias("vh")),
            on=["cell"],
            prune_col="cell",
            verify=near,
        ).union(in_batch)

    lake_index.dedup_batch(
        batch_df,
        batch_id,
        f"{index_dir}/assignments",
        out_dir,
        sign=lambda b: _assigned_rows(b, l2_assign_col("v", cents), None),
        dups=dups,
        cell=True,
    )


def semantic_ingest_stream(
    vecs: DataFrame,
    index_dir: str,
    out_dir: str,
    checkpoint: str,
    threshold: float = SEMDEDUP_THR,
    available_now: bool = True,
):
    """Start the semantic dedup-at-ingest stage over a streaming
    embeddings source; returns the StreamingQuery. The index's
    centroid table must exist first — typically ``trained_centroids()``
    with no history, so the whole corpus arrives through the stream;
    the centroid read fails fast on a missing index. Cells are
    assigned by the SemDeDup/Lloyd rule (:func:`l2_assign_col`), which
    makes stream results equal the batch twin's, so any history in
    ``assignments`` must come from earlier runs of this stage, not
    from ``ivf_index_write``'s cosine rule. Read the kept corpus
    with ``spark.read.parquet(out_dir)``; per-batch drop accounting
    with ``lake_index.batch_metrics(spark, out_dir)``."""

    def _fn(batch_df: DataFrame, batch_id: int) -> None:
        _batch_vec_dedup(batch_df, batch_id, index_dir, out_dir, threshold)

    writer = vecs.writeStream.foreachBatch(_fn).option(
        "checkpointLocation", checkpoint
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
