"""Incremental per-document SimHash signature maintenance: the
streaming face of
:func:`~wd2duckdb_spark.functions.dedup.q_simhash_hamming_pairs`,
closing the dedup-at-ingest gap for small EDITS — the ingest index
(``dedup_ingest``) catches exact and MinHash set-overlap duplicates,
but an edited near-copy needs SimHash's Hamming geometry.

SimHash's per-bit counters are MERGEABLE BY SUM: the signature is a
majority vote over per-bit counts of token hashes, and sums over
disjoint row sets add. So each micro-batch writes its docs' kernel
rows (doc_id, n, c0..c59) under ``batch=<id>``, and the true corpus
counters are the component-wise SUM over all rows — no state store,
no read-modify-write.

Replay protection — WEAKER algebra than the MinHash store, stated
honestly: ``min`` (signatures.py) is idempotent, so even a
double-counted batch could not corrupt that merge; ``sum`` is not.
Correctness here rests on the lake-index protocol
(:mod:`~wd2duckdb_spark.streaming.lake_index`): a crash-replayed batch
REWRITES its own partition, so each row is counted exactly once, and
the fold never folds the newest batch a replay could rewrite.

Semantics note: a document SPLIT across rows — across micro-batches,
or repeated within one — merges by summed counters with per-row
token distinctness (a token occurring in two rows counts twice) —
the natural incremental semantics. When each document arrives whole
in one row (the common shard layout, and the batch-twin test's), the
merged signatures are bit-identical to the batch tier's.

Scale: a batch writes ≤ rows(batch) × 62 longs; the merged view is
one doc-keyed sum aggregate. Band keys for probing come from the
shared banded-key builder of ``functions.dedup``, so narrow/wide
layouts apply unchanged to the streaming-maintained store.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from wd2duckdb_spark.functions.dedup import (
    SIMHASH_BANDS,
    SIMHASH_BITS,
    SIMHASH_HAMMING,
    _simhash_counts,
    _simhash_key_pairs,
    _simhash_keys,
    _simhash_vote,
    _sum_merge,
    simhash_pairs,
    simhash_signatures,
)
from wd2duckdb_spark.streaming import lake_index

__all__ = [
    "simhash_signature_stream",
    "simhash_ingest_stream",
    "doc_signatures",
    "doc_band_keys",
    "stream_simhash_pairs",
    "archive_bit_counts",
]


def _batch_bit_counts(
    batch_df: DataFrame, batch_id: int, sig_dir: str
) -> None:
    """One micro-batch → its kernel rows in the store layout
    (doc_id, n, c0..c59), one small file written idempotently under
    ``batch=<id>``."""
    rows = _simhash_counts(batch_df).select(
        "doc_id",
        F.col("n").cast("long").alias("n"),
        *[
            F.col("c")[j].cast("long").alias(f"c{j}")
            for j in range(SIMHASH_BITS)
        ],
    )
    lake_index.write_batch(rows.coalesce(1), sig_dir, batch_id)


def simhash_signature_stream(
    docs: DataFrame,
    sig_dir: str,
    checkpoint: str,
    available_now: bool = True,
    archive_every: int | None = None,
):
    """Maintain per-document SimHash bit counters over a streaming
    ``documents`` source; returns the StreamingQuery. Read the merged
    signatures at any time with :func:`doc_signatures` — no stream
    restart needed. ``archive_every=N`` folds the store from inside
    the stream every N-th batch (serial foreachBatch callbacks — no
    concurrent writer), same protocol as
    ``signatures.source_signature_stream``."""

    def _fn(batch_df: DataFrame, batch_id: int) -> None:
        _batch_bit_counts(batch_df, batch_id, sig_dir)
        if archive_every and batch_id > 0 and batch_id % archive_every == 0:
            archive_bit_counts(
                batch_df.sparkSession, sig_dir, through_batch=batch_id - 1
            )

    writer = docs.writeStream.foreachBatch(_fn).option(
        "checkpointLocation", checkpoint
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def doc_signatures(spark: SparkSession, sig_dir: str) -> DataFrame:
    """Merged per-document signatures: component-wise SUM over every
    stored row, then the majority-vote finalize — identical to the
    batch tier's :func:`simhash_signatures` over the full corpus when
    docs arrive whole (pinned in tests/test_streaming.py)."""
    merged = _sum_merge(spark.read.parquet(sig_dir))
    c = F.array(*[f"c{j}" for j in range(SIMHASH_BITS)])
    return _simhash_vote(merged.select("doc_id", "n", c.alias("c")))


def doc_band_keys(
    spark: SparkSession,
    sig_dir: str,
    *,
    blocks: int = SIMHASH_BANDS,
    hamming: int = SIMHASH_HAMMING,
) -> DataFrame:
    """(doc_id, sim, tbl, key) probe rows for the streaming-maintained
    store under any banding layout — what an ingest-time Hamming
    probe joins new docs against."""
    return _simhash_keys(
        doc_signatures(spark, sig_dir), blocks=blocks, hamming=hamming
    )


def stream_simhash_pairs(
    spark: SparkSession,
    sig_dir: str,
    *,
    blocks: int = SIMHASH_BANDS,
    hamming: int = SIMHASH_HAMMING,
) -> DataFrame:
    """Exact Hamming ≤ ``hamming`` pairs over the streaming-maintained
    store — the batch twin of ``simhash_hamming_pairs`` on
    incrementally-built signatures (parity pinned in
    tests/test_streaming.py)."""
    return simhash_pairs(
        doc_signatures(spark, sig_dir), blocks=blocks, hamming=hamming
    )


def archive_bit_counts(
    spark: SparkSession, sig_dir: str, through_batch: int
) -> None:
    """Fold every ``batch=<id>`` partial with id ≤ ``through_batch``
    (and any existing archive) into ONE sum-merged ``batch=-1``
    archive partition — the counter-store twin of
    ``signatures.archive_signatures``. The fold's newest-batch refusal
    does real replay work here: sum is not idempotent, so folding the
    batch a restart would rewrite would double-count it."""
    lake_index.fold(
        spark,
        sig_dir,
        through_batch,
        lake_index.archive_merge(_sum_merge),
    )


# ---------------------------------------------------------------------------
# SimHash dedup AT ingest
# ---------------------------------------------------------------------------


def _hamming_verify(hamming: int):
    """The exact in-row Hamming test between the batch doc's signature
    (``_new_sim``) and a STORED or earlier one (``sim``) — banding
    generates candidates, geometry decides."""
    return F.bit_count(F.col("_new_sim").bitwiseXOR(F.col("sim"))) <= hamming


def _batch_simhash_dedup(
    batch_df: DataFrame,
    batch_id: int,
    index_dir: str,
    out_dir: str,
    *,
    blocks: int,
    hamming: int,
) -> None:
    def sign(b: DataFrame) -> DataFrame:
        return _simhash_keys(
            simhash_signatures(b), blocks=blocks, hamming=hamming
        )

    def dups(b: DataFrame, keys: DataFrame, seen) -> DataFrame:
        # within-batch: exact pairs (a < b) from the persisted keys via
        # the shared banded self-join — the larger id drops, the batch
        # tier's keep-min
        in_batch = (
            _simhash_key_pairs(keys)
            .select(
                F.col("b_id").alias("doc_id"),
                F.col("sb").alias("_new_sim"),
                F.col("sa").alias("sim"),
            )
            .filter(_hamming_verify(hamming))
            .select("doc_id")
        )
        if seen is None:
            return in_batch
        return lake_index.probe(
            keys.select("tbl", "key", "doc_id", F.col("sim").alias("_new_sim")),
            seen.select("tbl", "key", "sim"),
            on=["tbl", "key"],
            prune_col="key",
            verify=_hamming_verify(hamming),
        ).union(in_batch)

    lake_index.dedup_batch(
        batch_df, batch_id, index_dir, out_dir, sign=sign, dups=dups, key="key"
    )


def simhash_ingest_stream(
    docs: DataFrame,
    index_dir: str,
    out_dir: str,
    checkpoint: str,
    available_now: bool = True,
    *,
    blocks: int = SIMHASH_BANDS,
    hamming: int = SIMHASH_HAMMING,
):
    """Dedup-at-ingest in the EDIT-DISTANCE mode: drop incoming
    documents within Hamming ≤ ``hamming`` of anything EVER ingested —
    the third ingest tier next to ``dedup_stream`` (exact keys) and
    ``neardup_ingest_stream`` (MinHash set overlap): an edited
    near-copy changes few tokens, so its SimHash flips few bits while
    its shingle-set Jaccard can fall below any LSH threshold.

    Per micro-batch: 60-bit signatures and their Manku banded keys
    via the shared batch machinery, computed once, then

    - HISTORY probe: the batch's keys against the persisted
      (tbl, key, sim) index — candidates verified with the exact
      in-row Hamming test against the STORED signature (banding
      generates, geometry decides);
    - WITHIN-batch: the same keys' banded self-join and Hamming test
      (the pairs :func:`simhash_pairs` finds); the larger doc_id
      drops (keep-min).

    Kept docs append under ``out_dir/batch=<id>``; ALL docs' keys +
    signatures index under ``index_dir/batch=<id>`` (dropped docs
    included — a later edit of a dropped doc is still previously-seen
    content). Appends, replay filter, probe regimes and the key-sorted
    index layout are the lake-index protocol shared with
    ``dedup_ingest``, so the SAME maintenance loop applies:
    ``dedup_ingest.archive_index`` folds old batches into the
    ``batch=-1`` archive and later probes still see the archived
    signatures (pinned by the SimHash ingest tests).

    Batch-twin parity (pinned by the SimHash ingest tests): with
    doc_ids arriving in order, the kept set equals the batch rule
    "drop every b_id of ``q_simhash_hamming_pairs``" regardless of
    where micro-batch boundaries fall. Docs with no tokens emit no
    signature and are always kept — same contract as the other
    tiers."""

    def _fn(batch_df: DataFrame, batch_id: int) -> None:
        _batch_simhash_dedup(
            batch_df,
            batch_id,
            index_dir,
            out_dir,
            blocks=blocks,
            hamming=hamming,
        )

    writer = docs.writeStream.foreachBatch(_fn).option(
        "checkpointLocation", checkpoint
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()

