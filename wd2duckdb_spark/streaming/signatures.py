"""Incremental per-source MinHash signature maintenance: the
streaming face of :func:`~wd2duckdb_spark.functions.dedup
.q_source_overlap_sketch`.

A MinHash signature is a MERGEABLE sketch — ``min`` is associative,
commutative, and idempotent — so per-source signatures maintain
incrementally as document shards land: each micro-batch reduces its
own docs to (source, h0..h7) partials, and the true corpus signature
of a source is the component-wise ``min`` over all partials ever
written. No state store, no read-modify-write: partials append under
``batch=<id>`` (overwrite per batch — the lake-index protocol of
:mod:`~wd2duckdb_spark.streaming.lake_index`), and because min-merge is
idempotent, even a DOUBLE-counted batch could not corrupt the merge —
the layout only needs replay protection to keep the directory tidy.

Scale: a batch partial is ≤ S rows × 8 longs (S = #sources), so the
signature table after B batches is ≤ B·S tiny rows; the merged view
is one ≤(B·S)-row aggregate — driver-trivial at any corpus size. This
is the sketch posture the exact matrix documents for thousands of
sources: contamination estimates come from sketch-to-sketch compares,
never from re-scanning the corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from wd2duckdb_spark.functions.dedup import (
    _min_merge,
    _minhash_sig_frame,
    overlap_from_signatures,
)
from wd2duckdb_spark.streaming import lake_index

__all__ = [
    "source_signature_stream",
    "source_signatures",
    "archive_signatures",
    "overlap_from_signatures",
]


def _batch_signatures(batch_df: DataFrame, batch_id: int, sig_dir: str) -> None:
    """One micro-batch → its (source, h0..h7) partial signatures,
    written idempotently under ``batch=<id>`` (a replayed batch
    rewrites its own partition). Batches whose docs all have <3 tokens
    produce an empty partition — harmless to the merge."""
    sig = _min_merge(_minhash_sig_frame(batch_df, id_col="source"))
    # ≤ S rows — one small file per batch
    lake_index.write_batch(sig.coalesce(1), sig_dir, batch_id)


def source_signature_stream(
    docs: DataFrame,
    sig_dir: str,
    checkpoint: str,
    available_now: bool = True,
    archive_every: int | None = None,
):
    """Maintain per-source MinHash signatures over a streaming
    ``documents`` source; returns the StreamingQuery. Read the
    up-to-date merged signatures at any time with
    :func:`source_signatures` — no stream restart needed.

    ``archive_every=N`` folds the store from INSIDE the stream: every
    N-th micro-batch, after writing its own partial, runs
    :func:`archive_signatures` over every batch id strictly below it —
    so the store holds (1 archive + ≤N live partials) at steady state
    instead of one file per batch forever, with no offline maintenance
    window. Safe in-stream because foreachBatch callbacks run serially
    for a query (no concurrent writer to ``sig_dir``), the just-written
    newest batch is never folded (the fold's refusal guard), and a
    crash-replayed batch that re-runs the fold only min-merges the
    archive into itself — idempotent by the sketch algebra."""

    def _fn(batch_df: DataFrame, batch_id: int) -> None:
        _batch_signatures(batch_df, batch_id, sig_dir)
        if archive_every and batch_id > 0 and batch_id % archive_every == 0:
            archive_signatures(
                batch_df.sparkSession, sig_dir, through_batch=batch_id - 1
            )

    return (
        docs.writeStream.foreachBatch(_fn)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
        if available_now
        else docs.writeStream.foreachBatch(_fn)
        .option("checkpointLocation", checkpoint)
        .start()
    )


def source_signatures(spark, sig_dir: str) -> DataFrame:
    """Merged per-source signatures: component-wise min over every
    batch partial — identical to the batch tier's signature over the
    full corpus (pinned in tests/test_streaming.py), because min is a
    lossless merge for MinHash."""
    return _min_merge(spark.read.parquet(sig_dir))


def archive_signatures(spark, sig_dir: str, through_batch: int) -> None:
    """Fold every ``batch=<id>`` partial with id ≤ ``through_batch``
    (and any existing archive) into ONE min-merged ``batch=-1``
    archive partition (:func:`lake_index.fold`).

    Why: each micro-batch writes one partial file, and
    :func:`source_signatures` lists and min-merges ALL of them forever
    — file count (and merge width) grow with batch count, the same
    shape ``dedup_ingest.archive_index`` fixes for the dedup index. The
    rows are S×8 longs so the growth is driver-trivial for years, but
    the steady-state loop should still be stream → periodic archive →
    stream, keeping the store at (1 archive + few live partials).

    Safety comes from the sketch algebra, not from coordination:
    min-merge is associative, commutative, and IDEMPOTENT, so folding
    partials that a replayed batch later rewrites could not corrupt
    the merged signature even in principle. The archive therefore
    pre-merges to ONE row per source, re-archiving is idempotent, and
    the fold's newest-batch refusal only keeps a crash-restart replay
    from racing the swap. Run offline (stream stopped) OR from inside
    the maintaining stream via ``source_signature_stream(...,
    archive_every=N)``.
    """
    lake_index.fold(
        spark, sig_dir, through_batch, lake_index.archive_merge(_min_merge)
    )


# overlap_from_signatures is re-exported from functions.dedup: the
# sketch-to-sketch compare of q_source_overlap_sketch, usable on
# streaming-maintained signatures without touching the corpus.
