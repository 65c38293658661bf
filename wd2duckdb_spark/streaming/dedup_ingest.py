"""Near-duplicate dedup AT INGEST: a streaming stage that drops
incoming documents near-duplicating anything EVER ingested, using a
persisted MinHash-LSH band-key index.

This is the production shape of training-data dedup (the reference's
pipeline has no streaming tier; this extends the batch
``functions.dedup`` semantics to a feed): ``dedup_stream`` (exact
keys, watermark-bounded state) repairs at-least-once delivery;
THIS stage enforces corpus-level content uniqueness — its state is
the whole history, so it lives in a lake index
(:mod:`~wd2duckdb_spark.streaming.lake_index`, which owns the append,
replay, probe and fold rules), not in the state store:

- per micro-batch, compute each doc's LSH band keys
  (:func:`wd2duckdb_spark.functions.dedup.band_keys` — the same
  signature pipeline as the batch pair generator, so batch and stream
  cannot drift);
- a doc is a DUP if any of its band keys exists in the index (seen in
  any earlier batch) or is shared with a smaller doc_id in the same
  batch (bucket-min keep rule — the batch tier's canonical-min
  convention);
- kept docs append to ``out_dir``; ALL docs' band keys (kept AND
  dropped) append to ``index_dir``, so the cross-batch rule matches
  the batch twin ``q_lsh_keep_list``, whose window-min ranges over
  every doc.

The index is key-sorted in small row groups, the layout the pruned
probe skips row groups on. Index growth is ~N_BANDS rows per ingested
doc; rewrites (:func:`compact_index`, :func:`archive_index`) preserve
the ``batch=<id>`` partitions, which carry the replay filter, and the
key sort.

Docs with fewer than 3 tokens emit no shingles, hence no band keys,
and are always kept — same contract as the batch tier.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from wd2duckdb_spark.functions.dedup import band_keys
from wd2duckdb_spark.streaming import lake_index


def _dups(batch_df: DataFrame, bands: DataFrame, seen) -> DataFrame:
    w = Window.partitionBy("band", "key")
    in_batch = (
        bands.withColumn("_mn", F.min("doc_id").over(w))
        .filter(F.col("doc_id") > F.col("_mn"))
        .select("doc_id")
    )
    if seen is None:
        return in_batch
    return lake_index.probe(
        bands.select("band", "key", "doc_id"),
        seen.select("band", "key"),
        on=["band", "key"],
        prune_col="key",
    ).union(in_batch)


def _batch_dedup(
    batch_df: DataFrame, batch_id: int, index_dir: str, out_dir: str
) -> None:
    lake_index.dedup_batch(
        batch_df, batch_id, index_dir, out_dir, sign=band_keys, dups=_dups, key="key"
    )


def compact_index(spark, index_dir: str, target_file_bytes: int = 128 << 20):
    """Compact the band-key index in place, preserving BOTH layout
    invariants the probe depends on: the ``batch=<id>`` partition
    structure (replay filter) and the key-sorted small-row-group
    physical layout (row-group pruning). Thin wrapper over
    :func:`maintenance.compact_partitioned`; run it only while the
    stream is stopped (the swap is not coordinated with a concurrent
    ``foreachBatch``).

    Refuses an index that already holds an archive partition:
    ``compact_partitioned`` hash-salts rows across files, which would
    scatter the archive's DISJOINT key ranges into overlapping files —
    silently undoing exactly the probe-pruning layout
    :func:`archive_index` exists to build. Re-run ``archive_index``
    instead; it re-folds (and re-range-partitions) the archive
    idempotently."""
    from wd2duckdb_spark.maintenance import compact_partitioned

    if lake_index.ARCHIVE_BATCH in lake_index.batches(spark, index_dir):
        raise ValueError(
            f"compact_index: {index_dir} contains a "
            f"batch={lake_index.ARCHIVE_BATCH} archive partition; "
            "hash-salted compaction would destroy its disjoint key-range "
            "layout — use archive_index (idempotent re-fold) instead"
        )
    return compact_partitioned(
        spark,
        index_dir,
        "batch",
        target_file_bytes=target_file_bytes,
        sort_within=("key",),
        write_options={
            "parquet.block.size": str(lake_index.INDEX_ROW_GROUP_BYTES)
        },
    )


def archive_index(
    spark,
    index_dir: str,
    through_batch: int,
    target_file_bytes: int = 1 << 30,
) -> None:
    """Fold every committed ``batch=<id>`` partition with id ≤
    ``through_batch`` (and any existing archive) into ONE globally
    key-range-sorted ``batch=-1`` archive partition
    (:func:`lake_index.fold`, which refuses the newest batch).

    Why this exists: :func:`compact_index` shrinks file COUNTS but
    must keep every ``batch=<id>`` directory, so after B micro-batches
    the probe still opens ≥ B files — probe bytes grow with batch
    count even though each file prunes internally. Archiving removes
    that term: the archive is range-partitioned on ``(batch, key)``, so
    its files cover DISJOINT key ranges and a probe key touches exactly
    one archive file's one row group — probe bytes ≈ n_probe_keys ×
    row-group size + the few live batch dirs, independent of history
    size. This is the steady-state operational loop at 100 TB: stream
    → periodic archive → stream. Also folds a SimHash signature index,
    which shares the layout."""
    from wd2duckdb_spark.maintenance import dir_bytes

    n_live = sum(b > through_batch for b in lake_index.batches(spark, index_dir))
    n = max(
        1,
        math.ceil(dir_bytes(spark, index_dir) / target_file_bytes),
        n_live + 1,
    )
    lake_index.fold(
        spark,
        index_dir,
        through_batch,
        lambda df: df.repartitionByRange(n, "batch", "key"),
        key="key",
    )


def neardup_ingest_stream(
    docs: DataFrame,
    index_dir: str,
    out_dir: str,
    checkpoint: str,
    available_now: bool = True,
):
    """Start the dedup-at-ingest stage over a streaming ``documents``
    source; returns the StreamingQuery. Read the kept corpus with
    ``spark.read.parquet(out_dir)`` (the ``batch`` partition column
    records provenance) and per-batch drop accounting with
    ``lake_index.batch_metrics(spark, out_dir)``.

    Rate-limit the SOURCE (``maxFilesPerTrigger`` /
    ``maxBytesPerTrigger`` on the reader the caller builds) so
    micro-batches stay inside the pruned probe regime (≤ 12,800 band
    keys ≈ 3,200 docs): each probe is one index scan with the batch's
    keys pushed down as an OR of 200-key ``IN`` chunks, so it reads a
    ~flat number of index bytes regardless of history size and runs
    the same scan tasks however many chunks the keys fill. Larger
    catch-up batches still run correctly but pay a full index scan or
    shuffle.

    Session-wide side effect: the stage raises
    ``spark.sql.parquet.pushdown.inFilterThreshold`` from its default
    (10) to 201 and never restores it (``lake_index`` explains why).
    Unrelated queries sharing the session keep pushing IN lists of up
    to 200 values to parquet as real IN predicates instead of a min/max
    range — a perf-only change, but one that stays in effect after the
    stream stops."""

    def _fn(batch_df: DataFrame, batch_id: int) -> None:
        _batch_dedup(batch_df, batch_id, index_dir, out_dir)

    writer = docs.writeStream.foreachBatch(_fn).option(
        "checkpointLocation", checkpoint
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
