"""Corpus-scaling bench: does per-row throughput hold as the corpus
grows 1× → 4× → 16×?

Materializes benchkit's salted copies of ``documents`` (doc_id
remapped into disjoint ranges, one token salted per copy so exact-dup
semantics don't degenerate), then times the scan/agg-bound operator
tier over each size with the noop sink, fastest of two spans. If the
engine's plans are right, rows/s stays ~flat while wall-clock grows
linearly — the local[N] proxy for "would survive 100×". Pair-generating operators (MinHash-LSH) are
deliberately excluded: duplicating a corpus k× multiplies its
NEAR-DUP PAIRS quadratically, which is a semantics change, not a
scaling test.

Usage: python tools/bench_corpus_scale.py [sf_dir] [multipliers...]
Prints one JSON line:
    {"base_rows": N, "runs": {"4x": {"rows": ..., "queries":
        {name: {"sec": s, "krows_per_sec": r}}}, ...}}
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import warm_up_queries  # noqa: E402
from perfbench.harness import Tracer  # noqa: E402
from tools.benchkit import best, noop, repeat, salted_copies, write_scaled  # noqa: E402

BENCH_QUERIES = (
    "text_quality",
    "dedup_exact",
    "simhash",
    "heavy_hitters",
    "boilerplate_prune",
    "pack_sequences",
    "dataset_split",
    "token_count_bpe",
    "bigram_surprisal",
    "inverted_index",
    "shard_manifest",
    "weighted_sample",
    # the streaming dedup tier's batch twin — window-min over band
    # buckets, linear in rows (the keep rule is not pair-generating)
    "lsh_keep_list",
    # All linear in rows: the LM sampler and JS divergence are aggregate-bounded; the span
    # queries mark OCCURRENCES of duplicated grams (≤ total
    # occurrences — linear), unlike the excluded pair generators
    # (simhash_hamming_pairs / leakage_safe_split stay out for the
    # same quadratic-pairs reason as MinHash-LSH).
    "perplexity_bucket_sample",
    "vocab_divergence",
    "repeated_ngram_spans",
    "dedup_span_removal",
    "ngram_novelty",
    # real BPE counting — training is a vocabulary-bounded collect
    # (flat in corpus size), encoding is a linear mapInPandas pass.
    # The pair generators simhash_wide_pairs and containment_join stay
    # excluded; tools/bench_simhash_bands.py (candidate volume) and
    # tools/bench_dedup_scale64.py (namespaced copies) measure them.
    "token_count_real_bpe",
    # both linear in rows — CDC chunking is one in-row
    # expression + one chunk-md5 groupBy; the quota cap is one
    # source-keyed WindowGroupLimit exchange (the quota dict is a
    # |sources|-bounded collect, flat in corpus size)
    "cdc_chunk_dedup",
    "domain_cap_quota",
)

#: Embeddings-tier queries, scaled by duplicating vectors under fresh
#: vec_ids offset by copy*emb_rows, so ids 0..K-1 — kmeans' seed set —
#: are the same original vectors at every multiplier (centroid
#: geometry really is unchanged then; assignment/update cost scales
#: linearly — the property under test).
EMB_QUERIES = (
    "kmeans_lloyd",
    "embedding_centroids",
    "embedding_quantize",
    # centroid-nearest prototype — one (label × dim) partial
    # agg + broadcast-back scan scoring, linear in vectors
    "label_exemplars",
    # semantic_dedup deliberately excluded: like MinHash-LSH it is
    # pair-generating, and duplicating vectors k× multiplies in-cluster
    # pairs quadratically — a semantics change, not a scaling test.
)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    mults = [int(m) for m in sys.argv[2:]] or [1, 4, 16]

    from pyspark.sql import functions as F

    from wd2duckdb_spark import get_spark
    from wd2duckdb_spark.functions import similarity
    from wd2duckdb_spark.registry import all_queries
    from wd2duckdb_spark.streaming.dedup_ingest import _batch_dedup, compact_index

    spark = get_spark(app_name="bench_corpus_scale")
    spark.sparkContext.setLogLevel("ERROR")
    # traced: the dedup_ingest_probe rows report BYTES READ and scan
    # tasks, the scale properties under test (seconds alone drown in
    # host noise)
    tracer = Tracer(spark, enabled=True)
    warm_up_queries(spark, sf_dir)

    queries = all_queries()
    base = spark.read.parquet(f"{sf_dir}/documents.parquet")
    base_rows = base.count()
    emb_rows = spark.read.parquet(f"{sf_dir}/embeddings.parquet").count()

    def timed(m: int, name: str, n_rows: int, before=None) -> dict:
        """Fastest of two noop runs of query ``name`` over the m× dir."""
        def call():
            if before:
                before()
            noop(queries[name](spark, f"{stage}/x{m}"))
        repeat(tracer, f"{m}x.{name}", 2, call)
        sec = best(tracer, f"{m}x.{name}")
        return {"sec": sec, "krows_per_sec": round(n_rows / sec / 1000, 1)}

    def probe_docs(n: int, offset: int):
        # ids above every history id: bucket-min must see the probe
        # docs as the newer side
        return base.limit(n).select(
            (F.col("doc_id") + F.lit(offset)).alias("doc_id"),
            "text", "lang", "source", "n_chars",
        )

    stage = tempfile.mkdtemp(prefix="corpus_scale_")
    out: dict[str, dict] = {}
    try:
        for m in mults:
            scaled_dir = f"{stage}/x{m}"
            emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
            emb.crossJoin(spark.range(m).withColumnRenamed("id", "copy")).select(
                # vec_id + copy*emb_rows (NOT vec_id*m + copy): kmeans
                # seeds on vec_id < K, so ids 0..K-1 must stay the
                # ORIGINAL first K vectors at every multiplier
                (F.col("vec_id") + F.col("copy") * F.lit(emb_rows)).alias("vec_id"),
                "embedding",
                "label",
            ).repartition(max(m, spark.sparkContext.defaultParallelism)).write.parquet(
                f"{scaled_dir}/embeddings.parquet"
            )
            write_scaled(salted_copies(base, m), m, sf_dir, scaled_dir)
            n_rows = base_rows * m
            per_q = {name: timed(m, name, n_rows) for name in BENCH_QUERIES}

            # Dedup-at-ingest probe cost vs index size: build a
            # band-key index over the m×-scaled corpus, then time a
            # FIXED-size micro-batch through _batch_dedup. With the
            # batch side broadcast and the index streamed this should
            # stay flat-to-linear in m — measured here, not asserted.
            idx_dir, ing_out = f"{stage}/ingest_x{m}/idx", f"{stage}/ingest_x{m}/out"
            _batch_dedup(
                spark.read.parquet(f"{scaled_dir}/documents.parquet"), 0, idx_dir, ing_out
            )  # m×-sized history
            # operational steady state: history compacted to few large
            # key-sorted files — the layout the probe's row-group
            # pruning is designed against (probe bytes ≈ n_files ×
            # n_probe_keys × row-group size, independent of m)
            compact_index(spark, idx_dir, target_file_bytes=1 << 30)
            index_rows = spark.read.parquet(idx_dir).count()
            # a RATE-LIMITED micro-batch (few hundred docs → pruned
            # probe regime); probe_input_mb is THE scale number: it
            # must stay ~flat as index_rows grows m× (IN-pushdown
            # row-group pruning against the key-sorted index layout)
            per_q["dedup_ingest_probe"] = {
                "index_rows": index_rows,
                **_probe_row(tracer, probe_docs(16, 1_000_000_000), 1, idx_dir, ing_out),
            }
            # the MID-BAND probe — a ~5k-key burst (1,250 docs × 4 band
            # keys), 25 IN chunks — must also show pruned bytes, not a
            # full-index scan
            per_q["dedup_ingest_probe_midband"] = {
                "index_rows": index_rows,
                **_probe_row(tracer, probe_docs(1250, 2_000_000_000), 2, idx_dir, ing_out),
            }

            # kmeans_lloyd's assignment is memoized per session and
            # dir — drop ONLY that memo so every rep re-runs the Lloyd
            # chain (the scaling under test). A blanket clear_memos()
            # would also wipe the scan cache and the IVF/PQ memos,
            # silently changing what EVERY row measures.
            for name in EMB_QUERIES:
                per_q[name] = timed(
                    m, name, emb_rows * m, similarity._lloyd_checkpointed.cache.clear
                )
            out[f"{m}x"] = {"rows": n_rows, "queries": per_q}

        # archive_index's file-count claim, measured. The probe-bytes
        # rows above vary index SIZE at fixed batch count; this varies
        # BATCH COUNT at fixed size — after B micro-batches the index
        # holds ≥ B files and probe cost carries a per-file term, so
        # bytes grow with B until archive_index folds history into one
        # range-partitioned archive, after which bytes/files must drop
        # back ~flat.
        out["archive"] = _bench_archive(
            spark, tracer, base, probe_docs(16, 3_000_000_000), stage
        )
    finally:
        shutil.rmtree(stage, ignore_errors=True)

    print(json.dumps({"base_rows": base_rows, "runs": out}))


def _probe_row(tracer, probe, batch_id: int, idx_dir: str, out_dir: str) -> dict:
    """Fastest of two same-``batch_id`` replays of one ``_batch_dedup``
    micro-batch (a replay re-does exactly the same probe work: the
    replay filter excludes the batch's own keys): seconds, input MB and
    the tasks of the stages that read files (the index scan, plus the
    micro-batch's own source scan)."""
    from wd2duckdb_spark.streaming.dedup_ingest import _batch_dedup

    name = f"probe.{idx_dir}.{batch_id}"
    repeat(tracer, name, 2, lambda: _batch_dedup(probe, batch_id, idx_dir, out_dir))
    span = min(tracer.named(name), key=lambda s: s.seconds)
    per_stage = [
        tracer.store.stage_counters([sid]) for j in span.jobs for sid in j["stage_ids"]
    ]
    return {
        "sec": round(span.seconds, 3),
        "probe_input_mb": round(sum(c["input_bytes"] for c in per_stage) / 1e6, 2),
        "probe_scan_tasks": sum(c["tasks"] for c in per_stage if c["input_records"] > 0),
    }


def _bench_archive(spark, tracer, base, probe, stage) -> dict:
    """Probe bytes/files before vs after archive_index, at a fixed
    corpus size ingested as MANY SMALL batches (the steady-state
    stream shape archive_index exists for)."""
    import glob

    from pyspark.sql import functions as F

    from wd2duckdb_spark.streaming.dedup_ingest import _batch_dedup, archive_index

    idx_dir, out_dir = f"{stage}/archive_bench/idx", f"{stage}/archive_bench/out"
    n_batches, per = 24, 50
    for b in range(n_batches):
        sl = base.filter((F.col("doc_id") >= b * per) & (F.col("doc_id") < (b + 1) * per))
        _batch_dedup(sl.coalesce(1), b, idx_dir, out_dir)

    def _measure(batch_id: int) -> dict:
        row = _probe_row(tracer, probe, batch_id, idx_dir, out_dir)
        files = glob.glob(f"{idx_dir}/batch=*/*")
        row["index_files"] = sum(not os.path.basename(p).startswith(("_", ".")) for p in files)
        return row

    before = _measure(n_batches)
    # fold everything but the most recent real batch (and the probe's
    # own batch) into the batch=-1 archive, then re-probe
    archive_index(spark, idx_dir, through_batch=n_batches - 2)
    after = _measure(n_batches + 1)
    return {"n_batches": n_batches, "before": before, "after": after}


if __name__ == "__main__":
    main()
