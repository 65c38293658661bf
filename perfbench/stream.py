"""stream_dedup: a seeded document feed through the dedup-at-ingest stream.

The feed is staged as equal parquet files and read with
``maxFilesPerTrigger=1`` under ``availableNow``, so each file is one
micro-batch. The first half runs, the stream stops, ``compact_index``
folds the band-key index, the second half arrives and the stream restarts
from its checkpoint. Kept doc ids are checked per micro-batch against the
batch twin ``functions.dedup.q_lsh_keep_list`` over the whole feed.
"""

from __future__ import annotations

import os
import shutil
import time

import pyarrow.parquet as pq

from perfbench import gen
from perfbench.harness import Tracer, dir_stats, median, sum_counters

#: per-layer metric → unit; :func:`per_layer` reports exactly these
LAYERS = {
    **{f"streaming.{n}": "s" for n in ("batch_p50_s", "add_batch_s", "trigger_overhead_s")},
    **{f"streaming.{n}": "count" for n in ("jobs_per_batch", "stages_per_batch",
                                             "tasks_per_batch", "index_files")},
    "streaming.index_bytes_read_per_batch": "bytes",
    "maintenance.compact_s": "s",
    "maintenance.bytes_rewritten": "bytes",
}


def prepare(data: str, seed: int) -> dict:
    """Stage the feed and the twin's ``documents`` table (the whole feed
    in one file) — untimed."""
    d = os.path.join(data, f"stream-{seed}")
    shutil.rmtree(d, ignore_errors=True)
    files = gen.write_feed(os.path.join(d, "feed"), seed)
    twin = os.path.join(d, "twin")
    os.makedirs(twin)
    pq.write_table(pq.ParquetDataset(files).read(), os.path.join(twin, "documents.parquet"))
    return {"dir": d, "files": files, "twin": twin,
            "feed_bytes": sum(os.path.getsize(p) for p in files)}


def _stage(files: list[str], in_dir: str, first_mtime: int) -> None:
    """Copy files into the source dir with strictly increasing mtimes, so
    the source admits them in feed order."""
    for i, p in enumerate(files):
        dst = os.path.join(in_dir, os.path.basename(p))
        shutil.copyfile(p, dst)
        t = first_mtime + i
        os.utime(dst, (t, t))


def _feed(spark, files: list[str], root: str, tracer: Tracer) -> tuple[list, float]:
    """Run ``files`` through the stream in two halves with the fold
    between them; returns (progress of non-empty batches, wall seconds)."""
    from wd2duckdb_spark.streaming.dedup_ingest import compact_index, neardup_ingest_stream

    in_dir = os.path.join(root, "in")
    os.makedirs(in_dir)
    paths = {k: os.path.join(root, k) for k in ("index", "out", "ckpt")}
    half = len(files) // 2
    progress = []
    base = int(time.time()) - 10_000

    def run(part: str) -> None:
        reader = (spark.readStream.schema(gen.FEED_SCHEMA)
                  .option("maxFilesPerTrigger", 1).parquet(in_dir))
        with tracer.span("streaming.run", part=part):
            q = neardup_ingest_stream(reader, paths["index"], paths["out"], paths["ckpt"])
            q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(f"stream failed: {q.exception()}")
        progress.extend(p for p in q.recentProgress if p["numInputRows"] > 0)

    t0 = time.perf_counter()
    _stage(files[:half], in_dir, base)
    run("first")
    with tracer.span("maintenance.compact"):
        compact_index(spark, paths["index"])
    _stage(files[half:], in_dir, base + half)
    run("second")
    return progress, time.perf_counter() - t0


def measure(spark, inp: dict, seed: int, seconds: float, tracer: Tracer) -> dict:
    root = os.path.join(inp["dir"], "run")
    progress, wall = _feed(spark, inp["files"], root, tracer)
    return {"root": root, "progress": progress, "wall": wall}


def check(spark, inp: dict, m: dict) -> tuple[int, int]:
    """(attempted, failed): one attempt per micro-batch plus the fold; a
    batch fails when its kept ids differ from the batch twin's."""
    from wd2duckdb_spark.functions.dedup import q_lsh_keep_list

    twin = {r.doc_id for r in q_lsh_keep_list(spark, inp["twin"]).filter("keep").collect()}
    kept: dict[int, set] = {}
    for r in spark.read.parquet(os.path.join(m["root"], "out")).select("batch", "doc_id").collect():
        kept.setdefault(r.batch, set()).add(r.doc_id)
    failed = 0
    for b in range(gen.FEED_FILES):
        lo, hi = b * gen.FEED_DOCS_PER_FILE, (b + 1) * gen.FEED_DOCS_PER_FILE
        want = {d for d in twin if lo <= d < hi}
        if kept.get(b, set()) != want:
            print(f"micro-batch {b}: kept {len(kept.get(b, ()))} docs, twin keeps {len(want)}")
            failed += 1
    if len(m["progress"]) != gen.FEED_FILES:
        print(f"{len(m['progress'])} non-empty micro-batches, expected {gen.FEED_FILES}")
        failed += 1
    return gen.FEED_FILES + 1, failed


def _batch_s(m: dict, key: str) -> list[float]:
    return [p["durationMs"][key] / 1e3 for p in m["progress"]]


def end_to_end(inp: dict, m: dict) -> dict:
    docs = gen.FEED_FILES * gen.FEED_DOCS_PER_FILE
    _, out_bytes = dir_stats(os.path.join(m["root"], "out"))
    _, index_bytes = dir_stats(os.path.join(m["root"], "index"))
    batches = _batch_s(m, "triggerExecution")
    return {
        "ingest_per_s": docs / m["wall"],
        "stored_bytes_per_input_byte": (out_bytes + index_bytes) / inp["feed_bytes"],
        "_named": {"docs_per_s": (docs / m["wall"], "docs/s"),
                   "batch_p50_s": (median(batches), "s")},
    }


def per_layer(inp: dict, m: dict, tracer: Tracer) -> dict:
    c = sum_counters(tracer.named("streaming.run"))
    n = max(len(m["progress"]), 1)
    trig, add = _batch_s(m, "triggerExecution"), _batch_s(m, "addBatch")
    files, _ = dir_stats(os.path.join(m["root"], "index"))
    compact = tracer.named("maintenance.compact")[-1]
    return {
        "streaming.batch_p50_s": median(trig),
        "streaming.add_batch_s": median(add),
        "streaming.trigger_overhead_s": median([t - a for t, a in zip(trig, add)]),
        "streaming.jobs_per_batch": c.get("jobs", 0) / n,
        "streaming.stages_per_batch": c.get("stages", 0) / n,
        "streaming.tasks_per_batch": c.get("tasks", 0) / n,
        "streaming.index_bytes_read_per_batch": max(
            c.get("input_bytes", 0) - inp["feed_bytes"], 0) / n,
        "streaming.index_files": files,
        "maintenance.compact_s": compact.seconds,
        "maintenance.bytes_rewritten": compact.counters.get("output_bytes", 0),
    }


def cleanup(inp: dict) -> None:
    shutil.rmtree(inp["dir"], ignore_errors=True)
