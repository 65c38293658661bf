"""Ingest scale demonstration: show that dump ingest throughput HOLDS
(in fact grows) as the dump size scales from fixed-cost-dominated to
steady-state, i.e. that the pipeline is bounded by splits x cores, not
by any single-threaded stage.

Runs the full 6-table ETL at several dump sizes (default 0.5M / 2M /
8M lines ~ 0.75 / 3 / 12 GB of JSON) on one SparkSession and prints
ONE JSON line:

    {"metric": "ingest_scale", "points": [{"lines": N, "gb": g,
      "sec": s, "lines_per_sec": r, "splits": k}, ...],
     "peak_jvm_heap_gb": g}

``sec`` is the ingest call's span after bench.py's ingest warm-up;
``splits`` is the number of tasks the dump scan ran, read from the
span's stage counters (the dump is split by ``DUMP_SPLIT_BYTES`` with
at least one split per core). Peak memory is the driver JVM's peak
heap from its MemoryPoolMXBeans (the local-mode driver JVM hosts all
executor threads, so its peak heap bounds the whole run — the
persisted parse is the dominant resident set).

Dump generation is deterministic (tools/gen_dump.entity is a pure
function of the line index) and parallelized across processes; files
cache in /tmp keyed by line count, so re-runs skip generation.

Usage: python tools/bench_ingest_scale.py [n_lines ...]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
from multiprocessing import Pool

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import warm_up_ingest  # noqa: E402
from perfbench.harness import Tracer  # noqa: E402
from tools.gen_dump import entity  # noqa: E402


def _write_chunk(args: tuple[str, int, int, int]) -> str:
    path, lo, hi, n = args
    with open(path, "w") as f:
        for i in range(lo, hi):
            f.write(json.dumps(entity(i), separators=(",", ":")))
            f.write(",\n" if i < n - 1 else "\n")
    return path


def gen_dump_parallel(path: str, n: int) -> None:
    """Byte-identical to tools.gen_dump.write_dump, produced by one
    process per core (never more than there are line ranges to write)
    writing line ranges then concatenated."""
    if os.path.exists(path):
        return
    chunk = max(1, -(-n // (os.cpu_count() or 1)))
    jobs = [
        (f"{path}.part{w}", lo, min(lo + chunk, n), n)
        for w, lo in enumerate(range(0, n, chunk))
    ]
    with Pool(max(1, len(jobs))) as pool:
        parts = pool.map(_write_chunk, jobs)
    with open(path + ".tmp", "wb") as out:
        out.write(b"[\n")
        for p in parts:
            with open(p, "rb") as f:
                shutil.copyfileobj(f, out, 1 << 22)
            os.unlink(p)
        out.write(b"]\n")
    os.rename(path + ".tmp", path)


def _peak_memory(spark) -> dict:
    """Peak JVM heap summed over the heap memory pools
    (MemoryPoolMXBean getPeakUsage, via py4j) — in local mode the one
    JVM hosts every executor thread, so this bounds the whole run
    including the persisted parse."""
    try:
        mf = spark._jvm.java.lang.management.ManagementFactory
        peak = sum(
            b.getPeakUsage().getUsed()
            for b in mf.getMemoryPoolMXBeans()
            if b.getType().toString() == "Heap memory"
        )
        return {"peak_jvm_heap_gb": round(peak / (1 << 30), 2)}
    except Exception as e:  # metrics are best-effort, never fail the bench
        return {"peak_memory_error": str(e)}


def main() -> None:
    sizes = [int(a) for a in sys.argv[1:]] or [500_000, 2_000_000, 8_000_000]

    from wd2duckdb_spark import get_spark
    from wd2duckdb_spark.ingest import ingest

    spark = get_spark(app_name="wd2duckdb_spark_ingest_scale")
    spark.sparkContext.setLogLevel("ERROR")
    tracer = Tracer(spark, enabled=True)
    warm_up_ingest(spark)

    points = []
    for n in sizes:
        dump = f"{tempfile.gettempdir()}/wd_scale_dump_{n}.json"
        gen_dump_parallel(dump, n)
        stage = tempfile.mkdtemp(prefix="wd_scale_kg_")
        try:
            with tracer.span("ingest") as s:
                ingest(spark, dump, f"{stage}/kg")
            n_rows = spark.read.parquet(f"{stage}/kg/vertex").count()
        finally:
            shutil.rmtree(stage, ignore_errors=True)
        assert n_rows == n, f"expected {n} vertices, got {n_rows}"
        # the dump scan's tasks: the first stage of the ingest's first
        # (vertex) job — perfbench's ingest.scan_tasks
        scan = s.jobs[0]["stage_ids"]
        points.append(
            {
                "lines": n,
                "gb": round(os.path.getsize(dump) / (1 << 30), 2),
                "sec": round(s.seconds, 1),
                "lines_per_sec": round(n / s.seconds),
                "splits": tracer.store.stage_counters([min(scan)])["tasks"],
            }
        )

    result = {"metric": "ingest_scale", "points": points, **_peak_memory(spark)}
    print(json.dumps(result))
    spark.stop()


if __name__ == "__main__":
    main()
