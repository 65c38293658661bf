"""Spill-under-pressure bench: run the 16× corpus tier in a
DELIBERATELY small-heap session and record memoryBytesSpilled /
diskBytesSpilled of each query's stages — proving the heavy
aggregate/sort pipelines COMPLETE under memory pressure by spilling,
not by OOMing. This is the property the MEMORY_AND_DISK persist levels
and sort-based aggregates claim in docstrings but the time-linearity
tier (bench_corpus_scale.py, run with a roomy heap) never exercises.

Pressure recipe: a small driver heap (1g vs the engine's 8g default;
local mode: driver == executor), a squeezed unified pool, a
heap-scaled broadcast threshold, and the element-count force-spill
thresholds so every sorter/window buffer exercises its REAL spill
path (see HEAP/MEM_FRACTION/FORCE_SPILL_CONF for the calibration
story — pure pool starvation produces allocation failure, not
spills).

The property under test is COMPLETION + nonzero spill, not speed —
wall-clock under forced spill on a virtualized host is noise. Spill
bytes are the counters of each query's span, read from the in-process
status store.

Measured (sf0.1 × 16 = 80k docs, 1g heap):
    repeated_ngram_spans  completed, 248.7 MB mem / 36.5 MB disk spilled
    dedup_span_removal    completed, 553.6 MB mem / 115.9 MB disk spilled
    bm25_eval             completed, 0 spill (its state is stats-sized)

Usage (fresh process required — driver memory binds at JVM launch):
    python tools/bench_spill.py [sf_dir] [multiplier]
Prints one JSON line:
    {"heap": "1g", "memory_fraction": 0.3, "mult": 16, "rows": N,
     "queries": {name: {"sec": s, "rows": n, "completed": true,
                        "memory_spilled": B, "disk_spilled": B}}}
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from py4j.protocol import Py4JJavaError  # noqa: E402

from perfbench.harness import Tracer  # noqa: E402
from tools.benchkit import salted_copies, write_scaled  # noqa: E402

#: Pressure recipe, calibrated by failure: pure pool starvation does
#: NOT produce spills — at fraction 0.08 (and still at 0.2 with 64×
#: state) tasks die with UNABLE_TO_ACQUIRE_MEMORY because concurrent
#: consumers hold their minimum reservations and the page allocator
#: fails before any spillable consumer is asked to yield; 640m heap
#: gets the JVM OOM-killed outright. So the heap is small-but-viable
#: (1g vs the engine's 8g default, fraction 0.3 ≈ 220 MB pool) and the
#: spill machinery is engaged DETERMINISTICALLY via the element-count
#: force-spill thresholds — every sorter/window/aggregate buffer must
#: go through its real spill path, and the status store records the
#: resulting bytes. Completion + nonzero spilled bytes is the claim.
HEAP = "1g"
MEM_FRACTION = "0.3"
FORCE_SPILL_CONF = {
    # ExternalSorter / UnsafeExternalSorter: force a spill every 256k
    # inserted rows regardless of memory
    "spark.shuffle.spill.numElementsForceSpillThreshold": "262144",
    # window frames and sort-merge-join buffers spill past 16k rows
    "spark.sql.windowExec.buffer.spill.threshold": "16384",
    "spark.sql.sortMergeJoinExec.buffer.spill.threshold": "16384",
    # the engine default broadcast threshold (64 MB) is sized for
    # 128 GiB executors; on a 1 GiB heap the broadcast build itself
    # OOMs before any operator runs — scale it down with the heap,
    # exactly as a real small-executor deployment would
    "spark.sql.autoBroadcastJoinThreshold": str(8 * 1024 * 1024),
}

#: Pipelines whose STATE scales with corpus size — the fixture's word
#: vocabulary is tiny, so word-keyed aggregates (bigram LM, inverted
#: index) never pressure memory no matter the multiplier; 5-gram keys
#: are near-unique (state ≈ total tokens) and the span remover adds
#: doc-ordered window sorts, which is where ExternalSorter spills.
#: bm25_eval rides along for its MEMORY_AND_DISK persisted-tf claim.
SPILL_QUERIES = ("repeated_ngram_spans", "dedup_span_removal", "bm25_eval")


def _memory_spilled(store, span) -> int:
    """memoryBytesSpilled over a traced span's stages (the harness's
    ``spill_bytes`` is diskBytesSpilled)."""
    total = 0
    for sid in {i for j in span.jobs for i in j["stage_ids"]}:
        try:
            total += store.lastStageAttempt(sid).memoryBytesSpilled()
        except Py4JJavaError:  # never ran: nothing spilled
            pass
    return total


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    mult = int(sys.argv[2]) if len(sys.argv) > 2 else 16

    os.environ["SPARK_GRAFT_DRIVER_MEM"] = HEAP
    from wd2duckdb_spark import get_spark
    from wd2duckdb_spark.registry import all_queries

    spark = get_spark(
        app_name="bench_spill",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={"spark.memory.fraction": MEM_FRACTION, **FORCE_SPILL_CONF},
    )
    spark.sparkContext.setLogLevel("ERROR")
    assert spark.sparkContext.getConf().get("spark.driver.memory") == HEAP, (
        "driver heap did not bind - run this tool in a FRESH python "
        "process (the JVM inherits the first session's heap)"
    )
    tracer = Tracer(spark, enabled=True)
    store = spark.sparkContext._jsc.sc().statusStore()

    queries = all_queries()
    base = spark.read.parquet(f"{sf_dir}/documents.parquet")
    base_rows = base.count()

    stage_dir = tempfile.mkdtemp(prefix="bench_spill_")
    out: dict[str, dict] = {}
    try:
        scaled = write_scaled(
            salted_copies(base, mult), mult, sf_dir, os.path.join(stage_dir, f"x{mult}")
        )
        for name in SPILL_QUERIES:
            with tracer.span(name) as s:
                n = queries[name](spark, scaled).count()  # full execution
            out[name] = {
                "sec": round(s.seconds, 3),
                "rows": n,
                "completed": True,
                "memory_spilled": _memory_spilled(store, s),
                "disk_spilled": s.counters["spill_bytes"],
            }
    finally:
        shutil.rmtree(stage_dir, ignore_errors=True)

    print(
        json.dumps(
            {
                "heap": HEAP,
                "memory_fraction": float(MEM_FRACTION),
                "mult": mult,
                "rows": base_rows * mult,
                "queries": out,
            }
        )
    )


if __name__ == "__main__":
    main()
