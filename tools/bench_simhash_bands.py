"""SimHash banding candidate-volume audit: on 1×/4×/16× scaled copies
of ``documents``, count the banded candidate SUPERSET for the narrow
layout (blocks=4 → 15-bit keys) vs the wide layout (blocks=6 → 30-bit
3-block combined keys).

True Hamming ≤ 3 pairs grow quadratically when a corpus is duplicated
(a semantics change — which is why simhash_hamming_pairs is excluded
from the time-linearity tier in bench_corpus_scale.py). What THIS
tool measures is the layouts' overhead beyond those unavoidable true
pairs: candidates − true, the random-collision volume Manku et al. §3
control with more tables of wider keys. Expectation: wide overhead ≈
20·N²/2^31, narrow ≈ 4·N²/2^16 — the wide layout's overhead should
stay near zero at every multiplier while the narrow one grows.

The copies are benchkit's salted copies; ``sec`` is one span per
layout.

Usage: python tools/bench_simhash_bands.py [sf_dir] [multipliers...]
Prints one JSON line:
    {"base_rows": N, "runs": {"1x": {"rows": R, "true_pairs": T,
        "narrow": {"candidates": C, "overhead": C-T, "sec": s},
        "wide": {...}}, ...}}
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
from tools.benchkit import salted_copies, write_scaled  # noqa: E402


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    mults = [int(m) for m in sys.argv[2:]] or [1, 4, 16]

    from wd2duckdb_spark import get_spark
    from wd2duckdb_spark.functions.dedup import (
        SIMHASH_BANDS,
        SIMHASH_HAMMING,
        SIMHASH_WIDE_BLOCKS,
        simhash_candidates,
        simhash_pairs,
        simhash_signatures,
    )

    spark = get_spark(app_name="bench_simhash_bands")
    spark.sparkContext.setLogLevel("ERROR")
    warm_up_queries(spark, sf_dir)
    tracer = Tracer()

    base = spark.read.parquet(f"{sf_dir}/documents.parquet")
    base_rows = base.count()

    stage = tempfile.mkdtemp(prefix="simhash_bands_")
    runs: dict[str, dict] = {}
    try:
        for m in mults:
            path = write_scaled(salted_copies(base, m), m, sf_dir, f"{stage}/x{m}")
            docs = spark.read.parquet(f"{path}/documents.parquet")
            sig = simhash_signatures(docs).persist()
            sig.count()  # materialize once; both layouts reuse it

            true_pairs = simhash_pairs(sig).count()
            row: dict = {"rows": base_rows * m, "true_pairs": true_pairs}
            for label, blocks in (
                ("narrow", SIMHASH_BANDS),
                ("wide", SIMHASH_WIDE_BLOCKS),
            ):
                with tracer.span(label) as s:
                    cand = simhash_candidates(
                        sig, blocks=blocks, hamming=SIMHASH_HAMMING
                    ).count()
                row[label] = {
                    "candidates": cand,
                    "overhead": cand - true_pairs,
                    "sec": round(s.seconds, 3),
                }
            runs[f"{m}x"] = row
            sig.unpersist()
    finally:
        shutil.rmtree(stage, ignore_errors=True)

    print(json.dumps({"base_rows": base_rows, "runs": runs}))


if __name__ == "__main__":
    main()
