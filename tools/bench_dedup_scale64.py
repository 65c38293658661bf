"""Corpus-scaling bench to 64× for the heaviest dedup pair paths: one
more doubling pair past 16× turns "linear so far" into a four-point
trend and surfaces any super-linear candidate blow-up before a cluster
does.

The copies are benchkit's namespaced copies: copy 0 is the base corpus
verbatim; copies i>0 prefix every token with ``c<i>~`` so cross-copy
shingle/window sets are DISJOINT — true pairs and prefix-filter
candidates both scale exactly k× by construction for the
shingle/window operators, while the distinct-shingle DF table (the
table the prefix joins shuffle-join instead of broadcasting) grows k×
too. SimHash is the exception and is measured, not asserted: its
signatures hash the namespaced tokens, so each copy's signature set is
fresh (not a translate of the base) and cross-copy band collisions are
possible — pair counts scale ~k× in expectation with collision noise,
which is itself the honest statement of how banding behaves as N
grows.

Paths covered (the heaviest pair generators):
- ``jaccard_prefix_join`` and ``containment_join`` — the PPJoin-style
  prefix-filter joins; ``candidates`` is the distinct pair set the
  prefix filter hands to exact verification, ``pairs`` the accepted
  pairs, both exactly ×k.
- ``verbatim_overlap_pairs`` — Lee et al. exact-substring pairs;
  pairs exactly ×k (anchored min-doc pairing is per-window linear).
- ``simhash_wide_pairs`` — banded Hamming pairs; wall-clock and pair
  counts reported.

``sec`` is the fastest of two spans, with memos and cache cleared
before each.

Usage: python tools/bench_dedup_scale64.py [sf_dir] [multipliers...]
    (default multipliers: 1 4 16 64)
Prints one JSON line:
    {"base_rows": N, "runs": {"4x": {"rows": R,
        "jaccard_prefix_join": {"sec": s, "pairs": p, "candidates": c},
        "containment_join": {...}, "verbatim_overlap_pairs": {...},
        "simhash_wide_pairs": {...}, "jvm_used_mb": M}, ...}}

Measured (sf0.1 base = 5,000 docs, 32 local cores, concurrent with a
test-suite run): wall-clock at-or-below linear across every ×4 step
and pairs EXACT where the construction guarantees it:

    mult  rows     jaccard           verbatim          simhash
    1x    5,000    2.95 s / 256      4.35 s / 220      4.62 s / 271,530
    4x    20,000   13.72 s / 1,024   3.42 s / 880      5.59 s / 889,358
    16x   80,000   22.93 s / 4,096   3.35 s / 3,520    5.39 s / 4,747,265
    64x   320,000  89.35 s / 16,384  14.54 s / 14,080  14.39 s / 18,854,137

Jaccard prefix candidates measured 118,826 → 475,304 → 1,901,216 at
1×/4×/16×, exactly ×4/×16. SimHash pairs scale ≈×4 per step (×3.3 /
×5.3 / ×4.0): per-copy signatures hash the namespaced tokens, so
threshold-boundary pairs flip per copy; the per-copy average stays at
270-300k ≈ the base corpus. JVM used heap after the 64× tier: ~5.5 GiB.
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
from tools.benchkit import best, namespaced_copies, write_scaled  # noqa: E402


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    mults = [int(m) for m in sys.argv[2:]] or [1, 4, 16, 64]

    from pyspark.sql import functions as F

    from wd2duckdb_spark import get_spark
    from wd2duckdb_spark.catalog import clear_memos
    from wd2duckdb_spark.functions.dedup import (
        CONTAIN_DEN,
        CONTAIN_NUM,
        JACCARD_DEN,
        JACCARD_NUM,
        _prefix_frames,
        q_containment_join,
        q_jaccard_prefix_join,
        q_simhash_wide_pairs,
        q_verbatim_overlap_pairs,
    )

    spark = get_spark(app_name="bench_dedup_scale64")
    spark.sparkContext.setLogLevel("ERROR")
    warm_up_queries(spark, sf_dir)

    base = spark.read.parquet(f"{sf_dir}/documents.parquet")
    base_rows = base.count()

    def candidates(scaled_dir: str, num: int, den: int, self_join: bool) -> int:
        """Distinct pairs the prefix filter hands to verification."""
        sets, toks, prefix = _prefix_frames(spark, scaled_dir, num, den)
        a, b = F.col("a.doc_id"), F.col("b.doc_id")
        n = (
            prefix.alias("a")
            .join((prefix if self_join else toks).alias("b"), "tok")
            .filter(a < b if self_join else a != b)
            .select(a, b)
            .distinct()
            .count()
        )
        sets.unpersist()
        return n

    queries = (
        ("jaccard_prefix_join", q_jaccard_prefix_join, (JACCARD_NUM, JACCARD_DEN, True)),
        ("containment_join", q_containment_join, (CONTAIN_NUM, CONTAIN_DEN, False)),
        ("verbatim_overlap_pairs", q_verbatim_overlap_pairs, None),
        ("simhash_wide_pairs", q_simhash_wide_pairs, None),
    )

    stage = tempfile.mkdtemp(prefix="dedup_scale64_")
    out: dict[str, dict] = {}
    try:
        for m in mults:
            scaled_dir = write_scaled(
                namespaced_copies(base, m), m, sf_dir, f"{stage}/x{m}"
            )
            tracer = Tracer()
            row: dict = {"rows": base_rows * m}
            for name, qfn, prefix in queries:
                for _ in range(2):
                    clear_memos()
                    spark.catalog.clearCache()
                    with tracer.span(name):
                        n_pairs = qfn(spark, scaled_dir).count()
                row[name] = {"sec": best(tracer, name), "pairs": n_pairs}
                if prefix:
                    row[name]["candidates"] = candidates(scaled_dir, *prefix)
                    spark.catalog.clearCache()
            rt = spark.sparkContext._jvm.java.lang.Runtime.getRuntime()
            row["jvm_used_mb"] = int((rt.totalMemory() - rt.freeMemory()) / (1 << 20))
            out[f"{m}x"] = row
            print(json.dumps({f"{m}x": row}), file=sys.stderr)  # progress
    finally:
        shutil.rmtree(stage, ignore_errors=True)

    print(json.dumps({"base_rows": base_rows, "runs": out}))
    spark.stop()


if __name__ == "__main__":
    main()
