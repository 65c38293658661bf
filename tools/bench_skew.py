"""Skew-mitigation bench (SURVEY §4.3): measured evidence for the
three-tier story on a pathologically skewed join key (the P31/Q5 hub
shape — 90% of the fact rows on ONE key).

Tiers measured on the same data, broadcast disabled (a broadcast dim
has no skew problem by construction — salting exists for the cases
where broadcast is infeasible and for engines/paths AQE's skew-join
cannot reach, e.g. stream-static joins):

1. plain shuffle join, AQE skew-join OFF — the hot key's entire
   probe side lands in one reduce task (the failure mode);
2. plain shuffle join, AQE skew-join ON — runtime partition splitting
   (the first line of defense, zero code), at the default and at a
   16 MB split threshold;
3. operators/skew.salted_join — deterministic spread, works where AQE
   can't (and its plan is fixed at compile time, so it also guards
   paths AQE does not re-plan).

A second tier benches the SELF-join regime (the dedup/pair-expansion
shape: few hot block keys, quadratic in-block fan-out) head-to-head:
plain AQE shuffle join vs salted_join vs grid_self_join — the grid
reaches the salted per-task pair bound with √S replication per side
instead of S on one side, so its exchange writes ~2√S/S of the salted
bytes. At local sizes that difference is invisible in seconds, so the
tier reports shuffle-write bytes, a deterministic property of the
plan.

A diagnostic tier compares the exact hot-key report with the
Misra-Gries sketch probe on a high-cardinality skewed key (10% of rows
on one key, the rest unique). The exact groupBy's map-side partials
ship ~one record per distinct key per partition; the sketch ships at
most ``counters`` rows per partition whatever N is. Its shuffle bytes
are the scale signal: local seconds can favor the JVM groupBy because
the sketch pays the Arrow hop.

Seconds are the fastest of ``reps`` spans; bytes are the counters of
the first span of each plan, read from the in-process status store.

Prints one JSON line:
  {"metric": "skew_join", "rows": N,
   "plain_no_aqe_sec": ..., "aqe_default_sec": ..., "salted_sec": ...,
   "self_join": {"rows": M, "pairs": P, "plain_aqe_sec": ...,
                 "grid_shuffle_mb": ..., ...},
   "diagnostic": {"exact_shuffle_mb": ..., "sketch_shuffle_mb": ...}}

Usage: python tools/bench_skew.py [n_rows] [reps]  (default 8M, 3)
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.harness import Tracer  # noqa: E402
from tools.benchkit import best, repeat  # noqa: E402


def main() -> None:
    n_rows = int(sys.argv[1]) if len(sys.argv) > 1 else 8_000_000
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 3

    from pyspark.sql import functions as F

    from wd2duckdb_spark import get_spark
    from wd2duckdb_spark.operators.skew import (
        _hot_keys_tail,
        grid_self_join,
        hot_keys_sketch,
        salted_join,
    )

    spark = get_spark(
        app_name="bench_skew",
        extra_conf={"spark.sql.autoBroadcastJoinThreshold": "-1"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    tracer = Tracer(spark, enabled=True)
    stage = tempfile.mkdtemp(prefix="bench_skew_")

    def staged(name: str, df):
        df.write.parquet(f"{stage}/{name}")
        return spark.read.parquet(f"{stage}/{name}")

    def run(name: str, mk, digits: int = 2):
        """Time ``mk().collect()`` over ``reps`` spans (``mk`` builds a
        fresh frame per rep: reps on one frame ride Spark's
        shuffle-output reuse); return (best seconds, first span's
        shuffle-write MB, last rows)."""
        rows = repeat(tracer, name, reps, lambda: mk().collect())
        mb = tracer.named(name)[0].counters["shuffle_write_bytes"] / 1e6
        return best(tracer, name), round(mb, digits), rows

    def set_skew(on: bool) -> None:
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", str(on).lower())

    THRESH = "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes"
    ADVISORY = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    try:
        # 90% of rows on key 31, the rest (ids divisible by 10) uniform
        # over all 1000 cold keys via id/10; a payload expression gives
        # the reducer real per-row work
        f = staged("fact", spark.range(n_rows).select(
            F.when(F.col("id") % 10 != 0, F.lit(31))
            .otherwise(F.pmod((F.col("id") / 10).cast("long"), F.lit(1000)))
            .alias("k"),
            F.col("id").alias("payload"),
        ))
        d = staged("dim", spark.range(1000).select(
            F.col("id").alias("k"),
            F.md5(F.col("id").cast("string")).alias("label"),
        ))
        # pmod keeps the running sum inside long range (ANSI overflow)
        work = F.sum(F.pmod(F.xxhash64("payload", "label"), F.lit(1_000_003)))

        set_skew(False)
        plain_no_aqe = run("plain_no_aqe", lambda: f.join(d, "k").agg(work))[0]
        set_skew(True)
        aqe_default = run("aqe_default", lambda: f.join(d, "k").agg(work))[0]
        # AQE's default split threshold is 256 MB: a hot partition
        # SMALLER than that never splits, yet still serializes one
        # reducer — exactly the sub-threshold regime this bench sits
        # in. Tune the thresholds down and AQE splits for real.
        spark.conf.set(THRESH, "16m")
        spark.conf.set(ADVISORY, "16m")
        aqe_tuned = run("aqe_tuned", lambda: f.join(d, "k").agg(work))[0]
        spark.conf.unset(THRESH)
        spark.conf.unset(ADVISORY)
        salted = run(
            "salted", lambda: salted_join(f, d, "k", n_salts=32).agg(work)
        )[0]

        # --- self-join tier: 8 hot blocks, quadratic pair fan-out ---
        self_rows = max(n_rows // 500, 4000)  # ~|block|² pairs per block
        sa = staged("self", spark.range(self_rows).select(
            F.pmod(F.col("id"), F.lit(8)).alias("k"),
            F.col("id").alias("a_id"),
        ))
        sb = sa.select("k", F.col("a_id").alias("b_id"))
        pair_work = F.sum(F.pmod(F.xxhash64("a_id", "b_id"), F.lit(1_000_003)))
        n_cells = 256
        self_plain, plain_mb, _ = run(
            "self_plain", lambda: sa.join(sb, "k").agg(pair_work)
        )
        self_salted, salted_mb, _ = run("self_salted", lambda: salted_join(
            sa, sb, "k", n_salts=n_cells, join_hint="shuffle_hash"
        ).agg(pair_work))
        self_grid, grid_mb, _ = run("self_grid", lambda: grid_self_join(
            sa, sb, "k", n_cells=n_cells, join_hint="shuffle_hash"
        ).agg(pair_work))
        n_pairs = self_rows * self_rows // 8

        # --- diagnostic tier: exact hot-key report vs sketch probe ---
        dread = staged("diag", spark.range(n_rows).select(
            F.when(F.pmod("id", F.lit(10)) == 0, F.lit("hot"))
            .otherwise(F.concat(F.lit("u"), F.col("id")))
            .alias("key")
        ))
        diag_counters = 4096  # heavy-hitter floor = N/4097 ≈ 0.02% share
        # three decimals: the sketch's whole shuffle is ~KBs
        exact_sec, exact_mb, exact_rows = run("exact", lambda: _hot_keys_tail(
            dread.groupBy("key").agg(F.count("*").alias("n_rows"))
        ), 3)
        sketch_sec, sketch_mb, sketch_rows = run("sketch", lambda: hot_keys_sketch(
            dread, "key", counters=diag_counters
        ), 3)
        # correctness cross-check inside the bench: same hot key, and
        # the estimate within the Misra-Gries undercount bound
        hot_exact, hot_sketch = exact_rows[0], sketch_rows[0]
        diag_ok = (
            hot_sketch.key == hot_exact.key
            and 0 <= hot_exact.n_rows - hot_sketch.n_rows <= n_rows // (diag_counters + 1)
        )
    finally:
        set_skew(True)  # restore the engine default
        spark.stop()
        shutil.rmtree(stage, ignore_errors=True)

    print(
        json.dumps(
            {
                "metric": "skew_join",
                "rows": n_rows,
                "reps": reps,
                "plain_no_aqe_sec": plain_no_aqe,
                "aqe_default_sec": aqe_default,
                "aqe_tuned_16m_sec": aqe_tuned,
                "salted_sec": salted,
                "self_join": {
                    "rows": self_rows,
                    "pairs": n_pairs,
                    "n_cells": n_cells,
                    "plain_aqe_sec": self_plain,
                    "salted_sec": self_salted,
                    "grid_sec": self_grid,
                    # grid replicates each side √cells ways (≈2√S·N
                    # rows through the exchange) vs salted's S·N on
                    # one side — grid_shuffle_mb < salted_shuffle_mb
                    "plain_shuffle_mb": plain_mb,
                    "salted_shuffle_mb": salted_mb,
                    "grid_shuffle_mb": grid_mb,
                },
                "diagnostic": {
                    "rows": n_rows,
                    "counters": diag_counters,
                    "exact_sec": exact_sec,
                    "sketch_sec": sketch_sec,
                    "exact_shuffle_mb": exact_mb,
                    "sketch_shuffle_mb": sketch_mb,
                    "hot_key_agrees_within_bound": diag_ok,
                },
            }
        )
    )


if __name__ == "__main__":
    main()
