"""Bucketed-vs-flat traversal bench.

Measures a 2-hop k_hop traversal over the SAME synthetic edge set in
two layouts:

- **flat** parquet — every hop's shuffle join re-exchanges the edge
  table;
- **bucketed** (``layout.write_bucketed`` shape: bucketBy src_id) —
  every hop shuffles only the frontier; the edge side rides its
  buckets (the reference's endpoint-index intent, value.rs:332-350,
  paying off on the traversal path).

Broadcast is disabled for the session: at the 100 TB design point the
expanding frontier exceeds any broadcast threshold, and a broadcast
frontier needs no exchange on EITHER layout, so it cannot distinguish
them — this bench isolates the shuffle-join regime the layout exists
for.

Prints one JSON line:
  {"metric": "bucketed_traversal", "edges": N,
   "flat_sec": ..., "bucketed_sec": ..., "speedup": ...}

Usage: python tools/bench_bucketed_traversal.py [n_nodes] [reps]
(defaults 2_000_000 nodes / ~8M edges, fastest of 3 spans).
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
    n_nodes = int(sys.argv[1]) if len(sys.argv) > 1 else 2_000_000
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 3

    from pyspark.sql import functions as F

    from wd2duckdb_spark import get_spark
    from wd2duckdb_spark.operators.graph import k_hop

    stage = tempfile.mkdtemp(prefix="bucketed_trav_")
    spark = get_spark(
        app_name="bench_bucketed_traversal",
        extra_conf={
            "spark.sql.autoBroadcastJoinThreshold": "-1",
            "spark.sql.warehouse.dir": f"{stage}/warehouse",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    par = spark.sparkContext.defaultParallelism

    try:
        # ~4 out-edges per node, deterministic pseudo-random targets
        edges = (
            spark.range(n_nodes)
            .select(
                F.col("id").alias("src_id"),
                F.explode(
                    F.array(*[F.lit(m) for m in (2654435761, 40503, 2246822519, 3266489917)])
                ).alias("m"),
            )
            .select(
                "src_id",
                F.lit(0).alias("property_id"),
                F.pmod(F.col("src_id") * F.col("m") + F.lit(17), F.lit(n_nodes))
                .alias("dst_id"),
            )
        )
        flat_dir = f"{stage}/edges_flat"
        edges.repartition(par).write.parquet(flat_dir)

        # the exact layout under test — write_bucketed owns the
        # repartition-on-key + bucketBy + sortBy contract
        from wd2duckdb_spark.layout import write_bucketed

        write_bucketed(
            {"edge": spark.read.parquet(flat_dir)},
            database="trav",
            n_buckets=par,
        )

        seeds = spark.range(0, n_nodes, 7).withColumnRenamed("id", "id")
        flat, bucketed = spark.read.parquet(flat_dir), spark.table("trav.edge")
        tracer = Tracer()

        def hops(edge_df) -> None:
            frontier = k_hop(edge_df, seeds, 2)
            frontier.count()
            frontier.unpersist()
            spark.catalog.clearCache()

        repeat(tracer, "flat", reps, lambda: hops(flat))
        repeat(tracer, "bucketed", reps, lambda: hops(bucketed))
        flat_sec, bucketed_sec = best(tracer, "flat"), best(tracer, "bucketed")

        print(
            json.dumps(
                {
                    "metric": "bucketed_traversal_2hop",
                    "edges": n_nodes * 4,
                    "reps": reps,
                    "flat_sec": flat_sec,
                    "bucketed_sec": bucketed_sec,
                    "speedup": round(flat_sec / bucketed_sec, 2)
                    if bucketed_sec
                    else None,
                }
            )
        )
    finally:
        spark.sql("DROP DATABASE IF EXISTS trav CASCADE")
        spark.stop()
        shutil.rmtree(stage, ignore_errors=True)


if __name__ == "__main__":
    main()
