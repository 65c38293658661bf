"""Isolated per-query bench + plan dump for the optimization loop.

Usage:
    python tools/bench_one.py [--sf DIR] [--reps N] [--plan OUTDIR] q1 q2 ...

Times each named query through the noop sink (min over N reps,
clearCache between queries, bench.py's warm-up — the same method as
bench.py), and with --plan writes `<OUTDIR>/<query>.txt` containing
.explain("formatted").
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import warm_up_queries  # noqa: E402
from perfbench.harness import Tracer  # noqa: E402
from tools.benchkit import noop, repeat  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--reps", type=int, default=2)
    ap.add_argument("--plan", default=None)
    ap.add_argument("queries", nargs="+")
    args = ap.parse_args()

    from wd2duckdb_spark import get_spark
    from wd2duckdb_spark.plans.inspect import explain_str
    from wd2duckdb_spark.registry import all_queries

    spark = get_spark(app_name="bench_one")
    spark.sparkContext.setLogLevel("ERROR")
    qs = all_queries()
    warm_up_queries(spark, args.sf)

    for name in args.queries:
        fn = qs[name]
        if args.plan:
            os.makedirs(args.plan, exist_ok=True)
            with open(os.path.join(args.plan, f"{name}.txt"), "w") as f:
                f.write(explain_str(fn(spark, args.sf), "formatted"))
            spark.catalog.clearCache()
        tracer = Tracer()
        spark.sparkContext.setJobDescription(f"bench_one: {name}")
        repeat(tracer, name, args.reps, lambda: noop(fn(spark, args.sf)))
        spark.catalog.clearCache()
        runs = [round(s.seconds, 3) for s in tracer.spans]
        print(f"{name}\t{min(runs):.3f}\t{runs}", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
