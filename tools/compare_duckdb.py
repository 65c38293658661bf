"""Head-to-head: each headline query on Spark vs its own DuckDB oracle.

Usage: python tools/compare_duckdb.py [sf_dir] [query ...]

Runs every bench.HEADLINE query that has an oracle (or the queries
named on the command line; ``--all`` for every oracle), min-of-2
timings on both engines over the same parquet, and prints one JSON
line:

    {"sf": 0.1, "spark_total": ..., "duckdb_total": ...,
     "queries": {name: {"spark": s, "duckdb": s, "ratio": spark/duckdb}}}

DuckDB runs single-process multithreaded (its default, all cores) —
the honest single-node comparison the 2x gate describes. Spark pays a
fixed per-query JVM/codegen overhead (~0.2-0.4 s here) that DuckDB
doesn't have; at real scale that amortizes, which is visible in the
ratio improving as sf grows.
"""

from __future__ import annotations

import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import HEADLINE, warm_up_queries  # noqa: E402
from perfbench.harness import Tracer  # noqa: E402
from tools.benchkit import best, noop, repeat  # noqa: E402


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    only = sys.argv[2:]

    import duckdb

    from wd2duckdb_spark import get_spark
    from wd2duckdb_spark.catalog import oracle_view_sql
    from wd2duckdb_spark.registry import all_oracles, all_queries

    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0

    queries, oracles = all_queries(), all_oracles()
    if only == ["--all"]:
        only = sorted(oracles)
    names = [n for n in (only or HEADLINE) if n in oracles]

    spark = get_spark(app_name="compare_duckdb")
    spark.sparkContext.setLogLevel("ERROR")
    warm_up_queries(spark, sf_dir)

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem "
        "events documents embeddings"
    ).split():
        con.execute(oracle_view_sql(t, f"{sf_dir}/{t}.parquet"))

    tracer = Tracer()
    out: dict[str, dict[str, float]] = {}
    for name in names:
        repeat(tracer, f"spark.{name}", 2, lambda: noop(queries[name](spark, sf_dir)))
        # persist()-barrier queries cache small intermediates; clear
        # between queries so no later plan-identical subtree measures
        # warm off another query's cache (same discipline as bench.py)
        spark.catalog.clearCache()
        repeat(tracer, f"duckdb.{name}", 2, lambda: con.execute(oracles[name]).fetchall())
        s, d = best(tracer, f"spark.{name}"), best(tracer, f"duckdb.{name}")
        out[name] = {"spark": s, "duckdb": d, "ratio": round(s / d, 2) if d > 0 else None}

    print(
        json.dumps(
            {
                "sf": sf,
                "spark_total": round(sum(v["spark"] for v in out.values()), 3),
                "duckdb_total": round(sum(v["duckdb"] for v in out.values()), 3),
                "queries": out,
            }
        )
    )


if __name__ == "__main__":
    main()
