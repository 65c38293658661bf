"""Local replica of the driver's oracle compare.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` on
DuckDB over the same parquet tables; compares row count, column names,
and an order-insensitive value hash (rows sorted, columns sorted by
name, values stringified). Usage:

    python tools/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys
import time

import duckdb


def normalize(rows: list[tuple], cols: list[str]) -> list[tuple]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                v = f"{v:.10g}"
            vals.append(str(v))
        out.append(tuple(vals))
    out.sort()
    return out


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import __spark_entry__ as entrymod
    from wd2duckdb_spark import get_spark

    spark = get_spark(master="local[8]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")

    from wd2duckdb_spark.catalog import oracle_view_sql

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings"
    ).split():
        con.execute(oracle_view_sql(t, f"{sf_dir}/{t}.parquet"))

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    n_pass = n_fail = n_weak = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            print(f"FAIL  {name}: spark error: {e}")
            n_fail += 1
            continue
        if name not in oracles:
            print(f"weak  {name}: rows={len(srows)} (no oracle)")
            n_weak += 1
            continue
        try:
            res = con.execute(oracles[name])
            dcols = [d[0] for d in res.description]
            drows = res.fetchall()
        except Exception as e:
            print(f"FAIL  {name}: duckdb error: {e}")
            n_fail += 1
            continue
        dt = time.time() - t0
        if sorted(scols) != sorted(dcols):
            print(f"FAIL  {name}: columns {sorted(scols)} != {sorted(dcols)}")
            n_fail += 1
            continue
        if len(srows) != len(drows):
            print(f"FAIL  {name}: rowcount {len(srows)} != {len(drows)}")
            n_fail += 1
            continue
        ns, nd = normalize(srows, scols), normalize(drows, dcols)
        if ns != nd:
            diff = [i for i, (a, b) in enumerate(zip(ns, nd)) if a != b][:3]
            print(f"FAIL  {name}: value mismatch at sorted rows {diff}")
            for i in diff[:2]:
                print(f"      spark : {ns[i]}")
                print(f"      duckdb: {nd[i]}")
            n_fail += 1
            continue
        print(f"ok    {name}: rows={len(srows)} ({dt:.1f}s)")
        n_pass += 1

    print(f"\n{n_pass} ok, {n_weak} weak, {n_fail} FAIL")
    spark.stop()
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
