"""corpus_analytics: registry queries over a generated corpus, cold then warm.

An untimed warm-up (charged to ``setup_s``) calls every query once. Then
each query gets one cold call, made right after ``catalog.clear_memos()``
and ``spark.catalog.clearCache()``, followed by its warm repeat calls;
every timed call runs through the noop sink. The seed permutes the query
order. After its timed calls, untimed, each query is collected once and
compared with its ``oracle_sql()`` by order-insensitive hash.

The corpus tables are generated once from a fixed data seed and cached
with their oracle hashes, so every seed measures the same data.
"""

from __future__ import annotations

import json
import os
import random
import time

from perfbench import checks, gen
from perfbench.harness import Tracer, cpu_ratio, median, plan_phases_ms

#: The registry queries measured: the Arrow boundary (embedding_neardup's
#: mapInPandas GEMM) and the largest cold/warm gaps (kmeans_lloyd,
#: ann_index_probe, and leakage_safe_split, whose connected components run
#: over the MinHash-LSH pairs).
QUERIES = (
    "embedding_neardup",
    "kmeans_lloyd",
    "leakage_safe_split",
    "ann_index_probe",
)
#: generator seed of the corpus tables (the run seed orders the calls)
DATA_SEED = 20240
#: warm repeat calls per query
WARM_REPS = 3

#: per-layer metric → unit; :func:`per_layer` reports exactly these
LAYERS = {
    **{f"analytics.{n}": "s" for n in ("build_s", "state_build_s", "plan_s", "exec_s", "gc_s")},
    "analytics.cpu_ratio": "ratio",
    "analytics.shuffle_write_bytes": "bytes",
    "analytics.spill_bytes": "bytes",
    **{f"analytics.{n}": "count" for n in ("tasks", "jobs", "exchanges")},
    **{f"{q}.{n}": unit for q in QUERIES
       for n, unit in (("cold_s", "s"), ("warm_s", "s"), ("shuffle_write_bytes", "bytes"),
                       ("tasks", "count"))},
}


def prepare(data: str, seed: int) -> dict:
    """Write the corpus and its oracle hashes on first use (untimed)."""
    import duckdb

    from wd2duckdb_spark.catalog import TESTDATA_TABLES, oracle_view_sql
    from wd2duckdb_spark.registry import all_oracles

    sf = os.path.join(data, f"corpus-{DATA_SEED}")
    oracle_path = os.path.join(sf, "oracle_hashes.json")
    oracle: dict[str, str] = {}
    if os.path.exists(oracle_path):
        with open(oracle_path) as f:
            oracle = json.load(f)
    if not set(QUERIES) <= set(oracle):
        gen.write_corpus(sf, DATA_SEED)
        con = duckdb.connect()
        for t in TESTDATA_TABLES:
            con.execute(oracle_view_sql(t, f"{sf}/{t}.parquet"))
        sql = all_oracles()
        oracle = {q: checks.duck_hash(con, sql[q]) for q in QUERIES}
        con.close()
        tmp = oracle_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(oracle, f, indent=1)
        os.replace(tmp, oracle_path)
    order = list(QUERIES)
    random.Random(seed).shuffle(order)
    return {"sf": sf, "oracle": oracle, "order": order}


def warm_up(spark, inp: dict, tracer: Tracer) -> None:
    """One call of every query, in a fixed order, so the JIT warm-up of the
    fresh JVM lands here and not on whichever query the seed puts first."""
    from wd2duckdb_spark.registry import all_queries

    qs = all_queries()
    for q in QUERIES:
        qs[q](spark, inp["sf"]).write.format("noop").mode("overwrite").save()


def _call(spark, tracer: Tracer, fn, q: str, sf: str, kind: str) -> float:
    """One timed call: build the frame, run it through the noop sink."""
    t = time.perf_counter()
    with tracer.span(f"{kind}.{q}", query=q):
        with tracer.span("analytics.build"):
            df = fn(spark, sf)
        if tracer.enabled:
            # the noop write plans a QueryExecution of its own; forcing the
            # frame's plan times the same Catalyst phases, on the side
            from wd2duckdb_spark.plans.inspect import plan_summary

            with tracer.span("analytics.plan") as s:
                df._jdf.queryExecution().executedPlan()
                s.attrs["phases_ms"] = plan_phases_ms(df)
                s.attrs["exchanges"] = plan_summary(df)["exchange"]
        with tracer.span("analytics.exec"):
            df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t


def measure(spark, inp: dict, seed: int, seconds: float, tracer: Tracer) -> dict:
    """Per query, in seeded order: clear every memo and cached frame, one
    cold call, :data:`WARM_REPS` warm calls, then — untimed, with the
    model state still built — one collected call hashed for the check."""
    from wd2duckdb_spark import catalog
    from wd2duckdb_spark.registry import all_queries

    qs = all_queries()
    cold: dict[str, float] = {}
    warm: dict[str, list[float]] = {q: [] for q in QUERIES}
    got: dict[str, str] = {}
    raised = 0
    for q in inp["order"]:
        catalog.clear_memos()
        spark.catalog.clearCache()
        try:
            cold[q] = _call(spark, tracer, qs[q], q, inp["sf"], "cold")
            for _ in range(WARM_REPS):
                warm[q].append(_call(spark, tracer, qs[q], q, inp["sf"], "warm"))
            got[q] = checks.spark_hash(qs[q](spark, inp["sf"]))
        except Exception as e:  # noqa: BLE001 — counted, run continues
            print(f"{q} raised: {e!r}")
            raised += 1
    return {"cold": cold, "warm": warm, "got": got, "raised": raised}


def check(spark, inp: dict, m: dict) -> tuple[int, int]:
    """(attempted, failed) over the timed calls; every timed call of a
    query whose collected result disagrees with its oracle counts as
    failed."""
    failed = m["raised"]
    for q in QUERIES:
        if q in m["got"] and m["got"][q] != inp["oracle"][q]:
            print(f"{q} disagrees with its oracle")
            failed += (q in m["cold"]) + len(m["warm"][q])
    attempted = sum((q in m["cold"]) + len(m["warm"][q]) for q in QUERIES) + m["raised"]
    return attempted, failed


def end_to_end(inp: dict, m: dict) -> dict:
    cold_total = sum(m["cold"].values())
    warm_total = sum(median(v) for v in m["warm"].values() if v)
    return {
        "query_cold_s": cold_total,
        "query_warm_s": warm_total,
        "_samples": sum(len(v) for v in m["warm"].values()),
        "_named": {"cold_total_s": (cold_total, "s"), "warm_total_s": (warm_total, "s")},
    }


def per_layer(inp: dict, m: dict, tracer: Tracer) -> dict:
    """Per query: cold and median warm time, and the mean counters of its
    warm calls' noop execution. The ``analytics.*`` figures sum those over
    the query set, i.e. one warm pass; ``build_s`` sums the cold calls'
    driver-side build."""
    spans = tracer.spans

    def kids(parent_name: str, name: str) -> list:
        idx = {i for i, s in enumerate(spans) if s.name == parent_name}
        return [s for s in spans if s.parent in idx and s.name == name]

    def mean(xs: list[float]) -> float:
        return sum(xs) / len(xs) if xs else 0.0

    out = {"analytics.build_s": 0.0, "analytics.state_build_s": 0.0, "analytics.plan_s": 0.0,
           "analytics.exec_s": 0.0, "analytics.gc_s": 0.0, "analytics.shuffle_write_bytes": 0.0,
           "analytics.spill_bytes": 0.0, "analytics.tasks": 0.0, "analytics.jobs": 0.0,
           "analytics.exchanges": 0.0}
    run_ms = cpu_ns = 0.0
    for q in QUERIES:
        warm_med = median(m["warm"][q]) if m["warm"][q] else 0.0
        execs, plans = kids(f"warm.{q}", "analytics.exec"), kids(f"warm.{q}", "analytics.plan")
        out["analytics.build_s"] += sum(s.seconds for s in kids(f"cold.{q}", "analytics.build"))
        out["analytics.state_build_s"] += m["cold"].get(q, warm_med) - warm_med
        out["analytics.plan_s"] += mean([sum(s.attrs["phases_ms"].values()) / 1e3 for s in plans])
        out["analytics.exec_s"] += mean([s.seconds for s in execs])
        out["analytics.exchanges"] += mean([s.attrs["exchanges"] for s in plans])
        for key, name, scale in (("gc_ms", "gc_s", 1e3), ("shuffle_write_bytes", "shuffle_write_bytes", 1),
                                 ("spill_bytes", "spill_bytes", 1), ("tasks", "tasks", 1),
                                 ("jobs", "jobs", 1)):
            out[f"analytics.{name}"] += mean([s.counters.get(key, 0) / scale for s in execs])
        run_ms += mean([s.counters.get("run_ms", 0) for s in execs])
        cpu_ns += mean([s.counters.get("cpu_ns", 0) for s in execs])
        out[f"{q}.cold_s"] = m["cold"].get(q, 0.0)
        out[f"{q}.warm_s"] = warm_med
        out[f"{q}.shuffle_write_bytes"] = mean([s.counters.get("shuffle_write_bytes", 0) for s in execs])
        out[f"{q}.tasks"] = mean([s.counters.get("tasks", 0) for s in execs])
    out["analytics.cpu_ratio"] = cpu_ratio({"run_ms": run_ms, "cpu_ns": cpu_ns})
    return out
