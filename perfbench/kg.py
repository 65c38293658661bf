"""wikidata_kg: ingest a seeded dump, then query the graph it wrote.

One closed-loop client: ``ingest.ingest()`` once, ``views.register_views``,
then a seeded mix of KG query calls over the files just written, each call
collected to the driver. Ingest row counts are checked against the
generator's truth and every query result against DuckDB over the same
parquet.
"""

from __future__ import annotations

import os
import random
import shutil
import time

from wd2duckdb_spark.ids import PID_OFFSET
from wd2duckdb_spark.views import _TABLE_CODE

from perfbench import checks, gen
from perfbench.harness import Tracer, cpu_ratio, dir_stats, median, percentile, plan_phases_ms

#: entities in the measured dump (≈77 MB), sized so that work scaling with
#: the dump dominates the ingest call, and in the warm-up dump
DUMP_ENTITIES = 60_000
WARMUP_ENTITIES = 3_000
#: calls per pass of the query mix, by template: an assumed mix, since no
#: measured traffic exists (see "What the sizes and weights rest on" in
#: perfbench/README.md)
MIX = {"src_lookup": 40, "dst_lookup": 30, "triples_pattern": 15, "label_join": 10, "k_hop": 5}
#: item-valued properties the pattern and join templates pick from
_ITEM_PROPS = (31, 279, 17, 131, 106)

#: per-layer metric → unit; :func:`per_layer` reports exactly these
LAYERS = {
    **{f"ingest.{n}": "s" for n in ("call_s", "parse_s", "claims_s", "vertex_job_s",
                                      "fanout_s", "gc_s")},
    **{f"ingest.{n}": "count" for n in ("scan_tasks", "jobs", "stages", "tasks",
                                          "output_files")},
    "ingest.cpu_ratio": "ratio",
    "ingest.spill_bytes": "bytes",
    "ingest.output_bytes": "bytes",
    "views.register_s": "s",
    **{f"kg.{n}": "s" for n in ("src_lookup_s", "dst_lookup_s", "triples_pattern_s",
                                  "label_join_s", "query_p50_s", "query_p90_s")},
    "graph.k_hop_s": "s",
    "kg.input_records_per_lookup": "count",
}


def _sql(template: str, a: int, b: int) -> str | None:
    """Spark SQL text of a template (also valid DuckDB over the same views);
    None for ``k_hop``, which is a DataFrame operator."""
    if template == "src_lookup":
        return f"SELECT src_id, property_id, dst_id, dtype FROM triples WHERE src_id = {a}"
    if template == "dst_lookup":
        return f"SELECT src_id, property_id FROM edge WHERE dst_id = {a}"
    if template == "triples_pattern":
        return (f"SELECT src_id FROM triples WHERE property_id = {PID_OFFSET + b} "
                f"AND dst_id = {a} AND dtype = {_TABLE_CODE['edge']}")
    if template == "label_join":
        return ("SELECT e.dst_id, v.label, count(*) AS n FROM edge e "
                "JOIN vertex v ON v.id = e.dst_id "
                f"WHERE e.property_id = {PID_OFFSET + b} GROUP BY e.dst_id, v.label "
                "ORDER BY n DESC, e.dst_id LIMIT 20")
    return None


def _k_hop_sql(start: list[int]) -> str:
    ids = ", ".join(map(str, start))
    return ("SELECT DISTINCT e2.dst_id AS id FROM edge e1 "
            "JOIN edge e2 ON e2.src_id = e1.dst_id "
            f"WHERE e1.src_id IN ({ids})")


def call_plan(seed: int, n_entities: int, n_calls: int) -> list[tuple]:
    """Seeded call sequence: whole passes of :data:`MIX`. The first pass
    opens with one call of each template in :data:`MIX` order (the cold
    calls); the rest of every pass is shuffled. Each call is
    ``(template, a, b)`` or ``("k_hop", start_ids)``."""
    rng = random.Random(seed * 7919 + 1)
    calls: list[tuple] = []
    while len(calls) < n_calls:
        one = []
        for t, n in MIX.items():
            for _ in range(n):
                if t == "src_lookup":
                    one.append((t, rng.randrange(1, n_entities + 1), 0))
                elif t == "dst_lookup":
                    one.append((t, rng.randrange(1, n_entities // 10 + 1), 0))
                elif t == "triples_pattern":
                    one.append((t, rng.randrange(1, 101), rng.choice(_ITEM_PROPS)))
                elif t == "label_join":
                    one.append((t, 0, rng.choice(_ITEM_PROPS)))
                else:
                    one.append((t, tuple(rng.randrange(1, n_entities + 1) for _ in range(3))))
        if not calls:
            firsts = [next(c for c in one if c[0] == t) for t in MIX]
            rest = [c for c in one if all(c is not f for f in firsts)]
            rng.shuffle(rest)
            one = firsts + rest
        else:
            rng.shuffle(one)
        calls.extend(one)
    return calls


def _run_call(spark, tables, call) -> tuple[list[tuple], list[str], object]:
    """Run one call, collected; returns (rows, columns, the SQL frame or
    None for ``k_hop``)."""
    from pyspark.sql import functions as F

    from wd2duckdb_spark.operators.graph import k_hop

    if call[0] == "k_hop":
        start = spark.createDataFrame([(i,) for i in call[1]], "id long")
        res = k_hop(tables["edge"], start, 2)
        try:
            return [tuple(r) for r in res.select(F.col("id")).collect()], ["id"], None
        finally:
            res.unpersist()
    df = spark.sql(_sql(*call))
    return [tuple(r) for r in df.collect()], df.columns, df


def _ingest(spark, dump: str, out: str, tracer: Tracer, name: str) -> dict:
    from wd2duckdb_spark.ingest import ingest

    m: dict = {}
    with tracer.span(name):
        ingest(spark, dump, out, mode="overwrite", metrics=m)
    return m


def prepare(data: str, seed: int) -> dict:
    """Generate the measured and warm-up dumps (untimed)."""
    d = os.path.join(data, f"kg-{seed}")
    os.makedirs(d, exist_ok=True)
    dump, warm = os.path.join(d, "dump.json"), os.path.join(d, "warm.json")
    gen.write_dump(warm, seed + 1, WARMUP_ENTITIES)
    return {"dir": d, "dump": dump, "warm_dump": warm,
            "truth": gen.write_dump(dump, seed, DUMP_ENTITIES)}


def warm_up(spark, inp: dict, tracer: Tracer) -> None:
    """A small ingest plus one call of every template over what it wrote."""
    from wd2duckdb_spark.views import register_views

    out = os.path.join(inp["dir"], "warm_kg")
    _ingest(spark, inp["warm_dump"], out, tracer, "warmup.ingest")
    tables = register_views(spark, out)
    for call in call_plan(seed=0, n_entities=WARMUP_ENTITIES, n_calls=1)[:len(MIX)]:
        _run_call(spark, tables, call)


def measure(spark, inp: dict, seed: int, seconds: float, tracer: Tracer) -> dict:
    from wd2duckdb_spark.views import register_views

    kg_dir = os.path.join(inp["dir"], "kg")
    t0 = time.perf_counter()
    counts = _ingest(spark, inp["dump"], kg_dir, tracer, "ingest.call")
    ingest_s = time.perf_counter() - t0
    with tracer.span("views.register"):
        tables = register_views(spark, kg_dir)

    plan = call_plan(seed, DUMP_ENTITIES, sum(MIX.values()) * 50)
    lat: dict[str, list[float]] = {t: [] for t in MIX}
    results, failed = [], 0
    q0 = time.perf_counter()
    for i, call in enumerate(plan):
        if i >= sum(MIX.values()) and time.perf_counter() - q0 >= seconds:
            break
        t = time.perf_counter()
        try:
            with tracer.span(f"kg.{call[0]}") as s:
                rows, cols, df = _run_call(spark, tables, call)
                if tracer.enabled and df is not None:
                    s.attrs["phases_ms"] = plan_phases_ms(df)
        except Exception as e:  # noqa: BLE001 — counted, run continues
            print(f"kg call {call} raised: {e!r}")
            failed += 1
            continue
        lat[call[0]].append(time.perf_counter() - t)
        results.append((call, checks.result_hash(cols, rows)))
    return {
        "kg_dir": kg_dir,
        "ingest_s": ingest_s,
        "counts": counts,
        "latency": lat,
        "results": results,
        "raised": failed,
    }


def check(spark, inp: dict, m: dict) -> tuple[int, int]:
    """(attempted, failed): the ingest call against the generator's row
    counts, then every query call against DuckDB over the same parquet."""
    import duckdb

    truth = inp["truth"]
    want = {"entities": truth["entities"], "corrupt_lines": truth["corrupt_lines"],
            "rows": truth["rows"]}
    failed = m["raised"]
    if m["counts"] != want:
        print(f"ingest counts {m['counts']} != generator truth {want}")
        failed += 1
    con = duckdb.connect()
    for t in ("vertex", "edge", "string", "coordinates", "quantity", "time"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{m['kg_dir']}/{t}/*.parquet')")
    con.execute("CREATE VIEW triples AS " + " UNION ALL ".join(
        f"SELECT src_id, property_id, dst_id, CAST({c} AS INTEGER) AS dtype FROM {t}"
        for t, c in _TABLE_CODE.items()))
    for call, got in m["results"]:
        sql = _k_hop_sql(list(call[1])) if call[0] == "k_hop" else _sql(*call)
        if checks.duck_hash(con, sql) != got:
            print(f"kg call {call} disagrees with DuckDB")
            failed += 1
    con.close()
    return 1 + len(m["results"]) + m["raised"], failed


def end_to_end(inp: dict, m: dict) -> dict:
    """The ingest call, then the query mix: each template's first call on
    the freshly written graph (the pass opens with them) is its cold
    call."""
    calls = [x for v in m["latency"].values() for x in v]
    lines = inp["truth"]["lines"]
    _, stored = dir_stats(m["kg_dir"])
    return {
        "ingest_per_s": lines / m["ingest_s"],
        "stored_bytes_per_input_byte": stored / inp["truth"]["bytes"],
        "query_cold_s": sum(v[0] for v in m["latency"].values() if v),
        "query_warm_s": sum(median(v[1:]) for v in m["latency"].values() if len(v) > 1),
        "_samples": len(calls),
        "_named": {
            "ingest_lines_per_s": (lines / m["ingest_s"], "lines/s"),
            "kg_query_p50_s": (median(calls), "s"),
            "kg_query_p90_s": (percentile(calls, 90), "s"),
        },
    }


def layer_probes(spark, inp: dict, tracer: Tracer) -> None:
    """Traced runs only, after the measured phase: the ingest pipeline's
    parse and claims stages, each alone through the noop sink."""
    from wd2duckdb_spark import ingest as ing

    prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        with tracer.span("ingest.parse"):
            parsed = ing.parse_entities(ing.sanitize_lines(ing.read_dump_lines(spark, inp["dump"])))
            parsed.write.format("noop").mode("overwrite").save()
        parsed = parsed.persist()
        parsed.count()
        with tracer.span("ingest.claims"):
            ing.exploded_claims(parsed).write.format("noop").mode("overwrite").save()
        parsed.unpersist()
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", prev)


def per_layer(inp: dict, m: dict, tracer: Tracer) -> dict:
    ing = tracer.named("ingest.call")[0]
    jobs = ing.jobs
    vertex, fan = jobs[0], jobs[1:]
    scan_tasks = 0
    if vertex["stage_ids"]:
        scan_tasks = tracer.store.stage_counters([min(vertex["stage_ids"])])["tasks"]
    files, size = dir_stats(m["kg_dir"])
    out = {
        "ingest.call_s": ing.seconds,
        "ingest.parse_s": tracer.named("ingest.parse")[0].seconds,
        "ingest.claims_s": tracer.named("ingest.claims")[0].seconds,
        "ingest.vertex_job_s": (vertex["completed_ms"] - vertex["submitted_ms"]) / 1e3,
        "ingest.fanout_s": (max(j["completed_ms"] for j in fan)
                            - min(j["submitted_ms"] for j in fan)) / 1e3 if fan else 0.0,
        "ingest.scan_tasks": scan_tasks,
        "ingest.jobs": ing.counters["jobs"],
        "ingest.stages": ing.counters["stages"],
        "ingest.tasks": ing.counters["tasks"],
        "ingest.cpu_ratio": cpu_ratio(ing.counters),
        "ingest.gc_s": ing.counters["gc_ms"] / 1e3,
        "ingest.spill_bytes": ing.counters["spill_bytes"],
        "ingest.output_files": files,
        "ingest.output_bytes": size,
        "views.register_s": tracer.named("views.register")[0].seconds,
    }
    for t, name in (("src_lookup", "kg.src_lookup_s"), ("dst_lookup", "kg.dst_lookup_s"),
                    ("triples_pattern", "kg.triples_pattern_s"),
                    ("label_join", "kg.label_join_s"), ("k_hop", "graph.k_hop_s")):
        out[name] = median(m["latency"][t]) if m["latency"][t] else 0.0
    calls = [x for v in m["latency"].values() for x in v]
    out["kg.query_p50_s"] = median(calls)
    out["kg.query_p90_s"] = percentile(calls, 90)
    lookups = tracer.named("kg.src_lookup") + tracer.named("kg.dst_lookup")
    out["kg.input_records_per_lookup"] = (
        sum(s.counters.get("input_records", 0) for s in lookups) / len(lookups) if lookups else 0.0
    )
    return out


def cleanup(inp: dict) -> None:
    shutil.rmtree(inp["dir"], ignore_errors=True)
