"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR.

Prints exactly ONE JSON line:
    {"metric": "...", "value": <total sec>, "unit": "sec",
     "queries": {"q1_pricing_summary": sec, ...}, "sf": <sf>}

Each query executes to completion through the noop DataSource sink
(full computation, no driver-side collect — measures the engine, not
the pickle pipe). One warm-up run of a trivial action first so JVM/
codegen startup isn't charged to the first query.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time


#: The headline set: one per operator family (agg spine, join spine,
#: window, graph, dedup/LSH, text, similarity).
HEADLINE = (
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q6_revenue_forecast",
    "q19_disjunctive",
    "range_join",
    "agg_distinct",
    "window_rank",
    "topn_per_group",
    "graph_2hop",
    "explode_words",
    "dedup_exact",
    "chunk_dedup",
    "minhash_lsh_pairs",
    "simhash",
    "text_quality",
    "ann_bruteforce_topk",
    "q9_profit_by_nation_year",
    "q10_returned_items",
    "session_window",
    "upsert_merge",
    "lateral_topk_orders",
    "hll_distinct_rollup",
    "skew_salted_agg",
    "pq_adc_topk",
    # round-2 additions (training-prep + temporal tiers); the headline
    # total is NOT comparable to round-1 numbers — per-query is
    "pack_sequences",
    "boilerplate_prune",
    "scd2_intervals",
    "rolling_7d_features",
    "dq_report",
    "embedding_neardup",
    "kmeans_lloyd",
    "shortest_path_bounded",
    "fuzzy_name_pairs",
    "ngram_decontaminate",
    "jaccard_prefix_join",
    # round-3 addition: the SemDeDup composition (cluster + salted
    # in-cluster cosine prune)
    "semantic_dedup",
    # round-6 addition: lexical retrieval (explode-free BM25 top-k)
    "bm25_topk",
    # round-7 additions: retrieval eval + hybrid RRF fusion + the
    # shuffle-free skew probe
    "bm25_eval",
    "hybrid_rrf_topk",
    "hot_keys_sketch",
    # round-8 additions: filtered vector search on the IVF scale path
    # + the cell-balance index-health diagnostic
    "ann_filtered_ivf",
    "ivf_cell_balance",
    # round-8 wave 2: TPC-H Q17/Q18 + the new LLM-pipeline tier
    "q17_small_quantity_revenue",
    "q18_large_volume_customer",
    "repeated_ngram_spans",
    "dedup_span_removal",
    "ngram_novelty",
    "vocab_divergence",
    "perplexity_bucket_sample",
    "label_exemplars",
    "simhash_hamming_pairs",
    "leakage_safe_split",
    "event_pattern_match",
    # round-9 additions: wide-key SimHash banding, the asymmetric
    # containment join, the second CEP pattern, real BPE counts
    "simhash_wide_pairs",
    "containment_join",
    "abandoned_cart",
    "session_funnel",
    "token_count_real_bpe",
    # round-9: the formerly fixture-blocked TPC-H tier over derived
    # views (the join-heavy two)
    "q12_shipmode_priority",
    "q21_late_suppliers",
    # round-9 wave 2: content-defined chunking + per-domain cap
    "cdc_chunk_dedup",
    "domain_cap_sample",
    # round-10: heterogeneous per-source quotas (VERDICT r9 item 5)
    "domain_cap_quota",
    # round-10: anchored exact-substring overlap pairs (Lee et al.)
    "verbatim_overlap_pairs",
    # round-11: the span-REMOVAL action twin of the verbatim pairs,
    # the persisted-index ANN probe, and the unicode tokenizer tier
    "verbatim_span_removal",
    "ann_index_probe",
    "ann_index_filtered_probe",
    "token_stats_unicode",
)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0

    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from wd2duckdb_spark import get_spark
    from wd2duckdb_spark.registry import all_queries

    spark = get_spark(app_name="wd2duckdb_spark_bench")
    spark.sparkContext.setLogLevel("ERROR")

    queries = all_queries()
    # Warm up the machinery every headline query shares — parquet
    # reader, whole-stage codegen, broadcast + shuffle paths, the noop
    # sink's class loading — on a trivial synthetic plan so none of it
    # is charged to the first measured query. (Standard steady-state
    # benchmarking; the queries themselves run exactly once, cold.)
    from pyspark.sql import functions as F

    lw = spark.read.parquet(f"{sf_dir}/lineitem.parquet").limit(1000)
    dim = spark.range(100).withColumnRenamed("id", "l_orderkey")
    (
        lw.join(F.broadcast(dim), "l_orderkey", "left")
        .groupBy("l_returnflag")
        .agg(F.sum("l_quantity").alias("s"), F.count("*").alias("c"))
        .orderBy("l_returnflag")
        .write.format("noop").mode("overwrite").save()
    )

    # Each query runs twice; reported time is the min. Single-shot
    # timings on this box swing 3-20x run-to-run (virtualized host,
    # CPU steal under load, JIT compile of each query's codegen on
    # first execution) — min-of-2 measures the engine, not the noise.
    # The FIRST-rep time is additionally reported per query (the
    # "queries_cold" sibling map — an additive key, the existing
    # contract is unchanged): rep 1 runs with an empty CacheManager, so
    # cold vs min separates plan-shape wins from cache-warm wins. Rep 1
    # is not "nothing cached" for every query: session memos of model
    # state survive clearCache() — notably the CC keep-list memo
    # (dedup._cc_labels, eagerly checkpointed) — so only the first
    # headline query that needs the near-dup clusters
    # (leakage_safe_split) pays the CC build, in its rep 1; anything
    # run after it in the same session reuses the memo. Cold numbers
    # carry full single-shot host noise — compare them across runs
    # only in aggregate.
    timings: dict[str, float] = {}
    cold: dict[str, float] = {}
    for name in HEADLINE:
        fn = queries[name]
        best = float("inf")
        for rep in range(2):
            # UI/event-log readability only (guide §1.5); no effect on
            # the timed work
            spark.sparkContext.setJobDescription(f"bench: {name} rep{rep}")
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            dt = time.perf_counter() - t0
            if rep == 0:
                cold[name] = round(dt, 3)
            best = min(best, dt)
        timings[name] = round(best, 3)
        # A few queries persist() small intermediates as optimizer
        # barriers (ngram_decontaminate, jaccard_prefix_join,
        # kmeans_lloyd) and return lazy plans, so they cannot
        # unpersist themselves. Spark's CacheManager matches by
        # canonicalized plan, so a LATER query with a plan-identical
        # subtree would silently hit this cache and measure warm —
        # clear between queries so each headline entry is charged its
        # own work. (Rep 2 of the SAME query intentionally keeps the
        # cache: min-of-2 measures steady state.)
        spark.catalog.clearCache()
    # the ingest jobs below must not carry the last query's label
    spark.sparkContext.setJobDescription(None)

    ingest_stats = _bench_ingest(spark)

    total = round(sum(timings.values()), 3)
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_runtime",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "queries_cold": cold,
                "sf": sf,
                "ingest": ingest_stats,
            }
        )
    )
    spark.stop()


def _bench_ingest(spark) -> dict:
    """Wikidata-dump ingest throughput — the reference's headline
    function (single-threaded Rust+DuckDB loop, main.rs:311-326).
    Generates a deterministic 20k-line dump once (cached in /tmp),
    then times the full 6-table ETL."""
    import shutil
    import tempfile

    from tools.gen_dump import write_dump
    from wd2duckdb_spark.ingest import ingest

    n_lines = int(os.environ.get("SPARK_GRAFT_INGEST_LINES", "20000"))
    dump = f"{tempfile.gettempdir()}/wd_bench_dump_{n_lines}.json"
    if not os.path.exists(dump):
        write_dump(dump, n_lines)

    # Warm up the ingest path's codegen (from_json, explodes, parquet
    # writers) on a 500-line slice so the measured run is steady-state,
    # consistent with the query warm-up above.
    warm_dump = f"{tempfile.gettempdir()}/wd_bench_warm_500.json"
    if not os.path.exists(warm_dump):
        write_dump(warm_dump, 500)
    warm_out = tempfile.mkdtemp(prefix="wd_warm_")
    shutil.rmtree(warm_out)
    ingest(spark, warm_dump, warm_out)
    shutil.rmtree(warm_out, ignore_errors=True)

    out = tempfile.mkdtemp(prefix="wd_bench_kg_")
    shutil.rmtree(out)
    t0 = time.perf_counter()
    ingest(spark, dump, out)
    dt = time.perf_counter() - t0

    # Query the graph we just built — the reference's actual workload
    # (DuckDB SQL over the 6-table schema, README.md:9-10): a 2-hop
    # traversal and a label join over the triples/vertex views.
    from pyspark.sql import functions as F

    from wd2duckdb_spark.operators.graph import k_hop
    from wd2duckdb_spark.views import register_views

    t = register_views(spark, out)
    t1 = time.perf_counter()
    start = t["vertex"].select("id").filter(F.col("id") % 97 == 0)
    hops = k_hop(t["edge"], start, 2)
    hops.count()
    hops.unpersist()
    t2 = time.perf_counter()
    (
        t["edge"]
        .join(t["vertex"].withColumnRenamed("id", "dst_id"), "dst_id")
        .groupBy("property_id")
        .agg(F.count("*").alias("n"), F.max("label").alias("sample_label"))
        .write.format("noop").mode("overwrite").save()
    )
    t3 = time.perf_counter()

    shutil.rmtree(out, ignore_errors=True)
    return {
        "lines": n_lines,
        "sec": round(dt, 3),
        "lines_per_sec": round(n_lines / dt, 1),
        "kg_2hop_sec": round(t2 - t1, 3),
        "kg_label_join_sec": round(t3 - t2, 3),
    }


if __name__ == "__main__":
    main()
