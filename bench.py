"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR.

Prints exactly ONE JSON line:
    {"metric": "...", "value": <total sec>, "unit": "sec",
     "queries": {"q1_pricing_summary": sec, ...}, "queries_cold": {...},
     "sf": <sf>, "ingest": {...}}

Each query executes to completion through the noop DataSource sink
(full computation, no driver-side collect — measures the engine, not
the pickle pipe). Every timing is a ``perfbench.harness`` span. The
warm-ups below are shared with the tools that time the same paths.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import tempfile

from perfbench.harness import Tracer
from tools.benchkit import best, noop, repeat


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
    # training-prep and temporal tiers
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
    # the SemDeDup composition (cluster + salted in-cluster cosine prune)
    "semantic_dedup",
    # lexical retrieval (explode-free BM25 top-k)
    "bm25_topk",
    # retrieval eval, hybrid RRF fusion, the shuffle-free skew probe
    "bm25_eval",
    "hybrid_rrf_topk",
    "hot_keys_sketch",
    # filtered vector search on the IVF scale path and the
    # cell-balance index-health diagnostic
    "ann_filtered_ivf",
    "ivf_cell_balance",
    # TPC-H Q17/Q18 and the LLM-pipeline tier
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
    # wide-key SimHash banding, the asymmetric containment join, the
    # second CEP pattern, real BPE counts
    "simhash_wide_pairs",
    "containment_join",
    "abandoned_cart",
    "session_funnel",
    "token_count_real_bpe",
    # the TPC-H queries over derived views (the join-heavy two)
    "q12_shipmode_priority",
    "q21_late_suppliers",
    # content-defined chunking and the per-domain cap
    "cdc_chunk_dedup",
    "domain_cap_sample",
    # heterogeneous per-source quotas
    "domain_cap_quota",
    # anchored exact-substring overlap pairs (Lee et al.)
    "verbatim_overlap_pairs",
    # the span-removal twin of the verbatim pairs, the persisted-index
    # ANN probe, and the unicode tokenizer tier
    "verbatim_span_removal",
    "ann_index_probe",
    "ann_index_filtered_probe",
    "token_stats_unicode",
)


def warm_up_queries(spark, sf_dir: str) -> None:
    """Warm up what every headline query shares — parquet reader,
    whole-stage codegen, broadcast and shuffle paths, the noop sink's
    class loading — on a trivial plan, so none of it is charged to the
    first measured query."""
    from pyspark.sql import functions as F

    lw = spark.read.parquet(f"{sf_dir}/lineitem.parquet").limit(1000)
    dim = spark.range(100).withColumnRenamed("id", "l_orderkey")
    noop(
        lw.join(F.broadcast(dim), "l_orderkey", "left")
        .groupBy("l_returnflag")
        .agg(F.sum("l_quantity").alias("s"), F.count("*").alias("c"))
        .orderBy("l_returnflag")
    )


def warm_up_ingest(spark) -> None:
    """Warm up the ingest path's codegen (from_json, explodes, parquet
    writers) on a 500-line dump, so a measured ingest is steady-state."""
    from tools.gen_dump import write_dump
    from wd2duckdb_spark.ingest import ingest

    dump = f"{tempfile.gettempdir()}/wd_bench_warm_500.json"
    if not os.path.exists(dump):
        write_dump(dump, 500)
    stage = tempfile.mkdtemp(prefix="wd_warm_")
    try:
        ingest(spark, dump, f"{stage}/kg")
    finally:
        shutil.rmtree(stage, ignore_errors=True)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0

    from wd2duckdb_spark import get_spark
    from wd2duckdb_spark.registry import all_queries

    spark = get_spark(app_name="wd2duckdb_spark_bench")
    spark.sparkContext.setLogLevel("ERROR")
    queries = all_queries()
    warm_up_queries(spark, sf_dir)

    # Each query runs twice; the reported time is the min, because
    # single-shot timings on a shared host swing 3-20x (CPU steal, JIT
    # of each query's codegen on first execution). The first run is
    # also reported ("queries_cold"): it runs with an empty
    # CacheManager, so cold vs min separates plan-shape wins from
    # cache-warm wins. Session memos of model state survive
    # clearCache() — notably the CC keep-list memo — so only the first
    # headline query that needs the near-dup clusters
    # (leakage_safe_split) pays the CC build, in its first run.
    tracer = Tracer()
    for name in HEADLINE:
        spark.sparkContext.setJobDescription(f"bench: {name}")
        repeat(tracer, name, 2, lambda: noop(queries[name](spark, sf_dir)))
        # persist() barriers (ngram_decontaminate, jaccard_prefix_join,
        # kmeans_lloyd) outlive their query, and the CacheManager
        # matches by canonical plan: clear between queries so no later
        # query measures warm off another's cache. The second run of
        # the same query keeps it on purpose (steady state).
        spark.catalog.clearCache()
    # the ingest jobs below must not carry the last query's label
    spark.sparkContext.setJobDescription(None)
    timings = {n: best(tracer, n) for n in HEADLINE}
    cold = {n: round(tracer.named(n)[0].seconds, 3) for n in HEADLINE}

    ingest_stats = _bench_ingest(spark, tracer)

    print(
        json.dumps(
            {
                "metric": "headline_queries_total_runtime",
                "value": round(sum(timings.values()), 3),
                "unit": "sec",
                "queries": timings,
                "queries_cold": cold,
                "sf": sf,
                "ingest": ingest_stats,
            }
        )
    )
    spark.stop()


def _bench_ingest(spark, tracer) -> dict:
    """Wikidata-dump ingest throughput — the reference's headline
    function (single-threaded Rust+DuckDB loop, main.rs:311-326) — on
    a deterministic 20k-line dump (cached in the temp dir), then the
    reference's actual workload over what it wrote (DuckDB SQL over
    the 6-table schema, README.md:9-10): a 2-hop traversal and a label
    join over the triples/vertex views."""
    from pyspark.sql import functions as F

    from tools.gen_dump import write_dump
    from wd2duckdb_spark.ingest import ingest
    from wd2duckdb_spark.operators.graph import k_hop
    from wd2duckdb_spark.views import register_views

    n_lines = int(os.environ.get("SPARK_GRAFT_INGEST_LINES", "20000"))
    dump = f"{tempfile.gettempdir()}/wd_bench_dump_{n_lines}.json"
    if not os.path.exists(dump):
        write_dump(dump, n_lines)
    warm_up_ingest(spark)

    stage = tempfile.mkdtemp(prefix="wd_bench_kg_")
    try:
        with tracer.span("ingest"):
            ingest(spark, dump, f"{stage}/kg")
        t = register_views(spark, f"{stage}/kg")
        with tracer.span("kg_2hop"):
            start = t["vertex"].select("id").filter(F.col("id") % 97 == 0)
            hops = k_hop(t["edge"], start, 2)
            hops.count()
            hops.unpersist()
        with tracer.span("kg_label_join"):
            noop(
                t["edge"]
                .join(t["vertex"].withColumnRenamed("id", "dst_id"), "dst_id")
                .groupBy("property_id")
                .agg(F.count("*").alias("n"), F.max("label").alias("sample_label"))
            )
    finally:
        shutil.rmtree(stage, ignore_errors=True)
    sec = tracer.named("ingest")[0].seconds
    return {
        "lines": n_lines,
        "sec": round(sec, 3),
        "lines_per_sec": round(n_lines / sec, 1),
        "kg_2hop_sec": best(tracer, "kg_2hop"),
        "kg_label_join_sec": best(tracer, "kg_label_join"),
    }


if __name__ == "__main__":
    main()
