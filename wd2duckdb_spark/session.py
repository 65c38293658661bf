"""SparkSession factory with scale-oriented defaults.

The engine targets a large multi-executor cluster; tests run on
``local[N]``. Defaults chosen for the 100 TB design point:

- AQE on (runtime re-plan, skew-join splitting, partition coalescing) —
  real Wikidata edges are heavily skewed (P31/Q5 hub keys, SURVEY §4.3).
- Arrow enabled for the few Pandas-UDF extension operators.
- UTC session timezone so timestamp semantics match the DuckDB oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "wd2duckdb_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` locally; on a real
    cluster leave it None and let spark-submit decide.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # Local mode: match core count. On a cluster this should be
        # ~2-3x total cores or left to AQE coalescing from a high initial.
        shuffle_partitions = int(cpus)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # AQE's coalescing floor is byte-based (default 1 MB), which
        # under-parallelizes CPU-bound stages whose shuffle input is
        # small but whose per-row work is heavy (banded levenshtein,
        # regex, GEMM blocks): a 15 MB shuffle coalesces to 15 tasks on
        # 32 cores. 64 KB keeps parallelismFirst's
        # total/defaultParallelism target in charge instead; measured
        # 3.7 s -> 2.1 s on fuzzy_name_pairs at sf0.1. On a real
        # cluster per-partition bytes are large and the floor almost
        # never binds, so the change is local-regime-only by design.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # Broadcast threshold: vertex/dim tables are broadcast in label
        # joins (SURVEY §2.2); 64 MB is safe for 128 GiB executors.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Parquet: binary-as-string off, predicate pushdown on (defaults,
        # pinned here so the plan assertions in tests are stable).
        .config("spark.sql.parquet.filterPushdown", "true")
        # Python DataSource filter pushdown (Spark 4.1, off by default):
        # lets sources/pydatasource.py reject lines source-side.
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # Reclaim reliable df.checkpoint() files once their RDD is
        # garbage-collected instead of only at application stop: a
        # long-lived session that clear_memos()-es and re-materializes
        # iterative stages (CC/PageRank/Lloyd supersteps) would
        # otherwise accumulate one checkpoint snapshot per call for
        # its whole lifetime. Context-construction
        # conf — ContextCleaner reads it once at startup, so it CANNOT
        # be enabled later via spark.conf.set; it must be here.
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
