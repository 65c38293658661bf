"""Physical layout: the Spark equivalent of the reference's indices.

The reference creates secondary indices on ``src_id``/``dst_id``
before loading (value.rs:332-350) so the output DB answers point
lookups and traversals without scans. Spark's equivalents
(SURVEY §4.3):

- **sortWithinPartitions + parquet min/max stats** (the ingest default,
  ingest.py ``edge_layout="sort"``): row-group pruning for point/range
  predicates on src_id — the cheap, always-on tier.
- **bucketBy(src_id)** (this module): hash-bucketed, sorted warehouse
  tables. Equi-joins and aggregations on the bucket key skip the
  exchange entirely — the self-join traversal path (`edge ⋈ edge`)
  becomes shuffle-free, which at 100 TB is the difference between a
  co-located join and re-shuffling the whole edge set per hop.

Bucket count guidance: ≈ |edge| × row_width / 128 MB, rounded to a
power of two; 64 fits sf≤0.1 fixtures, production Wikidata (~8 B
edges) would use 4096+.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from wd2duckdb_spark.ingest import TABLE_NAMES


def write_bucketed(
    tables: dict[str, DataFrame],
    database: str = "kg",
    n_buckets: int = 64,
    mode: str = "overwrite",
) -> None:
    """Save the six tables as bucketed+sorted managed tables.

    Edge-class tables bucket/sort on ``src_id``; ``vertex`` on ``id``.
    Join keys co-locate: ``edge JOIN edge`` / ``edge JOIN vertex`` on
    the bucket column plan with zero Exchange on the bucketed sides.

    Each table is repartitioned on its bucket key before the write:
    bucket assignment uses the same murmur3 hash as ``repartition``,
    so every writer task holds exactly one bucket and each bucket is
    ONE file. Without it, every task writes a sliver of every bucket
    (tasks × buckets small files) and Spark drops the sorted-bucket
    property at read time (it only trusts sortBy for single-file
    buckets) — measured 0.86× vs flat on a 2-hop traversal before,
    1.5× after (tools/bench_bucketed_traversal.py).
    """
    spark = next(iter(tables.values())).sparkSession
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {database}")
    for name in TABLE_NAMES:
        if name not in tables:
            continue
        df = tables[name]
        key = "id" if name == "vertex" else "src_id"
        (
            df.repartition(n_buckets, key)
            .write.mode(mode)
            .bucketBy(n_buckets, key)
            .sortBy(key)
            .format("parquet")
            .saveAsTable(f"{database}.{name}")
        )


def bucketed_table(spark: SparkSession, name: str, database: str = "kg") -> DataFrame:
    return spark.table(f"{database}.{name}")


def morton_code(a_col: str, b_col: str, bits: int = 21):
    """Z-order (Morton) interleaving of two non-negative long columns —
    pure JVM bit expressions, no UDF.

    ``bits`` per column (21+21 = 42 result bits fits a long with room;
    21 bits cover the 0..2M id range of Qids/Pids after the §1.3
    encoding's 1e9 offsets are stripped — callers pass raw columns and
    the code uses the LOW ``bits`` bits, which is what locality needs).
    """
    from pyspark.sql import functions as F

    a = F.col(a_col).cast("long")
    b = F.col(b_col).cast("long")
    code = F.lit(0).cast("long")
    for i in range(bits):
        abit = F.shiftright(a, i).bitwiseAND(F.lit(1))
        bbit = F.shiftright(b, i).bitwiseAND(F.lit(1))
        code = (
            code
            .bitwiseOR(F.shiftleft(abit, 2 * i))
            .bitwiseOR(F.shiftleft(bbit, 2 * i + 1))
        )
    return code


def write_zordered(
    df: DataFrame,
    path: str,
    cols: tuple[str, str] = ("src_id", "dst_id"),
    n_files: int = 8,
    mode: str = "overwrite",
) -> None:
    """Write parquet Z-ordered on TWO columns — the layout that mirrors
    the reference's BOTH-endpoint indexing (src_id AND dst_id,
    value.rs:332-350).

    A plain ``sortWithinPartitions(src_id, dst_id)`` gives row-group
    min/max pruning on the leading column only: dst_id values span the
    whole domain inside every row group, so a dst-side lookup (reverse
    traversal: "who points AT Q42") scans everything. Morton
    interleaving keeps rows close in BOTH dimensions, so each row
    group covers a small rectangle of (src, dst) space and min/max
    stats prune for either column. Range-partitioning by the code
    extends the same locality across files — at 100 TB a point lookup
    on either endpoint opens a handful of files, not all of them.
    """
    zcol = morton_code(*cols)
    (
        df.repartitionByRange(n_files, zcol.alias("_z"))
        .sortWithinPartitions(zcol.alias("_z"))
        .write.mode(mode)
        .parquet(path)
    )


def write_date_partitioned(
    df: DataFrame,
    path: str,
    ts_col: str = "ts",
    mode: str = "overwrite",
) -> None:
    """Write an event-style table hive-partitioned by event date.

    The scale tier above row-group stats: a date predicate prunes whole
    directories before any file is opened (``PartitionFilters`` in the
    scan, probed by :func:`wd2duckdb_spark.plans.partition_filters`).
    At 100 TB with daily arrival this makes time-bounded queries touch
    only their days — and it composes with the in-file sort/min-max
    tier of :func:`write_bucketed`/``ingest(edge_layout="sort")``.
    """
    from pyspark.sql import functions as F

    (
        df.withColumn("event_date", F.to_date(ts_col))
        .repartition("event_date")  # one writer set per partition dir
        .write.mode(mode)
        .partitionBy("event_date")
        .parquet(path)
    )


def write_bloom_filtered(
    df: DataFrame,
    path: str,
    bloom_cols: tuple[str, ...],
    ndv: int = 100_000,
    mode: str = "overwrite",
) -> None:
    """Parquet with per-column bloom filters — row-group pruning for
    point predicates on columns whose values DON'T sort/cluster, where
    min/max footer stats are useless (high-entropy IDs scattered over
    every file: the dst_id of an edge table sorted by src_id, a text
    hash, a UUID).

    min/max stats prune by range; bloom filters prune by membership —
    `col = literal` probes the filter and skips row groups that
    definitely lack the value, with ~1% false-positive rate at the
    configured NDV. The reader applies them transparently on scan
    (parquet-mr side), so the query code doesn't change — the same
    tier as the reference's secondary index on dst_id
    (value.rs:332-350) without maintaining an index structure.

    ndv sizes the filter (bits ∝ distinct values); oversizing wastes
    footer bytes, undersizing inflates false positives — set it to the
    per-row-group distinct estimate, not the global one.
    """
    w = df.write.mode(mode)
    for c in bloom_cols:
        w = w.option(f"parquet.bloom.filter.enabled#{c}", "true").option(
            f"parquet.bloom.filter.expected.ndv#{c}", str(ndv)
        )
    w.parquet(path)


def compute_stats(
    spark: SparkSession,
    tables: tuple[str, ...],
    columns: bool = True,
) -> None:
    """ANALYZE TABLE over saved tables: table-level row/byte counts
    plus (optionally) per-column NDV/min/max histograms — the metadata
    that unlocks cost-based join reordering (`spark.sql.cbo.enabled` +
    `joinReorder`). Without stats Catalyst keeps the syntactic join
    order; with them a 3+-table query starts from the most selective
    pair (pinned in test_plans.py::test_cbo_join_reorder_with_stats).
    At 100 TB, stats collection is a scheduled maintenance job next to
    compaction — stale NDVs mis-cost joins.
    """
    for t in tables:
        suffix = " FOR ALL COLUMNS" if columns else ""
        spark.sql(f"ANALYZE TABLE {t} COMPUTE STATISTICS{suffix}")
