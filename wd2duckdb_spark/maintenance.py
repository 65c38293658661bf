"""Table maintenance: small-file compaction and key-based upsert.

The reference writes its DuckDB file once and is done (single
transaction, commit-on-drop — main.rs:300-306); a 100 TB parquet lake
that is *continuously fed* (the streaming ingest path) instead
accumulates small files and receives corrections. These two operators
are the maintenance tier that keeps the §4.3 layout guarantees true
over time:

- :func:`compact` — N small files → ceil(bytes/target) right-sized
  ones, preserving (or establishing) the sort-column layout whose
  row-group min/max stats act as the reference's indices.
- :func:`upsert` — merge an updates set into a base table by key
  (the MERGE-by-key a correction feed needs; plain parquet has no
  transactional MERGE, so the engine expresses it as anti-join ∪
  updates — one shuffle-free broadcast anti join when the update set
  is small, which is the common case).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, MapType, StructType


def dir_bytes(spark: SparkSession, path: str) -> int:
    """Total bytes under ``path`` via the Hadoop FileSystem API — works
    on any FS Spark can reach (local, HDFS, s3a), not just local disk."""
    jvm = spark._jvm
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(hconf)
    return fs.getContentSummary(p).getLength()


def compact(
    spark: SparkSession,
    path: str,
    out_path: str,
    sort_cols: tuple[str, ...] | None = None,
    target_file_bytes: int = 128 << 20,
    mode: str = "overwrite",
) -> int:
    """Rewrite a many-small-files parquet dir into ``ceil(size/target)``
    right-sized files; returns the output file count.

    Without ``sort_cols`` this is a ``coalesce`` — NO shuffle: output
    partitions concatenate whole input files, so each input file's
    internally-sorted row groups keep their narrow min/max stats even
    though the concatenation isn't globally sorted. That makes
    shuffle-free compaction safe for the ingest layout (edge files are
    each sorted by src_id).

    With ``sort_cols`` it is a ``repartitionByRange + sortWithin`` —
    one shuffle that (re-)establishes the global range layout, the
    stronger guarantee worth paying for when files arrived unsorted
    (e.g. a streaming sink's micro-batch files).
    """
    df = spark.read.parquet(path)
    n = max(1, math.ceil(dir_bytes(spark, path) / target_file_bytes))
    if sort_cols:
        out = df.repartitionByRange(n, *sort_cols).sortWithinPartitions(*sort_cols)
    else:
        out = df.coalesce(n)
    out.write.mode(mode).parquet(out_path)
    return n


def compact_partitioned(
    spark: SparkSession,
    path: str,
    partition_col: str,
    target_file_bytes: int = 128 << 20,
    sort_within: tuple[str, ...] = (),
    write_options: dict[str, str] | None = None,
) -> int:
    """In-place compaction of a hive-partitioned parquet directory
    that PRESERVES the partition layout; returns the shuffle
    partition count used.

    The dedup-at-ingest index (streaming/dedup_ingest.py) is the
    motivating case: it accrues one ``batch=<id>`` directory of up to
    shuffle-partition-many small files per micro-batch, forever — but
    its replay filter reads the ``batch`` partition column, so a
    plain :func:`compact` (which would flatten the layout) is off the
    table. This rewrite repartitions on ``(partition_col, salt)`` and
    writes with ``partitionBy``, collapsing every partition directory
    to ``ceil(value_bytes/target)``-ish files (one per (value, salt)
    cell) while keeping the directory structure byte-compatible for
    readers.

    Swap protocol (offline op — run with writers stopped): the
    compacted copy is fully written to ``<path>._compact`` first, the
    original is renamed to ``<path>._precompact``, the copy renamed
    into place, and only then is the backup deleted. A crash at any
    point leaves either the original or the backup intact; recovery
    is renaming ``._precompact`` back (documented failure mode, same
    class as :func:`upsert_stream`'s staging swap).

    ``sort_within`` re-sorts rows inside each output file and
    ``write_options`` forwards parquet writer options — together they
    let a caller preserve a physical-layout contract through the
    rewrite (the dedup-at-ingest index needs key-sorted ~256 KB row
    groups for its probe pruning; see streaming/dedup_ingest.py).
    """
    df = spark.read.parquet(path)
    n = max(1, math.ceil(dir_bytes(spark, path) / target_file_bytes))
    # split oversized partition values across ceil(n / n_values) salt
    # cells so target_file_bytes holds even when one value dominates
    nvals = df.select(partition_col).distinct().count()
    k = max(1, math.ceil(n / max(nvals, 1)))
    salt = F.pmod(F.xxhash64(*df.columns), F.lit(k))
    tmp = path.rstrip("/") + "._compact"
    backup = path.rstrip("/") + "._precompact"
    shaped = df.repartition(max(n, nvals), F.col(partition_col), salt)
    if sort_within:
        # partition_col first: partitionBy writes REQUIRE an ordering
        # on the partition column and inject their own (unstable)
        # SortExec when it's missing — which would scramble the
        # caller's sort. A [partition_col, *sort_within] prefix
        # ordering satisfies the writer's requirement, so the sort
        # below is the only one that runs.
        shaped = shaped.sortWithinPartitions(partition_col, *sort_within)
    writer = shaped.write.mode("overwrite")
    for opt_k, opt_v in (write_options or {}).items():
        writer = writer.option(opt_k, opt_v)
    writer.partitionBy(partition_col).parquet(tmp)
    swap_in(spark, path, tmp, backup, op="compact_partitioned")
    return max(n, nvals)


def swap_in(
    spark: SparkSession, path: str, tmp: str, backup: str, op: str
) -> None:
    """Atomic-enough directory swap: ``path`` → ``backup``, ``tmp`` →
    ``path``, delete ``backup``. A crash at any point leaves either
    the original or the backup intact; recovery is renaming the
    ``._precompact`` backup into place. Shared by every offline
    rewrite (compact_partitioned, lake_index.fold)."""
    jvm, fs = _fs(spark, path)
    Path = jvm.org.apache.hadoop.fs.Path
    fs.delete(Path(backup), True)
    if not fs.rename(Path(path), Path(backup)):
        raise IOError(f"{op}: cannot move {path} aside")
    if not fs.rename(Path(tmp), Path(path)):
        fs.rename(Path(backup), Path(path))  # restore the original
        raise IOError(f"{op}: swap failed for {path}")
    fs.delete(Path(backup), True)


def upsert(base: DataFrame, updates: DataFrame, keys: list[str]) -> DataFrame:
    """Merge-by-key: rows of ``updates`` replace base rows with the same
    key; unmatched base rows survive; new keys append.

    Plan shape: ``base LEFT ANTI JOIN update-keys`` ∪ ``updates``. The
    anti join probes only the key columns of the update set — for the
    typical correction feed (updates ≪ base) Catalyst broadcasts it and
    the base table never shuffles; AQE falls back to a shuffled anti
    join when the update set is genuinely large. The union is
    by-name, so column order drift between feeds is harmless.
    """
    update_keys = updates.select(*keys).distinct()
    kept = base.join(update_keys, keys, "left_anti")
    return kept.unionByName(updates)


def merge_aggregate(
    base_agg: DataFrame,
    delta_rows: DataFrame,
    keys: list[str],
    count_col: str = "n",
    sum_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Incremental materialized-aggregate maintenance: fold a batch of
    NEW raw rows into an existing per-key aggregate without touching
    the raw history.

    ``base_agg`` holds per-key mergeable partials (a count column plus
    sum columns); ``delta_rows`` are raw incoming rows carrying the
    same key columns and, for each entry of ``sum_cols``, a raw value
    column under that partial's name (project/rename before calling). The delta is aggregated alone (small — one
    micro-batch / one day), then combined with the base by summing
    partials per key. Cost is O(|delta| + |affected keys|) — at 100 TB
    the alternative, re-aggregating the raw table, is the whole-world
    scan this operator exists to avoid. Works for any algebraic
    aggregate kept in partial form (count, sum; avg = sum/count at
    read time; min/max likewise mergeable); the sketch tier
    (operators/sketches.py) extends the same idea to distinct counts
    and quantiles.
    """
    from pyspark.sql import functions as F

    delta_agg = delta_rows.groupBy(*keys).agg(
        F.count("*").alias(count_col),
        *[F.sum(c).alias(c) for c in sum_cols],
    )
    both = base_agg.unionByName(delta_agg)
    return both.groupBy(*keys).agg(
        F.sum(count_col).alias(count_col),
        *[F.sum(c).alias(c) for c in sum_cols],
    )


def upsert_stream(
    events,
    base_path: str,
    keys: list[str],
    checkpoint: str,
    available_now: bool = True,
):
    """Streaming MERGE sink: each micro-batch upserts into the base
    parquet table via foreachBatch + :func:`upsert` — the
    exactly-once-per-batch correction feed (checkpoint tracks which
    source files were folded in).

    The rewrite cost is the base table once per batch — right for
    dimension-scale tables (the vertex/labels case); fact-scale
    streams should append + compact instead (see :func:`compact`).

    Crash safety of the swap (write staging → delete base → rename):
    a batch that dies mid-staging-write leaves the base untouched; a
    batch that dies between the delete and the rename leaves a
    complete staging dir and no base, which the next batch restores
    by renaming staging back into place BEFORE merging. Existence is
    checked explicitly with the FileSystem API — a transient read
    error propagates and fails the batch (Structured Streaming
    retries it) instead of being mistaken for "first batch", which
    would silently rebuild the base from one micro-batch. Replayed
    batches are harmless: :func:`upsert` is key-replace, idempotent.
    """

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        jvm = spark._jvm
        hconf = spark.sparkContext._jsc.hadoopConfiguration()
        Path = jvm.org.apache.hadoop.fs.Path
        base_p = Path(base_path)
        fs = base_p.getFileSystem(hconf)
        tmp = base_path.rstrip("/") + "._staging"
        tmp_p = Path(tmp)
        if not fs.exists(base_p) and fs.exists(tmp_p):
            # previous batch crashed between delete and rename: the
            # staging dir is the fully-written merged base — restore.
            fs.rename(tmp_p, base_p)
        if fs.exists(base_p):
            base = spark.read.parquet(base_path)  # read errors propagate
            merged = upsert(base, batch_df, keys)
        else:
            merged = batch_df  # genuinely the first batch
        # rewrite to a temp dir then swap: a failed write must not
        # destroy the current base (parquet has no transaction log)
        merged.write.mode("overwrite").parquet(tmp)
        fs.delete(base_p, True)
        fs.rename(tmp_p, base_p)

    writer = events.writeStream.foreachBatch(_merge).option(
        "checkpointLocation", checkpoint
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


# ---------------------------------------------------------------------------
# Versioned snapshots (time travel) — a minimal transaction log over parquet
# ---------------------------------------------------------------------------

_LOG_DIR = "_log"
_DATA_DIR = "data"


def _fs(spark: SparkSession, path: str):
    jvm = spark._jvm
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(path)
    return jvm, p.getFileSystem(hconf)


def _manifest_versions(spark: SparkSession, table_dir: str) -> list[int]:
    jvm, fs = _fs(spark, table_dir)
    log_p = jvm.org.apache.hadoop.fs.Path(f"{table_dir}/{_LOG_DIR}")
    if not fs.exists(log_p):
        return []
    out = []
    for st in fs.listStatus(log_p):
        name = st.getPath().getName()
        if name.endswith(".json") and not name.startswith("."):
            out.append(int(name[: -len(".json")]))
    return sorted(out)


def _read_manifest(spark: SparkSession, table_dir: str, version: int) -> dict:
    import json as _json

    jvm, fs = _fs(spark, table_dir)
    p = jvm.org.apache.hadoop.fs.Path(
        f"{table_dir}/{_LOG_DIR}/{version:08d}.json"
    )
    stream = fs.open(p)
    try:
        data = bytes(
            jvm.org.apache.commons.io.IOUtils.toByteArray(stream)
        )
    finally:
        stream.close()
    return _json.loads(data.decode("utf-8"))


def snapshot_write(
    spark: SparkSession,
    df: DataFrame,
    table_dir: str,
    mode: str = "append",
) -> int:
    """Commit ``df`` to a versioned parquet table and return the new
    version number — the Delta/Iceberg commit protocol reduced to its
    load-bearing core, with no engine dependency.

    Layout: ``data/v{N}/`` parquet directories (immutable once
    written) plus ``_log/{N:08d}.json`` manifests, each listing the
    data directories that make up that version (append = previous
    list + the new dir; overwrite = just the new dir). The commit is
    the atomic rename of a hidden temp manifest onto its final name:
    rename-onto-existing fails on Hadoop filesystems, so two racing
    writers cannot both claim a version — the loser re-reads the log
    and retries at N+1 (optimistic concurrency). Readers resolve a
    version from the manifest alone and never list ``data/``, which
    kills both the eventual-consistency-listing hazard and the
    O(files) planning cost: at 100 TB the manifest stays KB-sized
    because it lists directories, not files.

    Crash safety: a writer that dies mid-parquet-write leaves an
    orphaned ``data/v{N}`` that no manifest references — invisible to
    readers, reclaimed by :func:`snapshot_vacuum`. NOTE: object
    stores without atomic rename (raw S3) need a locking layer for
    the final rename, same as Delta's S3 LogStore.
    """
    import json as _json

    if mode not in ("append", "overwrite"):
        raise ValueError(f"mode must be append|overwrite, got {mode!r}")
    jvm, fs = _fs(spark, table_dir)
    Path = jvm.org.apache.hadoop.fs.Path
    fs.mkdirs(Path(f"{table_dir}/{_LOG_DIR}"))

    for _ in range(10):  # optimistic-concurrency retries
        versions = _manifest_versions(spark, table_dir)
        new_v = (versions[-1] + 1) if versions else 0
        data_rel = f"{_DATA_DIR}/v{new_v:08d}"
        df.write.mode("error").parquet(f"{table_dir}/{data_rel}")
        if mode == "append" and versions:
            prev = _read_manifest(spark, table_dir, versions[-1])
            dirs = prev["dirs"] + [data_rel]
        else:
            dirs = [data_rel]
        manifest = {
            "version": new_v,
            "op": mode,
            "dirs": dirs,
        }
        tmp = Path(f"{table_dir}/{_LOG_DIR}/.tmp-{new_v:08d}.json")
        final = Path(f"{table_dir}/{_LOG_DIR}/{new_v:08d}.json")
        out = fs.create(tmp, True)
        try:
            out.write(_json.dumps(manifest).encode("utf-8"))
        finally:
            out.close()
        if fs.rename(tmp, final):
            return new_v
        # lost the race: another writer committed this version; the
        # just-written data dir becomes an orphan (vacuumable) and we
        # retry against the updated log
        fs.delete(tmp, False)
        fs.delete(Path(f"{table_dir}/{data_rel}"), True)
    raise RuntimeError(
        f"snapshot_write: lost the commit race 10 times at {table_dir}"
    )


def snapshot_read(
    spark: SparkSession,
    table_dir: str,
    version: int | None = None,
    merge_schema: bool = False,
) -> DataFrame:
    """Read a versioned table at ``version`` (default: latest). Plain
    multi-path parquet scan of the manifest's directories — pushdown,
    pruning, and split planning all apply as usual.

    ``merge_schema=True`` unions the footer schemas across the
    version's data directories (columns added by later appends come
    back NULL for older rows) — schema evolution without rewriting
    history, at the cost of one footer read per directory.
    """
    versions = _manifest_versions(spark, table_dir)
    if not versions:
        raise FileNotFoundError(f"no committed versions at {table_dir}")
    v = versions[-1] if version is None else version
    if v not in versions:
        raise FileNotFoundError(f"version {v} not in {versions}")
    manifest = _read_manifest(spark, table_dir, v)
    reader = spark.read
    if merge_schema:
        reader = reader.option("mergeSchema", "true")
    return reader.parquet(*[f"{table_dir}/{d}" for d in manifest["dirs"]])


def snapshot_history(spark: SparkSession, table_dir: str) -> list[dict]:
    """The commit log, oldest first: version, op, #data-dirs."""
    return [
        {
            "version": m["version"],
            "op": m["op"],
            "n_dirs": len(m["dirs"]),
        }
        for m in (
            _read_manifest(spark, table_dir, v)
            for v in _manifest_versions(spark, table_dir)
        )
    ]


def snapshot_stream(
    events,
    table_dir: str,
    checkpoint: str,
    mode: str = "append",
    available_now: bool = True,
):
    """Streaming sink into a versioned snapshot table: every
    micro-batch becomes one atomic commit, so readers always see a
    consistent version (never a half-written batch) and the table's
    history doubles as an audit log of the stream.

    Exactly-once per batch comes from the checkpoint (which source
    files were consumed) plus the commit protocol; a batch replayed
    after a crash before its manifest rename re-commits the same rows
    under a fresh version, and the orphaned first attempt is invisible
    to readers and vacuumable. Contrast with :func:`upsert_stream`,
    which rewrites a keyed base in place — this sink is append-only
    history with time travel.
    """

    def _commit(batch_df: DataFrame, batch_id: int) -> None:
        snapshot_write(batch_df.sparkSession, batch_df, table_dir, mode)

    writer = events.writeStream.foreachBatch(_commit).option(
        "checkpointLocation", checkpoint
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def snapshot_diff(
    spark: SparkSession,
    table_dir: str,
    v_from: int,
    v_to: int,
    keys: list[str] | None = None,
) -> DataFrame:
    """Change-data feed between two committed versions.

    Returns (key columns…, _change) rows where ``_change`` ∈
    {insert, delete, update}. Two strategies, chosen from the
    MANIFESTS — never by scanning data:

    - **append-only lineage** (``v_from``'s directory list is a subset
      of ``v_to``'s — the common case for event/fact tables): the diff
      is exactly the rows of the added directories. Zero joins, zero
      shuffles; the plan is a scan of only the new data, however large
      the table — this is why the manifest lists immutable directories
      instead of files.
    - **rewritten lineage** (overwrite/restore in between): a keyed
      full-outer diff of the two snapshots — one co-partitioned
      shuffle join on ``keys`` (which must uniquely identify rows);
      non-key columns are compared via a content hash computed
      scan-side, so the shuffle carries (key, 8-byte hash), not the
      payload.
    """
    mf_from = _read_manifest(spark, table_dir, v_from)
    mf_to = _read_manifest(spark, table_dir, v_to)
    from_dirs, to_dirs = set(mf_from["dirs"]), set(mf_to["dirs"])
    key_cols = keys or []

    if from_dirs <= to_dirs:
        added = sorted(to_dirs - from_dirs)
        base = snapshot_read(spark, table_dir, v_to)
        out_cols = key_cols or base.columns
        if not added:
            return (
                base.limit(0)
                .select(*out_cols)
                .withColumn("_change", F.lit("insert"))
            )
        return (
            spark.read.parquet(*[f"{table_dir}/{d}" for d in added])
            .select(*out_cols)
            .withColumn("_change", F.lit("insert"))
        )

    if not keys:
        raise ValueError(
            "snapshot_diff: lineage was rewritten between "
            f"v{v_from} and v{v_to}; pass unique `keys` for a keyed diff"
        )
    a = snapshot_read(spark, table_dir, v_from)
    b = snapshot_read(spark, table_dir, v_to)
    nonkeys = sorted(c for c in b.columns if c not in keys)

    # Content hash: xxhash64 over the non-key columns, not
    # md5(to_json(struct(...))) — to_json drops null fields and gives
    # maps nondeterministic key order, so identical rows could hash
    # differently ("update" noise). Two subtleties:
    #
    # - Spark forbids hashing MapType at ANY nesting depth, so maps
    #   are normalized RECURSIVELY (through arrays and structs) to
    #   key-sorted entry arrays before hashing;
    # - xxhash64 folds a NULL child by leaving the accumulator
    #   untouched, so ('x', NULL) and (NULL, 'x') would collide —
    #   every value is therefore paired with its isNull flag, making
    #   null positions part of the hash AT EVERY NESTING DEPTH:
    #   struct fields, array elements, and map values
    #   are each wrapped as (isnull, value) structs by _tag, so a
    #   struct flipping ('x', NULL) → (NULL, 'x') — or an array
    #   ['x', NULL] → [NULL, 'x'] — hashes differently. Map keys are
    #   never null in Spark and stay bare.
    #
    # When `keys` covers every column there is nothing to hash and no
    # update is possible — presence-only diff (lit hash).
    def _tag(col: Column, dt) -> Column:
        return F.struct(col.isNull().alias("n"), _norm(col, dt).alias("v"))

    def _norm(col: Column, dt) -> Column:
        if isinstance(dt, MapType):
            entries = F.transform(
                F.map_entries(col),
                lambda e: F.struct(
                    _norm(e["key"], dt.keyType).alias("key"),
                    _tag(e["value"], dt.valueType).alias("value"),
                ),
            )
            return F.array_sort(entries)
        if isinstance(dt, ArrayType):
            return F.transform(col, lambda x: _tag(x, dt.elementType))
        if isinstance(dt, StructType):
            return F.struct(
                *[
                    _tag(col[f.name], f.dataType).alias(f.name)
                    for f in dt.fields
                ]
            )
        return col

    def hcol(df: DataFrame, name: str) -> DataFrame:
        parts: list[Column] = []
        for c in nonkeys:
            parts.append(F.col(c).isNull())
            parts.append(_norm(F.col(c), df.schema[c].dataType))
        h = F.xxhash64(*parts) if nonkeys else F.lit(0)
        return df.select(*keys, h.alias(name))

    j = hcol(a, "_ha").join(hcol(b, "_hb"), keys, "full_outer")
    change = (
        F.when(F.col("_ha").isNull(), "insert")
        .when(F.col("_hb").isNull(), "delete")
        .when(F.col("_ha") != F.col("_hb"), "update")
    )
    return (
        j.withColumn("_change", change)
        .filter(F.col("_change").isNotNull())
        .select(*keys, "_change")
    )


def snapshot_restore(spark: SparkSession, table_dir: str, version: int) -> int:
    """Roll the table back to ``version`` by committing a NEW version
    whose manifest references the old version's data directories —
    zero data copied or deleted, history preserved (the rolled-back
    states remain time-travelable), same optimistic-concurrency rename
    commit as :func:`snapshot_write`. Returns the new version.

    Caveat: restoring past a :func:`snapshot_vacuum` horizon fails at
    READ time (the directories are gone) — vacuum trades time-travel
    depth for space, exactly as in Delta/Iceberg.
    """
    import json as _json

    jvm, fs = _fs(spark, table_dir)
    Path = jvm.org.apache.hadoop.fs.Path
    if version not in _manifest_versions(spark, table_dir):
        raise FileNotFoundError(f"version {version} not at {table_dir}")
    target = _read_manifest(spark, table_dir, version)
    for _ in range(10):
        versions = _manifest_versions(spark, table_dir)
        new_v = versions[-1] + 1
        manifest = {
            "version": new_v,
            "op": "restore",
            "dirs": target["dirs"],
            "restored_from": version,
        }
        tmp = Path(f"{table_dir}/{_LOG_DIR}/.tmp-{new_v:08d}.json")
        final = Path(f"{table_dir}/{_LOG_DIR}/{new_v:08d}.json")
        out = fs.create(tmp, True)
        try:
            out.write(_json.dumps(manifest).encode("utf-8"))
        finally:
            out.close()
        if fs.rename(tmp, final):
            return new_v
        fs.delete(tmp, False)
    raise RuntimeError(
        f"snapshot_restore: lost the commit race 10 times at {table_dir}"
    )


def snapshot_vacuum(
    spark: SparkSession, table_dir: str, keep_last: int = 1
) -> list[str]:
    """Delete data directories unreachable from the last ``keep_last``
    manifests (orphans from crashed/raced writers, plus dirs only
    older versions reference). Returns the deleted relative paths.
    Time travel remains valid for the kept versions only."""
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    jvm, fs = _fs(spark, table_dir)
    Path = jvm.org.apache.hadoop.fs.Path
    versions = _manifest_versions(spark, table_dir)
    live: set[str] = set()
    for v in versions[-keep_last:]:
        live.update(_read_manifest(spark, table_dir, v)["dirs"])
    data_p = Path(f"{table_dir}/{_DATA_DIR}")
    deleted = []
    if fs.exists(data_p):
        for st in fs.listStatus(data_p):
            rel = f"{_DATA_DIR}/{st.getPath().getName()}"
            if rel not in live:
                fs.delete(st.getPath(), True)
                deleted.append(rel)
    return sorted(deleted)
