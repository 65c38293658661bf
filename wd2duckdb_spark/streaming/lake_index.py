"""The lake-index protocol: the one append, probe and fold discipline
behind every streaming tier that keeps its state as parquet on the lake
instead of in the state store.

A lake index is a directory holding one ``batch=<id>`` partition per
Structured Streaming micro-batch, plus an optional ``batch=-1`` archive.
Four tiers keep one — MinHash band keys (``dedup_ingest``), SimHash
banded signatures (``simhash_sig``), semantic cell assignments
(``semantic_ingest``) and the IVF assignments (``functions.ann_index``)
— and the mergeable signature stores (``signatures``, ``simhash_sig``)
use its fold. A tier supplies its signature frame, its verify rule and
its layout; this module owns the rules:

- **Committed data.** History exists iff a non-hidden data file exists
  at any depth under the index (:func:`has_committed_data`). Directory
  names do not count: a crash during the first write leaves
  ``batch=0/_temporary`` and nothing else, which must read as "no index
  yet" — reading it would fail schema inference and wedge every retry.
  A read error propagates (Structured Streaming retries the batch); it
  is never taken for "first batch", which would admit every duplicate
  of the prior corpus.
- **Replay filter.** Every write overwrites its own ``batch=<id>``
  partition, so a micro-batch replayed after a crash rewrites its output
  instead of duplicating it, and the probe reads history with
  ``batch != batch_id`` so the replay does not see its crashed attempt's
  rows and drop itself as a duplicate. Archive rows (id -1, never a
  streaming batch id) stay visible to every probe.
- **Probe regimes** (:func:`probe`), chosen on the batch's probe-row
  count. The batch side is always the build side — bounded at one
  micro-batch — and history is streamed; a left-semi with the batch on
  the left would be wrong at scale, because Spark builds LeftSemi only
  on the right, i.e. it would broadcast or shuffle all of history.

  - *pruned* (≤ ``PROBE_CHUNK × MAX_PROBE_CHUNKS`` rows, the
    rate-limited steady state): the batch's distinct prune-column values
    are pushed into ONE history scan as ``key IN (chunk) OR key IN
    (chunk) OR …``, before the broadcast join. On a key-sorted index
    written in small row groups only the groups whose min/max footer
    stats can match are decoded; on a partition column whole
    directories are skipped. The list is chunked because Spark pushes an
    ``IN`` to parquet as a left-deep OR chain evaluated recursively,
    which overflows the task stack somewhere past ~1k values (1024 ok,
    2048 StackOverflowError where measured; the cliff moves with JIT
    state, so the chunk keeps a 5× margin). The OR over the chunks is a
    balanced tree (the SQL parser builds one from a flat ``a OR b OR
    …``), so 64 chunks add 6 levels, not 64. The scan's tasks and
    records do not grow with the chunk count: over a 5-file, key-sorted
    200k-key index at ``local[4]``, a probe of 8 to 64 chunks of random
    md5 keys ran 19-22 tasks in all and read each index record once, in
    0.5-1.5 s of execution. The filter is one parsed SQL string
    (:func:`_in_expr`), so building it costs milliseconds, not a py4j
    call per value.
  - *broadcast* (≤ ``MAX_BROADCAST_KEYS`` rows): the same join over the
    full history scan.
  - *shuffled-hash* (beyond): an unbounded catch-up batch must not be
    broadcast (Spark hard-fails broadcasts over 8 GB), so the batch side
    is the hinted build of a shuffled-hash join and history shuffles
    once. Rate-limit the source (``maxFilesPerTrigger`` /
    ``maxBytesPerTrigger``) to stay in the pruned regime.

  Every dedup-at-ingest batch raises
  ``spark.sql.parquet.pushdown.inFilterThreshold`` to ``PROBE_CHUNK + 1``
  for the whole session, so chunks push down as real ``IN`` predicates
  rather than a useless min/max range. The raise is monotonic and never
  restored: a set/restore pair per batch races between streams sharing
  the session, while a raised threshold only changes at what ``IN``
  size other queries fall back to a range push.
- **Fold** (:func:`fold`). Offline maintenance relabels every partition
  ≤ ``through_batch`` to the archive and rewrites the index through the
  staged swap of ``maintenance.swap_in``. It refuses to fold the newest
  batch that holds rows: a crash-restart may replay that batch, and its
  replay filter can only exclude its own rows while they sit in their
  own partition — folded, a sum-merged store would double-count them
  and an assignments index would hold them twice. Older batches are
  safe: the checkpoint has moved past them. Run a fold with the stream
  stopped, or from the maintaining stream's own ``foreachBatch``
  (callbacks of one query are serial).
- **Per-batch counts.** The kept-corpus (or assignments) write carries a
  ``DataFrame.observe`` of its input and output row counts, so the
  one-row ``_metrics/batch=<id>`` sidecar costs no extra job. A dedup
  tier drops its duplicates with a left join and a drop marker and is
  observed above that join, never beneath it: when the batch is empty,
  adaptive execution replaces the join subtree with an empty relation,
  and an observation inside it never reports.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from wd2duckdb_spark.catalog import local_frame
from wd2duckdb_spark.maintenance import _fs, swap_in

#: Partition id of the archive and of the ANN bootstrap. Streaming batch
#: ids start at 0, so it never collides with a live batch.
ARCHIVE_BATCH = -1
#: Max values per pushed ``IN`` chunk (the stack cliff above).
PROBE_CHUNK = 200
#: Max ``IN`` chunks of the pruned regime: 12,800 keys, a ~3,200-doc
#: burst of MinHash band keys, at a worst-case probe of ~2 s over a
#: 5-file, 200k-key index at ``local[4]`` (0.5-0.8 s of it in
#: :func:`probe` itself: the regime count, the key collect and the plan
#: build). Past it the probe scans all of history; raise it for huge
#: indices — pruned-probe cost is O(batch keys), full-scan cost O(index).
MAX_PROBE_CHUNKS = 64
#: Probe rows above which the batch side is no longer broadcast (1M keys
#: is a 60-80 MB hashed relation).
MAX_BROADCAST_KEYS = 1_000_000
#: Row-group size of key-sorted index files. Groups are deliberately
#: tiny (~5k keys): each probe key decodes one group per file, so probe
#: bytes ≈ files × probe keys × group size, independent of index size
#: once files are large. Footer stats cost ~0.1 %.
INDEX_ROW_GROUP_BYTES = 1 << 18
_IN_THRESHOLD_CONF = "spark.sql.parquet.pushdown.inFilterThreshold"


def _ensure_in_threshold(spark) -> None:
    """Raise the parquet ``IN``-pushdown threshold to cover
    :data:`PROBE_CHUNK` unless it already does (module docstring)."""
    try:
        cur = int(spark.conf.get(_IN_THRESHOLD_CONF))
    except (TypeError, ValueError):
        cur = -1
    if cur < PROBE_CHUNK + 1:
        spark.conf.set(_IN_THRESHOLD_CONF, str(PROBE_CHUNK + 1))


def has_committed_data(spark, root: str) -> bool:
    """True iff a non-hidden data file exists at any depth under
    ``root`` (checked with the FileSystem API, so it works on any store
    Spark reaches)."""
    jvm, fs = _fs(spark, root)
    path = jvm.org.apache.hadoop.fs.Path(root)
    if not fs.exists(path):
        return False
    stack = [path]
    while stack:
        for st in fs.listStatus(stack.pop()):
            if st.getPath().getName().startswith(("_", ".")):
                continue
            if st.isFile():
                return True
            stack.append(st.getPath())
    return False


def _write(
    df: DataFrame, path: str, parts: tuple[str, ...], key: str | None
) -> None:
    if key is not None:
        # partition columns lead the sort: a partitionBy write injects
        # its own (unstable) sort unless the order already starts with them
        df = df.sortWithinPartitions(*parts, key)
    w = df.write.mode("overwrite")
    if key is not None:
        w = w.option("parquet.block.size", str(INDEX_ROW_GROUP_BYTES))
    if parts:
        w = w.partitionBy(*parts)
    w.parquet(path)


def write_batch(
    df: DataFrame,
    root: str,
    batch_id: int,
    *,
    key: str | None = None,
    cell: bool = False,
) -> None:
    """Overwrite ``root/batch=<batch_id>`` with ``df``. ``key``: sort
    each file on that column and write small row groups, the layout the
    pruned probe skips row groups on. ``cell``: partition by ``cell``,
    the layout probes prune directories on."""
    _write(df, f"{root}/batch={batch_id}", ("cell",) if cell else (), key)


def observe_rows(df: DataFrame, kept: Column) -> tuple[DataFrame, Observation]:
    """``df`` with an observation of its row count (``n_in``) and of the
    rows satisfying ``kept`` (``n_kept``); read ``obs.get`` after the
    action that writes the frame."""
    obs = Observation()
    counts = (F.count(F.lit(1)).alias("n_in"), F.count_if(kept).alias("n_kept"))
    return df.observe(obs, *counts), obs


def write_metrics(spark, root: str, batch_id: int, **counts: int) -> None:
    """The one-row per-batch accounting sidecar, ``(batch_id,
    *counts)`` in keyword order. Underscore dir: invisible to readers of
    ``root``; overwrite keeps replays idempotent like the data writes.
    The row is a :func:`~wd2duckdb_spark.catalog.local_frame`, so the
    write is one JVM-only job that starts no Python worker."""
    cols = ", ".join(f"{k} long" for k in counts)
    local_frame(
        spark, [(batch_id, *counts.values())], f"batch_id long, {cols}"
    ).coalesce(1).write.mode("overwrite").parquet(
        f"{root}/_metrics/batch={batch_id}"
    )


def batch_metrics(spark, root: str) -> DataFrame:
    """Every per-batch sidecar written under ``root``, ordered by
    ``batch_id`` — to watch drop rates over time or reconcile totals
    (e.g. ``sum(n_kept) == count(out_dir)``)."""
    return (
        spark.read.parquet(f"{root}/_metrics")
        .drop("batch")
        .orderBy("batch_id")
    )


def probe(
    batch_side: DataFrame,
    seen: DataFrame,
    *,
    on: list[str],
    prune_col: str,
    verify: Column | None = None,
) -> DataFrame:
    """Distinct ids of the micro-batch rows that hit history.

    ``batch_side`` holds the join columns ``on``, then the row id, then
    any column ``verify`` reads; ``seen`` is the replay-filtered history
    with ``on`` and its own verify inputs. ``prune_col`` (one of ``on``)
    is pushed into the history scan in the pruned regime. ``verify``
    filters the joined candidates: banding generates them, an exact rule
    decides. One count of ``batch_side`` sizes the regime; a zero-row
    batch (e.g. every doc too short to shingle) plans no join at all."""
    id_col = batch_side.columns[len(on)]
    n = batch_side.count()
    if n == 0:
        return batch_side.select(id_col)
    hits = _join(batch_side, seen, on, prune_col, n)
    if verify is not None:
        hits = hits.filter(verify)
    return hits.select(id_col).distinct()


def _join(
    batch_side: DataFrame,
    seen: DataFrame,
    on: list[str],
    prune_col: str,
    n: int,
) -> DataFrame:
    if n > MAX_BROADCAST_KEYS:
        return seen.join(batch_side.hint("shuffle_hash"), on)
    if n <= PROBE_CHUNK * MAX_PROBE_CHUNKS:
        # bounded collect: probe rows bound the distinct values
        vals = sorted(
            r[0] for r in batch_side.select(prune_col).distinct().collect()
        )
        seen = seen.filter(_in_expr(prune_col, vals))
    return seen.join(F.broadcast(batch_side), on)


def _sql_lit(v: str | int) -> str:
    """SQL literal of a prune value: a quoted string with ``\\`` and
    ``'`` escaped, or an int printed as an int."""
    if isinstance(v, str):
        return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"
    if isinstance(v, int) and not isinstance(v, bool):
        return str(v)
    raise TypeError(f"unsupported prune value {v!r}")


def _in_expr(col: str, vals: list) -> Column:
    """``col IN (chunk) OR col IN (chunk) OR …`` over ``PROBE_CHUNK``
    values per chunk, parsed from one SQL string. ``Column.isin``
    costs a py4j round trip per value (~0.8 ms each: ~2 s for 3,200
    keys); one parse is milliseconds, and the parser builds the flat
    ``OR`` list as a balanced tree, so no chunk sits deeper than
    log2(chunks) levels."""
    name = col.replace("`", "``")
    chunks = (
        ", ".join(map(_sql_lit, vals[i : i + PROBE_CHUNK]))
        for i in range(0, len(vals), PROBE_CHUNK)
    )
    return F.expr(" OR ".join(f"`{name}` IN ({c})" for c in chunks))


def dedup_batch(
    batch_df: DataFrame,
    batch_id: int,
    index_dir: str,
    out_dir: str,
    *,
    sign: Callable[[DataFrame], DataFrame],
    dups: Callable[[DataFrame, DataFrame, DataFrame | None], DataFrame],
    key: str | None = None,
    cell: bool = False,
) -> None:
    """One micro-batch of a dedup-at-ingest tier.

    ``sign(batch)`` is the batch's signature frame. All of it is
    indexed, dropped rows included: a later near-copy of a dropped row
    is still previously seen content, and keep decisions then do not
    depend on where micro-batch boundaries fell. ``dups(batch, sig,
    seen)`` returns the ids (one column, the corpus id) to drop —
    history hits via :func:`probe` plus the tier's in-batch rule;
    ``seen`` is the replay-filtered history, ``None`` before the first
    commit. Kept rows go to ``out_dir/batch=<id>``, ``sig`` to
    ``index_dir/batch=<id>`` (``key``/``cell`` as in
    :func:`write_batch`), and ``(n_in, n_dups, n_kept)`` to the
    ``out_dir`` sidecar."""
    spark = batch_df.sparkSession
    seen = None
    if has_committed_data(spark, index_dir):
        seen = spark.read.parquet(index_dir).filter(F.col("batch") != batch_id)
    _ensure_in_threshold(spark)
    sig = None
    # the batch feeds the signature and the kept write; a foreachBatch
    # frame re-reads its source per action, so it is cached for the
    # batch — released in the finally, or every retry leaks a copy
    batch_df = batch_df.persist()
    try:
        sig = sign(batch_df).persist()
        dup_ids = dups(batch_df, sig, seen).distinct()
        id_col = dup_ids.columns[0]
        marked = batch_df.join(
            dup_ids.withColumn("_dup", F.lit(True)), id_col, "left"
        )
        marked, obs = observe_rows(marked, F.col("_dup").isNull())
        write_batch(
            marked.filter(F.col("_dup").isNull()).select(*batch_df.columns),
            out_dir,
            batch_id,
        )
        write_batch(sig, index_dir, batch_id, key=key, cell=cell)
        n = obs.get
        write_metrics(
            spark,
            out_dir,
            batch_id,
            n_in=n["n_in"],
            n_dups=n["n_in"] - n["n_kept"],
            n_kept=n["n_kept"],
        )
    finally:
        batch_df.unpersist()
        if sig is not None:
            sig.unpersist()


def batches(spark, root: str) -> list[int]:
    """Sorted ids of the ``batch`` partitions of ``root`` that hold
    rows."""
    return sorted(
        r.batch
        for r in spark.read.parquet(root).select("batch").distinct().collect()
    )


def archive_merge(reduce: Callable[[DataFrame], DataFrame]) -> Callable:
    """A :func:`fold` ``merge`` for a mergeable-sketch store: archive
    rows collapse under ``reduce`` (the store's merge, one row per
    group key), live partials pass through, one output file."""

    def merge(df: DataFrame) -> DataFrame:
        arch = F.col("batch") == ARCHIVE_BATCH
        return (
            reduce(df.filter(arch))
            .withColumn("batch", F.lit(ARCHIVE_BATCH))
            .unionByName(df.filter(~arch))
            .coalesce(1)
        )

    return merge


def fold(
    spark,
    root: str,
    through_batch: int,
    merge: Callable[[DataFrame], DataFrame],
    *,
    key: str | None = None,
    cell: bool = False,
) -> None:
    """Fold every partition with id ≤ ``through_batch`` (and any
    existing archive) into the ``batch=-1`` archive, in place.
    ``merge`` shapes the relabeled index before the write (merge rows,
    set the file layout); ``key``/``cell`` as in :func:`write_batch`.
    Refuses the newest batch holding rows (module docstring). Re-running
    with the same arguments folds the archive into itself."""
    live = [b for b in batches(spark, root) if b != ARCHIVE_BATCH]
    if not live:
        raise ValueError(f"fold: {root} holds no live batch rows to fold")
    if through_batch >= live[-1]:
        raise ValueError(
            f"fold: through_batch={through_batch} would fold the most recent "
            f"batch {live[-1]}, which a restart may replay; pass "
            "through_batch < max batch id"
        )
    old = F.col("batch") <= through_batch
    relabeled = spark.read.parquet(root).withColumn(
        "batch", F.when(old, F.lit(ARCHIVE_BATCH)).otherwise(F.col("batch"))
    )
    base = root.rstrip("/")
    parts = ("batch", "cell") if cell else ("batch",)
    _write(merge(relabeled), base + "._compact", parts, key)
    swap_in(spark, root, base + "._compact", base + "._precompact", op="fold")
