"""Tiny catalog helper for the driver's parquet testdata tables."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructType, TimestampType

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def session_key(spark: SparkSession) -> str:
    """Stable memo key for a session: the context's applicationId.

    ``id(spark)`` is NOT safe here (ADVICE r4): CPython recycles
    object addresses, so after a stopped session is garbage-collected
    a NEW session can land on the same id and silently alias the dead
    session's cached DataFrames/vectors. applicationId is unique per
    context launch, so stale entries become unreachable instead.
    Sessions sharing one context (``spark.newSession()``) share
    entries — correct, since the fixture files are immutable per run.
    """
    return spark.sparkContext.applicationId


#: Every module-level memo dict registers here so a fixture
#: regeneration (or a cold-start test) can invalidate ALL of them in
#: one call instead of knowing each module's private name.
_MEMO_REGISTRY: list[dict] = []


def register_memo(d: dict) -> dict:
    _MEMO_REGISTRY.append(d)
    return d


def clear_memos() -> None:
    """Empty every registered memo (scan cache, probe vectors, IVF
    centroids, PQ codebook, PCA models, CC keep-lists, trained LM/LR
    model tables). Needed only when fixture parquet is rewritten IN
    PLACE under an sf_dir a live session already memoized (ADVICE r4).

    Persisted DataFrame values are best-effort unpersisted before the
    references are dropped (ADVICE r11 item 5): without it a fixture
    regeneration leaked the old frames in the CacheManager until
    GC/clearCache. Values from a stopped session raise on unpersist —
    ignored, the entry is unreachable either way."""
    for d in _MEMO_REGISTRY:
        for v in d.values():
            vals = v if isinstance(v, tuple) else (v,)
            for f in vals:
                if isinstance(f, DataFrame):
                    try:
                        f.unpersist()
                    except Exception:
                        pass
        d.clear()


#: Session conf selecting DURABLE lineage truncation engine-wide:
#: when set to a directory (HDFS/S3/local path), every
#: :func:`eager_checkpoint` site (iterative CC labels, PageRank/SSSP
#: supersteps, the Lloyd cluster-once memo, the semantic-dedup
#: keep-list) materializes with reliable ``df.checkpoint()`` against
#: it instead of executor-local ``localCheckpoint()`` blocks — the
#: correct posture on a 1000-executor cluster where executor loss is
#: routine (VERDICT r5 item 3, generalized from the Lloyd memo to
#: every truncation site).
RELIABLE_CKPT_CONF = "spark.wd2duckdb_spark.reliableCheckpointDir"


def eager_checkpoint(df: DataFrame, reliable_dir: str | None = None) -> DataFrame:
    """Eagerly truncate ``df``'s lineage — locally by default,
    reliably when selected.

    - default: ``localCheckpoint(eager=True)`` — executor-local
      blocks, zero external storage, NOT fault-tolerant (a lost block
      fails later consumers instead of recomputing; recovery is
      re-running the deterministic batch job). The right trade
      single-node and for re-runnable batch work.
    - ``reliable_dir`` passed, or the :data:`RELIABLE_CKPT_CONF`
      session conf set: ``df.checkpoint(eager=True)`` against that
      directory — blocks on reliable storage survive executor loss.
      Checkpoint files accumulate one snapshot per call (per
      superstep in iterative loops) until application stop unless
      ``spark.cleaner.referenceTracking.cleanCheckpoints`` is on
      (:func:`wd2duckdb_spark.session.get_spark` sets it); size the
      directory accordingly.

    The checkpoint directory is PROCESS-GLOBAL SparkContext state: a
    per-call ``reliable_dir`` override re-points it for every other
    checkpoint user in the application (ADVICE r6). To keep that
    blast radius minimal, ``setCheckpointDir`` is only issued when
    the context's current dir actually differs from the resolved one;
    prefer selecting the dir once per application via
    :data:`RELIABLE_CKPT_CONF` over per-call overrides.
    """
    spark = df.sparkSession
    if reliable_dir is None:
        reliable_dir = spark.conf.get(RELIABLE_CKPT_CONF, None)
    if reliable_dir:
        app = session_key(spark)
        # setCheckpointDir appends a random UUID subdir, so the
        # context's getCheckpointDir can't be string-compared against
        # the requested dir; remember what WE set per application —
        # but ALSO verify the context still points under it (prefix
        # compare on the resolved path), because user code sharing the
        # session may have re-pointed it since (ADVICE r7): skipping
        # the re-set on a stale memo would silently checkpoint into
        # the foreign directory.
        current = _current_checkpoint_dir(spark)
        want = reliable_dir.rstrip("/")
        still_ours = current is not None and (
            current == want or current.startswith(want + "/")
        )
        if _ckpt_dir_set.get(app) != reliable_dir or not still_ours:
            spark.sparkContext.setCheckpointDir(reliable_dir)
            _ckpt_dir_set[app] = reliable_dir
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)


def _current_checkpoint_dir(spark: SparkSession) -> str | None:
    """The SparkContext's current checkpoint directory as a bare
    filesystem path (scheme stripped — setCheckpointDir stores the
    Hadoop-qualified ``file:/…`` form), or None if unset."""
    from urllib.parse import urlparse

    opt = spark.sparkContext._jsc.sc().getCheckpointDir()
    if not opt.isDefined():
        return None
    return urlparse(opt.get()).path or opt.get()


#: applicationId → last checkpoint dir set by :func:`eager_checkpoint`
#: (NOT in the memo registry: clear_memos() invalidates fixture-derived
#: frames, but the context's checkpoint dir setting survives — clearing
#: this map would only trigger a redundant re-set, not fix anything).
_ckpt_dir_set: dict[str, str] = {}


#: (applicationId, sf_dir, name) → DataFrame. A DataFrame is an
#: immutable logical plan, so reuse is safe; caching skips the parquet
#: footer / schema-inference read that otherwise repeats per query
#: (~100 ms each on the driver — pure plan-build latency, no effect on
#: executors).
_scan_cache: dict[tuple[str, str, str], DataFrame] = register_memo({})


def tbl(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table (parquet scan with pushdown/pruning).

    ``events.parquet`` has shipped in two layouts across driver
    versions: ``TIMESTAMP(NANOS)`` (which Spark's parquet reader
    rejects unless read via the legacy nanos-as-long mode) and plain
    ``timestamp[us]``. Both are handled: a long ``ts`` is converted to
    a microsecond timestamp with exact integer arithmetic (``div`` —
    not double division, which loses low bits at 1e18-scale nanos,
    matching DuckDB's nanos→micros truncation); a timestamp ``ts``
    passes through untouched.
    """
    key = (session_key(spark), sf_dir, name)
    cached = _scan_cache.get(key)
    if cached is not None:
        return cached
    _scan_cache[key] = df = _read(spark, sf_dir, name)
    return df


#: Physical scan partition count per testdata table — probed once per
#: (session, sf_dir, table) because the probe itself (``.rdd`` plan
#: materialization) costs ~100 ms of driver planning per fresh
#: DataFrame, far too much to pay inline on every query invocation.
_scan_parts_cache: dict[tuple[str, str, str], int] = register_memo({})


def scan_partitions(spark: SparkSession, sf_dir: str, name: str) -> int:
    """Number of physical scan partitions (input splits) of one
    testdata table — the signal :func:`spread` keys on. Memoized per
    (session, sf_dir, table); the fixture files are immutable per run,
    so the count cannot go stale within a session."""
    key = (session_key(spark), sf_dir, name)
    n = _scan_parts_cache.get(key)
    if n is None:
        n = tbl(spark, sf_dir, name).rdd.getNumPartitions()
        _scan_parts_cache[key] = n
    return n


def spread(df: DataFrame, *keys: str, scan_parts: int | None = None) -> DataFrame:
    """Scale-adaptive CPU-spread repartition (guide §2.4/§8).

    The fixture corpus is a single parquet split, so per-row CPU work
    (shingling, per-token md5, PQ encoding, interpreted higher-order
    functions) would run on ONE core without an explicit
    ``repartition(defaultParallelism, ...)`` — and AQE's bytes-based
    coalescing would shrink a bare key-repartition back to one task,
    which is why every such site pins the count explicitly. But on a
    real multi-split corpus the scan itself already provides at least
    one task per core, and the same repartition becomes a pure
    corpus-payload shuffle: heavy text/embedding bytes moved only to
    spread per-row CPU the splits would have spread anyway (the exact
    heavy-bytes anti-pattern of guide §8). This helper keeps the local
    single-split behavior bit-for-bit and removes the shuffle when the
    scan is already parallel:

    - ``scan_parts >= defaultParallelism`` (a multi-split scan at
      cluster scale): return ``df`` unchanged — zero exchanges; a
      downstream key aggregate re-adds its own exchange of map-side
      PARTIAL rows, orders of magnitude smaller than the raw payload.
    - ``scan_parts < defaultParallelism`` (the local single-split
      regime, or the driver's lower-core bench): exactly the previous
      ``repartition(defaultParallelism, *keys)``.
    - ``scan_parts=None`` (callers that cannot cheaply know the scan
      layout: streaming micro-batches, post-shuffle frames whose AQE
      partition count is bytes-coalesced): unconditional repartition —
      the pre-seam behavior, still correct, never semantics-changing.

    ``repartition`` only redistributes rows, so consumers are
    result-identical either way; the choice is pure plan shape.
    """
    n = df.sparkSession.sparkContext.defaultParallelism
    if scan_parts is not None and not df.isStreaming and scan_parts >= n:
        return df
    return df.repartition(n, *keys) if keys else df.repartition(n)


def local_frame(spark: SparkSession, rows, ddl: str) -> DataFrame:
    """A table built from Python rows (``rows``: tuples in the column
    order of the DDL schema ``ddl``) as a JVM-local relation.

    ``spark.createDataFrame(<python list>)`` plans a ``Scan
    ExistingRDD``, and every read of it starts a Python worker — about
    1 s for a one-row sidecar write. Handed over as a ``pyarrow.Table``
    with the Arrow types of ``ddl``, the same rows plan a
    ``LocalTableScan`` the JVM reads by itself, with the size
    statistics a join planner uses. ``None`` is null, NaN stays NaN,
    and zero rows give an empty frame of the same schema."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    schema = StructType.fromDDL(ddl)
    arrow = to_arrow_schema(schema)
    cols = list(zip(*rows)) or [()] * len(arrow)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow)], schema=arrow
    )
    return spark.createDataFrame(table, schema)


#: Temporal columns the driver has shipped (or may ship) in varying
#: parquet types across regenerations; each is normalized to
#: TIMESTAMP_LTZ on read so every query sees one stable type.
_TS_COLUMNS = {
    "events": ("ts",),
    "orders": ("o_orderdate",),
    "lineitem": ("l_shipdate",),
}


def oracle_view_sql(table: str, parquet_path: str) -> str:
    """DuckDB ``CREATE VIEW`` statement for an oracle-side testdata
    view, mirroring :func:`_read`'s temporal normalization (ADVICE r1):
    Spark casts ``_TS_COLUMNS`` to TIMESTAMP whatever the parquet
    layout, so the oracle must see the same type or str()-based value
    hashing diverges under a DATE-typed regeneration
    ('2024-01-15' vs '2024-01-15 00:00:00'). Every oracle harness
    (driver-gate replica, pytest fixture, DuckDB head-to-head) builds
    its views through this one helper so the mirror cannot drift."""
    repl = ", ".join(
        f"CAST({c} AS TIMESTAMP) AS {c}" for c in _TS_COLUMNS.get(table, ())
    )
    sel = f"SELECT * REPLACE ({repl})" if repl else "SELECT *"
    return f"CREATE VIEW {table} AS {sel} FROM '{parquet_path}'"


def _read(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    for col in _TS_COLUMNS.get(name, ()):
        if isinstance(df.schema[col].dataType, LongType):
            # TIMESTAMP(NANOS) read as long (legacy mode): exact
            # integer truncation to micros — DuckDB truncates the same.
            df = df.withColumn(
                col, F.timestamp_micros(F.expr(f"{col} div 1000"))
            )
        elif not isinstance(df.schema[col].dataType, TimestampType):
            # timestamp[us] arrives as TIMESTAMP_NTZ, and a future
            # regeneration could ship DATE; either casts to LTZ —
            # identity under the session's UTC timezone — so epoch
            # casts and streaming watermarks (which require TIMESTAMP)
            # work unchanged downstream.
            df = df.withColumn(col, F.col(col).cast("timestamp"))
    return df
