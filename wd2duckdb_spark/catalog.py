"""The driver's parquet testdata tables, and the helpers every query
module shares: the per-session memo, the CPU-spread repartition,
JVM-local driver tables, the lineage cut and half-up rounding."""

from __future__ import annotations

import functools
import inspect

from pyspark.sql import Column, DataFrame, SparkSession
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

    ``id(spark)`` is NOT safe here: CPython recycles
    object addresses, so after a stopped session is garbage-collected
    a NEW session can land on the same id and silently alias the dead
    session's cached DataFrames/vectors. applicationId is unique per
    context launch, so stale entries become unreachable instead.
    Sessions sharing one context (``spark.newSession()``) share
    entries — correct, since the fixture files are immutable per run.
    """
    return spark.sparkContext.applicationId


#: The cache dict of every :func:`session_memo` function, so
#: :func:`clear_memos` can empty all of them in one call.
_MEMO_REGISTRY: list[dict] = []


def _frames(value) -> tuple:
    """The DataFrames in a memoized value (one frame or a tuple)."""
    vals = value if isinstance(value, tuple) else (value,)
    return tuple(v for v in vals if isinstance(v, DataFrame))


def session_memo(fn):
    """Memoize ``fn(spark, *args)`` per session: the one rule for state
    reused across a session's queries (scans, probe vectors, trained
    models, CC labels, the Lloyd assignment).

    - Key: ``(session_key(spark), *args)`` with defaults bound, so a
      defaulted and an explicit argument share one entry.
    - Hit: ``key in cache``, so a ``None`` or ``[]`` result is a hit
      too (an empty corpus is not re-probed on every call).
    - Re-arm: on a hit, a memoized DataFrame that was persisted but
      lost its blocks to ``spark.catalog.clearCache()`` is persisted
      again. After ``clearCache()`` a persisted frame reads
      ``is_cached`` with a storage level that does not use memory; a
      lazy read or a checkpointed frame is not cached at all, so it is
      never re-persisted (and ``is_cached`` is a Python flag, so such a
      hit makes no JVM call).

    The cache is ``fn.cache`` and is emptied by :func:`clear_memos`.
    """
    sig = inspect.signature(fn)
    cache: dict = {}
    _MEMO_REGISTRY.append(cache)

    @functools.wraps(fn)
    def memo(spark: SparkSession, *args, **kwargs):
        bound = sig.bind(spark, *args, **kwargs)
        bound.apply_defaults()
        key = (session_key(spark), *list(bound.arguments.values())[1:])
        if key in cache:
            value = cache[key]
            for f in _frames(value):
                if f.is_cached and not f.storageLevel.useMemory:
                    f.persist()
            return value
        cache[key] = value = fn(*bound.args, **bound.kwargs)
        return value

    memo.cache = cache
    return memo


def clear_memos() -> None:
    """Empty every :func:`session_memo` cache. Needed when fixture
    parquet is rewritten in place under an sf_dir a live session has
    already memoized, and before a cold-start measurement.

    Memoized DataFrames are unpersisted before their entries are
    dropped, so a fixture regeneration does not leave the old frames
    in the CacheManager until GC or ``clearCache()``. A frame from a
    stopped session raises on unpersist; that is ignored, since the
    entry is unreachable either way."""
    for cache in _MEMO_REGISTRY:
        for value in cache.values():
            for f in _frames(value):
                try:
                    f.unpersist()
                except Exception:
                    pass
        cache.clear()


#: Session conf selecting durable lineage truncation engine-wide: when
#: set to a directory (HDFS/S3/local path), every
#: :func:`eager_checkpoint` site (CC label rounds, PageRank/SSSP
#: supersteps, the Lloyd assignment memo, the semantic-dedup
#: keep-list) materializes with a reliable ``df.checkpoint()`` against
#: it instead of executor-local ``localCheckpoint()`` blocks: the right
#: posture on a large cluster, where executor loss is routine.
RELIABLE_CKPT_CONF = "spark.wd2duckdb_spark.reliableCheckpointDir"


def eager_checkpoint(df: DataFrame) -> DataFrame:
    """Eagerly truncate ``df``'s lineage: locally by default, reliably
    when the session selects it.

    - default: ``localCheckpoint(eager=True)``, executor-local blocks,
      zero external storage, NOT fault-tolerant (a lost block fails
      later consumers instead of recomputing; recovery is re-running
      the deterministic batch job). The right trade single-node and
      for re-runnable batch work.
    - the :data:`RELIABLE_CKPT_CONF` session conf set:
      ``df.checkpoint(eager=True)`` against that directory, whose
      blocks survive executor loss. Checkpoint files accumulate one
      snapshot per call (per superstep in iterative loops) until
      application stop unless
      ``spark.cleaner.referenceTracking.cleanCheckpoints`` is on
      (:func:`wd2duckdb_spark.session.get_spark` sets it); size the
      directory accordingly.

    The checkpoint directory is process-global SparkContext state, so
    ``setCheckpointDir`` is issued only when the context's current dir
    does not already lie under the selected one: the context keeps its
    random UUID subdir across calls, and a dir re-pointed by other code
    sharing the context is pointed back.
    """
    spark = df.sparkSession
    ckpt_dir = spark.conf.get(RELIABLE_CKPT_CONF, None)
    if ckpt_dir:
        # setCheckpointDir appends a random UUID subdir, so compare by
        # prefix on the resolved path
        current = _current_checkpoint_dir(spark)
        want = ckpt_dir.rstrip("/")
        if current is None or not (
            current == want or current.startswith(want + "/")
        ):
            spark.sparkContext.setCheckpointDir(ckpt_dir)
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


@session_memo
def tbl(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table (parquet scan with pushdown/pruning).

    Memoized per session: a DataFrame is an immutable logical plan, so
    reuse is safe, and it skips the parquet footer / schema-inference
    read that otherwise repeats per query (~100 ms each on the driver,
    pure plan-build latency).

    ``events.parquet`` has shipped in two layouts across driver
    versions: ``TIMESTAMP(NANOS)`` (which Spark's parquet reader
    rejects unless read via the legacy nanos-as-long mode) and plain
    ``timestamp[us]``. Both are handled: a long ``ts`` is converted to
    a microsecond timestamp with exact integer arithmetic (``div`` —
    not double division, which loses low bits at 1e18-scale nanos,
    matching DuckDB's nanos→micros truncation); a timestamp ``ts``
    passes through untouched.
    """
    return _read(spark, sf_dir, name)


@session_memo
def scan_partitions(spark: SparkSession, sf_dir: str, name: str) -> int:
    """Number of physical scan partitions (input splits) of one
    testdata table — the signal :func:`spread` keys on. Memoized per
    session: the probe (``.rdd`` plan materialization) costs ~100 ms
    of driver planning per fresh DataFrame, and the fixture files are
    immutable per run, so the count cannot go stale."""
    return tbl(spark, sf_dir, name).rdd.getNumPartitions()


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


def half_up(c: Column, digits: int) -> Column:
    """``c`` rounded half-up to ``digits`` decimals on the binary
    double: ``floor(c·10ⁿ + 0.5) / 10ⁿ``, the engine's one rounding
    rule for exact-match results.

    ``round()`` cannot be used: Spark rounds the decimal expansion of
    a double and DuckDB the double itself, so their ties differ where
    a binary value sits at an n-digit boundary (``2.675``). ``floor``
    of identical doubles cannot disagree.

    The scale is an integer literal: a DOUBLE operand multiplies by it
    as a double, a DECIMAL one exactly as a decimal. NaN passes
    through as NaN, as in DuckDB; Spark's ``floor`` returns a bigint,
    which would read NaN as 0. The result is DOUBLE."""
    scale = 10**digits
    return F.when(F.isnan(c), c).otherwise(
        F.floor(c * scale + F.lit(0.5)) / scale
    )


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
    view, mirroring :func:`_read`'s temporal normalization:
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
