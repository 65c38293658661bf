"""Skew-mitigation operators (SURVEY §4.3).

Real Wikidata edges are pathologically skewed: hub keys like P31
("instance of") and Q5 ("human") dominate. Two tiers:

1. **AQE skew-join** — on by default in the engine session
   (session.py); splits oversized shuffle partitions at runtime. The
   first line of defense, zero code.
2. **Salted join** (this module) — for the cases AQE can't fix (e.g. a
   single key so hot one partition of it still exceeds memory, or
   broadcast infeasible on both sides). The hot side's key is
   decorated with a random-ish salt in [0, n); the other side is
   replicated n ways with an exploded salt column. Join key becomes
   (key, salt) → the hot key spreads over n partitions.

The salt is derived from stable row content (xxhash64 of all columns
mod n), not rand(), so plans stay deterministic and retries/speculative
tasks agree — important for exactly-once sinks.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from wd2duckdb_spark.catalog import half_up


def with_salt(df: DataFrame, n: int, salt_col: str = "_salt") -> DataFrame:
    """Deterministic salt in [0, n) from the row's full content."""
    return df.withColumn(
        salt_col, F.pmod(F.xxhash64(*df.columns), F.lit(n)).cast("int")
    )


def replicate(df: DataFrame, n: int, salt_col: str = "_salt") -> DataFrame:
    """Replicate each row n times with salt 0..n-1 (the small side)."""
    return df.withColumn(
        salt_col, F.explode(F.sequence(F.lit(0), F.lit(n - 1)))
    )


def salted_join(
    skewed: DataFrame,
    other: DataFrame,
    on: str | list[str],
    n_salts: int = 16,
    how: str = "inner",
    join_hint: str | None = None,
) -> DataFrame:
    """Equi-join where ``skewed``'s key distribution has hot keys.

    ``skewed`` gets a content-derived salt; ``other`` is replicated
    ``n_salts``×. Correctness: every (key, salt) pair on the skewed
    side meets exactly one replica of the matching key. Cost: the
    small side shuffles n× its size — choose n ≈ hot-key partition
    excess, not more.

    Returns columns of both inputs (salt dropped).

    ``join_hint`` (e.g. ``"shuffle_hash"`` / ``"merge"``) is applied to
    the replicated side right under the join: Catalyst's size estimate
    for an exploded side is unreliable, and auto-broadcasting the
    REPLICATED side would ship n_salts copies of it to every executor —
    the exact failure salting exists to avoid. Pass a hint whenever
    ``other`` grows with the data.

    Only ``inner`` and ``left`` (outer on the skewed side) are
    supported: replication of ``other`` makes right/full outer emit
    each unmatched replica (n_salts duplicates), and semi/anti joins
    drop ``other``'s columns that the output select needs.
    """
    if how not in ("inner", "left", "left_outer", "leftouter"):
        raise ValueError(
            f"salted_join supports how='inner'/'left', got {how!r}: "
            "replicating the small side breaks right/full/semi/anti "
            "semantics"
        )
    keys = [on] if isinstance(on, str) else list(on)
    a = with_salt(skewed, n_salts)
    b = replicate(other, n_salts)
    if join_hint is not None:
        b = b.hint(join_hint)
    cond = [a[k] == b[k] for k in keys] + [a["_salt"] == b["_salt"]]
    joined = a.join(b, cond, how)
    keep = [a[c] for c in skewed.columns] + [
        b[c] for c in other.columns if c not in keys
    ]
    return joined.select(*keep)


def grid_dim(n_cells: int) -> int:
    """Grid side length G = ⌈√n_cells⌉ — the per-side replication
    factor of :func:`grid_self_join` (G² ≥ n_cells cells)."""
    if n_cells < 1:
        raise ValueError(f"n_cells must be >= 1, got {n_cells}")
    import math

    g = math.isqrt(n_cells)
    return g if g * g >= n_cells else g + 1


def grid_self_join(
    left: DataFrame,
    right: DataFrame,
    on: str | list[str],
    n_cells: int = 256,
    join_hint: str | None = None,
) -> DataFrame:
    """Self-equi-join on a hot block key, decomposed over a G×G grid
    (G = ⌈√n_cells⌉) — the 2-D upgrade of :func:`salted_join` for the
    SELF-join case.

    Both inputs are projections of the same table joined on a
    low-cardinality block key (dedup blocking, cluster ids), so the
    quadratic pair expansion is the cost driver. Salting bounds
    per-task pairs at |block|²/S but ships S copies of the replicated
    side through the exchange; the grid reaches the SAME per-task
    bound — each cell (i, j) joins the |block|/G rows hashing to
    group i against the |block|/G rows hashing to group j, i.e.
    |block|²/G² = |block|²/n_cells pairs — while each side is
    replicated only G = √n_cells ways. Shuffle volume drops from
    S·N to 2√S·N (≈ 46·N instead of 513·N at the 512 cap), and the
    per-cell hash-build side shrinks from |block| to |block|/G rows.
    This is the triangle/grid scheme the blocked-GEMM kernel
    (functions/dedup.py embedding_neardup) uses, lifted into a
    reusable relational operator.

    Routing: the left row's content hash picks its grid ROW i and it
    replicates across all G columns; the right row's hash picks its
    COLUMN j and it replicates across all G rows — pair (x, y) meets
    in exactly cell (h(x), h(y)), so the output multiset equals the
    plain inner equi-join's (callers' a_id < b_id filters behave
    identically). Hashes are content-derived (never rand()) so
    retries and speculative tasks agree.

    ``join_hint`` pins the strategy under the join (same rationale as
    :func:`salted_join`: Catalyst's size estimate for exploded sides
    is unreliable, and auto-broadcasting a table-sized side is the
    failure this operator exists to avoid). Inner joins only: an
    unmatched row appears in G cells, so outer semantics would emit
    G duplicates — use :func:`salted_join` for skewed outer joins.
    """
    g = grid_dim(n_cells)
    keys = [on] if isinstance(on, str) else list(on)
    span = F.sequence(F.lit(0), F.lit(g - 1))
    a = left.withColumn(
        "_gi", F.pmod(F.xxhash64(*left.columns), F.lit(g)).cast("int")
    ).withColumn("_gj", F.explode(span))
    b = right.withColumn(
        "_gj", F.pmod(F.xxhash64(*right.columns), F.lit(g)).cast("int")
    ).withColumn("_gi", F.explode(span))
    if join_hint is not None:
        b = b.hint(join_hint)
    cond = [a[k] == b[k] for k in keys] + [
        a["_gi"] == b["_gi"],
        a["_gj"] == b["_gj"],
    ]
    joined = a.join(b, cond, "inner")
    keep = [a[c] for c in left.columns] + [
        b[c] for c in right.columns if c not in keys
    ]
    return joined.select(*keep)


# ---------------------------------------------------------------------------
# Salted two-phase aggregation (driver-contract query)
# ---------------------------------------------------------------------------


def salted_agg_heavy_hitters(events: DataFrame, n_salts: int = 16) -> DataFrame:
    """Exact per-key count/sum over a pathologically low-cardinality
    key via EXPLICIT two-phase salted aggregation: groupBy(key, salt)
    pre-aggregates into ≤ n_salts × |keys| rows, then a final
    groupBy(key) combines the partials.

    Spark's hash aggregate already does map-side partial combine, so
    for plain count/sum this matches the built-in plan's cost — the
    operator exists for the aggregates that DON'T partial-combine
    cheaply (collect_list, exact distinct via sets, Pandas UDAFs),
    where a hot key would otherwise funnel into one reducer. The
    salt bounds any single reduce group to ~1/n_salts of the hot key.

    Exact (not a sketch): counts and sums are associative, so the
    two-phase result equals the one-phase result row-for-row — which
    is what the DuckDB oracle pins.
    """
    partial = (
        with_salt(events, n_salts)
        .groupBy("event_type", "_salt")
        .agg(
            F.count("*").alias("n"),
            F.sum("value").alias("v"),
        )
    )
    return (
        partial.groupBy("event_type")
        .agg(
            F.sum("n").alias("n_events"),
            F.round(F.sum("v"), 2).alias("total_value"),
        )
        .orderBy(F.col("n_events").desc(), "event_type")
    )


def q_skew_salted_agg(spark, sf_dir: str) -> DataFrame:
    from wd2duckdb_spark.catalog import tbl

    return salted_agg_heavy_hitters(tbl(spark, sf_dir, "events"))


def _hot_keys_tail(counts: DataFrame, k: int = 10) -> DataFrame:
    """Shared report tail over a (key, n_rows) frame: 1-row broadcast
    of (total, n_keys), share and multiple-of-mean as floor4 of
    integer ratios, TakeOrderedAndProject top-``k``."""
    stats = counts.agg(
        F.sum("n_rows").alias("_total"),
        F.count("*").alias("_nkeys"),
    )
    return (
        counts.crossJoin(F.broadcast(stats))
        .select(
            "key",
            "n_rows",
            half_up(F.col("n_rows") / F.col("_total"), 4).alias("share"),
            # n_rows / (total/n_keys) = multiple of the mean key load
            half_up(F.col("n_rows") * F.col("_nkeys") / F.col("_total"), 4).alias(
                "x_mean"
            ),
        )
        # asc_nulls_last + explicit NULLS LAST in the oracle: Spark
        # sorts NULLs FIRST on ascending while DuckDB defaults to
        # NULLS LAST, so a NULL key group tying at the top-k boundary
        # would otherwise diverge cross-engine.
        .orderBy(F.desc("n_rows"), F.asc_nulls_last("key"))
        .limit(k)
    )


def q_hot_keys_report(spark, sf_dir: str) -> DataFrame:
    """Hot-key skew diagnostic: the top-10 heaviest join/agg keys of
    the events stream with their row share and their multiple of the
    MEAN key load — the measurement that decides whether a key needs
    the salting/grid mitigations in this module before they are paid
    for (a key at ~1× mean doesn't; a 100× hub does). This is the
    "measure first" half of skew handling; ``salted_join`` /
    ``grid_self_join`` / ``salted_agg`` are the treatments.

    Plan: one groupBy(key) count (the exact shuffle whose skew is
    being measured — :func:`hot_keys_sketch` is the read-only probe
    that doesn't pay it), a 1-row broadcast of (total, n_keys), and a
    TakeOrderedAndProject top-10. All counts integer; share and skew
    floor4 of integer ratios — oracle-exact.
    """
    from wd2duckdb_spark.catalog import tbl

    e = tbl(spark, sf_dir, "events")
    counts = e.groupBy(F.col("user_id").alias("key")).agg(
        F.count("*").alias("n_rows")
    )
    return _hot_keys_tail(counts)


#: Per-partition counter budget of the heavy-hitters summary. 64k
#: counters × (key + int64) is a ~few-MB dict per task — trivial — and
#: keeps the summary EXACT until a single input partition carries more
#: than 64k distinct keys; past that it degrades gracefully to a
#: Misra-Gries lower bound with undercount ≤ partition_rows/(counters+1).
HOT_KEY_COUNTERS = 65_536


def hot_keys_sketch(
    df: DataFrame, key_col: str, k: int = 10, counters: int = HOT_KEY_COUNTERS
) -> DataFrame:
    """Read-only variant of the hot-key diagnostic: the exact report's ``groupBy(key)`` is ITSELF the skewed shuffle
    being diagnosed — on the 100 TB corpus the probe would hit the
    exact hot-partition problem it exists to measure. This variant
    never shuffles a corpus row: a ``mapInPandas`` pass folds each
    input partition into a bounded Misra-Gries heavy-hitters summary
    (≤ ``counters`` rows per partition, vectorized pandas
    ``value_counts`` merges — no per-row Python), and only the tiny
    summaries (≤ partitions × counters rows, independent of N and of
    key skew) go through the final merge/top-k, so the one exchange in
    the plan moves sketch rows, never data rows.

    Exactness contract: Misra-Gries degenerates to an exact
    per-partition hash count while a partition's distinct-key count
    stays ≤ ``counters`` — true at every fixture SF (≤1.5k keys vs 64k
    counters), so the registered query is oracle-EXACT against the
    same SQL as ``hot_keys_report``. Past the budget the summary trims
    to the heaviest ``counters`` keys and every output becomes a lower
    bound with undercount ≤ Σ_p rows_p/(counters+1) ≤ N/(counters+1) —
    any key above that share (0.0015% at the default budget) is
    guaranteed to surface, which is exactly the regime where a skew
    diagnostic matters. The NULL-key counter participates in the
    budget and in trim selection like any other counter (the budget
    is exactly ``counters`` including NULL, and the same ≥(counters+1)·t-per-trim mass argument covers it). The
    error-bound degradation, including a majority-NULL partition, is
    pinned in tests with a deliberately tiny budget.

    Integer keys are routed through a lossless string representation:
    Arrow→pandas turns a NULLABLE int64 column into
    float64, which corrupts keys above 2^53 and would merge distinct
    keys' partial counts; decimal strings round-trip exactly and the
    merged keys cast back to the declared key type afterwards.
    """
    import numpy as np
    import pandas as pd

    key_type = df.schema[key_col].dataType.simpleString()
    stringify = key_type in ("bigint", "int", "smallint", "tinyint")
    src = (
        df.select(F.col(key_col).cast("string").alias(key_col))
        if stringify
        else df.select(key_col)
    )

    def _partials(it):
        agg = None
        null_cnt = 0
        for pdf in it:
            col = pdf[key_col]
            null_cnt += int(col.isna().sum())
            bc = col.value_counts()  # vectorized; drops NaN
            agg = bc if agg is None else agg.add(bc, fill_value=0)
            if len(agg) + (1 if null_cnt > 0 else 0) > counters:
                # trim to the heaviest `counters` counters (NULL
                # included): subtract the (len-counters)-th smallest
                # count from EVERY counter and drop non-positives —
                # the batched Misra-Gries decrement; each trim removes
                # ≥ (counters+1)·t mass, so Σt ≤ rows_p/(counters+1)
                vals = agg.to_numpy()
                if null_cnt > 0:
                    vals = np.append(vals, null_cnt)
                cut = len(vals) - counters - 1
                t = int(np.partition(vals, cut)[cut])
                agg = agg - t
                agg = agg[agg > 0]
                null_cnt = max(0, null_cnt - t)
        if agg is None and null_cnt == 0:
            return
        keys = [] if agg is None else list(agg.index)
        cnts = [] if agg is None else [int(c) for c in agg.to_numpy()]
        if null_cnt > 0:
            keys.append(None)
            cnts.append(null_cnt)
        if keys:
            yield pd.DataFrame({"key": keys, "n_rows": cnts})

    partials = src.mapInPandas(
        _partials,
        schema=f"key {'string' if stringify else key_type}, n_rows long",
    )
    counts = partials.groupBy("key").agg(F.sum("n_rows").alias("n_rows"))
    if stringify:
        counts = counts.select(
            F.col("key").cast(key_type).alias("key"), "n_rows"
        )
    return _hot_keys_tail(counts, k)


def q_hot_keys_sketch(spark, sf_dir: str) -> DataFrame:
    from wd2duckdb_spark.catalog import tbl

    return hot_keys_sketch(tbl(spark, sf_dir, "events"), "user_id")


ORACLES: dict[str, str] = {
    "skew_salted_agg": """
        SELECT event_type,
               count(*) AS n_events,
               round(sum(value), 2) AS total_value
        FROM events
        GROUP BY event_type
        ORDER BY n_events DESC, event_type
    """,
    "hot_keys_report": """
        WITH counts AS (
            SELECT user_id AS key, count(*) AS n_rows
            FROM events GROUP BY user_id
        ), stats AS (
            SELECT sum(n_rows) AS total, count(*) AS nkeys FROM counts
        )
        SELECT key, CAST(n_rows AS BIGINT) AS n_rows,
               floor(CAST(n_rows AS DOUBLE) / total * 1e4 + 0.5) / 1e4
                   AS share,
               floor(CAST(n_rows AS DOUBLE) * nkeys / total * 1e4 + 0.5)
                   / 1e4 AS x_mean
        FROM counts CROSS JOIN stats
        ORDER BY n_rows DESC, key ASC NULLS LAST
        LIMIT 10
    """,
}

# the sketch is oracle-EXACT at fixture scale (per-partition key
# cardinality ≪ counter budget ⇒ Misra-Gries is an exact count), so it
# shares the exact report's oracle verbatim — the two diagnostics
# cannot disagree where both are exact
ORACLES["hot_keys_sketch"] = ORACLES["hot_keys_report"]

QUERIES = {
    "skew_salted_agg": q_skew_salted_agg,
    "hot_keys_report": q_hot_keys_report,
    "hot_keys_sketch": q_hot_keys_sketch,
}
