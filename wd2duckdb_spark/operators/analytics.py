"""Analytics-surface completion: pivot, map functions, statistical
aggregates, GROUPING SETS, binary-column ops, reproducible sampling,
approximate distinct (SURVEY §2.3 rows: multiplex/demultiplex,
array/map functions, aggregations, sampling/approx ops).

The reference delegates all of these to DuckDB SQL over its 6-table
output (README.md:9-10); our engine supplies them as stock Spark.

Scale notes:

- pivot: fixed value list → a single partial+final aggregate, no extra
  shuffle vs a plain groupBy (never let pivot infer values at 100 TB —
  that is an extra distinct scan);
- map ops: per-group maps built by map_from_entries(collect_list)
  stay bounded because the key domain (event types) is bounded;
- hash sampling: md5-mod sampling is the reproducible, cross-engine,
  cluster-stable way to sample — TABLESAMPLE output depends on
  partitioning and seed plumbing, a content hash does not;
- approx_count_distinct: HLL++ sketches merge associatively — the
  100 TB path for cardinality (exact distinct = full shuffle of the
  key; the sketch shuffles KBs per partition).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from wd2duckdb_spark.catalog import half_up, tbl

#: Pivot value list is pinned — at scale, letting pivot() infer values
#: costs an extra pass over the fact table.
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


def q_pivot_event_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Demultiplex-to-columns: per-user event_type → summed value
    matrix (the columnar cousin of the 19→6 type dispatch,
    value.rs:373-433)."""
    e = tbl(spark, sf_dir, "events")
    out = (
        e.groupBy("user_id")
        .pivot("event_type", list(EVENT_TYPES))
        .agg(F.round(F.sum("value"), 2))
        .orderBy("user_id")
    )
    return out


def q_map_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map construction + lookup (the per-language map access pattern,
    main.rs:192-193): per-user map of event_type → event count, then
    key-set size and point lookups."""
    # a NULL event_type cannot be a map KEY (Spark raises
    # NULL_MAP_KEY at map_from_entries); the oracle's count(*) FILTER
    # never matches NULL either — filter on both sides
    e = tbl(spark, sf_dir, "events").filter(
        F.col("event_type").isNotNull()
    )
    per_type = e.groupBy("user_id", "event_type").agg(
        F.count("*").alias("cnt")
    )
    m = F.map_from_entries(
        F.collect_list(F.struct("event_type", "cnt"))
    )
    return (
        per_type.groupBy("user_id")
        .agg(m.alias("type_counts"))
        .select(
            "user_id",
            F.size(F.map_keys("type_counts")).alias("n_types"),
            # coalesce: a user with no clicks has 0 clicks, not NULL —
            # matches the oracle's count(*) FILTER semantics (latent at
            # normal SFs where every user has every event type)
            F.coalesce(
                F.element_at("type_counts", "click"), F.lit(0)
            ).alias("n_clicks"),
            F.coalesce(
                F.element_at("type_counts", "purchase"), F.lit(0)
            ).alias("n_purchases"),
        )
        .orderBy("user_id")
    )


def q_stats_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregate family per return flag: stddev, variance,
    correlation, covariance, exact median (percentile).

    Small-magnitude columns (quantity ~25, discount ~0.05) keep the
    float roundoff from partial-aggregation order far below the 4 dp
    rounding on both engines."""
    l = tbl(spark, sf_dir, "lineitem")
    return (
        l.groupBy("l_returnflag")
        .agg(
            F.round(F.stddev_samp("l_quantity"), 4).alias("qty_stddev"),
            F.round(F.var_samp("l_discount"), 6).alias("disc_var"),
            F.round(F.corr("l_quantity", "l_extendedprice"), 4).alias(
                "qty_price_corr"
            ),
            F.round(F.covar_samp("l_quantity", "l_discount"), 6).alias(
                "qty_disc_covar"
            ),
            F.round(F.expr("percentile(l_quantity, 0.5)"), 2).alias(
                "qty_median"
            ),
            F.count("*").alias("n"),
        )
        .orderBy("l_returnflag")
    )


def q_grouping_sets_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS with grouping() discriminators — the exact
    multi-granularity aggregate (finer than cube/rollup, which the
    surface also has as cube_orders/rollup_acctbal)."""
    tbl(spark, sf_dir, "orders").createOrReplaceTempView("_gs_orders")
    return spark.sql(
        """
        SELECT coalesce(o_orderstatus, 'ALL') AS status,
               coalesce(o_orderpriority, 'ALL') AS priority,
               CAST(grouping(o_orderstatus) AS INT) AS g_status,
               CAST(grouping(o_orderpriority) AS INT) AS g_priority,
               round(sum(o_totalprice), 2) AS total,
               count(*) AS n
        FROM _gs_orders
        GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                                (o_orderstatus), ())
        ORDER BY status, priority
        """
    )


def q_binary_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column operations (the multimodal plumbing primitive):
    utf-8 encode → byte length, base64, md5-of-bytes. The same path a
    binary image/audio payload column takes (functions/multimodal.py),
    exercised here on text-derived bytes so a DuckDB oracle exists."""
    d = tbl(spark, sf_dir, "documents")
    bin_col = F.encode("text", "UTF-8")
    return d.select(
        "doc_id",
        F.length(bin_col).alias("n_bytes"),
        F.base64(F.encode(F.substring("text", 1, 12), "UTF-8")).alias(
            "b64_prefix"
        ),
        F.md5(bin_col).alias("bin_md5"),
    ).orderBy("doc_id")


def q_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible ~10% sample via content hash (md5(key) mod 10 = 0),
    then the sampled aggregate. Deterministic across engines, cluster
    layouts, and retries — unlike seeded TABLESAMPLE."""
    o = tbl(spark, sf_dir, "orders")
    bucket = F.pmod(
        F.conv(F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 8), 16, 10)
        .cast("long"),
        F.lit(10),
    )
    return (
        o.filter(bucket == 0)
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_sampled"),
            F.round(F.sum("o_totalprice"), 2).alias("sampled_total"),
        )
        .orderBy("o_orderpriority")
    )


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified sampling with per-stratum rates — rare order states
    kept at 50%, common ones at 10% (the class-balancing sampler of a
    training-data pipeline; `sampleBy` with engine-portable hashing).

    Rates ride the same md5-bucket as `hash_sample`, so the sample is
    deterministic across engines/retries/cluster layouts, and the rate
    lookup is a CASE expression — no join, no shuffle beyond the final
    tiny aggregate. At 100 TB this is a single filtered scan.
    """
    o = tbl(spark, sf_dir, "orders")
    bucket = F.pmod(
        F.conv(F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 8), 16, 10)
        .cast("long"),
        F.lit(100),
    )
    rate_pct = F.when(F.col("o_orderstatus") == "P", 50).otherwise(10)
    return (
        o.filter(bucket < rate_pct)
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_sampled"),
            F.round(F.sum("o_totalprice"), 2).alias("sampled_total"),
        )
        .orderBy("o_orderstatus")
    )


def q_upsert_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE-by-key (`maintenance.upsert`) exercised under the oracle
    gate: a simulated correction feed (one md5 bucket of orders,
    re-priced +5% and re-flagged 'R') merged into the base table, then
    the per-status accounting of the merged result.

    The update set is ~10% of base, so the anti join broadcasts the
    probe keys and the base table never shuffles — the plan a
    correction feed wants at 100 TB (pinned in test_maintenance.py).
    """
    from wd2duckdb_spark.maintenance import upsert

    o = tbl(spark, sf_dir, "orders")
    bucket = F.pmod(
        F.conv(F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 8), 16, 10)
        .cast("long"),
        F.lit(10),
    )
    updates = (
        o.filter(bucket == 3)
        .withColumn("o_orderstatus", F.lit("R"))
        .withColumn("o_totalprice", F.round(F.col("o_totalprice") * 1.05, 2))
    )
    merged = upsert(o, updates, ["o_orderkey"])
    return (
        merged.groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
        .orderBy("o_orderstatus")
    )


def q_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL++ approximate distinct customers per market segment, next to
    the exact count. No oracle entry: the sketch estimate is
    engine-specific by construction (DuckDB's approx_count_distinct
    uses a different HLL variant); tests/test_queries.py bounds the
    relative error instead."""
    c = tbl(spark, sf_dir, "customer")
    return (
        c.groupBy("c_mktsegment")
        .agg(
            F.approx_count_distinct("c_custkey", 0.02).alias("approx_customers"),
            F.countDistinct("c_custkey").alias("exact_customers"),
        )
        .orderBy("c_mktsegment")
    )


def q_approx_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greenwald-Khanna approximate percentiles per return flag, next
    to the exact ones. The sketch is mergeable — at 100 TB the exact
    percentile shuffles every value of the group to one reducer, while
    the GK summary shuffles a bounded-size digest per partition.

    No oracle entry: DuckDB's approx_quantile is a t-digest, a
    different sketch with different (also approximate) answers;
    tests/test_queries.py bounds the relative error against the exact
    percentiles instead (the same weak-entry treatment as
    approx_distinct)."""
    li = tbl(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.percentile_approx("l_extendedprice", 0.5, 10000).alias("approx_p50"),
            F.percentile_approx("l_extendedprice", 0.95, 10000).alias("approx_p95"),
            F.expr("percentile(l_extendedprice, 0.5)").alias("exact_p50"),
            F.expr("percentile(l_extendedprice, 0.95)").alias("exact_p95"),
        )
        .orderBy("l_returnflag")
    )


def q_agg_collect_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collection aggregates with deterministic ordering: per-region
    sorted nation array + csv. collect_list order is shuffle-dependent,
    so BOTH engines sort inside the aggregate — the only way collection
    aggregates are reproducible on a cluster."""
    n = tbl(spark, sf_dir, "nation")
    nations = F.sort_array(F.collect_list("n_name"))
    return (
        n.groupBy("n_regionkey")
        .agg(
            nations.alias("nations"),
            F.array_join(nations, ",").alias("nation_csv"),
        )
        .orderBy("n_regionkey")
    )


def q_unpivot_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (melt) — wide measure columns → long (name, value)
    rows, the inverse of pivot_event_values and the shape that feeds
    generic per-measure pipelines. Narrow operation: each input row
    expands in place, no shuffle before the output sort."""
    l = tbl(spark, sf_dir, "lineitem")
    return (
        l.select("l_orderkey", "l_linenumber", "l_quantity", "l_discount", "l_tax")
        .unpivot(
            ["l_orderkey", "l_linenumber"],
            ["l_quantity", "l_discount", "l_tax"],
            "name",
            "raw_value",
        )
        # Spark's unpivot keeps NULL-valued rows; DuckDB's UNPIVOT
        # drops them — align on drop-NULLs (lineitem measures are NOT
        # NULL, but the semantics must not depend on that)
        .filter(F.col("raw_value").isNotNull())
        .select(
            "l_orderkey",
            "l_linenumber",
            "name",
            F.round("raw_value", 2).alias("value"),
        )
        .orderBy("l_orderkey", "l_linenumber", "name")
    )


def q_window_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling event-time window aggregation via ``F.window`` — the
    batch twin of the streaming watermarked aggregation
    (streaming.ingest_stream.windowed_event_counts shares the shape).
    For 1-hour tumbling windows the result is exactly the
    date_trunc('hour') grouping, which is what the oracle checks."""
    e = tbl(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "total_value",
        )
        .orderBy("window_start", "event_type")
    )


def q_cube_grouping_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE + grouping_id(): the bitmask that distinguishes
    "NULL because rolled up" from "NULL in the data" — without it a
    cube over nullable dimensions is ambiguous."""
    o = tbl(spark, sf_dir, "orders")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            F.grouping_id().cast("int").alias("gid"),
        )
        .orderBy("gid", "o_orderstatus", "o_orderpriority")
    )


def q_window_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding (hopping) event-time windows: 1-hour windows every 30
    minutes — each event lands in exactly 2 windows. Spark expands the
    window set before the aggregation (a bounded ×2 fan-out), so the
    shuffle still carries only (window, agg) pairs; grid alignment is
    the Unix epoch on both engines, which 30-minute buckets share."""
    e = tbl(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "n_events",
            "total_value",
        )
        .orderBy("window_start")
    )


def q_percentiles_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group (``percentile`` —
    DuckDB ``quantile_cont``). Exact quantiles are a full sort within
    each group's aggregation buffer; at 100 TB you'd reach for
    approx_percentile (t-digest sketches merge associatively), but the
    exact form is part of the SQL surface and groups here are few.

    Oracle-parity note: Spark and DuckDB interpolate with different FP
    expression order (ulp-level divergence), so cross-engine-stable
    percentiles need a quantized column — l_quantity's integer values
    duplicate heavily, every quantile position lands inside a run of
    equal values, and interpolation degenerates to the exact value."""
    l = tbl(spark, sf_dir, "lineitem")

    def pct(p: float, alias: str):
        return F.round(F.expr(f"percentile(l_quantity, {p})"), 2).alias(alias)

    return (
        l.groupBy("l_returnflag")
        .agg(
            pct(0.25, "p25"),
            pct(0.5, "p50"),
            pct(0.9, "p90"),
            F.round(F.max("l_quantity"), 2).alias("p100"),
        )
        .orderBy("l_returnflag")
    )


def q_date_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-spine generation + gap-filling left join (sequence →
    explode): orders per day including zero-order days — the
    time-series densification primitive every training-data pipeline
    needs. The spine derives from a 1-row min/max aggregate, so the
    generated side is ~#days rows regardless of fact-table size; the
    per-day aggregate shuffles only #days groups."""
    o = tbl(spark, sf_dir, "orders")
    bounds = o.agg(
        F.min(F.to_date("o_orderdate")).alias("d0"),
        F.max(F.to_date("o_orderdate")).alias("d1"),
    )
    spine = bounds.select(F.explode(F.sequence("d0", "d1")).alias("day"))
    per_day = o.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.count("*").alias("n")
    )
    return (
        spine.join(per_day, "day", "left")
        .select("day", F.coalesce("n", F.lit(0)).alias("n_orders"))
        .orderBy("day")
    )


def _pivot_oracle() -> str:
    cols = ",\n               ".join(
        f"round(sum(value) FILTER (event_type = '{t}'), 2) AS \"{t}\""
        for t in EVENT_TYPES
    )
    return f"""
        SELECT user_id,
               {cols}
        FROM events
        GROUP BY user_id
        ORDER BY user_id
    """


#: CEP pattern: a CLEAN funnel — view, then click, then purchase, with
#: no error and no earlier purchase anywhere between the three stages.
#: Single-char codes keep the regex engine-portable (no word bounds).
EVENT_CODES = {
    "view": "v",
    "click": "c",
    "purchase": "p",
    "error": "e",
    "signup": "s",
}
FUNNEL_PATTERN = "v[^ep]*c[^ep]*p"

#: Abandoned cart: a view→click funnel (no error or purchase between
#: view and click) that then reaches ANOTHER view or the end of the
#: user's stream without a purchase. `(v|$)` and the negated classes
#: are in the Java-regex ∩ RE2 portable subset.
ABANDON_PATTERN = "v[^ep]*c[^pv]*(v|$)"

#: Session-scoped clean funnel: 'g' is the session-gap marker code
#: injected by ``match_events(session_gap_seconds=...)`` — excluding
#: it from every character class means a funnel cannot span a
#: session boundary (MATCH_RECOGNIZE's WITHIN semantics as a regex).
SESSION_FUNNEL_PATTERN = "v[^epg]*c[^epg]*p"
#: Gap threshold for the REGISTERED query, sized to the fixture's
#: event cadence (median inter-event gap ≈ 7.7 h, p90 ≈ 24 h, so a
#: 1-day gap splits real sessions); the API takes any positive value
#: — web-scale pipelines pass the classic 1800 s.
SESSION_GAP_SECONDS = 86_400

#: Hot-user bound for sequence assembly: a
#: bot-grade key's per-task state is capped at this many events; the
#: overflow is FLAGGED (`truncated`), never silent. 100k single-char
#: codes ≈ 100 KB of state per hot user — far under task memory.
MAX_SEQ_EVENTS = 100_000

#: Regex constructs outside the Java-regex ∩ RE2 portable subset:
#: lookarounds (RE2 has none) and backreferences (RE2 has none; they
#: also break the linear-time guarantee that makes regex-over-codes
#: safe against adversarial event streams).
_NON_PORTABLE_RE = ("(?=", "(?!", "(?<")


def match_events(
    events: DataFrame,
    pattern: str,
    codes: dict[str, str],
    *,
    key_col: str = "user_id",
    type_col: str = "event_type",
    order_cols: tuple[str, str] = ("ts", "event_id"),
    max_events: int = MAX_SEQ_EVENTS,
    session_gap_seconds: float | None = None,
) -> DataFrame:
    """Complex-event-processing (CEP) pattern matching — the
    MATCH_RECOGNIZE capability class — as a public parameterized API:
    each key's event stream collapses to one
    single-char-per-event string in ``order_cols`` order, and
    ``pattern`` is counted with non-overlapping leftmost regex
    semantics — identical in Java regex (Spark) and DuckDB's RE2 for
    the validated portable class (no lookarounds, no backreferences).
    Returns ``(key_col, n_events, n_matches, truncated)`` for every
    key; callers filter.

    ``codes`` maps event-type values to single lowercase code chars;
    unmapped/NULL types code as the reserved filler ``'o'``, which is
    transparent to any pattern that doesn't mention it. ``pattern``
    may only reference registered code letters (plus regex syntax) —
    a typo'd letter is a silent always-empty match, so it raises
    instead (the bm25_scored ValueError discipline).

    ``session_gap_seconds`` adds MATCH_RECOGNIZE's WITHIN semantics:
    the reserved marker ``'g'`` is injected into the sequence wherever
    consecutive events are more than the gap apart, so a pattern that
    excludes ``g`` from its classes (e.g. ``v[^epg]*c[^epg]*p``)
    cannot match across a session boundary. The markers are built
    IN-ROW by a fold over the already-sorted event array — no second
    window pass, no extra shuffle.

    Plan: ONE key-keyed aggregate (collect_list of (order, code)
    structs), in-row array_sort + slice + regexp_count at scan speed —
    no window, no self-join, no Python. Per-key task state is bounded
    by ``max_events`` (the slice keeps the FIRST ``max_events`` events
    in stream order; ``truncated`` flags affected keys), so a
    bot-grade hot key degrades explicitly instead of OOMing the task.
    """
    import re as _re

    if not isinstance(codes, dict) or not codes:
        raise ValueError("codes must be a non-empty {event_type: char} dict")
    vals = list(codes.values())
    for v in vals:
        if not (isinstance(v, str) and len(v) == 1 and v.isalpha() and v.islower()):
            raise ValueError(
                f"code {v!r} is not a single lowercase letter"
            )
    if len(set(vals)) != len(vals):
        raise ValueError(f"duplicate code chars in {sorted(vals)}")
    if "o" in vals:
        raise ValueError(
            "'o' is the reserved filler code for unmapped event types"
        )
    if "g" in vals:
        raise ValueError("'g' is the reserved session-gap marker code")
    if session_gap_seconds is not None and not (
        isinstance(session_gap_seconds, (int, float))
        and session_gap_seconds > 0
    ):
        raise ValueError(
            "session_gap_seconds must be a positive number, got "
            f"{session_gap_seconds!r}"
        )
    if session_gap_seconds is None and "g" in pattern:
        raise ValueError(
            "pattern references the session-gap marker 'g' but "
            "session_gap_seconds is not set — no marker would ever be "
            "injected"
        )
    if not pattern:
        raise ValueError("pattern must be non-empty")
    for tok in _NON_PORTABLE_RE:
        if tok in pattern:
            raise ValueError(
                f"pattern uses {tok!r} — lookarounds/backreferences are "
                "not portable to RE2 (the oracle engine) and void the "
                "linear-time matching guarantee"
            )
    if _re.search(r"\\[0-9]", pattern):
        raise ValueError("backreferences are not portable to RE2")
    try:
        _re.compile(pattern)
    except _re.error as exc:
        raise ValueError(f"pattern does not compile: {exc}") from exc
    alphabet = set(vals) | {"o", "g"}
    unknown = sorted(
        {ch for ch in pattern if ch.isalpha() and ch not in alphabet}
    )
    if unknown:
        raise ValueError(
            f"pattern letters {unknown} are not registered codes "
            f"(known: {sorted(alphabet)})"
        )
    if not isinstance(max_events, int) or max_events < 1:
        raise ValueError(f"max_events must be a positive int, got {max_events}")

    code = F.lit("o")
    for k, v in sorted(codes.items()):
        code = F.when(F.col(type_col) == k, F.lit(v)).otherwise(code)
    o1, o2 = order_cols
    if session_gap_seconds is None:
        seq = F.array_join(
            F.transform(
                F.slice(F.array_sort("evs"), 1, max_events),
                lambda x: x["code"],
            ),
            "",
        )
    else:
        # in-row fold over the sorted, capped event array: prepend 'g'
        # whenever this event is more than the gap after the previous
        # one (epoch-second double diff — whole-second fixture stamps,
        # identical arithmetic in the oracle's epoch())
        seq = F.expr(
            f"""aggregate(
                  slice(array_sort(evs), 1, {max_events}),
                  struct(cast('' as string) as s,
                         cast(null as timestamp) as pt),
                  (acc, x) -> struct(
                      concat(acc.s,
                             if(acc.pt is not null and
                                cast(x.t as double) - cast(acc.pt as double)
                                  > {float(session_gap_seconds)},
                                'g', ''),
                             x.code),
                      x.t),
                  acc -> acc.s)"""
        )
    per_key = (
        events.select(
            key_col,
            F.struct(
                F.col(o1).alias("t"), F.col(o2).alias("i"), code.alias("code")
            ).alias("ev"),
        )
        .groupBy(key_col)
        .agg(F.collect_list("ev").alias("evs"))
        .select(
            key_col,
            F.size("evs").cast("long").alias("n_events"),
            seq.alias("seq"),
        )
    )
    return per_key.select(
        key_col,
        "n_events",
        F.regexp_count("seq", F.lit(pattern)).cast("int").alias("n_matches"),
        (F.col("n_events") > max_events).alias("truncated"),
    )


def q_event_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clean view→click→purchase funnels per user (no error and no
    intervening purchase between the stages — the negative-condition
    semantics cascaded min-timestamp funnels cannot express), counted
    through the parameterized :func:`match_events` API. NULL/unknown
    event types code as 'o' and act as transparent filler. The
    ``truncated`` hot-user overflow flag is part of the contract (and
    of the oracle, via ``left(seq, max)``)."""
    out = match_events(
        tbl(spark, sf_dir, "events"), FUNNEL_PATTERN, EVENT_CODES
    )
    return (
        out.filter(F.col("n_matches") > 0)
        .select(
            "user_id",
            "n_events",
            F.col("n_matches").alias("n_clean_funnels"),
            "truncated",
        )
        .orderBy("user_id")
    )


def q_abandoned_cart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Abandoned carts per user — the second registered
    :func:`match_events` pattern: a view→click
    funnel that reaches another view or the end of the stream with NO
    purchase (``v[^ep]*c[^pv]*(v|$)``). The anchor + alternation
    exercise the portable-regex subset beyond plain character
    classes; semantics are identical in Java regex and RE2 for this
    class (both leftmost, non-overlapping)."""
    out = match_events(
        tbl(spark, sf_dir, "events"), ABANDON_PATTERN, EVENT_CODES
    )
    return (
        out.filter(F.col("n_matches") > 0)
        .select(
            "user_id",
            "n_events",
            F.col("n_matches").alias("n_abandoned"),
            "truncated",
        )
        .orderBy("user_id")
    )


def q_session_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clean funnels that complete WITHIN ONE SESSION (no >30-min gap
    between any two funnel events) — MATCH_RECOGNIZE's WITHIN clause
    as the gap-marker composition of :func:`match_events`: 'g' marks
    session boundaries in the code sequence and the pattern
    ``v[^epg]*c[^epg]*p`` cannot cross one. Compare with
    `event_pattern_match` (unscoped): n_session_funnels ≤
    n_clean_funnels per user, pinned in tests."""
    out = match_events(
        tbl(spark, sf_dir, "events"),
        SESSION_FUNNEL_PATTERN,
        EVENT_CODES,
        session_gap_seconds=SESSION_GAP_SECONDS,
    )
    return (
        out.filter(F.col("n_matches") > 0)
        .select(
            "user_id",
            "n_events",
            F.col("n_matches").alias("n_session_funnels"),
            "truncated",
        )
        .orderBy("user_id")
    )


def q_funnel_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered event funnel: view → click-after-view →
    purchase-after-click, counted over the events stream.

    Sequential "next stage strictly after previous" semantics via
    cascaded min-timestamp aggregations — each stage is one shuffle on
    user_id and each stage's input is a filtered, shrinking subset.
    The per-user state is 3 timestamps; no sessionization, no window
    sort over the full stream.
    """
    e = tbl(spark, sf_dir, "events")
    views = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    clicks = (
        e.filter(F.col("event_type") == "click")
        .join(views, "user_id")
        .filter(F.col("ts") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    purchases = (
        e.filter(F.col("event_type") == "purchase")
        .join(clicks, "user_id")
        .filter(F.col("ts") > F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    n_v = views.agg(F.count("*").alias("users_view"))
    n_c = clicks.agg(F.count("*").alias("users_click"))
    n_p = purchases.agg(F.count("*").alias("users_purchase"))
    return (
        n_v.crossJoin(n_c)
        .crossJoin(n_p)
        .select(
            "users_view",
            "users_click",
            "users_purchase",
            # nullif: a zero-user stage has an UNDEFINED conversion
            # rate (NULL), not a crash — ANSI mode makes x/0 an error
            F.round(
                F.col("users_click")
                / F.nullif(F.col("users_view"), F.lit(0)),
                4,
            ).alias("view_to_click"),
            F.round(
                F.col("users_purchase")
                / F.nullif(F.col("users_click"), F.lit(0)),
                4,
            ).alias("click_to_purchase"),
        )
    )


def q_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention matrix: users grouped by first-activity
    week, counted in each subsequent activity week.

    Two shuffles total: first-seen per user, then (cohort, offset)
    distinct-user counts over the deduped (user, week) activity set.
    Output is |weeks|² rows — constant-ish — no matter the event
    volume; the (user, week) dedup is the step that keeps the
    count-distinct from concentrating.
    """
    e = tbl(spark, sf_dir, "events")
    firsts = e.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    activity = e.select(
        "user_id", F.date_trunc("week", "ts").alias("week")
    ).distinct()
    return (
        activity.join(firsts, "user_id")
        .withColumn(
            "week_offset",
            (
                F.datediff(F.col("week").cast("date"),
                           F.col("cohort_week").cast("date")) / 7
            ).cast("int"),
        )
        .groupBy(
            # DuckDB's date_trunc('week') yields DATE; align the types
            F.col("cohort_week").cast("date").alias("cohort_week"),
            "week_offset",
        )
        .agg(F.countDistinct("user_id").alias("n_active"))
        .orderBy("cohort_week", "week_offset")
    )


def q_argmax_extremes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """min_by / max_by (argmin/argmax) per nation: which customer holds
    the extreme balance.

    Tie-break is made deterministic by folding the unique custkey into
    the ordering value (bal*1e8 + key — exact in a double's 53-bit
    mantissa at these magnitudes); nondeterministic argmax would flip
    the value hash run to run. One partial+final aggregate, ≤25 groups;
    the 100 TB cost is one map-side combine, no sort anywhere.
    """
    c = tbl(spark, sf_dir, "customer")
    return (
        c.groupBy("c_nationkey")
        .agg(
            F.expr(
                "max_by(c_name, c_acctbal * 100000000 + c_custkey)"
            ).alias("richest"),
            F.round(F.max("c_acctbal"), 2).alias("max_bal"),
            F.expr(
                "min_by(c_name, c_acctbal * 100000000 + c_custkey)"
            ).alias("poorest"),
            F.round(F.min("c_acctbal"), 2).alias("min_bal"),
        )
        .orderBy("c_nationkey")
    )


def q_mode_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed deterministic mode: most frequent l_quantity per
    return flag, built as count-per-value → argmax(value, (count,
    value)) instead of the engine's ``mode()`` (whose tie choice is
    engine-defined — it would hash-mismatch across engines).

    Two aggregations, both partial+final: the first shuffles on
    (flag, qty) — bounded by the value domain, not the row count —
    the second reduces ≤ domain-size rows. This is THE scale pattern
    for mode/heavy-hitters: never collect values, count then argmax.
    """
    l = tbl(spark, sf_dir, "lineitem")
    per_val = l.groupBy("l_returnflag", "l_quantity").agg(F.count("*").alias("cnt"))
    return (
        per_val.groupBy("l_returnflag")
        .agg(
            F.expr("max_by(l_quantity, cnt * 1000000 + l_quantity)").alias(
                "mode_qty"
            ),
            F.max("cnt").alias("mode_count"),
        )
        .orderBy("l_returnflag")
    )


def q_bitwise_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise aggregate family (bit_and / bit_or / bit_xor) over the
    orderkey space per order status — set-membership style rollups.
    Associative+commutative ⇒ full map-side combine at any scale."""
    o = tbl(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderstatus")
        .agg(
            F.expr("bit_and(o_orderkey)").alias("keys_and"),
            F.expr("bit_or(o_orderkey)").alias("keys_or"),
            F.expr("bit_xor(o_orderkey)").alias("keys_xor"),
            F.count("*").alias("n"),
        )
        .orderBy("o_orderstatus")
    )




def q_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-aggregate maintenance
    (`maintenance.merge_aggregate`) under the oracle gate: the per-user
    (count, value-sum) aggregate built from history (ts ≤ cut), folded
    together with the post-cut delta WITHOUT re-reading history — the
    result must equal the full recompute, which is exactly what the
    oracle does. At 100 TB this is the nightly-rollup pattern: cost
    O(delta + affected keys), not O(raw history)."""
    from wd2duckdb_spark.maintenance import merge_aggregate

    e = tbl(spark, sf_dir, "events")
    cut = F.lit("2024-01-15 00:00:00").cast("timestamp")
    base_agg = (
        e.filter(F.col("ts") <= cut)
        .groupBy("user_id")
        .agg(F.count("*").alias("n"), F.sum("value").alias("v"))
    )
    delta = (
        e.filter(F.col("ts") > cut)
        .select("user_id", F.col("value").alias("v"))
    )
    merged = merge_aggregate(
        base_agg, delta, keys=["user_id"], count_col="n", sum_cols=("v",)
    )
    return merged.select(
        "user_id",
        F.col("n").alias("n_events"),
        F.round("v", 2).alias("total_value"),
    ).orderBy("user_id")




def q_interpolate_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user time-series gap fill with LINEAR interpolation: the
    daily value series (mean per observed day) is densified onto each
    user's [min_day, max_day] calendar, and missing days take
    prev + (next-prev) * elapsed/gap — the standard sensor/feature
    backfill. Edge days (before first / after last observation) clamp
    to the nearest observed value.

    Plan: one groupBy (observations), a per-user sequence explode
    (spine), a join back, and two IGNORE NULLS window passes (last
    backward, first forward) — no UDF, no self-join per gap; one
    shuffle on user_id that every step reuses."""
    e = tbl(spark, sf_dir, "events")
    # Daily metric = SUM (not avg) normalized by floor(x*1e4+0.5)/1e4:
    # a sum of 2-dp values is a 2-dp decimal in exact arithmetic, so
    # the ±1 ulp noise from cross-engine summation order sits ~1e-10
    # away from the floor boundary — the normalized double is
    # BIT-IDENTICAL in Spark and DuckDB. Interpolating from identical
    # inputs with identical op order keeps every downstream double
    # identical too, so the final floor can never disagree (round()
    # can: its tie rule differs between the engines at exact .00005).
    daily = (
        e.groupBy("user_id", F.to_date("ts").alias("day"))
        .agg(
            half_up(F.sum("value"), 4).alias("v_obs")
        )
    )
    spine = (
        daily.groupBy("user_id")
        .agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
        .select(
            "user_id",
            F.explode(F.sequence("d0", "d1")).alias("day"),
        )
    )
    g = spine.join(daily, ["user_id", "day"], "left")
    w = Window.partitionBy("user_id").orderBy("day")
    back = w.rowsBetween(Window.unboundedPreceding, 0)
    fwd = w.rowsBetween(0, Window.unboundedFollowing)
    prev_v = F.last("v_obs", ignorenulls=True).over(back)
    next_v = F.first("v_obs", ignorenulls=True).over(fwd)
    prev_d = F.last(
        F.when(F.col("v_obs").isNotNull(), F.col("day")), ignorenulls=True
    ).over(back)
    next_d = F.first(
        F.when(F.col("v_obs").isNotNull(), F.col("day")), ignorenulls=True
    ).over(fwd)
    # association mirrors the oracle exactly — ((next-prev) * days) /
    # gap — so both engines run the same IEEE op sequence on the same
    # pre-rounded inputs and the final 4 dp round cannot straddle.
    interp = prev_v + (
        (next_v - prev_v) * F.datediff(F.col("day"), prev_d)
    ) / F.datediff(next_d, prev_d)
    filled = F.when(F.col("v_obs").isNotNull(), F.col("v_obs")).otherwise(
        F.coalesce(
            interp,  # interior gap
            prev_v,  # after the last observation
            next_v,  # before the first observation
        )
    )
    # floor(x*1e4 + 0.5)/1e4 instead of round(): interior midpoints
    # (gap=2) land EXACTLY on .00005 ties, where Spark's and DuckDB's
    # round() disagree; floor on bit-identical doubles cannot.
    return g.select(
        "user_id",
        "day",
        "v_obs",
        half_up(filled, 4).alias("v_filled"),
    ).orderBy("user_id", "day")


ORACLES: dict[str, str] = {
    "interpolate_daily": """
        WITH daily AS (
            SELECT user_id, CAST(ts AS DATE) AS day,
                   floor(sum(value) * 10000 + 0.5) / 10000 AS v_obs
            FROM events GROUP BY 1, 2
        ), spine AS (
            SELECT user_id, unnest(generate_series(min(day), max(day),
                                                   INTERVAL 1 DAY))::DATE AS day
            FROM daily GROUP BY user_id
        ), g AS (
            SELECT s.user_id, s.day, d.v_obs FROM spine s
            LEFT JOIN daily d USING (user_id, day)
        ), x AS (
            SELECT user_id, day, v_obs,
                   last_value(v_obs IGNORE NULLS) OVER
                       (PARTITION BY user_id ORDER BY day
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS prev_v,
                   first_value(v_obs IGNORE NULLS) OVER
                       (PARTITION BY user_id ORDER BY day
                        ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
                       AS next_v,
                   last_value(CASE WHEN v_obs IS NOT NULL THEN day END
                              IGNORE NULLS) OVER
                       (PARTITION BY user_id ORDER BY day
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS prev_d,
                   first_value(CASE WHEN v_obs IS NOT NULL THEN day END
                               IGNORE NULLS) OVER
                       (PARTITION BY user_id ORDER BY day
                        ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
                       AS next_d
            FROM g
        )
        SELECT user_id, day, v_obs,
               floor((CASE WHEN v_obs IS NOT NULL THEN v_obs
                      ELSE coalesce(
                          prev_v + (next_v - prev_v)
                              * (day - prev_d) / (next_d - prev_d),
                          prev_v, next_v) END) * 10000 + 0.5) / 10000
                   AS v_filled
        FROM x ORDER BY user_id, day
    """,

    "incremental_agg": """
        SELECT user_id,
               count(*) AS n_events,
               round(sum(value), 2) AS total_value
        FROM events
        GROUP BY user_id
        ORDER BY user_id
    """,

    "funnel_stages": """
        WITH views AS (
            SELECT user_id, min(ts) AS t_view
            FROM events WHERE event_type = 'view' GROUP BY user_id
        ),
        clicks AS (
            SELECT e.user_id, min(e.ts) AS t_click
            FROM events e JOIN views v ON e.user_id = v.user_id
            WHERE e.event_type = 'click' AND e.ts > v.t_view
            GROUP BY e.user_id
        ),
        purchases AS (
            SELECT e.user_id, min(e.ts) AS t_purchase
            FROM events e JOIN clicks c ON e.user_id = c.user_id
            WHERE e.event_type = 'purchase' AND e.ts > c.t_click
            GROUP BY e.user_id
        )
        SELECT (SELECT count(*) FROM views)     AS users_view,
               (SELECT count(*) FROM clicks)    AS users_click,
               (SELECT count(*) FROM purchases) AS users_purchase,
               round(CAST((SELECT count(*) FROM clicks) AS DOUBLE)
                     / nullif((SELECT count(*) FROM views), 0), 4)
                   AS view_to_click,
               round(CAST((SELECT count(*) FROM purchases) AS DOUBLE)
                     / nullif((SELECT count(*) FROM clicks), 0), 4)
                   AS click_to_purchase
    """,
    "retention_cohorts": """
        WITH firsts AS (
            SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
            FROM events GROUP BY user_id
        ),
        activity AS (
            SELECT DISTINCT user_id, date_trunc('week', ts) AS week
            FROM events
        )
        SELECT cohort_week,
               CAST(datediff('day', cohort_week, week) / 7 AS INT)
                   AS week_offset,
               CAST(count(DISTINCT user_id) AS BIGINT) AS n_active
        FROM activity JOIN firsts USING (user_id)
        GROUP BY 1, 2
        ORDER BY 1, 2
    """,
    "argmax_extremes": """
        SELECT c_nationkey,
               arg_max(c_name, c_acctbal * 100000000 + c_custkey) AS richest,
               round(max(c_acctbal), 2) AS max_bal,
               arg_min(c_name, c_acctbal * 100000000 + c_custkey) AS poorest,
               round(min(c_acctbal), 2) AS min_bal
        FROM customer
        GROUP BY c_nationkey
        ORDER BY c_nationkey
    """,
    "mode_quantity": """
        SELECT l_returnflag,
               arg_max(l_quantity, cnt * 1000000 + l_quantity) AS mode_qty,
               max(cnt) AS mode_count
        FROM (SELECT l_returnflag, l_quantity, count(*) AS cnt
              FROM lineitem GROUP BY 1, 2)
        GROUP BY l_returnflag
        ORDER BY l_returnflag
    """,
    "bitwise_agg": """
        SELECT o_orderstatus,
               bit_and(o_orderkey) AS keys_and,
               bit_or(o_orderkey) AS keys_or,
               bit_xor(o_orderkey) AS keys_xor,
               CAST(count(*) AS BIGINT) AS n
        FROM orders
        GROUP BY o_orderstatus
        ORDER BY o_orderstatus
    """,
    "pivot_event_values": _pivot_oracle(),
    "agg_collect_sorted": """
        SELECT n_regionkey,
               list_sort(list(n_name)) AS nations,
               string_agg(n_name, ',' ORDER BY n_name) AS nation_csv
        FROM nation
        GROUP BY n_regionkey
        ORDER BY n_regionkey
    """,
    "unpivot_measures": """
        SELECT l_orderkey, l_linenumber, name, round(value, 2) AS value
        FROM (
            UNPIVOT (SELECT l_orderkey, l_linenumber, l_quantity,
                            l_discount, l_tax FROM lineitem)
            ON l_quantity, l_discount, l_tax
            INTO NAME name VALUE value
        )
        ORDER BY l_orderkey, l_linenumber, name
    """,
    "window_tumbling": """
        SELECT date_trunc('hour', ts) AS window_start,
               date_trunc('hour', ts) + INTERVAL 1 HOUR AS window_end,
               event_type,
               CAST(count(*) AS BIGINT) AS n_events,
               round(sum(value), 2) AS total_value
        FROM events
        GROUP BY 1, 2, 3
        ORDER BY window_start, event_type
    """,
    "map_funcs": """
        SELECT user_id,
               CAST(count(DISTINCT event_type) AS INT) AS n_types,
               count(*) FILTER (event_type = 'click') AS n_clicks,
               count(*) FILTER (event_type = 'purchase') AS n_purchases
        FROM events
        WHERE event_type IS NOT NULL
        GROUP BY user_id
        ORDER BY user_id
    """,
    "stats_funcs": """
        SELECT l_returnflag,
               round(stddev_samp(l_quantity), 4) AS qty_stddev,
               round(var_samp(l_discount), 6) AS disc_var,
               round(corr(l_quantity, l_extendedprice), 4) AS qty_price_corr,
               round(covar_samp(l_quantity, l_discount), 6) AS qty_disc_covar,
               round(CAST(quantile_cont(l_quantity, 0.5) AS DOUBLE), 2)
                   AS qty_median,
               CAST(count(*) AS BIGINT) AS n
        FROM lineitem
        GROUP BY l_returnflag
        ORDER BY l_returnflag
    """,
    "grouping_sets_revenue": """
        SELECT coalesce(o_orderstatus, 'ALL') AS status,
               coalesce(o_orderpriority, 'ALL') AS priority,
               CAST(grouping(o_orderstatus) AS INT) AS g_status,
               CAST(grouping(o_orderpriority) AS INT) AS g_priority,
               round(sum(o_totalprice), 2) AS total,
               CAST(count(*) AS BIGINT) AS n
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                                (o_orderstatus), ())
        ORDER BY status, priority
    """,
    "binary_funcs": """
        SELECT doc_id,
               CAST(octet_length(encode(text)) AS INT) AS n_bytes,
               to_base64(encode(substr(text, 1, 12))) AS b64_prefix,
               md5(text) AS bin_md5
        FROM documents
        ORDER BY doc_id
    """,
    "hash_sample": """
        SELECT o_orderpriority,
               CAST(count(*) AS BIGINT) AS n_sampled,
               round(sum(o_totalprice), 2) AS sampled_total
        FROM orders
        WHERE ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8))::BIGINT
              % 10 = 0
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
    """,
    "upsert_merge": """
        WITH bucketed AS (
            SELECT *,
                   ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8))
                       ::BIGINT % 10 AS b
            FROM orders
        ), merged AS (
            SELECT o_orderstatus, o_totalprice FROM bucketed WHERE b <> 3
            UNION ALL
            SELECT 'R' AS o_orderstatus,
                   round(o_totalprice * 1.05, 2) AS o_totalprice
            FROM bucketed WHERE b = 3
        )
        SELECT o_orderstatus,
               CAST(count(*) AS BIGINT) AS n_orders,
               round(sum(o_totalprice), 2) AS total
        FROM merged
        GROUP BY o_orderstatus
        ORDER BY o_orderstatus
    """,
    "stratified_sample": """
        SELECT o_orderstatus,
               CAST(count(*) AS BIGINT) AS n_sampled,
               round(sum(o_totalprice), 2) AS sampled_total
        FROM orders
        WHERE ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8))::BIGINT
              % 100 < CASE WHEN o_orderstatus = 'P' THEN 50 ELSE 10 END
        GROUP BY o_orderstatus
        ORDER BY o_orderstatus
    """,
    "cube_grouping_id": """
        SELECT o_orderstatus, o_orderpriority,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(GROUPING(o_orderstatus, o_orderpriority) AS INT) AS gid
        FROM orders
        GROUP BY CUBE (o_orderstatus, o_orderpriority)
        ORDER BY gid, o_orderstatus, o_orderpriority
    """,
    "window_sliding": """
        WITH slides AS (
            SELECT unnest(generate_series(
                       CAST(time_bucket(INTERVAL 30 MINUTE, ts) AS TIMESTAMP)
                           - INTERVAL 30 MINUTE,
                       CAST(time_bucket(INTERVAL 30 MINUTE, ts) AS TIMESTAMP),
                       INTERVAL 30 MINUTE)) AS window_start,
                   value
            FROM events
        )
        SELECT window_start,
               window_start + INTERVAL 1 HOUR AS window_end,
               CAST(count(*) AS BIGINT) AS n_events,
               round(sum(value), 2) AS total_value
        FROM slides
        GROUP BY window_start
        ORDER BY window_start
    """,
    "percentiles_exact": """
        SELECT l_returnflag,
               round(quantile_cont(l_quantity, 0.25), 2) AS p25,
               round(quantile_cont(l_quantity, 0.5), 2) AS p50,
               round(quantile_cont(l_quantity, 0.9), 2) AS p90,
               round(max(l_quantity), 2) AS p100
        FROM lineitem
        GROUP BY l_returnflag
        ORDER BY l_returnflag
    """,
    "date_spine": """
        WITH bounds AS (
            SELECT min(CAST(o_orderdate AS DATE)) AS d0,
                   max(CAST(o_orderdate AS DATE)) AS d1
            FROM orders
        ), days AS (
            SELECT CAST(unnest(generate_series(
                       CAST(d0 AS TIMESTAMP), CAST(d1 AS TIMESTAMP),
                       INTERVAL 1 DAY)) AS DATE) AS day
            FROM bounds
        ), per_day AS (
            SELECT CAST(o_orderdate AS DATE) AS day, count(*) AS n
            FROM orders GROUP BY 1
        )
        SELECT day, CAST(coalesce(n, 0) AS BIGINT) AS n_orders
        FROM days LEFT JOIN per_day USING (day)
        ORDER BY day
    """,
}

#: Equi-width histogram bucket count.
HIST_BUCKETS = 8

def match_events_oracle_sql(
    pattern: str,
    out_col: str,
    gap_seconds: float | None = None,
    codes: dict[str, str] | None = None,
    max_events: int = MAX_SEQ_EVENTS,
) -> str:
    """DuckDB twin of :func:`match_events` + the registered >0 filter
    — PUBLIC so a user-registered pattern/code-set gets its oracle
    generated from the same template as the built-in queries: same
    codes, same (ts, event_id) order, same FIRST-``max`` cap
    (``left(seq, max)`` — one char per event — in the plain form; a
    row_number cutoff in the gap-marker form, whose marker chars
    break the one-char-per-event alignment), same overflow flag, same
    lag-based 'g' injection rule."""
    case = "\n                        ".join(
        f"WHEN '{k}' THEN '{v}'"
        for k, v in sorted((codes or EVENT_CODES).items())
    )
    if gap_seconds is None:
        per_user = f"""per_user AS (
            SELECT user_id,
                   CAST(count(*) AS BIGINT) AS n_events,
                   left(string_agg(code, '' ORDER BY ts, event_id),
                        {max_events}) AS seq
            FROM coded GROUP BY user_id
        )"""
    else:
        per_user = f"""marked AS (
            SELECT user_id, ts, event_id,
                   CASE WHEN rn <= {max_events} THEN
                        (CASE WHEN pt IS NOT NULL
                                   AND epoch(ts) - epoch(pt)
                                       > {float(gap_seconds)}
                              THEN 'g' ELSE '' END) || code
                        ELSE '' END AS gcode
            FROM coded
        ), per_user AS (
            SELECT m.user_id,
                   CAST((SELECT count(*) FROM coded c
                         WHERE c.user_id = m.user_id) AS BIGINT)
                       AS n_events,
                   string_agg(gcode, '' ORDER BY ts, event_id) AS seq
            FROM marked m GROUP BY m.user_id
        )"""
    lagcols = (
        """,
                   lag(ts) OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id) AS pt,
                   row_number() OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS rn"""
        if gap_seconds is not None
        else ""
    )
    return f"""
        WITH coded AS (
            SELECT user_id, ts, event_id,
                   CASE event_type
                        {case}
                        ELSE 'o' END AS code{lagcols}
            FROM events
        ), {per_user}
        SELECT user_id, n_events,
               CAST(len(regexp_extract_all(seq, '{pattern}'))
                    AS INT) AS {out_col},
               n_events > {max_events} AS truncated
        FROM per_user
        WHERE len(regexp_extract_all(seq, '{pattern}')) > 0
        ORDER BY user_id
    """


ORACLES["event_pattern_match"] = match_events_oracle_sql(
    FUNNEL_PATTERN, "n_clean_funnels"
)
ORACLES["abandoned_cart"] = match_events_oracle_sql(
    ABANDON_PATTERN, "n_abandoned"
)
ORACLES["session_funnel"] = match_events_oracle_sql(
    SESSION_FUNNEL_PATTERN, "n_session_funnels", gap_seconds=SESSION_GAP_SECONDS
)

ORACLES["histogram_equiwidth"] = f"""
    WITH bounds AS (
        SELECT min(o_totalprice) AS mn, max(o_totalprice) AS mx
        FROM orders WHERE o_totalprice IS NOT NULL
    ), bucketed AS (
        SELECT o_totalprice, mn, mx,
               CAST(CASE WHEN mx = mn THEN 0
                    ELSE least(floor((o_totalprice - mn) / (mx - mn)
                                     * {HIST_BUCKETS}),
                               {HIST_BUCKETS - 1}) END AS INT) AS bucket
        FROM orders CROSS JOIN bounds
        WHERE o_totalprice IS NOT NULL
    )
    SELECT bucket,
           floor((min(mn) + bucket * (max(mx) - min(mn))
                  / {HIST_BUCKETS}) * 100 + 0.5) / 100 AS bin_lo,
           floor((min(mn) + (bucket + 1) * (max(mx) - min(mn))
                  / {HIST_BUCKETS}) * 100 + 0.5) / 100 AS bin_hi,
           count(*) AS n_orders,
           floor(avg(o_totalprice) * 100 + 0.5) / 100 AS avg_price
    FROM bucketed
    GROUP BY bucket
    ORDER BY bucket
"""


def q_histogram_equiwidth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram of order totals: HIST_BUCKETS fixed-width
    bins between global min and max, with per-bin counts and means —
    the distribution profile an optimizer's ANALYZE or a data-quality
    dashboard computes.

    Two aggregate passes, zero sorts: pass 1 reduces to a 1-row
    (min, max) bounds table that broadcasts back (the scalar-subquery
    shape); pass 2 buckets every row arithmetically and aggregates.
    This is the scalable histogram — the equi-DEPTH variant needs a
    global quantile (see `percentiles_exact` / `approx_quantiles`);
    equi-width needs only min/max and is a pure map-side expression.

    Both engines compute the bucket from the identical expression
    ``floor((x - mn) / (mx - mn) * NB)`` on identical doubles, so
    bin assignment cannot diverge; presentation edges and means are
    floor-normalized to 2 dp.
    """
    # NULL prices cannot be binned — quarantine-filter them (they
    # would otherwise land in the TOP bucket: least() skips NULLs in
    # both engines, so least(floor(NULL), NB-1) = NB-1)
    o = tbl(spark, sf_dir, "orders").filter(
        F.col("o_totalprice").isNotNull()
    )
    bounds = o.agg(
        F.min("o_totalprice").alias("mn"), F.max("o_totalprice").alias("mx")
    )
    nb = F.lit(HIST_BUCKETS)
    # the degenerate mn == mx corpus (one distinct price) puts every
    # row in bucket 0 EXPLICITLY — a nullif/coalesce formulation is
    # subtly wrong because least() SKIPS nulls (least(floor(NULL),
    # NB-1) = NB-1, the top bucket), and ANSI mode makes x/0 an error
    bucket = F.when(F.col("mx") == F.col("mn"), F.lit(0)).otherwise(
        F.least(
            F.floor(
                (F.col("o_totalprice") - F.col("mn"))
                / (F.col("mx") - F.col("mn"))
                * nb
            ),
            F.lit(HIST_BUCKETS - 1),
        )
    ).cast("int")
    return (
        o.crossJoin(F.broadcast(bounds))
        .select("o_totalprice", "mn", "mx", bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(
            half_up(
                F.min("mn") + F.col("bucket") * (F.min("mx") - F.min("mn")) / nb,
                2,
            ).alias("bin_lo"),
            half_up(
                F.min("mn")
                + (F.col("bucket") + 1) * (F.min("mx") - F.min("mn")) / nb,
                2,
            ).alias("bin_hi"),
            F.count("*").alias("n_orders"),
            half_up(F.avg("o_totalprice"), 2).alias("avg_price"),
        )
        .orderBy("bucket")
    )


#: Measure columns for the correlation matrix.
CORR_MEASURES = ("l_quantity", "l_extendedprice", "l_discount")


def q_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation matrix of the lineitem measures in
    ONE aggregate pass — the feature-screening step before a model or
    an index choice (corr ≈ ±1 ⇒ redundant column / good sort key).

    All C(n,2) coefficients come from a single partial+final aggregate
    (each corr is a distributive co-moment), then a stack() pivots the
    1-row result into tidy (m1, m2, corr) rows — no second scan, no
    join. Floor-normalized to 4 dp: both engines accumulate co-moments
    in different orders.
    """
    l = tbl(spark, sf_dir, "lineitem")
    pairs = [
        (a, b)
        for i, a in enumerate(CORR_MEASURES)
        for b in CORR_MEASURES[i + 1:]
    ]
    aggs = [
        half_up(F.corr(a, b), 4).alias(f"c_{i}")
        for i, (a, b) in enumerate(pairs)
    ]
    stack_args = ", ".join(
        f"'{a}', '{b}', c_{i}" for i, (a, b) in enumerate(pairs)
    )
    return (
        l.agg(*aggs)
        .selectExpr(
            f"stack({len(pairs)}, {stack_args}) AS (m1, m2, corr)"
        )
        .orderBy("m1", "m2")
    )


ORACLES["corr_matrix"] = f"""
    WITH a AS (
        SELECT
            {", ".join(
                f"floor(corr({x}, {y}) * 1e4 + 0.5) / 1e4 AS c_{i}"
                for i, (x, y) in enumerate(
                    (x, y)
                    for j, x in enumerate(CORR_MEASURES)
                    for y in CORR_MEASURES[j + 1:]
                )
            )}
        FROM lineitem
    )
    {" UNION ALL ".join(
        f"SELECT '{x}' AS m1, '{y}' AS m2, c_{i} AS corr FROM a"
        for i, (x, y) in enumerate(
            (x, y)
            for j, x in enumerate(CORR_MEASURES)
            for y in CORR_MEASURES[j + 1:]
        )
    )}
    ORDER BY m1, m2
"""


QUERIES = {
    "histogram_equiwidth": q_histogram_equiwidth,
    "corr_matrix": q_corr_matrix,
    "funnel_stages": q_funnel_stages,
    "event_pattern_match": q_event_pattern_match,
    "abandoned_cart": q_abandoned_cart,
    "session_funnel": q_session_funnel,
    "retention_cohorts": q_retention_cohorts,
    "argmax_extremes": q_argmax_extremes,
    "mode_quantity": q_mode_quantity,
    "bitwise_agg": q_bitwise_agg,
    "pivot_event_values": q_pivot_event_values,
    "window_tumbling": q_window_tumbling,
    "unpivot_measures": q_unpivot_measures,
    "agg_collect_sorted": q_agg_collect_sorted,
    "map_funcs": q_map_funcs,
    "stats_funcs": q_stats_funcs,
    "grouping_sets_revenue": q_grouping_sets_revenue,
    "binary_funcs": q_binary_funcs,
    "hash_sample": q_hash_sample,
    "stratified_sample": q_stratified_sample,
    "upsert_merge": q_upsert_merge,
    "incremental_agg": q_incremental_agg,
    "interpolate_daily": q_interpolate_daily,
    "approx_distinct": q_approx_distinct,
    "approx_quantiles": q_approx_quantiles,
    "percentiles_exact": q_percentiles_exact,
    "date_spine": q_date_spine,
    "window_sliding": q_window_sliding,
    "cube_grouping_id": q_cube_grouping_id,
}
