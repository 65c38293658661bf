"""Event-time analytics: SCD2 interval construction, time-interval
rolling windows, and linear-regression aggregates.

The warehouse temporal tier on top of the ``events`` table. Every
operator partitions by ``user_id`` (high cardinality — scales out) and
needs exactly ONE shuffle: consecutive windows share the same
(partition, order) spec so Spark reuses one sort, and the aggregates
are plain hash aggregates with map-side partials.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from wd2duckdb_spark.catalog import half_up, tbl


def q_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension (type 2) build: collapse each user's
    event stream into validity intervals of its ``event_type``
    attribute — a new interval opens only when the attribute CHANGES.

    Classic change-data-capture → dimension-table derivation: detect
    changes with lag(), then close each change row's interval with
    lead(). Both windows use the identical (user_id; ts, event_id)
    spec, so the plan sorts once and pipelines the second window over
    the first — one shuffle total, no join. The event_id tie-break
    makes same-timestamp rows deterministic in both engines.
    """
    e = tbl(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changes = (
        e.select("user_id", "event_type", "ts", "event_id")
        .withColumn("prev_type", F.lag("event_type").over(w))
        .filter(
            F.col("prev_type").isNull()
            | (F.col("prev_type") != F.col("event_type"))
        )
    )
    return (
        changes.select(
            "user_id",
            F.col("event_type").alias("attr"),
            F.col("ts").alias("valid_from"),
            F.lead("ts").over(w).alias("valid_to"),
        )
        .withColumn(
            "is_current", F.col("valid_to").isNull().cast("int")
        )
        .orderBy("user_id", "valid_from", "attr")
    )


def q_rolling_7d_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day per-user feature columns via a TIME-INTERVAL
    RANGE frame (``RANGE BETWEEN INTERVAL 7 DAYS PRECEDING AND CURRENT
    ROW`` over the raw timestamp) — the ML-feature-backfill shape.

    Unlike the numeric RANGE frame of ``window_range_frame``, the
    bound here is a calendar interval evaluated against the timestamp
    ordering key directly — no day-ordinal projection, and the frame
    stays tie-safe for same-timestamp events. One shuffle on user_id;
    the frame is computed with a sliding two-pointer over each user's
    sorted events, so cost is O(events) regardless of window width.
    """
    e = tbl(spark, sf_dir, "events")
    over = (
        "OVER (PARTITION BY user_id ORDER BY ts "
        "RANGE BETWEEN INTERVAL 7 DAYS PRECEDING AND CURRENT ROW)"
    )
    return e.selectExpr(
        "event_id",
        "user_id",
        "ts",
        f"CAST(count(*) {over} AS BIGINT) AS w7_events",
        f"round(sum(value) {over}, 2) AS w7_value_sum",
        f"round(max(value) {over}, 2) AS w7_value_max",
    ).orderBy("event_id")


def q_regr_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user linear trend of ``value`` over time via the SQL
    regression aggregate family (regr_slope/intercept/r2/count) —
    closed-form OLS as a single distributive aggregate, no iteration,
    no UDF, map-side partials like any sum.

    x is epoch seconds as double (exact for microsecond timestamps —
    micros < 2^53), scaled to days so the slope is per-day drift.
    """
    e = tbl(spark, sf_dir, "events")
    x = "(CAST(ts AS DOUBLE) / 86400.0)"
    return (
        e.selectExpr("user_id", "value", f"{x} AS xday")
        .groupBy("user_id")
        .agg(
            F.expr("CAST(regr_count(value, xday) AS BIGINT)").alias("n"),
            F.round(F.expr("regr_slope(value, xday)"), 6).alias(
                "slope_per_day"
            ),
            F.round(F.expr("regr_intercept(value, xday)"), 2).alias(
                "intercept"
            ),
            F.round(F.expr("regr_r2(value, xday)"), 4).alias("r2"),
        )
        .orderBy("user_id")
    )


def q_ohlc_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series downsampling to per-user daily OHLC bars
    (open/high/low/close/volume/mean) — the classic resample-and-
    summarize a metrics or market pipeline runs before charting or
    feature extraction.

    ONE partial+final aggregate: open/close are min/max over a
    (ts, event_id, value) struct, so "first by time" needs no window,
    no sort, and no second pass — the struct comparison makes the
    extreme BY TIME mergeable across partitions exactly like min/max
    by value (ties broken by event_id, so the result is deterministic
    even for same-timestamp events). At 100 TB this is the shape you
    want: downsampling compresses at the map side, and the output is
    |users| × |days| regardless of event volume.
    """
    e = tbl(spark, sf_dir, "events")
    key = F.struct("ts", "event_id", "value")
    return (
        e.groupBy(
            "user_id", F.date_trunc("day", "ts").alias("day")
        )
        .agg(
            F.min(key).getField("value").alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max(key).getField("value").alias("close"),
            F.count("*").alias("volume"),
            half_up(F.avg("value"), 4).alias("mean_value"),
        )
        .orderBy("user_id", "day")
    )


def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users grouped by their FIRST
    active day (the cohort), then for each day-offset the share of the
    cohort still active — the standard product-analytics retention
    triangle, built the warehouse way.

    Plan (ONE corpus shuffle, no cohort join):
    events repartition ONCE on ``user_id``; hash-partitioning on
    user_id satisfies ClusteredDistribution for BOTH the
    ``(user_id, day)`` distinct AND the per-user
    ``min(day) OVER (PARTITION BY user_id)`` window, so the
    cohort day is derived in-place with zero further exchanges —
    a ``first`` aggregate + equi-join would re-shuffle activity on
    user_id a second time. Every later frame is
    day-granular and tiny: the retention matrix aggregate moves
    map-side partials only, and cohort sizes fall out of the matrix
    itself (every user is active on their own cohort day, so
    ``cohort_size = n_active at day_offset 0`` — read with a window
    over the matrix, no second corpus branch). ONE corpus scan, ONE
    corpus exchange, total. Retention = floor4(n_active /
    cohort_size), an integer ratio.

    NULL ``user_id`` rows are filtered up front, mirrored in the
    oracle: a join form would count a NULL user in its cohort's
    denominator while the inner join dropped its activity — deflating
    even day-0 retention; a NULL user key is untrackable
    identity, not a cohort member.
    """
    e = (
        tbl(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull())
        .select("user_id", F.to_date("ts").alias("day"))
    )
    activity = e.repartition("user_id").distinct()
    w = Window.partitionBy("user_id")
    joined = activity.select(
        F.min("day").over(w).alias("cohort_day"),
        "day",
    ).select(
        "cohort_day", F.datediff("day", F.col("cohort_day")).alias("day_offset")
    )
    matrix = joined.groupBy("cohort_day", "day_offset").agg(
        F.count("*").alias("n_active")
    )
    # cohort_size = the matrix's own day_offset-0 row (min(day) makes
    # every user active on their cohort day): a window over the tiny
    # day-granular matrix, not a second corpus branch
    wc = Window.partitionBy("cohort_day")
    return (
        matrix.withColumn(
            "cohort_size",
            F.max(
                F.when(F.col("day_offset") == 0, F.col("n_active"))
            ).over(wc),
        )
        .select(
            "cohort_day",
            "day_offset",
            "n_active",
            "cohort_size",
            half_up(F.col("n_active") / F.col("cohort_size"), 4).alias(
                "retention"
            ),
        )
        .orderBy("cohort_day", "day_offset")
    )


QUERIES = {
    "scd2_intervals": q_scd2_intervals,
    "cohort_retention": q_cohort_retention,
    "rolling_7d_features": q_rolling_7d_features,
    "regr_trend": q_regr_trend,
    "ohlc_downsample": q_ohlc_downsample,
}

ORACLES: dict[str, str] = {
    "cohort_retention": """
        WITH e AS (
            -- NULL user_id filtered symmetrically with the
            -- engine (an untrackable identity, not a cohort member)
            SELECT user_id, CAST(ts AS DATE) AS day FROM events
            WHERE user_id IS NOT NULL
        ),
        first AS (
            SELECT user_id, min(day) AS cohort_day FROM e GROUP BY user_id
        ),
        sizes AS (
            SELECT cohort_day, CAST(count(*) AS BIGINT) AS cohort_size
            FROM first GROUP BY cohort_day
        ),
        activity AS (SELECT DISTINCT user_id, day FROM e),
        offsets AS (
            SELECT f.cohort_day,
                   CAST(date_diff('day', f.cohort_day, a.day) AS INT)
                       AS day_offset
            FROM activity a JOIN first f USING (user_id)
        ),
        matrix AS (
            SELECT cohort_day, day_offset,
                   CAST(count(*) AS BIGINT) AS n_active
            FROM offsets GROUP BY cohort_day, day_offset
        )
        SELECT m.cohort_day, m.day_offset, m.n_active, s.cohort_size,
               floor(CAST(m.n_active AS DOUBLE) / s.cohort_size
                     * 1e4 + 0.5) / 1e4 AS retention
        FROM matrix m JOIN sizes s USING (cohort_day)
        ORDER BY cohort_day, day_offset
    """,
    "ohlc_downsample": """
        SELECT user_id,
               CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
               min(ROW(ts, event_id, value))[3] AS open,
               max(value) AS high,
               min(value) AS low,
               max(ROW(ts, event_id, value))[3] AS close,
               count(*) AS volume,
               floor(avg(value) * 1e4 + 0.5) / 1e4 AS mean_value
        FROM events
        GROUP BY user_id, date_trunc('day', ts)
        ORDER BY user_id, day
    """,
    "scd2_intervals": """
        WITH ordered AS (
            SELECT user_id, event_type, ts, event_id,
                   lag(event_type) OVER
                       (PARTITION BY user_id ORDER BY ts, event_id)
                       AS prev_type
            FROM events
        ),
        changes AS (
            SELECT user_id, event_type, ts, event_id
            FROM ordered
            WHERE prev_type IS NULL OR prev_type <> event_type
        )
        SELECT user_id,
               event_type AS attr,
               ts AS valid_from,
               lead(ts) OVER
                   (PARTITION BY user_id ORDER BY ts, event_id)
                   AS valid_to,
               CAST(lead(ts) OVER
                   (PARTITION BY user_id ORDER BY ts, event_id)
                   IS NULL AS INT) AS is_current
        FROM changes
        ORDER BY user_id, valid_from, attr
    """,
    "rolling_7d_features": """
        SELECT event_id, user_id, ts,
               CAST(count(*) OVER w AS BIGINT) AS w7_events,
               round(sum(value) OVER w, 2) AS w7_value_sum,
               round(max(value) OVER w, 2) AS w7_value_max
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts
                     RANGE BETWEEN INTERVAL 7 DAYS PRECEDING
                     AND CURRENT ROW)
        ORDER BY event_id
    """,
    "regr_trend": """
        WITH x AS (
            SELECT user_id, value,
                   CAST(epoch(ts) AS DOUBLE) / 86400.0 AS xday
            FROM events
        )
        SELECT user_id,
               CAST(regr_count(value, xday) AS BIGINT) AS n,
               round(regr_slope(value, xday), 6) AS slope_per_day,
               round(regr_intercept(value, xday), 2) AS intercept,
               round(regr_r2(value, xday), 4) AS r2
        FROM x
        GROUP BY user_id
        ORDER BY user_id
    """,
}
