"""Declarative data-quality auditing (Deequ/dbt-test style): a check
suite compiled into ONE aggregate pass plus one broadcast anti-join
for referential integrity.

The point at 100 TB: N quality checks must NOT mean N scans. Every
row-level predicate becomes a conditional-sum column of a single
hash aggregate (map-side partials, one 1-row result); uniqueness
rides the same pass as count - count(DISTINCT); only the foreign-key
check needs a join, and its dimension side broadcasts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from wd2duckdb_spark.catalog import half_up, tbl

#: (check_name, SQL predicate counting VIOLATIONS) over ``orders``.
#: Single source for the Spark plan and the DuckDB oracle.
ORDER_CHECKS = (
    ("null_orderkey", "o_orderkey IS NULL"),
    ("negative_price", "o_totalprice <= 0"),
    ("null_orderdate", "o_orderdate IS NULL"),
    ("bad_status", "o_orderstatus NOT IN ('O', 'F', 'P')"),
)


def q_dq_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality report over ``orders``: row-level predicates,
    key uniqueness, and referential integrity against ``customer`` —
    one row per check with violation counts and a pass flag.
    """
    o = tbl(spark, sf_dir, "orders")
    c = tbl(spark, sf_dir, "customer")

    viol_cols = [
        # coalesce: sum over an EMPTY table is NULL, but "no rows"
        # means zero violations and a PASSING check, matching the
        # oracle's count-based formulation
        F.coalesce(F.sum(F.expr(pred).cast("long")), F.lit(0)).alias(name)
        for name, pred in ORDER_CHECKS
    ]
    agg = o.agg(
        F.count("*").alias("n_rows"),
        (F.count("*") - F.countDistinct("o_orderkey")).alias(
            "dup_orderkey"
        ),
        *viol_cols,
    )
    stack_args = ", ".join(
        f"'{name}', {name}"
        for name in ["dup_orderkey"] + [n for n, _ in ORDER_CHECKS]
    )
    n_checks = 1 + len(ORDER_CHECKS)
    row_checks = agg.selectExpr(
        "n_rows",
        f"stack({n_checks}, {stack_args}) AS (check_name, n_violations)",
    )

    orphans = (
        # customer scales with the corpus — no forced broadcast (AQE
        # still picks one when the dimension is genuinely small); the
        # anti join build side must not be pinned to a linear table
        o.join(
            c,
            o["o_custkey"] == c["c_custkey"],
            "left_anti",
        )
        .agg(F.count("*").alias("n_violations"))
        .crossJoin(F.broadcast(o.agg(F.count("*").alias("n_rows"))))
        .select("n_rows", F.lit("orphan_custkey").alias("check_name"),
                "n_violations")
    )

    return (
        row_checks.unionByName(orphans)
        .select(
            "check_name",
            F.col("n_violations").cast("long").alias("n_violations"),
            F.col("n_rows").cast("long").alias("n_rows"),
            (F.col("n_violations") == 0).cast("int").alias("pass"),
        )
        .orderBy("check_name")
    )


def _check_selects() -> str:
    parts = [
        """
        SELECT 'dup_orderkey' AS check_name,
               count(*) - count(DISTINCT o_orderkey) AS n_violations
        FROM orders
        """
    ]
    for name, pred in ORDER_CHECKS:
        parts.append(
            f"""
        SELECT '{name}' AS check_name,
               sum(CASE WHEN {pred} THEN 1 ELSE 0 END) AS n_violations
        FROM orders
        """
        )
    parts.append(
        """
        SELECT 'orphan_custkey' AS check_name, count(*) AS n_violations
        FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
        WHERE c.c_custkey IS NULL
        """
    )
    return " UNION ALL ".join(parts)


def q_dq_embedding_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quarantine ACCOUNTING for the EMB_DIM schema contract: every
    dimension-bound operator silently filters NULL
    and wrong-dimension vectors (similarity.clean_embeddings and its
    verbatim oracle mirrors) — this report is where a pipeline SEES
    what it lost: per-reason dropped-row counts over ``embeddings``,
    the embeddings twin of :func:`q_dq_report`.

    One aggregate pass (map-side partials, 1-row result) stacked into
    tidy (reason, n_dropped, n_rows, pass) rows — adding a reason is
    one conditional-sum column, never another scan."""
    from wd2duckdb_spark.functions.similarity import EMB_DIM

    e = tbl(spark, sf_dir, "embeddings")
    reasons = (
        ("null_embedding", F.col("embedding").isNull()),
        (
            "wrong_dimension",
            F.col("embedding").isNotNull()
            & (F.size("embedding") != EMB_DIM),
        ),
    )
    agg = e.agg(
        F.count("*").alias("n_rows"),
        *[
            # coalesce: sum over an EMPTY table is NULL, but "no rows"
            # means zero quarantined (same contract as dq_report)
            F.coalesce(F.sum(pred.cast("long")), F.lit(0)).alias(name)
            for name, pred in reasons
        ],
    )
    stack_args = ", ".join(f"'{name}', {name}" for name, _ in reasons)
    return (
        agg.selectExpr(
            "n_rows",
            f"stack({len(reasons)}, {stack_args}) AS (reason, n_dropped)",
        )
        .select(
            "reason",
            F.col("n_dropped").cast("long").alias("n_dropped"),
            F.col("n_rows").cast("long").alias("n_rows"),
            (F.col("n_dropped") == 0).cast("int").alias("pass"),
        )
        .orderBy("reason")
    )


def _embedding_quarantine_oracle() -> str:
    from wd2duckdb_spark.functions.similarity import EMB_DIM

    return f"""
        WITH a AS (
            SELECT count(*) AS n_rows,
                   COALESCE(sum(CASE WHEN embedding IS NULL
                                     THEN 1 ELSE 0 END), 0) AS n_null,
                   COALESCE(sum(CASE WHEN embedding IS NOT NULL
                                      AND len(embedding) <> {EMB_DIM}
                                     THEN 1 ELSE 0 END), 0) AS n_wrong
            FROM embeddings
        )
        SELECT reason,
               CAST(n_dropped AS BIGINT) AS n_dropped,
               CAST(n_rows AS BIGINT) AS n_rows,
               CAST(n_dropped = 0 AS INT) AS pass
        FROM (
            SELECT 'null_embedding' AS reason, n_null AS n_dropped, n_rows
            FROM a
            UNION ALL
            SELECT 'wrong_dimension', n_wrong, n_rows FROM a
        )
        ORDER BY reason
    """


#: Robust-z multiplier: |x - median| > MAD_K * MAD flags an outlier
#: (≈ 3.4σ for normal data: MAD_K * 0.6745).
MAD_K = 5


def q_outlier_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection per event type: median / MAD
    (median absolute deviation) with a |dev| > MAD_K·MAD flag — the
    anomaly screen a quality pipeline runs on numeric telemetry, where
    mean/stddev would be dragged by the very outliers being hunted.

    Dataflow: per-type median (one partial agg → tiny result),
    broadcast back for deviations, per-type MAD the same way, then one
    counting pass — three scans but zero wide shuffles; every join
    side above the fact table is type-cardinality-sized and
    broadcasts. At 100 TB swap the exact medians for t-digest
    approx_percentile (mergeable) and the shape is unchanged.

    Cross-engine determinism: median and MAD are floor-normalized to
    4 dp before any comparison (PLANS.md convention — Spark and DuckDB
    interpolate quantiles with different FP expression order), so the
    outlier threshold is computed from identical doubles in both
    engines.
    """
    e = tbl(spark, sf_dir, "events").select("event_type", "value")
    med = e.groupBy("event_type").agg(
        half_up(F.expr("percentile(value, 0.5)"), 4).alias("med")
    )
    dev = e.join(F.broadcast(med), "event_type").select(
        "event_type", "med", F.abs(F.col("value") - F.col("med")).alias("adev")
    )
    mad = dev.groupBy("event_type").agg(
        half_up(F.expr("percentile(adev, 0.5)"), 4).alias("mad")
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.min("med").alias("med"),
            F.min("mad").alias("mad"),
            F.sum(
                (F.col("adev") > MAD_K * F.col("mad")).cast("long")
            ).alias("n_outliers"),
        )
        .orderBy("event_type")
    )


def q_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorization: clip order totals to the [p01, p99] envelope and
    report the per-priority effect (rows clipped each side, mean
    before/after) — the standard tail-taming transform before a
    mean-sensitive model sees the data.

    Two passes: exact global percentiles reduce to one broadcast row;
    the clip itself is a pure projection folded into the reporting
    aggregate. At 100 TB use approx_percentile (t-digest) for the
    bounds — the dataflow is unchanged. Bounds are floor-normalized
    to 4 dp (PLANS.md: cross-engine quantile interpolation), so the
    clip decisions compare identical doubles in both engines.
    """
    o = tbl(spark, sf_dir, "orders")
    bounds = o.agg(
        half_up(F.expr("percentile(o_totalprice, 0.01)"), 4).alias("lo"),
        half_up(F.expr("percentile(o_totalprice, 0.99)"), 4).alias("hi"),
    )
    clipped = F.least(F.greatest(F.col("o_totalprice"), F.col("lo")), F.col("hi"))
    return (
        o.crossJoin(F.broadcast(bounds))
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum((F.col("o_totalprice") < F.col("lo")).cast("long")).alias(
                "n_clipped_lo"
            ),
            F.sum((F.col("o_totalprice") > F.col("hi")).cast("long")).alias(
                "n_clipped_hi"
            ),
            half_up(F.avg("o_totalprice"), 4).alias("mean_raw"),
            half_up(F.avg(clipped), 4).alias("mean_winsorized"),
        )
        .orderBy("o_orderpriority")
    )


#: Minimum group size for the k-anonymity audit.
K_ANON = 5


def q_k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Privacy audit for a training extract: pseudonymize user ids
    (content-stable md5 token — consistent across tables and reruns,
    reversible only via the original id space) and measure k-anonymity
    over the quasi-identifier (event_type, day): how many cohorts
    contain fewer than K_ANON distinct users, i.e. rows whose quasi
    identifiers could single someone out.

    One aggregate over the pseudonymized projection; the report is
    |event types| × |days| regardless of event volume. The pseudonym
    never leaves the aggregate (only counts are emitted) — the shape
    of a release-gate check, not a join-back.
    """
    e = tbl(spark, sf_dir, "events")
    pseudo = F.substring(F.md5(F.col("user_id").cast("string")), 1, 16)
    cohorts = (
        e.select(
            "event_type",
            F.date_trunc("day", "ts").alias("day"),
            pseudo.alias("p"),
        )
        .groupBy("event_type", "day")
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("p").alias("n_users"),
        )
    )
    return (
        cohorts.groupBy("event_type")
        .agg(
            F.count("*").alias("n_cohorts"),
            F.sum((F.col("n_users") < K_ANON).cast("long")).alias(
                "n_small_cohorts"
            ),
            F.sum(
                F.when(F.col("n_users") < K_ANON, F.col("n_events")).otherwise(
                    F.lit(0)
                )
            ).alias("n_exposed_events"),
            F.min("n_users").alias("min_k"),
        )
        .orderBy("event_type")
    )


#: Numeric columns profiled by q_table_profile.
PROFILE_COLS = ("o_totalprice",)
PROFILE_TABLE = "orders"


def q_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profile of the orders table in ONE aggregate pass —
    the ANALYZE/df.summary() surface as a first-class query: per
    column, row count, null count, distinct count, min/max/mean/
    stddev, plus table-level row count. Tidy (column, stat, value)
    rows so the profile of any table is schema-stable.

    Every statistic is a distributive or sketch-free aggregate riding
    the same partial+final pass; output is |columns| × |stats| rows
    regardless of table size (at 100 TB swap count(DISTINCT) for
    approx_count_distinct — one line, same shape). Values are
    floor-normalized where engines can disagree (mean/stddev)."""
    o = tbl(spark, sf_dir, PROFILE_TABLE)
    c = PROFILE_COLS[0]
    agg = o.agg(
        F.count("*").alias("n_rows"),
        F.count(c).alias("n_present"),
        F.countDistinct(c).alias("n_distinct"),
        F.min(c).alias("min_v"),
        F.max(c).alias("max_v"),
        half_up(F.avg(c), 4).alias("mean_v"),
        half_up(F.stddev(c), 4).alias("stddev_v"),
    )
    stats = (
        ("n_rows", "n_rows"),
        ("n_nulls", "n_rows - n_present"),
        ("n_distinct", "n_distinct"),
        ("min", "min_v"),
        ("max", "max_v"),
        ("mean", "mean_v"),
        ("stddev", "stddev_v"),
    )
    stack_args = ", ".join(
        f"'{name}', CAST({expr} AS DOUBLE)" for name, expr in stats
    )
    return agg.selectExpr(
        f"'{c}' AS col_name",
        f"stack({len(stats)}, {stack_args}) AS (stat, value)",
    ).orderBy("stat")


QUERIES = {
    "dq_report": q_dq_report,
    "dq_embedding_quarantine": q_dq_embedding_quarantine,
    "outlier_mad": q_outlier_mad,
    "winsorize": q_winsorize,
    "k_anonymity_audit": q_k_anonymity_audit,
    "table_profile": q_table_profile,
}

ORACLES: dict[str, str] = {
    "dq_embedding_quarantine": _embedding_quarantine_oracle(),
    "dq_report": f"""
        WITH checks AS ({_check_selects()}),
        tot AS (SELECT count(*) AS n_rows FROM orders)
        SELECT check_name,
               CAST(COALESCE(n_violations, 0) AS BIGINT) AS n_violations,
               CAST(tot.n_rows AS BIGINT) AS n_rows,
               CAST(COALESCE(n_violations, 0) = 0 AS INT) AS pass
        FROM checks, tot
        ORDER BY check_name
    """,
    "outlier_mad": f"""
        WITH e AS (SELECT event_type, value FROM events),
        med AS (
            SELECT event_type,
                   floor(quantile_cont(value, 0.5) * 1e4 + 0.5) / 1e4 AS med
            FROM e GROUP BY event_type
        ), dev AS (
            SELECT e.event_type, med, abs(value - med) AS adev
            FROM e JOIN med USING (event_type)
        ), mad AS (
            SELECT event_type,
                   floor(quantile_cont(adev, 0.5) * 1e4 + 0.5) / 1e4 AS mad
            FROM dev GROUP BY event_type
        )
        SELECT d.event_type,
               count(*) AS n_events,
               min(d.med) AS med,
               min(mad.mad) AS mad,
               CAST(sum(CASE WHEN adev > {MAD_K} * mad.mad
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        FROM dev d JOIN mad USING (event_type)
        GROUP BY d.event_type
        ORDER BY event_type
    """,
    "winsorize": """
        WITH b AS (
            SELECT floor(quantile_cont(o_totalprice, 0.01) * 1e4 + 0.5) / 1e4
                       AS lo,
                   floor(quantile_cont(o_totalprice, 0.99) * 1e4 + 0.5) / 1e4
                       AS hi
            FROM orders
        )
        SELECT o_orderpriority,
               count(*) AS n_orders,
               CAST(sum(CASE WHEN o_totalprice < lo THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_clipped_lo,
               CAST(sum(CASE WHEN o_totalprice > hi THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_clipped_hi,
               floor(avg(o_totalprice) * 1e4 + 0.5) / 1e4 AS mean_raw,
               floor(avg(least(greatest(o_totalprice, lo), hi)) * 1e4 + 0.5)
                   / 1e4 AS mean_winsorized
        FROM orders CROSS JOIN b
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
    """,
    "table_profile": """
        WITH a AS (
            SELECT count(*) AS n_rows,
                   count(o_totalprice) AS n_present,
                   count(DISTINCT o_totalprice) AS n_distinct,
                   min(o_totalprice) AS min_v,
                   max(o_totalprice) AS max_v,
                   floor(avg(o_totalprice) * 1e4 + 0.5) / 1e4 AS mean_v,
                   floor(stddev_samp(o_totalprice) * 1e4 + 0.5) / 1e4
                       AS stddev_v
            FROM orders
        )
        SELECT 'o_totalprice' AS col_name, stat, value FROM (
            SELECT 'n_rows' AS stat, CAST(n_rows AS DOUBLE) AS value FROM a
            UNION ALL
            SELECT 'n_nulls', CAST(n_rows - n_present AS DOUBLE) FROM a
            UNION ALL
            SELECT 'n_distinct', CAST(n_distinct AS DOUBLE) FROM a
            UNION ALL SELECT 'min', min_v FROM a
            UNION ALL SELECT 'max', max_v FROM a
            UNION ALL SELECT 'mean', mean_v FROM a
            UNION ALL SELECT 'stddev', stddev_v FROM a
        )
        ORDER BY stat
    """,
    "k_anonymity_audit": f"""
        WITH cohorts AS (
            SELECT event_type,
                   CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
                   count(*) AS n_events,
                   count(DISTINCT substr(md5(CAST(user_id AS VARCHAR)), 1, 16))
                       AS n_users
            FROM events
            GROUP BY event_type, date_trunc('day', ts)
        )
        SELECT event_type,
               count(*) AS n_cohorts,
               CAST(sum(CASE WHEN n_users < {K_ANON} THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_small_cohorts,
               CAST(sum(CASE WHEN n_users < {K_ANON} THEN n_events ELSE 0 END)
                    AS BIGINT) AS n_exposed_events,
               min(n_users) AS min_k
        FROM cohorts
        GROUP BY event_type
        ORDER BY event_type
    """,
}
