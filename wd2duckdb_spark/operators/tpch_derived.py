"""The six fixture-blocked TPC-H queries, unblocked by DETERMINISTIC DERIVED VIEWS: the driver's
synthetic schema lacks ``partsupp`` and the lineitem
commit/receipt/shipmode columns, so this module derives them as pure
integer functions of the existing keys — computed from the SAME
shared constants in both the Spark plan and the DuckDB oracle (the
CTE strings below are built from the same Python values), so every
query stays ORACLE-EXACT. The derivations are fixture bridges, not
data synthesis: they read only the driver's parquet and are
bit-reproducible from it.

Derivations (all integer arithmetic; money is integer CENTS so no
float touches any predicate or aggregate):

- ``partsupp``: 4 suppliers per part, spread
  ``(p_partkey + i·step) mod S`` with ``step = S div 4 + 1`` unless
  ``S mod step = 0`` (the only collision cases, S ∈ {4,6,9,12}),
  where ``step = 1`` — so the four ps_suppkeys are distinct for
  EVERY supplier count and (ps_partkey, ps_suppkey) is a true PK;
  ``ps_availqty = (p·7 + s·11) mod 9999 + 1``;
  ``ps_supplycost_cents = (p·13 + s·17) mod 100000 + 100``.
- ``lineitem_ext``: ``l_commitdate = l_shipdate + ((3o+7l) mod 61 −
  30) days`` (so ship < commit holds for about half the rows, as Q12
  needs); ``l_receiptdate = l_shipdate + ((o+5l) mod 30 + 1) days``;
  ``l_shipmode = MODES[(o+l) mod 5]``.

Query-side asymmetry is deliberate and is itself a test: the DuckDB
oracles keep the LITERAL TPC-H formulations (correlated scalar
subquery in Q2, scalar-subquery HAVING in Q11, NOT IN in Q16, nested
IN in Q20, double EXISTS in Q21), while the Spark plans use the
scale rewrites a 100 TB engine must use (window-min over one pass,
broadcast totals, anti-join, de-correlated aggregates) — a hash
match proves the rewrites faithful, not just self-consistent.

Necessary adaptations from the spec (fixture lacks the columns):
Q16's "customer complaints" supplier exclusion becomes
``s_acctbal < 1000`` (supplier has no comment column); Q2/Q20's
LIKE patterns use the fixture's p_type/p_name vocabularies.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from wd2duckdb_spark.catalog import session_memo, tbl

#: shipmode vocabulary, indexed by (l_orderkey + l_linenumber) mod 5
MODES = ("AIR", "MAIL", "RAIL", "SHIP", "TRUCK")

#: derivation constants — shared by the Spark exprs AND the SQL CTEs
PS_PER_PART = 4
AVAIL_A, AVAIL_B, AVAIL_MOD = 7, 11, 9999
COST_A, COST_B, COST_MOD, COST_MIN = 13, 17, 100000, 100
COMMIT_A, COMMIT_B, COMMIT_MOD, COMMIT_OFF = 3, 7, 61, 30
RCPT_B, RCPT_MOD = 5, 30


def partsupp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(ps_partkey, ps_suppkey, ps_availqty, ps_supplycost_cents) —
    4 rows per part. The supplier count is a 1-row broadcast; the
    explode is a 4-element sequence: the derived view costs one part
    scan, no shuffle."""
    p = tbl(spark, sf_dir, "part").select("p_partkey")
    s_cnt = tbl(spark, sf_dir, "supplier").agg(
        F.count("*").alias("s_cnt")
    )
    # (p + i*step) mod s collides for i≠j iff s | (i−j)*step; since
    # step = s DIV 4 + 1 > s/4, that needs (i−j)*step = s exactly,
    # i.e. s mod step = 0 (only s ∈ {4,6,9,12}). Guard: fall back to
    # step = 1 there — (p+i) mod s is distinct for any s ≥ 4 — so the
    # (ps_partkey, ps_suppkey) PK holds for EVERY supplier count, not
    # just the fixtures'. Same guard in PARTSUPP_CTE (shared truth).
    step = F.expr(
        f"IF(s_cnt % (s_cnt DIV {PS_PER_PART} + 1) = 0, 1,"
        f" s_cnt DIV {PS_PER_PART} + 1)"
    )
    base = (
        p.crossJoin(F.broadcast(s_cnt))
        .select(
            "p_partkey",
            F.explode(F.sequence(F.lit(0), F.lit(PS_PER_PART - 1))).alias(
                "i"
            ),
            "s_cnt",
        )
        .select(
            F.col("p_partkey").alias("ps_partkey"),
            F.pmod(F.col("p_partkey") + F.col("i") * step, F.col("s_cnt"))
            .cast("long")
            .alias("ps_suppkey"),
        )
    )
    return base.select(
        "ps_partkey",
        "ps_suppkey",
        (
            (
                F.col("ps_partkey") * AVAIL_A
                + F.col("ps_suppkey") * AVAIL_B
            )
            % AVAIL_MOD
            + 1
        )
        .cast("long")
        .alias("ps_availqty"),
        (
            (F.col("ps_partkey") * COST_A + F.col("ps_suppkey") * COST_B)
            % COST_MOD
            + COST_MIN
        )
        .cast("long")
        .alias("ps_supplycost_cents"),
    )


PARTSUPP_CTE = f"""partsupp AS (
        SELECT ps_partkey, ps_suppkey,
               (ps_partkey * {AVAIL_A} + ps_suppkey * {AVAIL_B})
                   % {AVAIL_MOD} + 1 AS ps_availqty,
               (ps_partkey * {COST_A} + ps_suppkey * {COST_B})
                   % {COST_MOD} + {COST_MIN} AS ps_supplycost_cents
        FROM (
            SELECT p_partkey AS ps_partkey,
                   (p_partkey + i * (CASE
                        WHEN s_cnt % (s_cnt // {PS_PER_PART} + 1) = 0
                        THEN 1 ELSE s_cnt // {PS_PER_PART} + 1 END))
                       % s_cnt AS ps_suppkey
            FROM part,
                 (SELECT unnest(range({PS_PER_PART})) AS i),
                 (SELECT count(*) AS s_cnt FROM supplier)
        )
    )"""


@session_memo
def lineitem_ext(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem + derived (l_commitdate, l_receiptdate, l_shipmode) —
    pure in-row integer/interval arithmetic, no shuffle, identical in
    the oracle CTE. Persisted once per session, so q12 and q21 do not
    each re-derive the columns (DuckDB constant-folds the CTE).

    This is fixture-bridge state, not a scale posture: on a real
    deployment these are stored lineitem columns (the derivation exists
    only because the testdata parquet lacks them), so nothing
    corpus-sized would be persisted; the queries would read the columns
    off the scan with full pushdown."""
    li = tbl(spark, sf_dir, "lineitem")
    mode = None
    for idx, m in enumerate(MODES):
        cond = (F.col("l_orderkey") + F.col("l_linenumber")) % len(MODES)
        term = F.when(cond == idx, F.lit(m))
        mode = term if mode is None else mode.when(cond == idx, F.lit(m))
    # NARROW projection — only the columns q12/q21 consume get cached
    # (the full-width frame measured ~2× the warm scan cost; widen the
    # select if a future derived query needs more lineitem columns)
    return li.select(
        "l_orderkey",
        "l_suppkey",
        "l_shipdate",
        F.expr(
            f"l_shipdate + make_dt_interval((l_orderkey * {COMMIT_A} +"
            f" l_linenumber * {COMMIT_B}) % {COMMIT_MOD} - {COMMIT_OFF},"
            " 0, 0, 0)"
        ).alias("l_commitdate"),
        F.expr(
            f"l_shipdate + make_dt_interval((l_orderkey +"
            f" l_linenumber * {RCPT_B}) % {RCPT_MOD} + 1, 0, 0, 0)"
        ).alias("l_receiptdate"),
        mode.alias("l_shipmode"),
    ).persist()


def _mode_case_sql() -> str:
    whens = " ".join(
        f"WHEN {i} THEN '{m}'" for i, m in enumerate(MODES[:-1])
    )
    return (
        f"CASE (l_orderkey + l_linenumber) % {len(MODES)} {whens} "
        f"ELSE '{MODES[-1]}' END"
    )


LINEITEM_EXT_CTE = f"""lineitem_ext AS (
        SELECT l.*,
               l_shipdate + ((l_orderkey * {COMMIT_A} +
                              l_linenumber * {COMMIT_B}) % {COMMIT_MOD}
                             - {COMMIT_OFF}) * INTERVAL 1 DAY
                   AS l_commitdate,
               l_shipdate + ((l_orderkey + l_linenumber * {RCPT_B})
                             % {RCPT_MOD} + 1) * INTERVAL 1 DAY
                   AS l_receiptdate,
               {_mode_case_sql()} AS l_shipmode
        FROM lineitem l
    )"""


# ---------------------------------------------------------------------------
# Q2 — minimum-cost supplier
# ---------------------------------------------------------------------------

#: size CLASS (spec uses one size; the fixture's 200-part sf0.001
#: table would leave one-size × type × region empty, so the class is
#: a small IN-set — same predicate shape, non-degenerate at every SF)
Q2_SIZES = (15, 25, 35, 45)
Q2_TYPE_PREFIX = "STA"  # p_type LIKE 'STA%' (fixture vocabulary)
Q2_REGION = "ASIA"


def q_q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 over the derived partsupp: for parts of one size/type
    class, the supplier(s) offering the REGION-minimum supply cost.
    Spark plan: one pass + a per-part window min — the scale rewrite
    of the spec's correlated scalar subquery, which the oracle keeps
    verbatim (hash match = rewrite proven faithful). Joins: part and
    the nation→region chain broadcast; only partsupp×supplier
    shuffles."""
    ps = partsupp(spark, sf_dir)
    p = tbl(spark, sf_dir, "part").filter(
        F.col("p_size").isin(*Q2_SIZES)
        & F.col("p_type").startswith(Q2_TYPE_PREFIX)
    )
    s = tbl(spark, sf_dir, "supplier")
    n = tbl(spark, sf_dir, "nation")
    r = tbl(spark, sf_dir, "region").filter(F.col("r_name") == Q2_REGION)
    # alias the supplier dimension: partsupp's own supplier-count
    # aggregate shares the scan, so unqualified s_* would be ambiguous
    nr = n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    joined = (
        ps.join(p, ps.ps_partkey == p.p_partkey)
        .join(s.alias("sup"), ps.ps_suppkey == F.col("sup.s_suppkey"))
        .join(
            F.broadcast(nr),
            F.col("sup.s_nationkey") == F.col("n_nationkey"),
        )
    )
    w = Window.partitionBy("ps_partkey")
    return (
        joined.withColumn(
            "min_cost", F.min("ps_supplycost_cents").over(w)
        )
        .filter(F.col("ps_supplycost_cents") == F.col("min_cost"))
        .select(
            "s_acctbal",
            "s_name",
            "n_name",
            F.col("ps_partkey").alias("p_partkey"),
            "p_name",
            F.col("ps_supplycost_cents").alias("supplycost_cents"),
        )
        .orderBy(
            F.desc("s_acctbal"), "n_name", "s_name", "p_partkey"
        )
        .limit(100)
    )


# ---------------------------------------------------------------------------
# Q11 — important stock identification
# ---------------------------------------------------------------------------

#: keep parts whose stock value exceeds 1.2× the all-parts average:
#: sum_part · 10 · n_parts > total · 12 (pure integer inequality)
Q11_NUM, Q11_DEN = 12, 10


def q_q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 over the derived partsupp: per-part stock value
    (availqty × supplycost, integer cents) for parts whose value
    exceeds 1.2× the average part's — the spec's fraction-of-total
    HAVING, made scale-free for the fixture (the spec's 0.0001
    constant is sized for SF-1's 200k parts). Spark: one aggregate +
    one 1-row broadcast of (total, n_parts); the oracle keeps the
    literal scalar-subquery HAVING."""
    ps = partsupp(spark, sf_dir).withColumn(
        "v", F.col("ps_availqty") * F.col("ps_supplycost_cents")
    )
    per_part = ps.groupBy("ps_partkey").agg(F.sum("v").alias("value_cents"))
    totals = per_part.agg(
        F.sum("value_cents").alias("total_cents"),
        F.count("*").alias("n_parts"),
    )
    return (
        per_part.crossJoin(F.broadcast(totals))
        .filter(
            F.col("value_cents") * Q11_DEN * F.col("n_parts")
            > F.col("total_cents") * Q11_NUM
        )
        .select("ps_partkey", "value_cents")
        .orderBy(F.desc("value_cents"), "ps_partkey")
    )


# ---------------------------------------------------------------------------
# Q16 — parts/supplier relationship
# ---------------------------------------------------------------------------

Q16_BRAND = "Brand#13"
Q16_TYPE_PREFIX = "STA"
Q16_SIZES = (1, 5, 15, 25, 35, 49)
Q16_BAL_FLOOR = 1000.0  # complaint substitute: s_acctbal < 1000 excluded


def q_q16_parts_supplier_relationship(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-H Q16 over the derived partsupp: distinct supplier counts
    per (brand, type, size) for a filtered part class, excluding
    flagged suppliers (fixture adaptation: ``s_acctbal < 1000``
    stands in for the spec's comment-LIKE complaint filter — the
    fixture supplier has no comment column). Spark: plain-joined part
    filter + LEFT ANTI join against the excluded suppliers + one
    count-distinct aggregate; the oracle keeps the literal NOT IN
    subquery."""
    ps = partsupp(spark, sf_dir)
    p = tbl(spark, sf_dir, "part").filter(
        (F.col("p_brand") != Q16_BRAND)
        & ~F.col("p_type").startswith(Q16_TYPE_PREFIX)
        & F.col("p_size").isin(*Q16_SIZES)
    )
    bad = tbl(spark, sf_dir, "supplier").filter(
        F.col("s_acctbal") < Q16_BAL_FLOOR
    )
    return (
        ps.join(p, ps.ps_partkey == p.p_partkey)
        .join(
            # no forced broadcast: supplier is SF-LINEAR (10k×SF) —
            # AQE still broadcasts the filtered side at fixture scale
            bad,
            ps.ps_suppkey == bad.s_suppkey,
            "left_anti",
        )
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("ps_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


# ---------------------------------------------------------------------------
# Q20 — potential part promotion
# ---------------------------------------------------------------------------

Q20_NAME_SUFFIX = "widget"  # p_name LIKE '%widget'
Q20_YEAR = 1997


def q_q20_potential_promotion(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-H Q20 over the derived partsupp: suppliers holding excess
    stock (availqty > half the quantity they shipped of that part in
    one year) of a part-name class. Integer-exact: l_quantity is
    integral, so ``2·availqty > sum(qty)`` is an exact long
    comparison. Spark: the year's (part, supp) shipped-quantity
    aggregate joins partsupp directly — the de-correlated rewrite of
    the spec's nested IN subqueries, which the oracle keeps
    verbatim."""
    ps = partsupp(spark, sf_dir)
    p = tbl(spark, sf_dir, "part").filter(
        F.col("p_name").endswith(Q20_NAME_SUFFIX)
    )
    li = tbl(spark, sf_dir, "lineitem").filter(
        F.year("l_shipdate") == Q20_YEAR
    )
    shipped = li.groupBy("l_partkey", "l_suppkey").agg(
        F.sum(F.col("l_quantity").cast("long")).alias("qty")
    )
    s = tbl(spark, sf_dir, "supplier")
    return (
        ps.join(p, ps.ps_partkey == p.p_partkey)
        .join(
            shipped,
            (ps.ps_partkey == shipped.l_partkey)
            & (ps.ps_suppkey == shipped.l_suppkey),
        )
        .filter(2 * F.col("ps_availqty") > F.col("qty"))
        .select("ps_suppkey")
        .distinct()
        .join(s, F.col("ps_suppkey") == s.s_suppkey)
        .select("s_name", "s_acctbal")
        .orderBy("s_name")
    )


# ---------------------------------------------------------------------------
# Q12 — shipping modes and order priority
# ---------------------------------------------------------------------------

Q12_MODES = ("MAIL", "SHIP")
Q12_FROM, Q12_TO = "1996-01-01", "1997-01-01"


def q_q12_shipmode_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 over the derived lineitem columns: late-risk lines
    (ship < commit < receipt, received in one year) per derived
    shipmode, split by order priority. One broadcast-joined aggregate
    — the filters are in-row integer/interval arithmetic that reaches
    the scan."""
    li = lineitem_ext(spark, sf_dir).filter(
        F.col("l_shipmode").isin(*Q12_MODES)
        & (F.col("l_commitdate") < F.col("l_receiptdate"))
        & (F.col("l_shipdate") < F.col("l_commitdate"))
        & (F.col("l_receiptdate") >= F.lit(Q12_FROM).cast("timestamp"))
        & (F.col("l_receiptdate") < F.lit(Q12_TO).cast("timestamp"))
    )
    o = tbl(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_shipmode")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
        )
        .orderBy("l_shipmode")
    )


# ---------------------------------------------------------------------------
# Q21 — suppliers who kept orders waiting
# ---------------------------------------------------------------------------


def q_q21_late_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 over the derived dates: for finalized orders with
    ≥ 2 distinct suppliers where EXACTLY ONE supplier delivered late
    (receipt > commit), count that supplier's late lines — the
    de-correlated rewrite of the spec's EXISTS + NOT EXISTS pair,
    which the oracle keeps verbatim; the hash match proves the
    rewrite, including the per-LINE counting semantics (a supplier
    with two late lines in one order contributes 2).

    Plan: TWO plain hash aggregates — (order, supplier) first, then
    order — instead of one aggregate with two COUNT(DISTINCT)s,
    whose Expand triples every lineitem row before the shuffle; the
    pre-aggregate also makes the distinct counts plain COUNT(*)s.
    Round 11: lineitem is repartitioned on l_orderkey ONCE up front —
    hash(l_orderkey) satisfies the semi-join's requirement, the
    (order, supplier) aggregate's clustering (subset rule) and the
    per-order aggregate, so the whole chain rides a single
    lineitem-sized exchange instead of shuffling the fact rows again
    per aggregate (guide §2.4; measured 1.22 s → 0.81 s at sf0.1;
    the lost map-side partial combine is worthless here — lineitem
    has ~1 row per (order, supplier) per input partition).
    """
    li = lineitem_ext(spark, sf_dir).repartition("l_orderkey")
    o = tbl(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    late = F.col("l_receiptdate") > F.col("l_commitdate")
    # orders is a FACT table (corpus-scale), so it must not be
    # force-broadcast; a left-semi shuffle join on the order key is
    # the scale-safe finalized-order filter (AQE still broadcasts at
    # runtime when the filtered side is genuinely small), and it is
    # row-identical to the inner join because o_orderkey is unique.
    per_os = (
        li.join(
            o.select("o_orderkey"),
            li.l_orderkey == F.col("o_orderkey"),
            "left_semi",
        )
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.sum(F.when(late, 1).otherwise(0)).alias("n_late_rows"))
    )
    per_order = (
        per_os.groupBy("l_orderkey")
        .agg(
            F.count("*").alias("ns"),
            F.sum((F.col("n_late_rows") > 0).cast("int")).alias("nl"),
            F.max(
                F.when(F.col("n_late_rows") > 0, F.col("l_suppkey"))
            ).alias("late_supp"),
            F.sum("n_late_rows").alias("late_lines"),
        )
        .filter((F.col("ns") >= 2) & (F.col("nl") == 1))
    )
    s = tbl(spark, sf_dir, "supplier")
    return (
        per_order.groupBy("late_supp")
        .agg(F.sum("late_lines").alias("numwait"))
        .join(s, F.col("late_supp") == s.s_suppkey)
        .select("s_name", "numwait")
        .orderBy(F.desc("numwait"), "s_name")
        .limit(100)
    )


# ---------------------------------------------------------------------------
# Oracles — literal TPC-H formulations over the same derived CTEs
# ---------------------------------------------------------------------------

ORACLES: dict[str, str] = {
    "q2_min_cost_supplier": f"""
        WITH {PARTSUPP_CTE}
        SELECT s_acctbal, s_name, n_name,
               ps.ps_partkey AS p_partkey, p_name,
               CAST(ps_supplycost_cents AS BIGINT) AS supplycost_cents
        FROM partsupp ps
        JOIN part ON ps.ps_partkey = p_partkey
        JOIN supplier ON ps.ps_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE p_size IN {Q2_SIZES} AND p_type LIKE '{Q2_TYPE_PREFIX}%'
          AND r_name = '{Q2_REGION}'
          AND ps_supplycost_cents = (
              SELECT min(ps2.ps_supplycost_cents)
              FROM partsupp ps2
              JOIN supplier s2 ON ps2.ps_suppkey = s2.s_suppkey
              JOIN nation n2 ON s2.s_nationkey = n2.n_nationkey
              JOIN region r2 ON n2.n_regionkey = r2.r_regionkey
              WHERE ps2.ps_partkey = ps.ps_partkey
                AND r2.r_name = '{Q2_REGION}'
          )
        ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
        LIMIT 100
    """,
    "q11_important_stock": f"""
        WITH {PARTSUPP_CTE}
        SELECT ps_partkey,
               CAST(sum(ps_availqty * ps_supplycost_cents) AS BIGINT)
                   AS value_cents
        FROM partsupp
        GROUP BY ps_partkey
        HAVING sum(ps_availqty * ps_supplycost_cents) * {Q11_DEN}
               * (SELECT count(DISTINCT ps_partkey) FROM partsupp)
               > (SELECT sum(ps_availqty * ps_supplycost_cents)
                  FROM partsupp) * {Q11_NUM}
        ORDER BY value_cents DESC, ps_partkey
    """,
    "q16_parts_supplier_relationship": f"""
        WITH {PARTSUPP_CTE}
        SELECT p_brand, p_type, p_size,
               count(DISTINCT ps_suppkey) AS supplier_cnt
        FROM partsupp
        JOIN part ON ps_partkey = p_partkey
        WHERE p_brand <> '{Q16_BRAND}'
          AND p_type NOT LIKE '{Q16_TYPE_PREFIX}%'
          AND p_size IN {Q16_SIZES}
          AND ps_suppkey NOT IN (
              SELECT s_suppkey FROM supplier
              WHERE s_acctbal < {Q16_BAL_FLOOR}
          )
        GROUP BY p_brand, p_type, p_size
        ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
    """,
    "q20_potential_promotion": f"""
        WITH {PARTSUPP_CTE}
        SELECT s_name, s_acctbal
        FROM supplier
        WHERE s_suppkey IN (
            SELECT ps_suppkey
            FROM partsupp
            WHERE ps_partkey IN (
                SELECT p_partkey FROM part
                WHERE p_name LIKE '%{Q20_NAME_SUFFIX}'
            )
            AND 2 * ps_availqty > (
                SELECT CAST(coalesce(sum(CAST(l_quantity AS BIGINT)), 0)
                            AS BIGINT)
                FROM lineitem
                WHERE l_partkey = ps_partkey
                  AND l_suppkey = ps_suppkey
                  AND year(l_shipdate) = {Q20_YEAR}
            )
            AND EXISTS (
                SELECT 1 FROM lineitem
                WHERE l_partkey = ps_partkey
                  AND l_suppkey = ps_suppkey
                  AND year(l_shipdate) = {Q20_YEAR}
            )
        )
        ORDER BY s_name
    """,
    "q12_shipmode_priority": f"""
        WITH {LINEITEM_EXT_CTE}
        SELECT l_shipmode,
               CAST(sum(CASE WHEN o_orderpriority IN
                                  ('1-URGENT', '2-HIGH')
                             THEN 1 ELSE 0 END) AS BIGINT)
                   AS high_line_count,
               CAST(sum(CASE WHEN o_orderpriority IN
                                  ('1-URGENT', '2-HIGH')
                             THEN 0 ELSE 1 END) AS BIGINT)
                   AS low_line_count
        FROM lineitem_ext
        JOIN orders ON l_orderkey = o_orderkey
        WHERE l_shipmode IN {Q12_MODES}
          AND l_commitdate < l_receiptdate
          AND l_shipdate < l_commitdate
          AND l_receiptdate >= TIMESTAMP '{Q12_FROM} 00:00:00'
          AND l_receiptdate < TIMESTAMP '{Q12_TO} 00:00:00'
        GROUP BY l_shipmode
        ORDER BY l_shipmode
    """,
    "q21_late_suppliers": f"""
        WITH {LINEITEM_EXT_CTE}
        SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
        FROM lineitem_ext l1
        JOIN supplier ON l1.l_suppkey = s_suppkey
        JOIN orders ON l1.l_orderkey = o_orderkey
        WHERE o_orderstatus = 'F'
          AND l1.l_receiptdate > l1.l_commitdate
          AND EXISTS (
              SELECT 1 FROM lineitem_ext l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey
          )
          AND NOT EXISTS (
              SELECT 1 FROM lineitem_ext l3
              WHERE l3.l_orderkey = l1.l_orderkey
                AND l3.l_suppkey <> l1.l_suppkey
                AND l3.l_receiptdate > l3.l_commitdate
          )
        GROUP BY s_name
        ORDER BY numwait DESC, s_name
        LIMIT 100
    """,
}

QUERIES = {
    "q2_min_cost_supplier": q_q2_min_cost_supplier,
    "q11_important_stock": q_q11_important_stock,
    "q16_parts_supplier_relationship": q_q16_parts_supplier_relationship,
    "q20_potential_promotion": q_q20_potential_promotion,
    "q12_shipmode_priority": q_q12_shipmode_priority,
    "q21_late_suppliers": q_q21_late_suppliers,
}
