"""Similarity search over embedding columns (north-star extension).

Two paths:

- :func:`q_ann_bruteforce_topk` — exact cosine top-k against a query
  vector. The per-row math is pure higher-order-function expressions
  (zip_with/aggregate) in whole-stage codegen; top-k is
  TakeOrderedAndProject. At scale this is one narrow scan — the
  baseline every ANN variant is measured against.
- :func:`lsh_bucket_ann` / :func:`q_ann_lsh_bucketed` — the scale path:
  sign-bit LSH over deterministic md5-derived hyperplanes buckets
  vectors, and the search only scores the query's bucket. Recall<1 by
  construction; bucket count trades recall vs. cost. The hyperplanes
  are pseudo-random but deterministic (seeded by dimension index), so
  results are reproducible run-to-run and node-to-node.

The probe kernels here are the vector tier's only copies — the
persisted index (ann_index.py), retrieval.py, dedup.py and the
semantic ingest stream import them: :func:`valid_vector` (the EMB_DIM
contract), :func:`probe_cells` (driver-side nprobe cell pick),
:func:`probe_cosine` (round6 cosine against a probe vector),
:func:`adc_dist` (PQ lookup-table distance) and
:func:`_cosine_fold_sql` (pairwise cosine of two vector columns).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from wd2duckdb_spark.catalog import (
    RELIABLE_CKPT_CONF,
    eager_checkpoint,
    half_up,
    local_frame,
    scan_partitions,
    session_memo,
    spread,
    tbl,
)


def _as_double(col: Column) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


# ---------------------------------------------------------------------------
# The vector folds, as SQL text.
#
# Every dot product, norm and squared distance of the vector tier is
# one of the fold builders below, parsed with F.expr(). Literal-heavy
# expressions (a centroid table, a set of hyperplanes) built via the
# Column API cost one py4j round-trip PER literal — measured 0.8-0.9 s
# of pure driver time per plan build for the 8-centroid IVF assign;
# one F.expr() parse of the equivalent SQL string is milliseconds.
# Each fold adds its terms left to right from 0.0 in ascending element
# order, the order of DuckDB's list_reduce and of the driver-side
# _py_norm, so all three compute bit-identical doubles; repr(float)
# round-trips exactly through the SQL parser (tested).
# ---------------------------------------------------------------------------


def _sql_dbl(x: float) -> str:
    """Exact SQL double literal (repr round-trips; 'D' forces double).

    Non-finite doubles need the CAST form: ``repr`` gives
    ``nan``/``inf``/``-inf``, which the SQL parser rejects — a NaN
    component in a probe vector or centroid would then raise a
    ParseException at plan build, where the old F.lit path quietly
    evaluated to NaN cosines. The CAST strings restore that behavior.
    """
    x = float(x)
    if x != x:
        return "CAST('NaN' AS DOUBLE)"
    if x == float("inf"):
        return "CAST('Infinity' AS DOUBLE)"
    if x == float("-inf"):
        return "CAST('-Infinity' AS DOUBLE)"
    return repr(x) + "D"


def _sql_arr(vals: list[float]) -> str:
    return "array(" + ", ".join(_sql_dbl(x) for x in vals) + ")"


def _dot_fold_sql(a_sql: str, b_sql: str) -> str:
    """Sequential-fold dot product of two double arrays."""
    return (
        f"aggregate(zip_with({a_sql}, {b_sql}, (x, y) -> x * y),"
        " CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
    )


def _norm_fold_sql(v_sql: str) -> str:
    """Sequential-fold L2 norm of a double array."""
    return (
        f"sqrt(aggregate(transform({v_sql}, z -> z * z),"
        " CAST(0 AS DOUBLE), (acc, z) -> acc + z))"
    )


def _sqdist_fold_sql(a_sql: str, b_sql: str) -> str:
    """Sequential-fold squared L2 distance of two double arrays."""
    return (
        f"aggregate(zip_with({a_sql}, {b_sql}, (x, y) -> (x - y) * (x - y)),"
        " CAST(0 AS DOUBLE), (acc, w) -> acc + w)"
    )


def _py_norm(v: list[float]) -> float:
    """Driver-side L2 norm with the same left-fold add order as
    :func:`_norm_fold_sql`, so the constant is bit-identical to what
    the JVM would have computed (IEEE adds in the same sequence, then
    one correctly-rounded sqrt on both sides)."""
    s = 0.0
    for x in v:
        s += x * x
    return s**0.5


def _cosine_fold_sql(xv: str, yv: str) -> str:
    """Sequential-fold cosine of two double-array columns:
    ``dot / (norm(x) * norm(y))``, the product order of every cosine
    in the tier and of DuckDB's list_cosine_similarity."""
    return (
        f"{_dot_fold_sql(xv, yv)}"
        f" / ({_norm_fold_sql(xv)} * {_norm_fold_sql(yv)})"
    )


def probe_cosine(v: str, nv: Column, qv: list[float]) -> Column:
    """round6 cosine of the array<double> column ``v`` against the
    driver-side probe vector ``qv`` — the one scoring rule of every
    probe (brute force, LSH, IVF, the persisted index). ``nv`` is the
    row's L2 norm as the caller already has it (a stored column, a
    hoisted one, or the :func:`_norm_fold_sql` of ``v`` inline);
    ``norm(q)`` folds to a driver-side constant. The (norm(v) *
    norm(q)) product order of :func:`_cosine_fold_sql` is kept."""
    return F.round(
        F.expr(_dot_fold_sql(v, _sql_arr(qv))) / (nv * F.lit(_py_norm(qv))),
        6,
    )


def probe_cells(
    qv: list[float], cents: list[tuple[int, list[float]]], nprobe: int
) -> list[int]:
    """The ``nprobe`` cells nearest the probe ``qv``, picked
    driver-side from the tiny centroid table: cosine descending, then
    ascending cid — the oracle's ``ORDER BY sim DESC, cid``."""
    nq = _py_norm(qv)
    ranked = sorted(
        (-(sum(x * y for x, y in zip(qv, c)) / (nq * _py_norm(c))), cid)
        for cid, c in cents
    )
    return [cid for _neg_sim, cid in ranked[:nprobe]]


@session_memo
def query_vector(spark: SparkSession, sf_dir: str, vec_id: int = 0) -> list[float]:
    """Fetch one query vector to the driver (a single row — the one
    legitimate collect in this module). Memoized per session: the
    fixture tables are immutable, and several ANN queries fetch the
    same probe."""
    row = (
        tbl(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") == vec_id)
        .select("embedding")
        .first()
    )
    if (
        row is None
        or row["embedding"] is None
        or len(row["embedding"]) != EMB_DIM
    ):
        # empty corpus / absent probe id / NULL or wrong-dimension
        # vector (the EMB_DIM schema contract): no query vector.
        # Callers short-circuit [] to an EMPTY result — composing an
        # empty array into the score would instead yield NULL cosines
        # for every candidate (zip_with pads with nulls).
        return []
    return [float(x) for x in row["embedding"]]


def clean_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The embeddings scan under the EMB_DIM schema contract: NULL or
    wrong-dimension vectors are dirty data and never participate —
    mirrored verbatim in every oracle (WHERE embedding IS NOT NULL
    AND len(embedding) = EMB_DIM), so Spark and DuckDB quarantine
    identically on ragged feeds."""
    return tbl(spark, sf_dir, "embeddings").filter(valid_vector())


def valid_vector() -> Column:
    """The EMB_DIM schema contract of one ``embedding`` row; every
    vector operator quarantines the rows it rejects."""
    return F.col("embedding").isNotNull() & (F.size("embedding") == EMB_DIM)


def cosine_scored(
    spark: SparkSession, sf_dir: str, vec_id: int = 0, pred=None
) -> DataFrame:
    """(vec_id, cosine round6) of every clean vector against the
    ``vec_id`` probe, unranked — the parameterized core of
    :func:`q_ann_bruteforce_topk`, reused by the hybrid RRF fusion and
    MMR (functions/retrieval.py). ``pred`` (an optional Column) is the
    metadata filter of FILTERED vector search (q_ann_filtered_topk) —
    applied BEFORE scoring, so at 100 TB a selective predicate prunes
    the scan (partition/row-group level for stored columns) instead of
    scoring then discarding. Empty frame when the probe is dirty or
    absent (the query_vector short-circuit)."""
    e = clean_embeddings(spark, sf_dir).filter(F.col("vec_id") != vec_id)
    if pred is not None:
        e = e.filter(pred)
    qv = query_vector(spark, sf_dir, vec_id)
    if not qv:
        return e.limit(0).select("vec_id", F.lit(0.0).alias("cosine"))
    e = e.withColumn("_v", _as_double(F.col("embedding")))
    sim = probe_cosine("_v", F.expr(_norm_fold_sql("_v")), qv)
    return e.select("vec_id", sim.alias("cosine"))


def q_ann_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-10 neighbors of vec_id=0."""
    return (
        cosine_scored(spark, sf_dir, 0)
        .orderBy(F.desc("cosine"), "vec_id")
        .limit(10)
    )


#: Metadata predicate of the filtered-search query: restrict to one
#: label class (labels 0-9 on the fixtures, each ~10% selective).
ANN_FILTER_LABEL = 3


def q_ann_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTERED vector search: exact cosine top-10 among
    vectors whose ``label = ANN_FILTER_LABEL`` — the metadata-filter
    + similarity combination every production vector store ships
    (search only docs matching a predicate). The filter applies
    BEFORE scoring via :func:`cosine_scored`'s ``pred`` hook, so a
    selective stored predicate prunes the scan rather than scoring
    then discarding; post-filtering a global top-k instead would
    UNDER-fill the result whenever fewer than k of the global top
    match the predicate — the classic filtered-ANN correctness trap.
    Oracle composes :func:`_ann_bf_sql` with the same predicate."""
    return (
        cosine_scored(
            spark, sf_dir, 0, pred=F.col("label") == ANN_FILTER_LABEL
        )
        .orderBy(F.desc("cosine"), "vec_id")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# LSH-bucketed scale path
# ---------------------------------------------------------------------------


def _plane_component(plane: int, dim: int) -> float:
    """Deterministic pseudo-random hyperplane component in [-1, 1),
    derived from md5(plane|dim) — no RNG state, reproducible anywhere."""
    import hashlib

    h = hashlib.md5(f"{plane}|{dim}".encode()).hexdigest()[:8]
    return (int(h, 16) / 0x7FFFFFFF) - 1.0


def lsh_bucket_sql(vec_sql: str, n_planes: int, n_dims: int) -> str:
    """Sign-bit LSH bucket id (0 .. 2^n_planes-1) of an array<double>
    column, as SQL text (one parse instead of n_planes × n_dims py4j
    literal calls — see the SQL-text rationale above). Same integer
    sum and the same left-fold dot order as the Column-API original."""
    terms = ["0"]
    for p in range(n_planes):
        plane = _sql_arr([_plane_component(p, d) for d in range(n_dims)])
        terms.append(
            f"IF({_dot_fold_sql(vec_sql, plane)} >= 0, {1 << p}, 0)"
        )
    return " + ".join(terms)


def lsh_bucket_col(vec_sql: str, n_planes: int, n_dims: int) -> Column:
    return F.expr(lsh_bucket_sql(vec_sql, n_planes, n_dims))


def lsh_bucket_ann(
    spark: SparkSession,
    sf_dir: str,
    vec_id: int = 0,
    n_planes: int = 4,
    k: int = 10,
    n_probes: int = 1,
) -> DataFrame:
    """ANN top-k scoring only the query's LSH bucket(s).

    At 100 TB: bucket once at write time (a stored column / partition
    key), so a query prunes to ~n_probes/2^n_planes of the data before
    any scoring. Here bucketing happens inline on the fixture table.

    ``n_probes > 1`` is MULTI-PROBE LSH (Lv et al., VLDB'07): instead
    of paying more tables/planes for recall, also probe the buckets
    whose sign bit was CLOSEST to flipping — the query's margin
    |dot(q, plane)| per plane, ascending, decides which single bits to
    flip for probes 2..n. A near neighbor that landed across one
    low-margin hyperplane is recovered for one extra bucket's worth of
    scan. The probe set always contains the home bucket, so the
    candidate set is a SUPERSET of single-probe's — recall can only
    improve (pinned in tests); everything stays engine-defined
    (hyperplanes), hence no SQL oracle, like ann_lsh_bucketed."""
    qv = query_vector(spark, sf_dir, vec_id)
    if not qv:
        return (
            tbl(spark, sf_dir, "embeddings")
            .limit(0)
            .select("vec_id", F.lit(0.0).alias("cosine"))
        )
    n_dims = len(qv)
    # the query's bucket id + per-plane margins, driver-side with the
    # same deterministic planes
    margins = [
        sum(qv[d] * _plane_component(p, d) for d in range(n_dims))
        for p in range(n_planes)
    ]
    q_bucket = sum((1 << p) for p in range(n_planes) if margins[p] >= 0)
    # probes 2..n flip one bit each, lowest |margin| first
    flip_order = sorted(range(n_planes), key=lambda p: (abs(margins[p]), p))
    probes = [q_bucket] + [
        q_bucket ^ (1 << p) for p in flip_order[: max(0, n_probes - 1)]
    ]
    e = clean_embeddings(spark, sf_dir).filter(F.col("vec_id") != vec_id)
    bucketed = e.withColumn(
        "_v", _as_double(F.col("embedding"))
    ).withColumn("bucket", lsh_bucket_col("_v", n_planes, n_dims))
    return (
        bucketed.filter(F.col("bucket").isin(*probes))
        .select(
            "vec_id",
            probe_cosine("_v", F.expr(_norm_fold_sql("_v")), qv).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), "vec_id")
        .limit(k)
    )


def q_ann_lsh_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    return lsh_bucket_ann(spark, sf_dir, 0, 4, 10)


def q_ann_lsh_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe LSH ANN: home bucket + the 2 lowest-
    margin single-bit-flip buckets — 3/16 of the corpus scanned for a
    recall several tables' worth better than one bucket (see
    :func:`lsh_bucket_ann`). Engine-defined hyperplanes ⇒ no SQL
    oracle; superset-of-single-probe and recall-vs-bruteforce pinned
    in tests like ann_lsh_bucketed."""
    return lsh_bucket_ann(spark, sf_dir, 0, 4, 10, n_probes=3)


# ---------------------------------------------------------------------------
# IVF (inverted-file) scale path
# ---------------------------------------------------------------------------

#: IVF parameters: centroid vectors are the embeddings of these fixed
#: vec_ids (deterministic "training" stand-in — production swaps in
#: k-means centroids; the index/probe mechanics are identical), and
#: NPROBE nearest cells are scanned per query.
IVF_CENTROID_IDS = tuple(range(1, 9))
IVF_NPROBE = 2


@session_memo
def _centroids(spark: SparkSession, sf_dir: str) -> list[tuple[int, list[float]]]:
    """The IVF centroid table ``[(vec_id, vector)]``, memoized per
    session: an 8-row collect, but a full Spark job per plan build."""
    rows = (
        tbl(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id").isin(*IVF_CENTROID_IDS))
        .filter(valid_vector())
        .select("vec_id", "embedding")
        .collect()
    )
    return sorted(
        (int(r["vec_id"]), [float(x) for x in r["embedding"]]) for r in rows
    )


def ivf_assign_col(
    vec_sql: str, nv_sql: str, cents: list[tuple[int, list[float]]]
) -> Column:
    """Nearest-centroid cell id of an array<double> vector (first-max
    tie-break on ascending centroid id — same rule as the oracle's
    ``ORDER BY sim DESC, cid``).

    ``vec_sql``/``nv_sql`` name the vector column and its precomputed
    L2 norm: the row norm is computed once per row instead of once per
    centroid, centroid norms fold to driver-side constants, and the
    whole assign is ONE parsed expression (the SQL-text rationale
    above — this was 0.8 s of py4j literal traffic per plan build).
    The (norm(v) * norm(c)) product order of :func:`_cosine_fold_sql`
    is kept."""
    sims = ", ".join(
        f"{_dot_fold_sql(vec_sql, _sql_arr(c))}"
        f" / ({nv_sql} * {_sql_dbl(_py_norm(c))})"
        for _cid, c in cents
    )
    cids = ", ".join(str(cid) for cid, _c in cents)
    # single-pass argmax: strict > keeps the FIRST maximum (ascending
    # cid tie-break, matching array_position(S, array_max(S)) — which
    # would evaluate the sims array twice per row). Spark orders NaN
    # above every double in both forms, so degenerate zero-norm rows
    # pick the same first-NaN cell either way.
    return F.expr(
        f"aggregate(zip_with(array({sims}), array({cids}),"
        " (s, c) -> named_struct('s', s, 'c', c)),"
        " named_struct('s', CAST('-Infinity' AS DOUBLE), 'c', -1),"
        " (acc, e) -> IF(e.s > acc.s, e, acc)).c"
    )


def ivf_topk(
    spark: SparkSession,
    sf_dir: str,
    vec_id: int = 0,
    pred: Column | None = None,
    k: int = 10,
) -> DataFrame:
    """IVF ANN top-``k``: assign every candidate to its nearest
    centroid cell, probe the query's ``IVF_NPROBE`` nearest cells,
    score only those candidates. ``pred`` is the metadata filter of
    FILTERED vector search: applied BEFORE
    assignment/scoring, so a filtered query prunes by BOTH the stored
    predicate AND cell geometry — at 100 TB this is the default
    filtered-search path; the exact filtered scan
    (:func:`q_ann_filtered_topk`) is the fallback/ground-truth tier.

    At 100 TB the assignment happens at WRITE time (a stored/partition
    column, exactly like the LSH bucket), so a query scans
    nprobe/n_cells of the data; the centroid table is broadcast-sized
    by construction. Candidate set excludes the query vector and the
    centroid ids themselves."""
    cents = _centroids(spark, sf_dir)
    qv = query_vector(spark, sf_dir, vec_id)
    if not cents or not qv:
        # degenerate corpus: no centroids / no query vector
        return tbl(spark, sf_dir, "embeddings").limit(0).select(
            "vec_id",
            F.lit(0).cast("int").alias("cell"),
            F.lit(0.0).alias("cosine"),
        )
    probe = probe_cells(qv, cents, IVF_NPROBE)
    e = clean_embeddings(spark, sf_dir).filter(
        ~F.col("vec_id").isin(vec_id, *IVF_CENTROID_IDS)
    )
    if pred is not None:
        e = e.filter(pred)
    # row norm hoisted: computed once per row, shared by the assign
    # (one per centroid in the Column-API original) and the final
    # query-cosine — product orders preserved, doubles unchanged.
    assigned = (
        e.withColumn("_v", _as_double(F.col("embedding")))
        .withColumn("_nv", F.expr(_norm_fold_sql("_v")))
        .withColumn("cell", ivf_assign_col("_v", "_nv", cents))
    )
    sim = probe_cosine("_v", F.col("_nv"), qv)
    return (
        assigned.filter(F.col("cell").isin(*probe))
        .select("vec_id", "cell", sim.alias("cosine"))
        .orderBy(F.desc("cosine"), "vec_id")
        .limit(k)
    )


def q_ivf_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN top-10 of vec_id=0, unfiltered (see :func:`ivf_topk`)."""
    return ivf_topk(spark, sf_dir, 0)


def q_ann_filtered_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTERED vector search on the IVF scale path: cosine top-10
    among ``label = ANN_FILTER_LABEL`` vectors, scored only inside the query's ``IVF_NPROBE`` nearest cells — the
    predicate prunes the scan (stored column) AND the cell assignment
    prunes the geometry, so a filtered query reads
    selectivity × nprobe/n_cells of the corpus instead of the exact
    path's full filtered scan. Same pre-filter discipline as
    :func:`q_ann_filtered_topk` (post-filtering an unfiltered top-k
    UNDER-fills); recall vs the exact filtered scan is measured by
    ``ann_filtered_recall_eval``, the ann_recall_eval discipline.
    Oracle: :func:`_ivf_oracle` with the same predicate spliced into
    its candidate CTE."""
    return ivf_topk(
        spark, sf_dir, 0, pred=F.col("label") == ANN_FILTER_LABEL
    )


def q_ivf_cell_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF index-health diagnostic: per-cell candidate
    counts with row share and multiple-of-mean load — the vector-index
    twin of ``hot_keys_report``. An IVF index only delivers its
    nprobe/n_cells scan fraction if cells are balanced; a hub cell at
    many × mean load means probes that hit it scan far more than the
    nominal fraction (and at write time it is the signal to retrain /
    split centroids before committing the layout). Run BEFORE trusting
    the index, exactly like ann_recall_eval measures its recall.

    Plan: one corpus scan, the assignment stays a scan-stage
    expression, and ONE map-side-combined groupBy moves ≤ n_cells
    partial rows per task; share/x_mean come from a 1-row broadcast
    over the tiny per-cell frame. Assignment rule and candidate-set
    exclusions are shared verbatim with :func:`ivf_topk` (and the
    oracle reuses the same ``assigned`` CTE via
    :func:`_ivf_cte_prefix`), so the diagnostic can never disagree
    with the index it audits. floor4 integer ratios."""
    cents = _centroids(spark, sf_dir)
    if not cents:
        return tbl(spark, sf_dir, "embeddings").limit(0).select(
            F.lit(0).cast("long").alias("cell"),
            F.lit(0).cast("long").alias("n_vectors"),
            F.lit(0.0).alias("share"),
            F.lit(0.0).alias("x_mean"),
        )
    e = clean_embeddings(spark, sf_dir).filter(
        ~F.col("vec_id").isin(0, *IVF_CENTROID_IDS)
    )
    assigned = (
        e.withColumn("_v", _as_double(F.col("embedding")))
        .withColumn("_nv", F.expr(_norm_fold_sql("_v")))
        .withColumn("cell", ivf_assign_col("_v", "_nv", cents))
    )
    return cell_balance(assigned)


def cell_balance(assigned: DataFrame) -> DataFrame:
    """``(cell, n_vectors, share, x_mean)`` per cell of a frame with a
    ``cell`` column: the rows in the cell, their share of all rows and
    their multiple of the mean cell load ``n·cells/total``, both
    :func:`~wd2duckdb_spark.catalog.half_up` to 4 dp. The one tail of
    :func:`q_ivf_cell_balance` and of the persisted index's
    ``index_cell_balance``."""
    counts = assigned.groupBy("cell").agg(F.count("*").alias("n_vectors"))
    stats = counts.agg(
        F.sum("n_vectors").alias("_total"),
        F.count("*").alias("_ncells"),
    )
    return (
        counts.crossJoin(F.broadcast(stats))
        .select(
            F.col("cell").cast("long").alias("cell"),
            "n_vectors",
            half_up(F.col("n_vectors") / F.col("_total"), 4).alias("share"),
            half_up(
                F.col("n_vectors") * F.col("_ncells") / F.col("_total"), 4
            ).alias("x_mean"),
        )
        .orderBy("cell")
    )


def q_embedding_hygiene(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding data-quality report: per-label vector
    counts with NULL, wrong-dimension (ragged), and zero-norm tallies
    plus the mean L2 norm of the clean vectors — the schema-contract
    audit run before any vector tier (every dimension-bound operator
    quarantines exactly the rows this report counts, via
    :func:`clean_embeddings`). Zero-norm rows matter separately:
    they survive the dimension check but produce NaN cosines, so a
    nonzero count here is the early warning for the NaN-ordering
    degeneracies the ANN tier documents.

    Plan: ONE map-side-combined aggregate over one scan — every
    predicate and the norm are scan-stage column expressions; ≤
    |labels| partial rows shuffle. Zero-norm equality is exact (a sum
    of squares is 0.0 iff every component is 0.0 in both engines);
    avg_norm is floor4. NULL label forms its own row; ordering NULLS
    LAST on both engines."""
    e = tbl(spark, sf_dir, "embeddings")
    emb = F.col("embedding")
    clean = valid_vector()
    nv = F.expr(
        _norm_fold_sql("transform(embedding, x -> CAST(x AS DOUBLE))")
    )
    return (
        e.groupBy("label")
        .agg(
            F.count("*").alias("n_vecs"),
            F.sum(emb.isNull().cast("long")).alias("n_null"),
            F.sum(
                (emb.isNotNull() & (F.size(emb) != EMB_DIM)).cast("long")
            ).alias("n_ragged"),
            F.sum((clean & (nv == 0.0)).cast("long")).alias("n_zero_norm"),
            half_up(F.avg(F.when(clean, nv)), 4).alias("avg_norm"),
        )
        .orderBy(F.asc_nulls_last("label"))
    )


def _centroid_rows(e: DataFrame) -> DataFrame:
    """(label, pos, centroid) per-label mean rows — shared by
    :func:`q_embedding_centroids` and :func:`q_label_exemplars` so the
    prototype definition cannot drift between them."""
    return (
        e.select(
            "label", F.posexplode(_as_double(F.col("embedding")))
        )
        .groupBy("label", F.col("pos").cast("int").alias("pos"))
        .agg(F.round(F.avg("col"), 6).alias("centroid"))
    )


def q_embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid of the embedding vectors as (label, pos,
    centroid) rows — the reduction that produces IVF/k-means centroids
    and class prototypes at scale.

    posexplode → groupBy(label, pos) keeps everything in native
    codegen and shuffles (n_labels × n_dims) rows of partial sums —
    no array-valued aggregation buffer, no UDAF. Emitting positional
    rows (not re-assembled arrays) is deliberate: it is the
    exchange-friendly form AND directly comparable to DuckDB's
    ``unnest WITH ORDINALITY``."""
    e = tbl(spark, sf_dir, "embeddings")
    return _centroid_rows(e).orderBy("label", "pos")


def q_label_exemplars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label EXEMPLAR selection: the vector nearest (cosine) to
    its label's centroid — the prototype/medoid-style data-selection
    primitive (pick one representative per class/cluster for dataset
    cards, active-learning seeds, or SemDeDup-style semantic keep
    rules). Centroid definition is shared verbatim with
    :func:`q_embedding_centroids` (:func:`_centroid_rows`, rounded to
    6 dp BEFORE scoring so both engines score against bit-identical
    prototypes); dirty vectors are quarantined by the standard
    EMB_DIM contract on both the centroid and the scoring side.

    Plan: one (label × dim)-row partial-agg exchange builds the
    centroids, which assemble to |labels| array rows and BROADCAST
    back; scoring is in-row fold arithmetic at scan speed, and the
    winner per label is one more tiny aggregate (max-struct — no sort,
    no window). Nothing corpus-sized shuffles twice at 100 TB.
    """
    e = clean_embeddings(spark, sf_dir)
    cvec = (
        _centroid_rows(e)
        .groupBy("label")
        .agg(F.collect_list(F.struct("pos", "centroid")).alias("pc"))
        .select(
            "label",
            F.expr("transform(array_sort(pc), s -> s.centroid)").alias(
                "cv"
            ),
        )
    )
    scored = (
        e.withColumn("_v", _as_double(F.col("embedding")))
        .join(F.broadcast(cvec), "label")
        .select(
            "label",
            "vec_id",
            F.round(F.expr(_cosine_fold_sql("_v", "cv")), 6).alias("cos"),
        )
    )
    best = F.max(
        F.struct(F.col("cos").alias("s"), (-F.col("vec_id")).alias("negid"))
    )
    return (
        scored.groupBy("label")
        .agg(
            F.count("*").alias("n_vectors"),
            (-best.getField("negid")).alias("exemplar_vec_id"),
            best.getField("s").alias("exemplar_cos"),
        )
        .orderBy("label")
    )


def q_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 scalar quantization of the embedding column —
    the storage-compression step of a vector index (4× smaller than
    float32, ~16× smaller than this fixture's doubles).

    Per vector: scale = max|v|/127, qᵢ = round(vᵢ/scale), plus the
    reconstruction MSE as the quality metric. All element-wise
    higher-order expressions — per-row work, zero shuffle, and at
    100 TB it runs at scan speed as the write-time transform of the
    quantized index. The checksum column pins the exact quantized
    values cross-engine without emitting 64-wide arrays.
    """
    # SQL-text convention (PLANS.md "driver-side expression cost"):
    # building these nested HOFs out of python lambdas costs thousands
    # of py4j round-trips and a deep Column tree to analyze — as text,
    # the measured wall time drops ~4x (3.7 s -> <1 s at sf0.1) with a
    # bit-identical plan. Staged selects keep each HOF referring to a
    # named column instead of repeating subtrees.
    return (
        tbl(spark, sf_dir, "embeddings")
        .selectExpr(
            "vec_id", "transform(embedding, x -> CAST(x AS DOUBLE)) AS v"
        )
        .selectExpr(
            "vec_id",
            "v",
            "array_max(transform(v, x -> abs(x))) / 127.0 AS scale_raw",
        )
        .selectExpr(
            "vec_id",
            "round(scale_raw, 8) AS scale",
            "aggregate(transform(v, x -> CAST(round(x / scale_raw) AS INT)),"
            " 0, (acc, x) -> acc + x) AS q_checksum",
            "round(aggregate(transform(v,"
            " x -> pow(x - round(x / scale_raw) * scale_raw, 2.0D)),"
            " CAST(0 AS DOUBLE), (acc, x) -> acc + x) / size(v), 10)"
            " AS mse",
        )
        .orderBy("vec_id")
    )


@session_memo
def pca_model(spark: SparkSession, sf_dir: str, k: int = 8):
    """Fit PCA over the embedding column, the 100 TB way.

    Statistics are computed as per-partition partials in ONE Arrow
    batch pass (`mapInPandas`: count, sum vector, sum outer-product
    matrix per batch — numpy matmul, never per-row Python), so the
    driver collects only #partitions × (d + d²) doubles regardless of
    row count. The d×d eigendecomposition is driver-side numpy — d=64
    here; this split (distributed moments, tiny local eig) is the
    standard scalable PCA factorization.

    Component signs are fixed deterministically (largest-|component|
    coordinate made positive) so results are reproducible across
    numpy builds and cluster layouts. Returns ``(mean, eigenvalues,
    components d×k, total_var)``, or None for an empty corpus; memoized
    per session.
    """
    import numpy as np

    def partials(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            m = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            yield pd.DataFrame(
                {
                    "n": [m.shape[0]],
                    "s": [m.sum(axis=0).tolist()],
                    "ss": [(m.T @ m).ravel().tolist()],
                }
            )

    rows = (
        tbl(spark, sf_dir, "embeddings")
        .filter(valid_vector())  # dirty rows can't fit
        .select("embedding")
        .mapInPandas(partials, "n long, s array<double>, ss array<double>")
        .collect()
    )
    n = sum(r["n"] for r in rows)
    if n == 0:
        return None  # empty corpus: nothing to fit
    d = len(rows[0]["s"])
    s = np.sum([np.asarray(r["s"]) for r in rows], axis=0)
    ss = np.sum([np.asarray(r["ss"]).reshape(d, d) for r in rows], axis=0)
    mu = s / n
    cov = ss / n - np.outer(mu, mu)
    evals, evecs = np.linalg.eigh(cov)
    order = np.argsort(evals)[::-1][:k]
    evals, evecs = evals[order], evecs[:, order]
    for j in range(k):
        if evecs[np.argmax(np.abs(evecs[:, j])), j] < 0:
            evecs[:, j] = -evecs[:, j]
    return mu, evals, evecs, float(np.trace(cov))


def q_embedding_pca(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA + whitening self-audit: per top-8 component, the model
    eigenvalue next to the variance of the data actually projected
    onto that component (computed distributed, native dot products
    over literal component vectors), the explained-variance ratio,
    and the whitened variance (projected/eigenvalue ≈ 1).

    projected_var ≈ eigenvalue is the end-to-end proof that the
    two-phase fit (distributed moments → local eig → distributed
    projection) is consistent. No oracle entry: eigendecomposition is
    engine-defined (DuckDB has none); tests/test_similarity.py checks
    the model against full-data numpy PCA instead.
    """
    model = pca_model(spark, sf_dir)
    if model is None:
        return local_frame(
            spark,
            [],
            "component int, eigenvalue double, projected_var double, "
            "explained_ratio double, whitened_var double",
        )
    mu, evals, evecs, total_var = model
    k = len(evals)
    centered = tbl(spark, sf_dir, "embeddings").selectExpr(
        "zip_with(transform(embedding, x -> CAST(x AS DOUBLE)),"
        f" {_sql_arr(mu)}, (x, m) -> x - m) AS c"
    )
    projected = centered.select(
        *[
            F.expr(_dot_fold_sql("c", _sql_arr(evecs[:, j]))).alias(f"p{j}")
            for j in range(k)
        ]
    )
    wide = projected.agg(
        *[F.var_pop(f"p{j}").alias(f"v{j}") for j in range(k)]
    )
    stack_args = ", ".join(
        f"{j}, CAST({evals[j]!r} AS DOUBLE), v{j}" for j in range(k)
    )
    return wide.selectExpr(
        f"stack({k}, {stack_args}) AS (component, eigenvalue, projected_var)"
    ).selectExpr(
        "CAST(component AS INT) AS component",
        "round(eigenvalue, 6) AS eigenvalue",
        "round(projected_var, 6) AS projected_var",
        # nullif: a zero-variance corpus (1 row) has UNDEFINED ratios,
        # not a division error (ANSI x/0 raises)
        f"round(eigenvalue / nullif(CAST({total_var!r} AS DOUBLE), 0.0), 6)"
        " AS explained_ratio",
        "round(projected_var / nullif(eigenvalue, 0.0), 4) AS whitened_var",
    )


def _ivf_cte_prefix(extra_where: str = "") -> str:
    """The shared IVF oracle CTE chain (cents → q → probe → assigned);
    ``extra_where`` (an ``AND …`` clause) is the filtered-search
    predicate, spliced into the candidate CTE exactly where the
    engine's ``ivf_topk`` applies ``pred`` — before assignment and
    scoring. Reused verbatim by the top-k oracle and the cell-balance
    diagnostic so they cannot disagree on the assignment rule."""
    cents = ",".join(str(c) for c in IVF_CENTROID_IDS)
    return f"""cents AS (
            SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS e
            FROM embeddings WHERE vec_id IN ({cents})
              AND embedding IS NOT NULL AND len(embedding) = {EMB_DIM}
        ),
        q AS (
            -- mirror the engine's query_vector quarantine —
            -- a NULL/ragged probe vector means NO query, not NULL
            -- cosines (the count guard below empties the result like
            -- the engine's short-circuit)
            SELECT CAST(embedding AS DOUBLE[]) AS e
            FROM embeddings WHERE vec_id = 0
              AND embedding IS NOT NULL AND len(embedding) = {EMB_DIM}
        ),
        probe AS (
            SELECT cid FROM cents
            ORDER BY list_cosine_similarity(e, (SELECT e FROM q)) DESC, cid
            LIMIT {IVF_NPROBE}
        ),
        assigned AS (
            SELECT v.vec_id,
                   CAST(v.embedding AS DOUBLE[]) AS ve,
                   (SELECT cid FROM cents
                    ORDER BY list_cosine_similarity(
                        cents.e, CAST(v.embedding AS DOUBLE[])) DESC, cid
                    LIMIT 1) AS cell
            FROM embeddings v
            WHERE v.vec_id NOT IN (0, {cents})
              AND v.embedding IS NOT NULL AND len(v.embedding) = {EMB_DIM}
              {extra_where}
        )"""


def _ivf_oracle(extra_where: str = "") -> str:
    """IVF top-10 oracle over the shared CTE prefix."""
    return f"""
        WITH {_ivf_cte_prefix(extra_where)}
        SELECT vec_id, CAST(cell AS BIGINT) AS cell,
               round(list_cosine_similarity(ve, (SELECT e FROM q)), 6)
                   AS cosine
        FROM assigned
        WHERE cell IN (SELECT cid FROM probe)
          AND (SELECT count(*) FROM q) = 1
        ORDER BY cosine DESC, vec_id
        LIMIT 10
    """




# ---------------------------------------------------------------------------
# Product quantization (PQ)
# ---------------------------------------------------------------------------

#: PQ geometry: 64-dim embeddings → 8 subspaces × 8 dims, 16 codes per
#: subspace ⇒ a vector compresses to 8 half-bytes (4 bytes vs 256 for
#: float32) — the memory tier below int8 scalar quantization. Codebooks
#: here are the subvectors of 16 fixed seed vectors (deterministic and
#: oracle-expressible; trained k-means codebooks drop in without
#: changing encode/search mechanics, same note as IVF_CENTROID_IDS).
PQ_SUBSPACES = 8
PQ_SUBDIM = 8
PQ_CODES = 16

#: The engine's embedding-schema contract: vectors are EMB_DIM floats
#: (the testdata schema; PQ subspace geometry assumes it). Rows with a
#: different length are DIRTY DATA — dimension-bound operators filter
#: them out (the same quarantine contract as ingest's corrupt-line
#: handling) instead of crashing the codebook trainer / BLAS kernels.
EMB_DIM = PQ_SUBSPACES * PQ_SUBDIM


@session_memo
def _pq_codebook(spark: SparkSession, sf_dir: str) -> list[list[float]]:
    """codebook[c] = 64-dim seed vector c (vec_id < PQ_CODES). The seed
    collect is 16 rows but costs a Spark job, so it is memoized per
    session."""
    rows = (
        tbl(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < PQ_CODES)
        .filter(valid_vector())
        .select("vec_id", "embedding")
        .collect()
    )
    return [
        [float(x) for x in r["embedding"]]
        for r in sorted(rows, key=lambda r: r["vec_id"])
    ]


def pq_code_sql(vec_sql: str, codebook: list[list[float]], j: int) -> str:
    """SQL text for the code index (0..PQ_CODES-1) of subspace ``j``:
    argmin of squared L2 over the subvector, first-min tie-break on
    ascending code (array_position returns the first match).

    Shape: the subspace codebook is ONE 2-D array literal and the
    16 distances come from a transform + zip_with/aggregate fold —
    ~8x fewer expression-tree nodes than spelling out every
    (v[i]-c)*(v[i]-c) term (which cost ~1 s of driver-side analysis
    per plan build at 8 subspaces). Numerics are
    unchanged: the fold adds squared terms in ascending-dim order
    left-associated, and 0.0 + x == x exactly in IEEE for the x >= 0
    squares, so doubles stay bit-identical to the oracle's explicit
    " + " chains (repr(float) round-trips through both parsers).

    A string, not a Column tree: building expressions this wide via
    the Column API costs tens of thousands of py4j round-trips (~8-13 s
    of DRIVER time per plan build, measured); one F.expr() parse is
    milliseconds. ``vec_sql`` indexes 0-based (Spark array access)."""
    lo = j * PQ_SUBDIM
    sub_cb = ", ".join(
        "array(" + ", ".join(repr(codebook[c][i]) for i in range(lo, lo + PQ_SUBDIM)) + ")"
        for c in range(PQ_CODES)
    )
    dists = (
        f"transform(array({sub_cb}), sc -> aggregate("
        f"zip_with(slice({vec_sql}, {lo + 1}, {PQ_SUBDIM}), sc,"
        f" (x, y) -> (x - y) * (x - y)),"
        f" CAST(0 AS DOUBLE), (a, z) -> a + z))"
    )
    # single-pass argmin: strict < keeps the FIRST minimum (ascending
    # code tie-break), and the distance array is evaluated once — the
    # array_position(D, array_min(D)) form walks D twice.
    return (
        f"aggregate(zip_with({dists}, sequence(0, {PQ_CODES - 1}),"
        f" (d, i) -> named_struct('d', d, 'i', i)),"
        f" named_struct('d', CAST('Infinity' AS DOUBLE), 'i', -1),"
        f" (acc, e) -> IF(e.d < acc.d, e, acc)).i"
    )


def pq_code_col(vec_sql: str, codebook: list[list[float]], j: int) -> Column:
    return F.expr(pq_code_sql(vec_sql, codebook, j))


def q_embedding_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ encoding of the embedding column: 8 integer codes per vector
    (the write-time transform of a PQ index). Integer output keeps the
    oracle compare exact — no float rounding seam; search-time ADC
    (asymmetric distance) is a lookup-table sum over these codes.

    Per-row expression work only — no shuffle needed at 100 TB, where
    file splits provide the parallelism; the explicit repartition here
    spreads the CPU-bound encode across cores because the fixture
    table is a single parquet split (same rationale as the minhash
    shingle path). The codebook is a driver-side constant shipped in
    the plan (a real deployment broadcasts the trained codebook the
    same way)."""
    cb = _pq_codebook(spark, sf_dir)
    if len(cb) < PQ_CODES:
        # degenerate corpus: fewer seed vectors than codes — the
        # codebook is untrainable. Empty result, correct schema.
        return tbl(spark, sf_dir, "embeddings").limit(0).select(
            "vec_id",
            *[
                F.lit(0).cast("int").alias(f"code{j}")
                for j in range(PQ_SUBSPACES)
            ],
        )
    e = spread(
        tbl(spark, sf_dir, "embeddings").filter(valid_vector()),
        scan_parts=scan_partitions(spark, sf_dir, "embeddings"),
    ).withColumn("_v", _as_double(F.col("embedding")))
    cols = [
        pq_code_col("_v", cb, j).alias(f"code{j}")
        for j in range(PQ_SUBSPACES)
    ]
    return e.select("vec_id", *cols).orderBy("vec_id")


def _pq_oracle() -> str:
    """Oracle with the SAME explicit term order as pq_code_col (left-
    associated ascending-dim additions) so doubles match bit-for-bit."""
    d_exprs = []
    for j in range(PQ_SUBSPACES):
        lo = j * PQ_SUBDIM
        terms = " + ".join(
            f"(v.v[{i + 1}] - s.sv[{i + 1}]) * (v.v[{i + 1}] - s.sv[{i + 1}])"
            for i in range(lo, lo + PQ_SUBDIM)
        )
        d_exprs.append(f"{terms} AS d{j}")
    mins = ", ".join(f"min(d{j}) AS m{j}" for j in range(PQ_SUBSPACES))
    picks = ", ".join(
        f"CAST(min(CASE WHEN d.d{j} = b.m{j} THEN d.c END) AS INT) AS code{j}"
        for j in range(PQ_SUBSPACES)
    )
    return f"""
        WITH seeds AS (
            SELECT vec_id AS c, CAST(embedding AS DOUBLE[]) AS sv
            FROM embeddings
            WHERE vec_id < {PQ_CODES}
              AND embedding IS NOT NULL AND len(embedding) = {EMB_DIM}
        ), vecs AS (
            -- mirror the engine's untrainable-codebook guard: if fewer
            -- than PQ_CODES clean seeds exist, the result is EMPTY
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
            FROM embeddings
            WHERE embedding IS NOT NULL AND len(embedding) = {EMB_DIM}
              AND (SELECT count(*) FROM seeds) = {PQ_CODES}
        ), dist AS (
            SELECT v.vec_id, s.c, {", ".join(d_exprs)}
            FROM vecs v CROSS JOIN seeds s
        ), best AS (
            SELECT vec_id, {mins} FROM dist GROUP BY vec_id
        )
        SELECT d.vec_id, {picks}
        FROM dist d JOIN best b USING (vec_id)
        GROUP BY d.vec_id ORDER BY d.vec_id
    """




def _pq_lut(qv: list[float], codebook: list[list[float]]) -> list[list[float]]:
    """ADC lookup table: lut[j][c] = ||q_sub_j - codebook[c]_sub_j||²,
    ascending-dim left-fold — the same op order as the oracle's
    generated SQL, so the table literals are bit-identical doubles."""
    lut = []
    for j in range(PQ_SUBSPACES):
        lo = j * PQ_SUBDIM
        lut.append(
            [
                sum(
                    (qv[i] - codebook[c][i]) * (qv[i] - codebook[c][i])
                    for i in range(lo, lo + PQ_SUBDIM)
                )
                for c in range(PQ_CODES)
            ]
        )
    return lut


def adc_dist(lut: list[list[float]], code_cols: list[str]) -> Column:
    """floor-6 asymmetric distance: one lookup-table read per PQ code
    column (``lut[j][code_j]``), summed in subspace order."""
    dist = F.expr(
        " + ".join(
            f"element_at(array({', '.join(repr(x) for x in lut[j])}),"
            f" {col} + 1)"
            for j, col in enumerate(code_cols)
        )
    )
    return half_up(dist, 6)


def q_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ search: approximate top-10 nearest (squared L2) to vec_id=0
    by ASYMMETRIC DISTANCE — the query stays exact, candidates are
    their PQ codes, and distance is 8 lookup-table reads + adds per
    candidate. This is the memory-bound inner loop of a billion-vector
    index: candidates never rehydrate to floats, the 8×16-double LUT
    broadcasts as literals, and the scan stays whole-stage codegen.
    floor-normalized distances (PLANS.md rounding convention)."""
    qv = query_vector(spark, sf_dir, 0)
    cb = _pq_codebook(spark, sf_dir)
    if not qv or len(cb) < PQ_CODES:
        # no query vector / untrainable codebook (degenerate corpus)
        return tbl(spark, sf_dir, "embeddings").limit(0).select(
            "vec_id", F.lit(0.0).alias("adc_dist")
        )
    lut = _pq_lut(qv, cb)
    e = tbl(spark, sf_dir, "embeddings").filter(
        (F.col("vec_id") != 0) & valid_vector()
    )
    v = _as_double(F.col("embedding"))
    # Two projections, not one fused expression: inlining the code
    # computation into every LUT lookup re-expands each 16x8-term
    # argmin inside element_at and the running sum — a codegen blob
    # that fell out of whole-stage compilation (measured 8.4 s -> 1.2 s
    # at sf0.1 after the split). Materializing code columns first keeps
    # each generated method small.
    codes = (
        # repartition: the fixture table is one parquet split and the
        # PQ encode is CPU-bound — spread it; at scale, splits do this
        # (and catalog.spread then skips the shuffle outright).
        spread(e, scan_parts=scan_partitions(spark, sf_dir, "embeddings"))
        .withColumn("_v", v)
        .select(
            "vec_id",
            *[
                pq_code_col("_v", cb, j).alias(f"_c{j}")
                for j in range(PQ_SUBSPACES)
            ],
        )
    )
    dist = adc_dist(lut, [f"_c{j}" for j in range(PQ_SUBSPACES)])
    return (
        codes.select("vec_id", dist.alias("adc_dist"))
        .orderBy("adc_dist", "vec_id")
        .limit(10)
    )


def _pq_adc_oracle() -> str:
    lut_exprs = []
    for j in range(PQ_SUBSPACES):
        lo = j * PQ_SUBDIM
        terms = " + ".join(
            f"(q.v[{i + 1}] - s.sv[{i + 1}]) * (q.v[{i + 1}] - s.sv[{i + 1}])"
            for i in range(lo, lo + PQ_SUBDIM)
        )
        lut_exprs.append(f"{terms} AS l{j}")
    joins = "\n            ".join(
        f"JOIN lut t{j} ON t{j}.c = codes.code{j}"
        for j in range(PQ_SUBSPACES)
    )
    dist = " + ".join(f"t{j}.l{j}" for j in range(PQ_SUBSPACES))
    return f"""
        WITH pq AS ({_pq_oracle()}),
        codes AS (SELECT * FROM pq),
        q AS (
            -- dirty probe vector => empty q => empty result
            -- (count guard below), matching the engine's short-circuit
            SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings
            WHERE vec_id = 0
              AND embedding IS NOT NULL AND len(embedding) = {EMB_DIM}
        ), seeds AS (
            SELECT vec_id AS c, CAST(embedding AS DOUBLE[]) AS sv
            FROM embeddings WHERE vec_id < {PQ_CODES}
              AND embedding IS NOT NULL AND len(embedding) = {EMB_DIM}
        ), lut AS (
            SELECT s.c, {", ".join(lut_exprs)}
            FROM seeds s CROSS JOIN q
        )
        SELECT codes.vec_id,
               floor(({dist}) * 1000000 + 0.5) / 1000000 AS adc_dist
        FROM codes
            {joins}
        WHERE codes.vec_id <> 0
          AND (SELECT count(*) FROM q) = 1
        ORDER BY adc_dist, codes.vec_id LIMIT 10
    """


def _ann_bf_sql(limit: int, extra_where: str = "") -> str:
    """Brute-force cosine top-``limit`` oracle SQL — the single SQL
    source of the exact cosine ranking: ann_bruteforce_topk uses it at
    its own k, ann_recall_eval embeds it verbatim as ground truth, the
    hybrid RRF fusion and MMR (functions/retrieval.py) embed it at
    their depths, and the filtered-search oracle passes the metadata
    predicate via ``extra_where`` (an ``AND …`` clause) — so the
    rankings cannot drift apart."""
    return f"""
        WITH q AS (
            -- dirty probe vector => empty q => empty result
            -- (count guard below), matching the engine's short-circuit
            SELECT CAST(embedding AS DOUBLE[]) AS e
            FROM embeddings WHERE vec_id = 0
              AND embedding IS NOT NULL AND len(embedding) = {EMB_DIM}
        )
        SELECT vec_id,
               round(list_cosine_similarity(CAST(embedding AS DOUBLE[]),
                                            (SELECT e FROM q)), 6) AS cosine
        FROM embeddings
        WHERE vec_id <> 0
          AND embedding IS NOT NULL AND len(embedding) = {EMB_DIM}
          AND (SELECT count(*) FROM q) = 1
          {extra_where}
        ORDER BY cosine DESC, vec_id
        LIMIT {limit}
    """


ORACLES: dict[str, str] = {
    "pq_adc_topk": _pq_adc_oracle(),

    "embedding_pq_codes": _pq_oracle(),

    "ann_bruteforce_topk": _ann_bf_sql(10),
    "ann_filtered_topk": _ann_bf_sql(
        10, extra_where=f"AND label = {ANN_FILTER_LABEL}"
    ),
    "ivf_ann_topk": _ivf_oracle(),
    "label_exemplars": f"""
        WITH clean AS (
            SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS ve
            FROM embeddings
            WHERE embedding IS NOT NULL AND len(embedding) = {EMB_DIM}
        ), flat AS (
            SELECT label,
                   CAST(unnest(range(len(ve))) AS INT) AS pos,
                   unnest(ve) AS x
            FROM clean
        ), cent AS (
            SELECT label, pos, round(avg(x), 6) AS c
            FROM flat GROUP BY label, pos
        ), cvec AS (
            SELECT label, list(c ORDER BY pos) AS cv FROM cent GROUP BY label
        ), scored AS (
            SELECT clean.label, vec_id,
                   round(list_cosine_similarity(ve, cv), 6) AS cos
            FROM clean JOIN cvec USING (label)
        )
        SELECT label,
               CAST(count(*) AS BIGINT) AS n_vectors,
               -max(ROW(cos, -vec_id))[2] AS exemplar_vec_id,
               max(ROW(cos, -vec_id))[1] AS exemplar_cos
        FROM scored GROUP BY label ORDER BY label
    """,
    "embedding_centroids": """
        WITH flat AS (
            -- parallel unnests zip element-wise (Postgres semantics)
            SELECT label,
                   CAST(unnest(range(len(embedding))) AS INT) AS pos,
                   unnest(CAST(embedding AS DOUBLE[])) AS x
            FROM embeddings
        )
        SELECT label, pos, round(avg(x), 6) AS centroid
        FROM flat
        GROUP BY label, pos
        ORDER BY label, pos
    """,
    "embedding_quantize": """
        WITH scaled AS (
            SELECT vec_id,
                   CAST(embedding AS DOUBLE[]) AS ve,
                   list_max(list_transform(CAST(embedding AS DOUBLE[]),
                                           x -> abs(x))) / 127.0 AS scale
            FROM embeddings
        )
        SELECT vec_id,
               round(scale, 8) AS scale,
               CAST(list_sum(list_transform(ve,
                        x -> CAST(round(x / scale) AS INT))) AS INT)
                   AS q_checksum,
               round(list_sum(list_transform(ve,
                        x -> power(x - round(x / scale) * scale, 2)))
                     / len(ve), 10) AS mse
        FROM scaled
        ORDER BY vec_id
    """,
    # ann_lsh_bucketed: deliberately no oracle — the bucketed variant's
    # result depends on the engine-defined hyperplane constants; checked
    # by tests/test_similarity.py (recall vs. brute force) instead.
}

#: Lloyd's k-means parameters: K seed centroids (the first K vectors
#: by vec_id — deterministic, no RNG), T update iterations.
KMEANS_K = 8
KMEANS_ITERS = 2


def _lloyd_assignment(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Shared Lloyd's-iterations core: returns ``(vecs, assignment,
    cents)`` where ``vecs`` is the persisted (vec_id, v:
    array<double>) projection, ``assignment`` is (vec_id, cid, dist)
    after KMEANS_ITERS floor-6-normalized iterations from the
    deterministic first-K seeds, and ``cents`` is the TRAINED
    centroid frame (cid, c) those assignments used. Consumed by
    :func:`q_kmeans_lloyd` (cluster summaries), :func:`q_semantic_dedup`
    (cluster-bounded near-dup pruning), and
    :func:`trained_centroids` (the production centroid source for the
    persisted ANN index) — one clustering codepath, one oracle CTE
    prefix."""
    vecs = (
        clean_embeddings(spark, sf_dir)  # EMB_DIM contract, oracle-mirrored
        .select("vec_id", _as_double(F.col("embedding")).alias("v"))
        .persist()
    )
    cents = vecs.filter(F.col("vec_id") < KMEANS_K).select(
        F.col("vec_id").cast("int").alias("cid"), F.col("v").alias("c")
    )

    def assign(cents: DataFrame) -> DataFrame:
        d = vecs.crossJoin(F.broadcast(cents)).select(
            "vec_id",
            "cid",
            half_up(F.expr(_sqdist_fold_sql("v", "c")), 6).alias("dist"),
        )
        return d.groupBy("vec_id").agg(
            F.min(F.struct("dist", "cid")).alias("m")
        ).select(
            "vec_id",
            F.col("m.cid").alias("cid"),
            F.col("m.dist").alias("dist"),
        )

    for _ in range(KMEANS_ITERS):
        members = assign(cents).join(vecs, "vec_id")
        cents = (
            members.select("cid", F.posexplode("v"))
            .groupBy("cid", "pos")
            .agg(half_up(F.avg("col"), 6).alias("x"))
            .groupBy("cid")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "x"))),
                    lambda s: s.getField("x"),
                ).alias("c")
            )
        )
    return vecs, assign(cents), cents


def trained_centroids(
    spark: SparkSession, sf_dir: str
) -> list[tuple[int, list[float]]]:
    """The trained Lloyd centroids as the driver-side list the
    persisted ANN index consumes — the production replacement for the
    deterministic seed-vector stand-in :data:`IVF_CENTROID_IDS`
    (whose docstring promises exactly this swap-in).
    K rows collected (broadcast-sized by construction); same training
    codepath as the registered kmeans_lloyd query, so the centroids
    are floor-6 deterministic and session-reproducible."""
    vecs, _asg, cents = _lloyd_assignment(spark, sf_dir)
    try:
        rows = cents.collect()
    finally:
        vecs.unpersist()
    return sorted(
        (int(r["cid"]), [float(x) for x in r["c"]]) for r in rows
    )


def q_kmeans_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Lloyd's k-means (KMEANS_ITERS synchronous
    iterations, K = KMEANS_K, seeds = first K vectors by vec_id) over
    the embedding corpus — the clustering step that produces IVF cells,
    semantic-dedup groups, and curriculum domains at scale.

    Per iteration: broadcast the K-row centroid table against the
    corpus (BroadcastNestedLoopJoin of a constant-size side — the
    canonical "ship the centroids, not the data" plan), argmin by
    (distance, cid) via a min-struct aggregate, then recompute
    centroids as per-(cid, pos) means (posexplode keeps the average in
    native codegen — no array aggregation buffer). The whole loop is
    one lazy DAG like :func:`~wd2duckdb_spark.operators.graph
    .q_pagerank_topk`; only the corpus projection is persisted.

    Cross-engine determinism: distances and centroid components are
    floor-normalized to 6 dp at every iteration (PLANS.md convention),
    so both engines carry identical centroids forward and the argmin
    cannot diverge; ties break on cid inside the min-struct. Output is
    the K-row cluster summary (size + mean within-cluster distance).

    Scale: per iteration one scan + one (vec → cid) shuffle of
    (K × dims) partial sums — no all-pairs term anywhere; at 100 TB
    you add a mini-batch sample for the update step, but the dataflow
    is unchanged.

    The assignment itself comes from the cluster-once memo
    (:func:`_lloyd_assignment_materialized`) shared with
    :func:`q_semantic_dedup` — cluster the corpus once per
    (application, sf_dir), consume everywhere.
    """
    return _cluster_summary(_lloyd_assignment_materialized(spark, sf_dir))


def _cluster_summary(asg: DataFrame) -> DataFrame:
    """The K-row cluster summary ``(cid, n_vecs, avg_dist)`` of a
    ``(vec_id, cid, dist)`` assignment frame."""
    return (
        asg.groupBy("cid")
        .agg(
            F.count("*").alias("n_vecs"),
            half_up(F.avg("dist"), 4).alias("avg_dist"),
        )
        .orderBy("cid")
    )


def _lloyd_assignment_materialized(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The cluster-once memo: the eagerly checkpointed ``(vec_id, cid,
    dist)`` Lloyd assignment, computed once per session and checkpoint
    mode. :func:`q_kmeans_lloyd` and :func:`q_semantic_dedup` both
    consume the same clustering, the way a production pipeline treats
    clustering (an upstream stage, not a per-query cost).

    The Lloyd chain runs once (corpus projection persisted only for
    its duration), the narrow assignment is checkpointed with
    :func:`~wd2duckdb_spark.catalog.eager_checkpoint`, and the
    projection is released. The entry is checkpoint blocks, not a
    CacheManager cache, so queries stay cache-clean.

    - default (single-node/test): ``localCheckpoint(eager=True)``,
      executor-local blocks, not fault-tolerant; a lost block fails the
      consumer rather than recomputing, and recovery is
      ``clear_memos()`` + re-materialize.
    - durable (cluster): the :data:`RELIABLE_CKPT_CONF` session conf
      set to a directory gives ``df.checkpoint(eager=True)`` there,
      whose blocks survive executor loss.

    The resolved checkpoint dir is part of the memo key: an entry
    built under localCheckpoint must not be served once the session
    has selected a durable dir, since it would keep pointing at
    non-fault-tolerant executor blocks. A mode change therefore
    re-materializes (one extra Lloyd run)."""
    return _lloyd_checkpointed(
        spark, sf_dir, spark.conf.get(RELIABLE_CKPT_CONF, None)
    )


@session_memo
def _lloyd_checkpointed(
    spark: SparkSession, sf_dir: str, ckpt_dir: str | None
) -> DataFrame:
    """:func:`_lloyd_assignment_materialized`'s memoized build;
    ``ckpt_dir`` is the resolved checkpoint dir, there to key the
    entry (``eager_checkpoint`` reads the same conf)."""
    vecs, asg, _cents = _lloyd_assignment(spark, sf_dir)
    try:
        return eager_checkpoint(asg)
    finally:
        vecs.unpersist()


#: Cosine threshold for SemDeDup-style semantic near-duplicate pruning
#: (rounded to 4 dp before comparing, like embedding_neardup). 0.35 on
#: this synthetic corpus prunes ~4% of vectors at sf0.01 — high enough
#: to be selective, low enough that the keep-set test is non-trivial
#: at every fixture SF.
SEMDEDUP_THR = 0.35


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): k-means-cluster the embedding corpus, then
    search for cosine near-duplicates ONLY within each cluster and
    keep the smallest vec_id of every duplicate group's pairs.
    Returns (vec_id, cid, keep) for the whole corpus.

    This is the semantic analogue of MinHash banding: clustering is
    the candidate generator that bounds the quadratic term — pairs
    per CLUSTER, never per corpus. Cross-cluster near-dups are the
    method's documented approximation (the paper's recall argument:
    true semantic duplicates land in the same cluster because they
    are near the same centroid); within-cluster results are EXACT and
    oracle-verified against a brute-force in-cluster self-join over
    the identical unrolled-CTE clustering.

    Scale shape: clustering is :func:`_lloyd_assignment` (one scan +
    one bounded shuffle per iteration); the pair stage is a
    GRID-DECOMPOSED shuffle self-join on the cluster id
    (operators/skew.grid_self_join — K=8 here makes cid exactly the
    hot-key regime fuzzy_name_pairs hit, so each cluster's expansion
    is spread across ~2×parallelism grid cells rather than funneled
    into one task, with each side replicated only √cells ways — the
    same per-task pair bound as a salted join at 2√S·N instead of
    S·N shuffle volume).
    At 100 TB, K grows with the corpus (K ≈ N/target_cluster_size),
    holding per-cluster pair counts — and per-task memory — constant;
    the keep-list shuffle is corpus-sized but row-narrow
    (vec_id, cid, bool).

    Determinism: clustering inherits kmeans_lloyd's floor-6 contract;
    the pair test compares round(cosine, 4) ≥ SEMDEDUP_THR with the
    same sequential-fold product order as DuckDB's
    list_cosine_similarity, so the keep set matches bit-for-bit.

    Clustering comes from the cluster-once memo
    (:func:`_lloyd_assignment_materialized`) shared with
    :func:`q_kmeans_lloyd`, so the Lloyd chain never re-runs per
    query; only the pair stage executes here, over a corpus
    projection persisted for the duration of the eager checkpoint.
    """
    asg = _lloyd_assignment_materialized(spark, sf_dir)
    vecs = (
        clean_embeddings(spark, sf_dir)
        .select("vec_id", _as_double(F.col("embedding")).alias("v"))
        .persist()
    )
    try:
        # eager checkpoint of the narrow keep-list, then the
        # projection persist unwinds in the finally (queries must not
        # leave CacheManager entries behind; the connected_components
        # discipline). The checkpoint blocks are RDD-level and die
        # with the returned frame.
        keep = _semantic_keep_plan(spark, vecs, asg)
        return eager_checkpoint(keep).orderBy("vec_id")
    finally:
        vecs.unpersist()


def _semantic_keep_plan(
    spark: SparkSession, vecs: DataFrame, asg: DataFrame
) -> DataFrame:
    """The SemDeDup pair stage: grid-decomposed in-cluster cosine
    pairs over ``(vecs, asg)`` → a (vec_id, cid, keep) keep-list."""
    from wd2duckdb_spark.operators.skew import grid_self_join

    m = asg.select("vec_id", "cid").join(vecs, "vec_id")
    a = m.select(
        "cid", F.col("vec_id").alias("a_id"), F.col("v").alias("va")
    )
    b = m.select(
        "cid", F.col("vec_id").alias("b_id"), F.col("v").alias("vb")
    )
    # capped like fuzzy_name_pairs: 512 x K grid cells saturate any
    # realistic cluster at sqrt(cells) replication per side — the
    # per-task pair bound of the 512-salt plan at ~1/11 its shuffle
    n_cells = min(spark.sparkContext.defaultParallelism * 2, 512)
    dup_ids = (
        grid_self_join(a, b, on="cid", n_cells=n_cells, join_hint="shuffle_hash")
        .filter(F.col("a_id") < F.col("b_id"))
        .filter(
            F.round(F.expr(_cosine_fold_sql("va", "vb")), 4)
            >= F.lit(SEMDEDUP_THR)
        )
        .select(F.col("b_id").alias("vec_id"))
        .distinct()
    )
    return (
        asg.select("vec_id", "cid")
        .join(dup_ids.withColumn("_dup", F.lit(1)), "vec_id", "left")
        .select("vec_id", "cid", F.col("_dup").isNull().alias("keep"))
    )


def _kmeans_cte_prefix() -> str:
    """Unrolled Lloyd iterations as chained CTEs (DuckDB), ending in
    ``fin`` = (vec_id, m=ROW(dist, cid)) — the final assignment. The
    same floor-6 normalization points as the Spark plan keep both
    engines' centroid streams identical. Shared by the kmeans_lloyd
    and semantic_dedup oracles so the clustering semantics cannot
    drift between them."""
    sqd = (
        "list_sum(list_transform(list_zip(v, c),"
        " z -> (z[1] - z[2]) * (z[1] - z[2])))"
    )
    steps = []
    for i in range(1, KMEANS_ITERS + 1):
        steps.append(
            f"""a{i} AS (
            SELECT vec_id,
                   min(ROW(floor({sqd} * 1e6 + 0.5) / 1e6, cid)) AS m
            FROM vecs CROSS JOIN c{i - 1}
            GROUP BY vec_id
        ), b{i} AS (
            SELECT vec_id, CAST(m[2] AS INT) AS cid FROM a{i}
        ), f{i} AS (
            SELECT b.cid,
                   CAST(unnest(range(len(v.v))) AS INT) AS pos,
                   unnest(v.v) AS x
            FROM b{i} b JOIN vecs v USING (vec_id)
        ), c{i} AS (
            SELECT cid, list(cx ORDER BY pos) AS c FROM (
                SELECT cid, pos, floor(avg(x) * 1e6 + 0.5) / 1e6 AS cx
                FROM f{i} GROUP BY cid, pos
            ) GROUP BY cid)"""
        )
    chained = ",\n        ".join(steps)
    return f"""vecs AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
            FROM embeddings
            WHERE embedding IS NOT NULL AND len(embedding) = {EMB_DIM}
        ), c0 AS (
            SELECT CAST(vec_id AS INT) AS cid, v AS c
            FROM vecs WHERE vec_id < {KMEANS_K}
        ),
        {chained},
        fin AS (
            SELECT vec_id,
                   min(ROW(floor({sqd} * 1e6 + 0.5) / 1e6, cid)) AS m
            FROM vecs CROSS JOIN c{KMEANS_ITERS}
            GROUP BY vec_id
        )"""


def _kmeans_oracle() -> str:
    return f"""
        WITH {_kmeans_cte_prefix()}
        SELECT CAST(m[2] AS INT) AS cid,
               count(*) AS n_vecs,
               floor(avg(m[1]) * 1e4 + 0.5) / 1e4 AS avg_dist
        FROM fin
        GROUP BY CAST(m[2] AS INT)
        ORDER BY cid
    """


def _semantic_dedup_oracle() -> str:
    return f"""
        WITH {_kmeans_cte_prefix()},
        asg AS (
            SELECT vec_id, CAST(m[2] AS INT) AS cid FROM fin
        ),
        pairs AS (
            SELECT b.vec_id AS dup_id
            FROM asg a JOIN asg b
              ON a.cid = b.cid AND a.vec_id < b.vec_id
            JOIN vecs va ON va.vec_id = a.vec_id
            JOIN vecs vb ON vb.vec_id = b.vec_id
            WHERE round(list_cosine_similarity(va.v, vb.v), 4)
                  >= {SEMDEDUP_THR}
        )
        SELECT g.vec_id, g.cid, (d.dup_id IS NULL) AS keep
        FROM asg g LEFT JOIN (SELECT DISTINCT dup_id FROM pairs) d
          ON g.vec_id = d.dup_id
        ORDER BY g.vec_id
    """


#: Number of anchor vectors mined for hard negatives.
HARDNEG_ANCHORS = 32


def q_hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training: for each anchor
    vector (the first HARDNEG_ANCHORS by vec_id), the single most
    similar vector with a DIFFERENT label — the "confusable impostor"
    a contrastive or reranker loss learns the most from.

    Anchor set broadcasts (it is small by construction — you mine per
    batch/epoch); the corpus streams through one scan scoring
    |anchors| cosines per row via the sequential-fold expressions, and
    a min-struct argmax per anchor keeps only the best impostor —
    nothing corpus-sized shuffles or materializes. At 100 TB you swap
    the exact scan for the IVF/LSH candidate paths above, same
    dataflow. Ties break on vec_id inside the struct; cosine is
    floor-6 normalized before the argmax so both engines compare
    identical doubles.
    """
    e = (
        clean_embeddings(spark, sf_dir)
        .select("vec_id", "label", _as_double(F.col("embedding")).alias("v"))
        # norm hoisted to each SIDE of the cross join: one fold per
        # corpus row + one per anchor instead of two per (row, anchor)
        # pair, in the (norm(a_v) * norm(v)) product order of
        # _cosine_fold_sql.
        .withColumn("nv", F.expr(_norm_fold_sql("v")))
    )
    anchors = e.filter(F.col("vec_id") < HARDNEG_ANCHORS).select(
        F.col("vec_id").alias("a_id"),
        F.col("label").alias("a_label"),
        F.col("v").alias("a_v"),
        F.col("nv").alias("a_n"),
    )
    scored = (
        e.crossJoin(F.broadcast(anchors))
        .filter(F.col("label") != F.col("a_label"))
        .select(
            "a_id",
            "a_label",
            "vec_id",
            "label",
            half_up(
                F.expr(_dot_fold_sql("a_v", "v")) / (F.col("a_n") * F.col("nv")),
                6,
            ).alias("cos"),
        )
    )
    best = scored.groupBy("a_id").agg(
        F.max(
            F.struct(
                F.col("cos"),
                (-F.col("vec_id")).alias("negid"),
                F.col("label").alias("n_label"),
            )
        ).alias("m"),
        F.min("a_label").alias("anchor_label"),
    )
    return best.select(
        F.col("a_id").alias("anchor_id"),
        "anchor_label",
        (-F.col("m.negid")).alias("negative_id"),
        F.col("m.n_label").alias("negative_label"),
        F.col("m.cos").alias("cosine"),
    ).orderBy("anchor_id")


ORACLES["hard_negative_mining"] = f"""
    WITH e AS (
        SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
        FROM embeddings
        WHERE embedding IS NOT NULL AND len(embedding) = {EMB_DIM}
    ), a AS (
        SELECT vec_id AS a_id, label AS a_label, v AS a_v
        FROM e WHERE vec_id < {HARDNEG_ANCHORS}
    ), scored AS (
        SELECT a_id, a_label, e.vec_id, e.label,
               floor(list_cosine_similarity(a_v, e.v) * 1e6 + 0.5) / 1e6
                   AS cos
        FROM a CROSS JOIN e
        WHERE e.label <> a.a_label
    )
    SELECT a_id AS anchor_id,
           min(a_label) AS anchor_label,
           -(max(ROW(cos, -vec_id, label))[2]) AS negative_id,
           max(ROW(cos, -vec_id, label))[3] AS negative_label,
           max(ROW(cos, -vec_id, label))[1] AS cosine
    FROM scored
    GROUP BY a_id
    ORDER BY anchor_id
"""


def q_ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of the IVF scale path against the exact brute-force
    top-10 — the standard ANN quality eval a pipeline runs before
    trusting an approximate index (recall/latency is THE tradeoff
    knob: nprobe up → recall up, scan fraction up). One row:
    (k, n_hits, recall).

    Composes the two existing oracle-exact queries and intersects
    their id sets — both inputs are 10-row frames, so the join is a
    trivial broadcast; all corpus-scale work happens inside the two
    composed plans (each already audited: write-time cell pruning for
    IVF, one scan + TakeOrdered for brute force). Determinism is
    inherited: integer id-set intersection of two already-exact
    results."""
    bf = q_ann_bruteforce_topk(spark, sf_dir).select("vec_id")
    ivf = q_ivf_ann_topk(spark, sf_dir).select("vec_id")
    return (
        bf.join(ivf, "vec_id")
        .agg(F.count("*").alias("n_hits"))
        .select(
            F.lit(10).alias("k"),
            "n_hits",
            (F.col("n_hits") / F.lit(10.0)).alias("recall"),
        )
    )


def q_ann_filtered_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of the FILTERED IVF path against the exact filtered
    scan — the ann_recall_eval discipline applied
    to filtered search: both sides carry the identical metadata
    predicate, so the eval isolates what cell pruning alone costs
    under a filter. One row: (k, n_hits, recall); both inputs are
    10-row frames, so the intersection is a trivial broadcast join and
    all corpus-scale work happens inside the two composed plans."""
    exact = q_ann_filtered_topk(spark, sf_dir).select("vec_id")
    ivf = q_ann_filtered_ivf(spark, sf_dir).select("vec_id")
    return (
        exact.join(ivf, "vec_id")
        .agg(F.count("*").alias("n_hits"))
        .select(
            F.lit(10).alias("k"),
            "n_hits",
            (F.col("n_hits") / F.lit(10.0)).alias("recall"),
        )
    )


QUERIES = {
    "ann_recall_eval": q_ann_recall_eval,
    "ann_filtered_ivf": q_ann_filtered_ivf,
    "ann_filtered_recall_eval": q_ann_filtered_recall_eval,
    "ivf_cell_balance": q_ivf_cell_balance,
    "embedding_hygiene": q_embedding_hygiene,
    "pq_adc_topk": q_pq_adc_topk,
    "hard_negative_mining": q_hard_negative_mining,
    "embedding_pq_codes": q_embedding_pq_codes,
    "ann_bruteforce_topk": q_ann_bruteforce_topk,
    "ann_filtered_topk": q_ann_filtered_topk,
    "ann_lsh_bucketed": q_ann_lsh_bucketed,
    "ann_lsh_multiprobe": q_ann_lsh_multiprobe,
    "ivf_ann_topk": q_ivf_ann_topk,
    "embedding_centroids": q_embedding_centroids,
    "label_exemplars": q_label_exemplars,
    "embedding_quantize": q_embedding_quantize,
    "embedding_pca": q_embedding_pca,
    "kmeans_lloyd": q_kmeans_lloyd,
    "semantic_dedup": q_semantic_dedup,
}

ORACLES["kmeans_lloyd"] = _kmeans_oracle()
ORACLES["semantic_dedup"] = _semantic_dedup_oracle()
# recall@10 composes the two component oracles verbatim as
# subqueries, so the eval's ground truth can never drift from the
# queries it evaluates
ORACLES["ann_recall_eval"] = f"""
    SELECT 10 AS k,
           CAST(count(*) AS BIGINT) AS n_hits,
           count(*) / 10.0 AS recall
    FROM (SELECT vec_id FROM ({ORACLES["ann_bruteforce_topk"]})) bf
    JOIN (SELECT vec_id FROM ({ORACLES["ivf_ann_topk"]})) ivf
    USING (vec_id)
"""
# filtered-IVF: the IVF oracle with the metadata
# predicate spliced in, and the filtered recall eval composing the
# exact-filtered and filtered-IVF oracles verbatim
ORACLES["ann_filtered_ivf"] = _ivf_oracle(
    extra_where=f"AND v.label = {ANN_FILTER_LABEL}"
)
ORACLES["ann_filtered_recall_eval"] = f"""
    SELECT 10 AS k,
           CAST(count(*) AS BIGINT) AS n_hits,
           count(*) / 10.0 AS recall
    FROM (SELECT vec_id FROM ({ORACLES["ann_filtered_topk"]})) bf
    JOIN (SELECT vec_id FROM ({ORACLES["ann_filtered_ivf"]})) ivf
    USING (vec_id)
"""
# cell-balance diagnostic: shares the assignment CTE with
# the IVF top-k oracle verbatim (same rule, same candidate exclusions)
ORACLES["ivf_cell_balance"] = f"""
    WITH {_ivf_cte_prefix()},
    counts AS (
        SELECT cell, CAST(count(*) AS BIGINT) AS n_vectors
        FROM assigned GROUP BY cell
    ),
    stats AS (
        SELECT sum(n_vectors) AS total, count(*) AS ncells FROM counts
    )
    SELECT CAST(cell AS BIGINT) AS cell, n_vectors,
           floor(CAST(n_vectors AS DOUBLE) / total * 1e4 + 0.5) / 1e4
               AS share,
           floor(CAST(n_vectors AS DOUBLE) * ncells / total * 1e4 + 0.5)
               / 1e4 AS x_mean
    FROM counts CROSS JOIN stats
    ORDER BY cell
"""
ORACLES["embedding_hygiene"] = f"""
    WITH normed AS (
        SELECT label,
               embedding IS NULL AS is_null,
               embedding IS NOT NULL AND len(embedding) <> {EMB_DIM}
                   AS is_ragged,
               embedding IS NOT NULL AND len(embedding) = {EMB_DIM}
                   AS is_clean,
               CASE WHEN embedding IS NOT NULL
                         AND len(embedding) = {EMB_DIM}
                    THEN sqrt(list_sum(list_transform(
                             CAST(embedding AS DOUBLE[]), x -> x * x)))
               END AS nv
        FROM embeddings
    )
    SELECT label,
           CAST(count(*) AS BIGINT) AS n_vecs,
           CAST(sum(CASE WHEN is_null THEN 1 ELSE 0 END) AS BIGINT)
               AS n_null,
           CAST(sum(CASE WHEN is_ragged THEN 1 ELSE 0 END) AS BIGINT)
               AS n_ragged,
           CAST(sum(CASE WHEN is_clean AND nv = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_zero_norm,
           floor(avg(nv) * 1e4 + 0.5) / 1e4 AS avg_norm
    FROM normed
    GROUP BY label
    ORDER BY label NULLS LAST
"""
