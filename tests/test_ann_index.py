"""Persisted IVF ANN index (VERDICT r10 item 2): bootstrap write,
streaming ingest-time maintenance, partition-pruned probes, and
batch-twin parity with the from-scratch IVF path — across micro-batch
layouts and across replays."""

from __future__ import annotations

import math

import pyspark.sql.functions as F
import pytest

from tests.conftest import SF_DIR


def _split_dirs(spark, tmp_path, splits, tag):
    """Write the non-centroid embeddings as `splits` parquet files so
    maxFilesPerTrigger=1 yields one micro-batch per file; returns
    (stream_src_dir, base_df) where base_df holds the bootstrap
    subset (query vector + centroid seeds + the first slice)."""
    from wd2duckdb_spark.catalog import tbl

    e = tbl(spark, SF_DIR, "embeddings")
    rest = e.filter(F.col("vec_id") >= 16).orderBy("vec_id").collect()
    in_dir = tmp_path / f"vec_in_{tag}"
    in_dir.mkdir()
    n = len(rest)
    schema = e.schema
    bounds = [round(i * n / splits) for i in range(splits + 1)]
    for i in range(splits):
        chunk = rest[bounds[i] : bounds[i + 1]]
        spark.createDataFrame(chunk, schema).coalesce(1).write.parquet(
            str(in_dir / f"b{i}.parquet")
        )
    base = e.filter(F.col("vec_id") < 16)  # seeds + query + first ids
    return in_dir, base, schema


def _build_streamed_index(spark, tmp_path, splits, tag):
    """Bootstrap from the <16 slice, then stream the remainder in
    `splits` micro-batches."""
    from wd2duckdb_spark.functions.ann_index import (
        _assigned_rows,
        ann_ingest_stream,
    )
    from wd2duckdb_spark.functions.similarity import _centroids, ivf_assign_col

    in_dir, base, schema = _split_dirs(spark, tmp_path, splits, tag)
    index_dir = str(tmp_path / f"index_{tag}")
    cents = _centroids(spark, SF_DIR)
    spark.createDataFrame(
        [(cid, vec) for cid, vec in cents],
        "cid int, embedding array<double>",
    ).coalesce(1).write.parquet(f"{index_dir}/centroids")
    cell = ivf_assign_col("v", "nv", cents)
    _assigned_rows(base, cell, None).write.partitionBy("cell").parquet(
        f"{index_dir}/assignments/batch=-1"
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(in_dir) + "/*.parquet")
    )
    q = ann_ingest_stream(
        stream, index_dir, str(tmp_path / f"ckpt_{tag}")
    )
    q.awaitTermination(180)
    return index_dir


def _probe_rows(spark, index_dir):
    from wd2duckdb_spark.functions.ann_index import ivf_index_probe
    from wd2duckdb_spark.functions.similarity import (
        IVF_CENTROID_IDS,
        query_vector,
    )

    qv = query_vector(spark, SF_DIR, 0)
    return [
        (r.vec_id, r.cell, r.cosine)
        for r in ivf_index_probe(
            spark, index_dir, qv, k=10, exclude_ids=(0, *IVF_CENTROID_IDS)
        ).collect()
    ]


@pytest.mark.slow
def test_streamed_index_probe_matches_batch_twin_across_layouts(
    spark, tmp_path
):
    """The probe result must equal q_ivf_ann_topk (the from-scratch
    path) regardless of where micro-batch boundaries fell — 2-batch
    and 5-batch builds give identical top-k."""
    from wd2duckdb_spark.functions.similarity import q_ivf_ann_topk

    want = [
        (r.vec_id, r.cell, r.cosine)
        for r in q_ivf_ann_topk(spark, SF_DIR).collect()
    ]
    assert len(want) == 10
    for splits in (2, 5):
        idx = _build_streamed_index(spark, tmp_path, splits, f"s{splits}")
        assert _probe_rows(spark, idx) == want, splits


@pytest.mark.slow
def test_replayed_batch_rewrites_not_duplicates(spark, tmp_path):
    """Re-running a batch id overwrite-rewrites its partition: row
    counts and probe results are unchanged (the dedup-index replay
    contract)."""
    from wd2duckdb_spark.functions.ann_index import ann_index_ingest
    from wd2duckdb_spark.functions.similarity import q_ivf_ann_topk

    idx = _build_streamed_index(spark, tmp_path, 2, "replay")
    a = spark.read.parquet(f"{idx}/assignments")
    n_before = a.count()
    # replay batch 1 with the same rows it originally got
    in_dir = tmp_path / "vec_in_replay"
    from wd2duckdb_spark.catalog import tbl

    schema = tbl(spark, SF_DIR, "embeddings").schema
    replay = spark.read.schema(schema).parquet(str(in_dir / "b1.parquet"))
    ann_index_ingest(replay, 1, idx)
    assert spark.read.parquet(f"{idx}/assignments").count() == n_before
    want = [
        (r.vec_id, r.cell, r.cosine)
        for r in q_ivf_ann_topk(spark, SF_DIR).collect()
    ]
    assert _probe_rows(spark, idx) == want


def test_probe_partition_prunes_on_cell(spark, tmp_path):
    """Plan pin: the probe's assignments scan must carry the cell
    filter as a PARTITION filter (directory-level pruning) — and the
    executed scan must read only the nprobe cell partitions."""
    from wd2duckdb_spark.functions.ann_index import (
        _fixture_index,
        ivf_index_probe,
    )
    from wd2duckdb_spark.functions.similarity import (
        IVF_CENTROID_IDS,
        query_vector,
    )
    from wd2duckdb_spark.plans import explain_str, partition_filters

    idx = _fixture_index(spark, SF_DIR)
    qv = query_vector(spark, SF_DIR, 0)
    df = ivf_index_probe(
        spark, idx, qv, k=10, exclude_ids=(0, *IVF_CENTROID_IDS)
    )
    pf = " ".join(partition_filters(df))
    assert "cell" in pf, pf
    # the data filter side must NOT carry cell (it's partition-only)
    p = explain_str(df, "formatted")
    assert "PartitionFilters" in p


def test_fixture_index_rebuilds_in_one_dir_under_spark_files(spark):
    """The registered query's fixture index lives at one fixed path per
    sf_dir under the session's SparkFiles root (deleted by
    ``spark.stop()``): a rebuild after ``clear_memos()`` reuses that
    path and leaves no new dir in the system temp dir."""
    import glob
    import os
    import tempfile

    from pyspark import SparkFiles

    from wd2duckdb_spark.catalog import clear_memos, tbl
    from wd2duckdb_spark.functions.ann_index import _fixture_index
    from wd2duckdb_spark.functions.similarity import valid_vector

    pattern = os.path.join(tempfile.gettempdir(), "wd2duckdb_spark_ann_index_*")
    before = set(glob.glob(pattern))
    first = _fixture_index(spark, SF_DIR)
    clear_memos()
    second = _fixture_index(spark, SF_DIR)
    assert first == second
    assert os.path.dirname(second) == SparkFiles.getRootDirectory()
    assert set(glob.glob(pattern)) == before
    # the rebuild replaced the first build, not appended to it
    n_valid = tbl(spark, SF_DIR, "embeddings").filter(valid_vector()).count()
    assert spark.read.parquet(f"{second}/assignments").count() == n_valid


def test_registered_query_matches_from_scratch_path(spark):
    """q_ann_index_probe (the registered, oracle-gated entry) is
    row-identical to q_ivf_ann_topk on the same fixtures."""
    from wd2duckdb_spark.functions.ann_index import q_ann_index_probe
    from wd2duckdb_spark.functions.similarity import q_ivf_ann_topk

    got = [
        (r.vec_id, r.cell, r.cosine)
        for r in q_ann_index_probe(spark, SF_DIR).collect()
    ]
    want = [
        (r.vec_id, r.cell, r.cosine)
        for r in q_ivf_ann_topk(spark, SF_DIR).collect()
    ]
    assert got == want and len(got) == 10


def test_pq_codes_in_index_reproduce_adc_query(spark, tmp_path):
    """Bootstrap with a codebook stores code0..7; ADC from the stored
    codes equals q_pq_adc_topk (which re-encodes per query)."""
    from wd2duckdb_spark.functions.ann_index import (
        ivf_index_write,
        pq_index_adc_topk,
        write_index_codebook,
    )
    from wd2duckdb_spark.functions.similarity import (
        _pq_codebook,
        q_pq_adc_topk,
        query_vector,
    )

    idx = str(tmp_path / "pq_index")
    cb = _pq_codebook(spark, SF_DIR)
    write_index_codebook(spark, idx, cb)
    ivf_index_write(spark, SF_DIR, idx, codebook=cb)
    qv = query_vector(spark, SF_DIR, 0)
    got = [
        (r.vec_id, r.adc_dist)
        for r in pq_index_adc_topk(
            spark, idx, qv, k=10, exclude_ids=(0,)
        ).collect()
    ]
    want = [
        (r.vec_id, r.adc_dist) for r in q_pq_adc_topk(spark, SF_DIR).collect()
    ]
    assert got == want and len(got) == 10


def test_ingest_without_bootstrap_fails_fast(spark, tmp_path):
    """Maintenance against a missing index must raise, not invent an
    empty one."""
    from wd2duckdb_spark.catalog import tbl
    from wd2duckdb_spark.functions.ann_index import ann_index_ingest

    batch = tbl(spark, SF_DIR, "embeddings").limit(4)
    with pytest.raises(Exception):
        ann_index_ingest(batch, 0, str(tmp_path / "nonexistent_index"))


@pytest.mark.slow
def test_compact_ann_index_preserves_probe_and_prunes_dirs(spark, tmp_path):
    """Folding all batches ≤ through_batch into batch=-1 keeps probe
    results identical, keeps cell-level partition pruning, and
    reduces the assignments directory count from (B+1)×cells toward
    2×cells; the newest batch, which a restart may replay, is never
    folded (it would then be indexed twice)."""
    import os

    from wd2duckdb_spark.functions.ann_index import compact_ann_index
    from wd2duckdb_spark.functions.similarity import q_ivf_ann_topk

    idx = _build_streamed_index(spark, tmp_path, 5, "compact")
    want = _probe_rows(spark, idx)
    assert want == [
        (r.vec_id, r.cell, r.cosine)
        for r in q_ivf_ann_topk(spark, SF_DIR).collect()
    ]

    def _batch_dirs():
        return sorted(
            d
            for d in os.listdir(f"{idx}/assignments")
            if d.startswith("batch=")
        )

    assert len(_batch_dirs()) == 6  # bootstrap + 5 micro-batches
    # the newest batch (4) may be replayed by a restart: never folded
    with pytest.raises(ValueError, match="most recent batch"):
        compact_ann_index(spark, idx, through_batch=4)
    compact_ann_index(spark, idx, through_batch=3)
    assert _batch_dirs() == ["batch=-1", "batch=4"]
    assert _probe_rows(spark, idx) == want
    # idempotent re-fold
    compact_ann_index(spark, idx, through_batch=3)
    assert _batch_dirs() == ["batch=-1", "batch=4"]
    assert _probe_rows(spark, idx) == want
    # pruning still fires on the folded layout
    from wd2duckdb_spark.functions.ann_index import ivf_index_probe
    from wd2duckdb_spark.functions.similarity import (
        IVF_CENTROID_IDS,
        query_vector,
    )
    from wd2duckdb_spark.plans import partition_filters

    qv = query_vector(spark, SF_DIR, 0)
    pf = " ".join(
        partition_filters(
            ivf_index_probe(
                spark, idx, qv, k=10, exclude_ids=(0, *IVF_CENTROID_IDS)
            )
        )
    )
    assert "cell" in pf, pf


def test_trained_centroid_index_end_to_end(spark, tmp_path):
    """The production path: bootstrap from TRAINED Lloyd centroids
    instead of the seed stand-in. The index must carry its own
    centroid table (probes never re-train), assignments must cover
    the same clean vectors, and the probe must equal a from-scratch
    nearest-trained-centroid computation on the probe cells."""
    from wd2duckdb_spark.functions.ann_index import (
        _index_centroids,
        ivf_index_probe,
        ivf_index_write,
    )
    from wd2duckdb_spark.functions.similarity import (
        KMEANS_K,
        clean_embeddings,
        query_vector,
        trained_centroids,
    )

    idx = str(tmp_path / "trained_index")
    cents = trained_centroids(spark, SF_DIR)
    assert len(cents) == KMEANS_K
    ivf_index_write(spark, SF_DIR, idx, centroids=cents)
    # the persisted centroid table IS the trained one
    assert _index_centroids(spark, idx) == cents
    n_clean = clean_embeddings(spark, SF_DIR).count()
    assert (
        spark.read.parquet(f"{idx}/assignments").count() == n_clean
    )
    qv = query_vector(spark, SF_DIR, 0)
    got = ivf_index_probe(spark, idx, qv, k=10, exclude_ids=(0,)).collect()
    assert len(got) == 10
    # every returned cell is one of the driver-side probe cells
    def _cos(a, b):
        na = sum(x * x for x in a) ** 0.5
        nb = sum(x * x for x in b) ** 0.5
        return sum(x * y for x, y in zip(a, b)) / (na * nb)

    probe = {
        cid
        for cid, _ in sorted(
            ((cid, _cos(qv, c)) for cid, c in cents),
            key=lambda t: (-t[1], t[0]),
        )[:2]
    }
    assert {r.cell for r in got} <= probe
    # descending cosine, vec_id tie-break
    sims = [(r.cosine, -r.vec_id) for r in got]
    assert sims == sorted(sims, reverse=True)


def test_ivf_pq_composed_probe_matches_cell_restricted_adc(spark, tmp_path):
    """IVF+PQ: the composed probe equals the full ADC ranking
    restricted to the probe cells (same codes, same LUT), and scans
    with cell partition pruning."""
    import pyspark.sql.functions as F

    from wd2duckdb_spark.functions.ann_index import (
        ivf_index_write,
        ivf_pq_index_probe,
        pq_index_adc_topk,
        write_index_codebook,
    )
    from wd2duckdb_spark.functions.similarity import (
        _pq_codebook,
        query_vector,
    )
    from wd2duckdb_spark.plans import partition_filters

    idx = str(tmp_path / "ivfpq_index")
    cb = _pq_codebook(spark, SF_DIR)
    write_index_codebook(spark, idx, cb)
    ivf_index_write(spark, SF_DIR, idx, codebook=cb)
    qv = query_vector(spark, SF_DIR, 0)

    composed = ivf_pq_index_probe(
        spark, idx, qv, k=10, exclude_ids=(0,)
    )
    pf = " ".join(partition_filters(composed))
    assert "cell" in pf, pf
    got = [(r.vec_id, r.adc_dist) for r in composed.collect()]

    # reference: full-corpus ADC restricted to the same cells
    cells = {r.cell for r in composed.collect()}
    full = pq_index_adc_topk(
        spark, idx, qv, k=10_000, exclude_ids=(0,)
    )
    a = spark.read.parquet(f"{idx}/assignments").select("vec_id", "cell")
    want_rows = (
        full.join(a, "vec_id")
        .filter(F.col("cell").isin(*cells))
        .orderBy("adc_dist", "vec_id")
        .limit(10)
        .collect()
    )
    want = [(r.vec_id, r.adc_dist) for r in want_rows]
    assert got == want and len(got) == 10


@pytest.mark.slow
def test_ann_index_metrics_reconcile_and_quarantine(spark, tmp_path):
    """The per-batch sidecar reconciles against the assignments table
    (sum(n_indexed) == assignments − bootstrap) and counts the
    schema-contract quarantine: a batch with NULL/ragged vectors
    reports them as n_quarantined instead of indexing them."""
    from wd2duckdb_spark.catalog import tbl
    from wd2duckdb_spark.functions.ann_index import ann_index_ingest
    from wd2duckdb_spark.streaming.lake_index import batch_metrics

    idx = _build_streamed_index(spark, tmp_path, 2, "metrics")
    m = {r.batch_id: r for r in batch_metrics(spark, idx).collect()}
    assert set(m) == {0, 1}
    n_boot = (
        spark.read.parquet(f"{idx}/assignments")
        .filter(F.col("batch") == -1)
        .count()
    )
    n_all = spark.read.parquet(f"{idx}/assignments").count()
    assert sum(r.n_indexed for r in m.values()) == n_all - n_boot
    assert all(r.n_quarantined == 0 for r in m.values())

    schema = tbl(spark, SF_DIR, "embeddings").schema
    dirty = spark.createDataFrame(
        [
            (900001, [0.5] * 64, 3),
            (900002, None, 3),            # NULL vector -> quarantined
            (900003, [0.5, 0.5], 3),      # ragged -> quarantined
        ],
        schema,
    )
    ann_index_ingest(dirty, 7, idx)
    m7 = {
        r.batch_id: r for r in batch_metrics(spark, idx).collect()
    }[7]
    assert (m7.n_in, m7.n_indexed, m7.n_quarantined) == (3, 1, 2)


def test_index_cell_balance_reads_partition_column_only(spark, tmp_path):
    """The persisted-index cell-balance diagnostic: shares sum to 1,
    counts match per-cell directory contents, and the scan reads ONLY
    the cell partition column (ReadSchema is empty of data columns)."""
    from wd2duckdb_spark.functions.ann_index import (
        _fixture_index,
        index_cell_balance,
    )
    from wd2duckdb_spark.plans import read_schema

    idx = _fixture_index(spark, SF_DIR)
    df = index_cell_balance(spark, idx)
    rows = df.collect()
    assert abs(sum(r.share for r in rows) - 1.0) < 1e-6
    want = {
        r.cell: r.n
        for r in spark.read.parquet(f"{idx}/assignments")
        .groupBy("cell")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert {r.cell: r.n_vectors for r in rows} == want
    # the oracle-backed half-up rule of q_ivf_cell_balance
    t, c = sum(want.values()), len(want)
    assert all(
        r.x_mean == math.floor(r.n_vectors * c / t * 1e4 + 0.5) / 1e4
        for r in rows
    )
    rs = " ".join(read_schema(df))
    assert "v" not in rs.split() and "nv" not in rs, rs


def test_filtered_index_probe_matches_from_scratch_prefilter(spark):
    """ann_index_filtered_probe (stored-label predicate against the
    index) is row-identical to q_ann_filtered_ivf (pre-filter on the
    embeddings scan) — and the label predicate reaches the pruned-cell
    parquet scan as a pushed filter."""
    from wd2duckdb_spark.functions.ann_index import (
        q_ann_index_filtered_probe,
    )
    from wd2duckdb_spark.functions.similarity import q_ann_filtered_ivf
    from wd2duckdb_spark.plans import partition_filters, pushed_filters

    df = q_ann_index_filtered_probe(spark, SF_DIR)
    got = [(r.vec_id, r.cell, r.cosine) for r in df.collect()]
    want = [
        (r.vec_id, r.cell, r.cosine)
        for r in q_ann_filtered_ivf(spark, SF_DIR).collect()
    ]
    assert got == want and len(got) == 10
    pf = " ".join(partition_filters(df))
    assert "cell" in pf
    pushed = " ".join(pushed_filters(df))
    assert "label" in pushed, pushed


def test_centroid_table_plans_local_table_scan(spark, tmp_path, monkeypatch):
    """The centroid table written on every index bootstrap is a
    JVM-local relation (``LocalTableScan``, no Python-fed
    ``ExistingRDD`` scan), and it reads back exactly as given."""
    from wd2duckdb_spark.functions import ann_index
    from wd2duckdb_spark.functions.similarity import _centroids

    frames, real = [], ann_index.local_frame

    def spy(*args):
        frames.append(real(*args))
        return frames[-1]

    monkeypatch.setattr(ann_index, "local_frame", spy)
    idx = str(tmp_path / "index")
    cents = _centroids(spark, SF_DIR)
    ann_index.ivf_index_write(spark, SF_DIR, idx)
    (frame,) = frames
    plan = frame._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan
    assert ann_index._index_centroids(spark, idx) == cents
