"""MinHash kernel pins: the in-row signature (:func:`_minhash_sig_frame`)
must be value-identical to an independent exploded-shingle + doc-keyed
aggregate reference, and must plan with ZERO exchanges in the
multi-split (at-scale) regime where the aggregate form pays the
doc-keyed shuffle."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_DIR


def _aggregate_form(toks):
    """Reference formulation: explode shingles, groupBy doc, 8 min
    aggregates over md5 windows (one md5 → four 32-bit lanes)."""
    mins = [
        F.min(
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit(f"{i // 4}|"), F.col("shingle"))),
                    1 + 8 * (i % 4),
                    8,
                ),
                16,
                10,
            ).cast("long")
        ).alias(f"h{i}")
        for i in range(8)
    ]
    return (
        toks.select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(toks) - 2),"
                    " i -> concat_ws(' ', element_at(toks, i),"
                    " element_at(toks, i + 1), element_at(toks, i + 2)))"
                )
            ).alias("shingle"),
        )
        .groupBy("doc_id")
        .agg(*mins)
    )


def test_minhash_inrow_matches_aggregate_form(spark):
    """Same multiset of md5-window longs, same minima — row-for-row
    identical to the aggregate formulation on the fixture corpus
    (incl. duplicate shingles within a doc: min is duplicate-invariant
    and neither form deduplicates)."""
    from wd2duckdb_spark.catalog import scan_partitions, spread, tbl
    from wd2duckdb_spark.functions.dedup import _minhash_sig_frame

    d = tbl(spark, SF_DIR, "documents")
    sp = scan_partitions(spark, SF_DIR, "documents")
    toks = (
        spread(d, "doc_id", scan_parts=sp)
        .select(
            "doc_id",
            F.split(F.lower(F.trim(F.col("text"))), " ").alias("toks"),
        )
        .filter(F.size("toks") >= 3)
    )
    old = sorted(map(tuple, _aggregate_form(toks).collect()))
    new = sorted(
        map(tuple, _minhash_sig_frame(d, scan_parts=sp).collect())
    )
    assert old == new and old


def test_minhash_inrow_zero_exchange_multisplit(spark, tmp_path):
    """In the multi-split regime (scan_parts >= defaultParallelism,
    i.e. a real sharded corpus) the in-row signature plans with ZERO
    Exchange nodes — the aggregate form still shuffled doc-keyed
    partials — and stays value-identical on the sharded twin."""
    from wd2duckdb_spark.catalog import tbl
    from wd2duckdb_spark.functions.dedup import _minhash_sig_frame

    n = spark.sparkContext.defaultParallelism
    twin = str(tmp_path / "docs_sharded")
    tbl(spark, SF_DIR, "documents").repartition(2 * n).write.parquet(twin)
    d = spark.read.parquet(twin)
    sp = d.rdd.getNumPartitions()
    assert sp >= n
    sig = _minhash_sig_frame(d, scan_parts=sp)
    plan = sig._sc._jvm.PythonSQLUtils.explainString(
        sig._jdf.queryExecution(), "formatted"
    )
    assert "Exchange" not in plan
    # parity on the sharded twin vs the single-split fixture build
    from wd2duckdb_spark.functions.dedup import q_minhash_signatures

    ref = sorted(map(tuple, q_minhash_signatures(spark, SF_DIR).collect()))
    got = sorted(map(tuple, sig.collect()))
    assert got == ref
