"""Round-10 scale-posture pins (VERDICT r9 / ADVICE r9): the
corpus-linear broadcast(dfc) removal in the prefix-filter joins, the
Q21 orders-side semi join, the collision-proof partsupp supplier
spread, the vocab_entropy long-clamp fix, and the BPE JVM-side
lowercase. Correctness vs DuckDB stays with the oracle gate; these
tests pin the plan shapes and the adversarial inputs the fixture-
scale oracles can't reach.
"""

from __future__ import annotations

import math

import pyspark.sql.functions as F
import pytest

from tests.conftest import SF_DIR, assert_one_scan_probe


def _no_forced_broadcast(spark, build):
    """Plan text of ``build()`` with auto-broadcast disabled — any
    BroadcastExchange that survives threshold=-1 comes from an
    F.broadcast hint, i.e. a FORCED broadcast."""
    from wd2duckdb_spark.plans import explain_str

    saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", None)
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        return explain_str(build(), "simple")
    finally:
        if saved is not None:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)


# ---------------------------------------------------------------------------
# VERDICT r9 item 1 — no corpus-linear broadcast in the prefix joins
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("qname", ["jaccard_prefix_join", "containment_join"])
def test_prefix_join_dfc_not_force_broadcast(spark, qname):
    """The shingle document-frequency table `dfc` is linear in corpus
    vocabulary, so NOTHING in either prefix-filter query may force a
    broadcast: with the auto-broadcast threshold disabled, the plan
    must contain zero BroadcastExchange nodes (AQE is still free to
    downgrade the shuffle join to broadcast at runtime when dfc is
    genuinely under the threshold — that's the wanted behavior; a
    hint that survives threshold=-1 is the 100 TB OOM)."""
    from wd2duckdb_spark.functions.dedup import (
        q_containment_join,
        q_jaccard_prefix_join,
    )

    fn = {
        "jaccard_prefix_join": q_jaccard_prefix_join,
        "containment_join": q_containment_join,
    }[qname]
    # isolation: an earlier test may have materialized the queries'
    # persisted prefix/sets frames under DEFAULT conf — CacheManager
    # then substitutes the cached AQE-finalized subtree (which
    # legitimately contains the RUNTIME broadcast) into this build's
    # plan text, which is not the forced-hint signal under test
    spark.catalog.clearCache()
    p = _no_forced_broadcast(spark, lambda: fn(spark, SF_DIR))
    assert "BroadcastExchange" not in p
    assert "BroadcastHashJoin" not in p
    assert "BroadcastNestedLoopJoin" not in p


# ---------------------------------------------------------------------------
# ADVICE r9 — Q21 must not force-broadcast the orders fact table
# ---------------------------------------------------------------------------


def test_q21_orders_side_semi_join_not_broadcast(spark):
    """orders scales with the corpus, so the finalized-order filter is
    a LEFT SEMI shuffle join: with auto-broadcast disabled, no
    broadcast join in the plan may carry LeftSemi (round 11 also
    dropped the supplier hint — supplier is SF-linear — so ZERO
    forced broadcasts remain)."""
    from wd2duckdb_spark.operators.tpch_derived import q_q21_late_suppliers

    p = _no_forced_broadcast(
        spark, lambda: q_q21_late_suppliers(spark, SF_DIR)
    )
    assert "LeftSemi" in p
    for line in p.splitlines():
        if "BroadcastHashJoin" in line or "BroadcastNestedLoopJoin" in line:
            assert "LeftSemi" not in line, line
    # round 11 (VERDICT r10 #1): the supplier hint is gone too
    n_bcast = sum(
        1 for ln in p.splitlines() if "BroadcastExchange" in ln
    )
    assert n_bcast == 0


# ---------------------------------------------------------------------------
# ADVICE r9 — partsupp (ps_partkey, ps_suppkey) is a true PK
# ---------------------------------------------------------------------------


def test_partsupp_step_distinct_for_every_supplier_count():
    """Pure-Python pin of the guarded spread: for EVERY supplier
    count s ≥ 4, the four suppliers (p + i·step) mod s, i = 0..3 with
    step = s DIV 4 + 1 unless s mod step = 0 (then 1) are distinct —
    including the collision counts {4, 6, 9, 12} of the unguarded
    formula that ADVICE r9 flagged (s=12 gave i=0 and i=3 the same
    supplier)."""
    unguarded_collisions = []
    for s in range(4, 2000):
        step0 = s // 4 + 1
        if len({(i * step0) % s for i in range(4)}) < 4:
            unguarded_collisions.append(s)
        step = 1 if s % step0 == 0 else step0
        for p in (0, 1, s - 1, 7 % s):
            assert len({(p + i * step) % s for i in range(4)}) == 4, (s, p)
    assert unguarded_collisions == [4, 6, 9, 12]


def test_partsupp_pk_holds_on_fixture(spark):
    """The derived view itself has no duplicate (ps_partkey,
    ps_suppkey) and exactly 4 suppliers per part."""
    from wd2duckdb_spark.operators.tpch_derived import partsupp

    ps = partsupp(spark, SF_DIR)
    bad = (
        ps.groupBy("ps_partkey", "ps_suppkey")
        .count()
        .filter(F.col("count") > 1)
        .count()
    )
    assert bad == 0
    per_part = ps.groupBy("ps_partkey").count().agg(
        F.min("count").alias("lo"), F.max("count").alias("hi")
    ).collect()[0]
    assert per_part["lo"] == per_part["hi"] == 4


# ---------------------------------------------------------------------------
# VERDICT r9 item 5 — per-source quota map for the domain cap
# ---------------------------------------------------------------------------


def test_domain_cap_quota_windowgrouplimit_pin(spark):
    """The heterogeneous-cap filter must still plan WindowGroupLimit
    (Partial + Final) with the MAX quota as its bound — map tasks
    pre-prune a hot domain to the largest budget before the exchange,
    the exact per-source cut applies after."""
    from wd2duckdb_spark.functions.training import q_domain_cap_quota

    df = q_domain_cap_quota(spark, SF_DIR)
    p = df._jdf.queryExecution().executedPlan().toString()
    wgl = [ln for ln in p.splitlines() if "WindowGroupLimit" in ln]
    assert any("Partial" in ln for ln in wgl)
    assert any("Final" in ln for ln in wgl)
    assert all("row_number(), 18," in ln for ln in wgl), wgl


def test_domain_cap_quota_semantics(spark):
    """Each source keeps at most ITS quota; the survivors under a
    quota are exactly the first-K survivors of the global-cap
    ordering (same salted-md5 rule, so shrinking a budget never flips
    which of the remaining docs survive)."""
    from wd2duckdb_spark.catalog import tbl
    from wd2duckdb_spark.functions.training import (
        DOMAIN_QUOTA_LARGE,
        DOMAIN_QUOTA_SMALL,
        domain_cap_keep,
        q_domain_cap_quota,
    )

    rows = q_domain_cap_quota(spark, SF_DIR).collect()
    by_src: dict[str, set[int]] = {}
    for r in rows:
        by_src.setdefault(r["source"], set()).add(r["doc_id"])
    srcs = sorted(by_src)
    assert srcs
    quota = {
        s: (DOMAIN_QUOTA_LARGE if i % 2 == 0 else DOMAIN_QUOTA_SMALL)
        for i, s in enumerate(srcs)
    }
    for s, kept in by_src.items():
        assert len(kept) <= quota[s], s

    # nesting: quota survivors ⊆ the same source's survivors under a
    # uniform cap of DOMAIN_QUOTA_LARGE
    d = tbl(spark, SF_DIR, "documents").select("doc_id", "source")
    uniform = domain_cap_keep(d, cap=DOMAIN_QUOTA_LARGE).collect()
    uni_by_src: dict[str, set[int]] = {}
    for r in uniform:
        uni_by_src.setdefault(r["source"], set()).add(r["doc_id"])
    for s, kept in by_src.items():
        assert kept <= uni_by_src[s], s


def test_domain_cap_quota_validation():
    from pyspark.sql import DataFrame  # noqa: F401

    from wd2duckdb_spark.functions.training import domain_cap_keep

    with pytest.raises(ValueError):
        domain_cap_keep(None, caps={"a": 0})
    with pytest.raises(ValueError):
        domain_cap_keep(None, caps={"a": 3}, default_cap=0)
    with pytest.raises(ValueError):
        domain_cap_keep(None, cap=0)


# ---------------------------------------------------------------------------
# ADVICE r9 — vocab_entropy: no long intermediate at any word count
# ---------------------------------------------------------------------------


def test_vocab_entropy_no_long_clamp(spark, tmp_path):
    """A word with n ≈ 1.1e6 occurrences puts n·log2(n)·1e12 ≈ 2.2e19
    past the 2^63 long clamp — the old per-row F.floor silently
    saturated there while DuckDB's HUGEINT didn't. The decimal-product
    form (n × floor(log2(n)·1e12 + 0.5)) must match both the oracle
    SQL and an exact Python replica on such a corpus."""
    import duckdb

    from wd2duckdb_spark.catalog import oracle_view_sql
    from wd2duckdb_spark.functions.text import ORACLES, q_vocab_entropy

    n_big = 1_100_000
    big_text = " ".join(["zipf"] * n_big) + " rare1 rare2"
    rows = [
        (0, big_text, "en", "heavy", len(big_text)),
        (1, "alpha beta beta gamma", "en", "light", 21),
    ]
    sf_dir = str(tmp_path)
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.parquet(f"{sf_dir}/documents.parquet")

    got = {
        r["source"]: r.asDict()
        for r in q_vocab_entropy(spark, sf_dir).collect()
    }

    # exact Python replica of the shared micro-unit arithmetic
    def entropy(counts):
        n_tok = sum(counts)
        micro = sum(n * math.floor(math.log2(n) * 1e12 + 0.5) for n in counts)
        return (
            math.floor(
                (math.log2(n_tok) - micro / 1e12 / n_tok) * 10000 + 0.5
            )
            / 10000
        )

    assert got["heavy"]["entropy_bits"] == entropy([n_big, 1, 1])
    assert got["light"]["entropy_bits"] == entropy([1, 2, 1])
    # sanity: the clamped form WOULD have diverged on this corpus
    assert n_big * math.log2(n_big) * 1e12 > 2**63

    con = duckdb.connect()
    # Spark writes a parquet DIRECTORY; DuckDB needs the part glob
    con.execute(
        oracle_view_sql("documents", f"{sf_dir}/documents.parquet/*.parquet")
    )
    for src, ent, n_tok, vocab in con.execute(
        "SELECT source, entropy_bits, n_tokens, vocab FROM ("
        + ORACLES["vocab_entropy"]
        + ")"
    ).fetchall():
        assert got[src]["entropy_bits"] == ent, src
        assert got[src]["n_tokens"] == n_tok
        assert got[src]["vocab"] == vocab


# ---------------------------------------------------------------------------
# VERDICT r9 item 3 — FastCDC min/max chunk clamps
# ---------------------------------------------------------------------------


def test_cdc_chunk_lengths_clamped_on_low_entropy_doc(spark, tmp_path):
    """The degenerate corpora the clamps exist for: an all-same-token
    document either hash-cuts at EVERY eligible position (1-token
    chunks) or never (one document-sized chunk) without
    normalization. With clamps every chunk must have between CDC_MIN
    and CDC_MAX tokens (final chunk may be shorter than CDC_MIN, never
    longer than CDC_MAX)."""
    from wd2duckdb_spark.functions.dedup import (
        CDC_MAX,
        CDC_MIN,
        _cdc_chunks_col,
        _cdc_cuts_col,
    )

    rows = [
        (0, " ".join(["boiler"] * 1000), "en", "s", 0),
        (1, " ".join(["plate"] * 500), "en", "s", 0),
        (2, "short doc", "en", "s", 0),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string,"
        " n_chars long"
    )
    toks = df.select(
        "doc_id",
        F.expr("filter(split(lower(trim(text)), ' '), x -> x <> '')").alias(
            "tk"
        ),
    )
    hashed = toks.withColumn(
        "th",
        F.expr(
            "transform(tk, t -> cast(conv(substr(md5(t), 1, 8), 16, 10)"
            " as bigint))"
        ),
    ).withColumn("cuts", _cdc_cuts_col())
    out = hashed.select(
        "doc_id", F.explode(_cdc_chunks_col()).alias("chunk")
    ).select("doc_id", F.size(F.split("chunk", " ")).alias("n_tok"))
    lens: dict[int, list[int]] = {}
    for r in out.collect():
        lens.setdefault(r["doc_id"], []).append(r["n_tok"])
    for doc_id in (0, 1):
        body, tail = lens[doc_id][:-1], lens[doc_id][-1]
        assert body, "clamps failed: one document-sized chunk"
        assert all(CDC_MIN <= n <= CDC_MAX for n in body), lens[doc_id]
        assert 1 <= tail <= CDC_MAX
        assert sum(lens[doc_id]) == (1000 if doc_id == 0 else 500)
    assert lens[2] == [2]  # sub-min doc: single short chunk, lossless


def test_cdc_cuts_match_python_reference(spark):
    """The greedy clamp walk (Spark in-row aggregate) against a plain
    Python replica over the real fixture corpus — the same truth the
    recursive DuckDB oracle was verified against (the straight-line
    list_reduce oracle form is unusable: DuckDB v1.0.0 miscomputes
    batched acc-dependent lambdas)."""
    import hashlib

    from wd2duckdb_spark.catalog import tbl
    from wd2duckdb_spark.functions.dedup import (
        CDC_B,
        CDC_M,
        CDC_MAX,
        CDC_MIN,
        CDC_MOD,
        CDC_W,
        _cdc_cuts_col,
    )

    d = tbl(spark, SF_DIR, "documents")
    toks = d.select(
        "doc_id",
        F.expr("filter(split(lower(trim(text)), ' '), x -> x <> '')").alias(
            "tk"
        ),
    ).filter(F.size("tk") >= 1)
    hashed = toks.withColumn(
        "th",
        F.expr(
            "transform(tk, t -> cast(conv(substr(md5(t), 1, 8), 16, 10)"
            " as bigint))"
        ),
    ).withColumn("cuts", _cdc_cuts_col())
    got = {
        r["doc_id"]: (list(r["tk"]), list(r["cuts"]))
        for r in hashed.select("doc_id", "tk", "cuts").collect()
    }
    assert got
    for doc_id, (tk, cuts) in got.items():
        th = [
            int(hashlib.md5(t.encode()).hexdigest()[:8], 16) for t in tk
        ]
        exp, last = [], 0
        for e in range(1, len(tk)):
            if e - last >= CDC_MAX or (
                e >= CDC_W
                and e - last >= CDC_MIN
                and (
                    th[e - 4] * CDC_B**3
                    + th[e - 3] * CDC_B**2
                    + th[e - 2] * CDC_B
                    + th[e - 1]
                )
                % CDC_M
                % CDC_MOD
                == 0
            ):
                exp.append(e)
                last = e
        assert cuts == exp, doc_id


# ---------------------------------------------------------------------------
# Round-10 operator: exact verbatim-overlap pairs (Lee et al. 2022)
# ---------------------------------------------------------------------------


@pytest.mark.slow
def test_verbatim_overlap_planted_quotation(spark, tmp_path):
    """The case the Jaccard/containment joins miss by construction: a
    single 40-token quotation copied into two otherwise-unrelated
    documents (Jaccard « 0.8, containment « 0.9 — asserted) must
    surface as a verbatim pair; an unrelated doc pairs with nothing;
    and anchoring pairs the LATER holders with the window's MINIMUM
    doc_id even when that minimum was itself a copy."""
    import pyspark.sql.functions as FF

    from wd2duckdb_spark.functions.dedup import (
        VERBATIM_K,
        q_containment_join,
        q_jaccard_prefix_join,
        q_verbatim_overlap_pairs,
    )

    quote = " ".join(f"quote{i}" for i in range(40))
    d0 = " ".join(f"alpha{i}" for i in range(300)) + " " + quote
    d1 = quote + " " + " ".join(f"beta{i}" for i in range(300))
    d2 = " ".join(f"gamma{i}" for i in range(300))
    d3 = " ".join(f"delta{i}" for i in range(100)) + " " + quote
    rows = [
        (10, d0, "en", "s", 0),
        (11, d1, "en", "s", 0),
        (12, d2, "en", "s", 0),
        (13, d3, "en", "s", 0),
    ]
    spark.createDataFrame(rows, DOC_SCHEMA).write.parquet(
        str(tmp_path / "documents.parquet")
    )
    sf = str(tmp_path)

    got = {
        (r["a_id"], r["b_id"]): r["n_shared_windows"]
        for r in q_verbatim_overlap_pairs(spark, sf).collect()
    }
    # the quotation has 40 - K + 1 shared windows; all holders anchor
    # to doc 10 (the minimum), never to each other
    n_win = 40 - VERBATIM_K + 1
    assert got == {(10, 11): n_win, (10, 13): n_win}

    # the similarity joins are blind to this pair shape (precondition
    # that makes the operator non-redundant)
    assert q_jaccard_prefix_join(spark, sf).count() == 0
    assert q_containment_join(spark, sf).count() == 0


def test_verbatim_overlap_plan_single_window_exchange(spark):
    """Plan contract: tokenize + window-hash are in-row (zero Python
    UDFs), the per-key min rides the SAME hash partitioning as the
    distinct (no second wkey exchange), and no join appears at all —
    the anchored rule replaces the all-pairs self-join."""
    from wd2duckdb_spark.functions.dedup import q_verbatim_overlap_pairs
    from wd2duckdb_spark.plans import plan_summary

    df = q_verbatim_overlap_pairs(spark, SF_DIR)
    s = plan_summary(df)
    assert s["python_udf"] == 0
    assert (
        s["broadcast_hash_join"]
        == s["sort_merge_join"]
        == s["shuffled_hash_join"]
        == 0
    )
    p = df._jdf.queryExecution().executedPlan().toString()
    assert p.count("hashpartitioning(wkey") <= 2  # distinct + window share


# ---------------------------------------------------------------------------
# VERDICT r9 item 6 — SimHash dedup AT ingest
# ---------------------------------------------------------------------------

DOC_SCHEMA = (
    "doc_id long, text string, lang string, source string, n_chars long"
)


def _doc(i: int, text: str) -> tuple:
    return (i, text, "en", "w", len(text))


@pytest.mark.slow
def test_simhash_ingest_batch_twin_parity(spark, tmp_path):
    """The stream's keep set over the real fixture corpus, fed as 3
    doc_id-ordered shards (maxFilesPerTrigger=1 → 3 micro-batches),
    must equal the batch rule 'drop every b_id of
    q_simhash_hamming_pairs' — keep decisions independent of where
    micro-batch boundaries fall."""
    from wd2duckdb_spark.functions.dedup import (
        simhash_pairs,
        simhash_signatures,
    )
    from wd2duckdb_spark.streaming.simhash_sig import simhash_ingest_stream

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    rows = sorted(docs.collect(), key=lambda r: r["doc_id"])
    pairs = simhash_pairs(simhash_signatures(docs)).collect()
    expected = sorted(
        {r["doc_id"] for r in rows} - {p["b_id"] for p in pairs}
    )

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    k = (len(rows) + 2) // 3
    for i in range(3):
        spark.createDataFrame(
            rows[i * k : (i + 1) * k], docs.schema
        ).coalesce(1).write.parquet(str(in_dir / f"shard{i}.parquet"))

    q = simhash_ingest_stream(
        (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(in_dir) + "/*.parquet")
        ),
        str(tmp_path / "index"),
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination(180)
    kept = sorted(
        r.doc_id for r in spark.read.parquet(str(tmp_path / "out")).collect()
    )
    assert kept == expected


@pytest.mark.slow
def test_simhash_ingest_drops_edited_near_copy_cross_batch(spark, tmp_path):
    """The mode's reason to exist: a batch-2 doc that EDITS a batch-1
    doc (few words changed → few SimHash bits flipped) is dropped by
    the Hamming probe; an unrelated doc passes; a no-token doc always
    passes. Preconditions (the edit really is within Hamming ≤ 3, the
    unrelated doc is not) are asserted via the batch pair machinery,
    so the test can't silently pass on a bad fixture."""
    from wd2duckdb_spark.functions.dedup import (
        SIMHASH_HAMMING,
        simhash_pairs,
        simhash_signatures,
    )
    from wd2duckdb_spark.streaming.simhash_sig import simhash_ingest_stream

    base = " ".join(f"tok{i}" for i in range(40))
    edited = base.replace("tok7", "zzz7")  # 1 of 40 tokens changed
    other = " ".join(f"other{i}" for i in range(40))
    trio = spark.createDataFrame(
        [_doc(1, base), _doc(3, edited), _doc(4, other)], DOC_SCHEMA
    )
    got = {
        (p["a_id"], p["b_id"])
        for p in simhash_pairs(simhash_signatures(trio)).collect()
    }
    assert (1, 3) in got, "fixture: edit exceeded the Hamming budget"
    assert all(4 not in p for p in got), "fixture: 'other' collided"
    assert SIMHASH_HAMMING >= 1

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    spark.createDataFrame(
        [_doc(1, base), _doc(2, "")], DOC_SCHEMA
    ).coalesce(1).write.parquet(str(in_dir / "b0.parquet"))
    spark.createDataFrame(
        [_doc(3, edited), _doc(4, other), _doc(5, "")], DOC_SCHEMA
    ).coalesce(1).write.parquet(str(in_dir / "b1.parquet"))

    q = simhash_ingest_stream(
        (
            spark.readStream.schema(DOC_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(in_dir) + "/*.parquet")
        ),
        str(tmp_path / "index"),
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)
    kept = sorted(
        r.doc_id for r in spark.read.parquet(str(tmp_path / "out")).collect()
    )
    # 3 dropped (edit of 1); no-token docs 2 and 5 always kept
    assert kept == [1, 2, 4, 5]


@pytest.mark.slow
def test_simhash_ingest_drops_edit_of_dropped_doc_and_replay(
    spark, tmp_path
):
    """ALL docs' signatures are indexed, dropped ones included: C
    edits B (dropped as an edit of A) but is farther than the budget
    from A — C must still drop (preconditions asserted). Then a
    crash-replay of the last batch (same batch id through
    _batch_simhash_dedup) must leave output and index unchanged —
    batch=<id> overwrite + the probe's self-batch filter."""
    from wd2duckdb_spark.functions.dedup import (
        SIMHASH_HAMMING,
        simhash_pairs,
        simhash_signatures,
    )
    from wd2duckdb_spark.streaming.simhash_sig import (
        _batch_simhash_dedup,
        simhash_ingest_stream,
    )

    # deterministic md5-derived fixture (searched offline): on the
    # 200-token base, w0→x0 flips exactly 2 signature bits, and
    # additionally w1→s1 lands 2 bits from B but 4 from A
    base = " ".join(f"w{i}" for i in range(200))
    b_text = base.replace("w0 ", "x0 ", 1)
    c_text = b_text.replace("w1 ", "s1 ", 1)
    sig3 = spark.createDataFrame(
        [_doc(1, base), _doc(2, b_text), _doc(3, c_text)], DOC_SCHEMA
    )
    pairs = {
        (p["a_id"], p["b_id"]): p["hamming"]
        for p in simhash_pairs(simhash_signatures(sig3)).collect()
    }
    assert (1, 2) in pairs, "fixture: B not within budget of A"
    assert (2, 3) in pairs, "fixture: C not within budget of B"
    assert (1, 3) not in pairs, "fixture: C still within budget of A"
    assert SIMHASH_HAMMING >= 1

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    spark.createDataFrame(
        [_doc(1, base), _doc(2, b_text)], DOC_SCHEMA
    ).coalesce(1).write.parquet(str(in_dir / "b0.parquet"))
    spark.createDataFrame([_doc(3, c_text)], DOC_SCHEMA).coalesce(
        1
    ).write.parquet(str(in_dir / "b1.parquet"))

    index_dir = str(tmp_path / "index")
    out_dir = str(tmp_path / "out")
    q = simhash_ingest_stream(
        (
            spark.readStream.schema(DOC_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(in_dir) + "/*.parquet")
        ),
        index_dir,
        out_dir,
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)
    kept = sorted(r.doc_id for r in spark.read.parquet(out_dir).collect())
    # B dropped in-batch vs A; C dropped ONLY via dropped-B's index row
    assert kept == [1]

    # crash-replay of batch 1: same output, no duplication, and the
    # replayed batch must not self-collide with its own stale keys
    replay = spark.createDataFrame([_doc(3, c_text)], DOC_SCHEMA)
    _batch_simhash_dedup(replay, 1, index_dir, out_dir,
                         blocks=4, hamming=SIMHASH_HAMMING)
    assert sorted(
        r.doc_id for r in spark.read.parquet(out_dir).collect()
    ) == [1]
    idx = spark.read.parquet(index_dir)
    assert idx.filter(F.col("batch") == 1).select(
        "doc_id"
    ).distinct().collect() == [spark.createDataFrame(
        [(3,)], "doc_id long").collect()[0]]


@pytest.mark.slow
def test_simhash_ingest_index_archive_then_probe(spark, tmp_path):
    """The SimHash signature index speaks the same batch=<id> layout
    as the MinHash band-key index, so the SAME maintenance loop
    applies: archive_index folds old batches into the batch=-1
    archive (keeping (tbl, key, sim) rows intact), and a later batch
    still drops an edit of an ARCHIVED document — the probe's replay
    filter (batch != batch_id) keeps archive rows visible."""
    from wd2duckdb_spark.streaming.dedup_ingest import archive_index
    from wd2duckdb_spark.streaming.lake_index import ARCHIVE_BATCH
    from wd2duckdb_spark.streaming.simhash_sig import _batch_simhash_dedup

    base = " ".join(f"w{i}" for i in range(200))
    edited = base.replace("w0 ", "x0 ", 1)  # 2 flipped bits (pinned above)
    other = " ".join(f"u{i}" for i in range(200))
    index_dir = str(tmp_path / "index")
    out_dir = str(tmp_path / "out")

    b0 = spark.createDataFrame([_doc(1, base)], DOC_SCHEMA)
    b1 = spark.createDataFrame([_doc(2, other)], DOC_SCHEMA)
    _batch_simhash_dedup(b0, 0, index_dir, out_dir, blocks=4, hamming=3)
    _batch_simhash_dedup(b1, 1, index_dir, out_dir, blocks=4, hamming=3)
    archive_index(spark, index_dir, through_batch=0)
    batches = {
        r.batch
        for r in spark.read.parquet(index_dir)
        .select("batch")
        .distinct()
        .collect()
    }
    assert batches == {ARCHIVE_BATCH, 1}

    b2 = spark.createDataFrame([_doc(3, edited)], DOC_SCHEMA)
    _batch_simhash_dedup(b2, 2, index_dir, out_dir, blocks=4, hamming=3)
    kept = sorted(r.doc_id for r in spark.read.parquet(out_dir).collect())
    assert kept == [1, 2]  # 3 dropped via the ARCHIVED signature of 1


def test_simhash_ingest_signs_each_batch_once(spark, tmp_path, monkeypatch):
    """One SimHash ingest micro-batch runs the per-token md5 fold ONCE:
    the in-batch pairs come from the persisted banded keys (shared
    self-join + Hamming test), not from re-signing the batch. The
    in-batch rule still drops the edit (2 flipped bits) and keeps the
    unrelated and the token-less docs."""
    from wd2duckdb_spark.streaming import simhash_sig

    calls = []
    real = simhash_sig.simhash_signatures

    def counted(*args, **kwargs):
        calls.append(1)
        return real(*args, **kwargs)

    monkeypatch.setattr(simhash_sig, "simhash_signatures", counted)
    base = " ".join(f"w{i}" for i in range(200))
    batch = spark.createDataFrame(
        [
            _doc(1, base),
            _doc(2, base.replace("w0 ", "x0 ", 1)),  # 2 bits from doc 1
            _doc(3, " ".join(f"u{i}" for i in range(200))),
            _doc(4, ""),
        ],
        DOC_SCHEMA,
    )
    out_dir = str(tmp_path / "out")
    simhash_sig._batch_simhash_dedup(
        batch, 0, str(tmp_path / "index"), out_dir, blocks=4, hamming=3
    )
    assert len(calls) == 1
    kept = sorted(r.doc_id for r in spark.read.parquet(out_dir).collect())
    assert kept == [1, 3, 4]


def test_simhash_ingest_probe_prunes_index_scan(spark, tmp_path, monkeypatch):
    """The SimHash probe's rate-limited tier pushes the batch's
    banded keys into one signature-index scan as an OR of IN chunks
    (here on LONG combo keys, vs the MinHash tier's md5 strings) —
    pinned on the plan, and the pruned probe finds exactly the same
    dups as the unpruned broadcast probe (Hamming verification
    unaffected by the superset pre-filter)."""
    from wd2duckdb_spark.functions.dedup import (
        SIMHASH_HAMMING,
        _simhash_keys,
        simhash_signatures,
    )
    from wd2duckdb_spark.streaming import lake_index
    from wd2duckdb_spark.streaming.lake_index import _IN_THRESHOLD_CONF
    from wd2duckdb_spark.streaming.simhash_sig import _hamming_verify

    base = " ".join(f"w{i}" for i in range(200))
    hist = spark.createDataFrame(
        [_doc(1, base), _doc(2, " ".join(f"v{i}" for i in range(150)))],
        DOC_SCHEMA,
    )
    index_dir = str(tmp_path / "index")
    _simhash_keys(
        simhash_signatures(hist), blocks=4, hamming=SIMHASH_HAMMING
    ).withColumn("batch", F.lit(0)).write.parquet(index_dir)
    seen = spark.read.parquet(index_dir).select("tbl", "key", "sim")

    batch = spark.createDataFrame(
        [
            _doc(3, base.replace("w0 ", "x0 ", 1)),  # 2 bits from doc 1
            _doc(4, " ".join(f"novel{i}" for i in range(180))),
        ],
        DOC_SCHEMA,
    )
    keys_df = _simhash_keys(
        simhash_signatures(batch), blocks=4, hamming=SIMHASH_HAMMING
    )
    keys = [r.key for r in keys_df.select("key").distinct().collect()]
    assert len(keys) > 2

    def run_probe():
        return lake_index.probe(
            keys_df.select("tbl", "key", "doc_id", F.col("sim").alias("_new_sim")),
            seen,
            on=["tbl", "key"],
            prune_col="key",
            verify=_hamming_verify(SIMHASH_HAMMING),
        )

    monkeypatch.setattr(lake_index, "PROBE_CHUNK", 2)
    old = spark.conf.get(_IN_THRESHOLD_CONF)
    spark.conf.set(_IN_THRESHOLD_CONF, "3")
    try:
        probe = run_probe()
        assert_one_scan_probe(probe, "key", -(-len(keys) // 2))
    finally:
        spark.conf.set(_IN_THRESHOLD_CONF, old)

    got = sorted(r.doc_id for r in probe.collect())
    monkeypatch.setattr(lake_index, "MAX_PROBE_CHUNKS", 0)  # full scan
    unpruned = sorted(r.doc_id for r in run_probe().collect())
    assert got == unpruned == [3]


def test_simhash_ingest_probe_streams_index_not_broadcast(
    spark, tmp_path, monkeypatch
):
    """Join orientation at scale: the history probe broadcasts the
    MICRO-BATCH side and streams the signature index — the index
    FileScan must be the streamed (first) child, never inside the
    BroadcastExchange subtree."""
    from wd2duckdb_spark.functions.dedup import (
        SIMHASH_HAMMING,
        _simhash_keys,
        simhash_signatures,
    )
    from wd2duckdb_spark.streaming import lake_index
    from wd2duckdb_spark.streaming.simhash_sig import _hamming_verify

    index_dir = str(tmp_path / "index")
    hist = spark.createDataFrame(
        [_doc(1, "alpha beta gamma delta epsilon")], DOC_SCHEMA
    )
    _simhash_keys(
        simhash_signatures(hist), blocks=4, hamming=SIMHASH_HAMMING
    ).withColumn("batch", F.lit(0)).write.parquet(index_dir)
    seen = spark.read.parquet(index_dir).select("tbl", "key", "sim")

    batch = spark.createDataFrame(
        [_doc(2, "alpha beta gamma delta epsilon")], DOC_SCHEMA
    )
    monkeypatch.setattr(lake_index, "MAX_PROBE_CHUNKS", 0)  # full scan
    probe = lake_index.probe(
        _simhash_keys(
            simhash_signatures(batch), blocks=4, hamming=SIMHASH_HAMMING
        ).select("tbl", "key", "doc_id", F.col("sim").alias("_new_sim")),
        seen,
        on=["tbl", "key"],
        prune_col="key",
        verify=_hamming_verify(SIMHASH_HAMMING),
    )
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert plan.count("FileScan parquet") == 1, plan
    assert plan.index("FileScan parquet [") < plan.index(
        "BroadcastExchange"
    ), plan
    assert [r.doc_id for r in probe.collect()] == [2]


# ---------------------------------------------------------------------------
# ADVICE r9 — BPE lowercases in the JVM (trainer/encoder cannot drift)
# ---------------------------------------------------------------------------


def test_bpe_incremental_trainer_matches_naive_spec():
    """VERDICT r9 item 2 (de-fixturing): the scalable incremental/heap
    trainer must reproduce the naive full-rescan spec MERGE-FOR-MERGE
    — same argmax, same count-desc/lexicographic tie-break, same
    early stop — across seeded random Zipf tables and adversarial
    tie-heavy inputs."""
    import random

    from wd2duckdb_spark.functions.bpe import (
        _train_bpe_merges_naive,
        train_bpe_merges,
    )

    rng = random.Random(7)
    letters = "abcdef"  # tiny alphabet → many count ties
    for _ in range(6):
        vocab = {
            "".join(rng.choice(letters) for _ in range(rng.randint(1, 10)))
            for _ in range(200)
        }
        wf = [(w, rng.randint(1, 50)) for w in sorted(vocab)]
        rng.shuffle(wf)
        for nm in (1, 17, 500):
            assert train_bpe_merges(wf, nm) == _train_bpe_merges_naive(
                wf, nm
            ), nm
    # overlapping-pair stress: runs of one letter
    wf = [("aaaaaaa", 5), ("aaa", 9), ("aa", 100), ("baab", 7)]
    assert train_bpe_merges(wf, 50) == _train_bpe_merges_naive(wf, 50)
    # early stop: single-char words have no pairs
    assert train_bpe_merges([("a", 10), ("b", 3)], 5) == []


def test_bpe_fixture_exhaustion_makes_caps_nonbinding(spark):
    """The driver fixture's whitespace vocabulary exhausts the merge
    supply long before BPE_N_MERGES — so the round-10 cap raise
    (200 → 8192) provably changed no fixture encoding (merge lists
    are prefixes of each other)."""
    from wd2duckdb_spark.catalog import tbl
    from wd2duckdb_spark.functions.bpe import (
        BPE_N_MERGES,
        bpe_word_freqs,
        train_bpe_merges,
    )

    wf = bpe_word_freqs(tbl(spark, SF_DIR, "documents"))
    full = train_bpe_merges(wf, BPE_N_MERGES)
    assert len(full) < 200, "fixture no longer exhausts below old cap"
    assert train_bpe_merges(wf, 200) == full


def test_bpe_encode_jvm_lowercase_matches_trainer(spark):
    """U+0130 (İ) is the classic Python/JVM case-mapping divergence.
    The encoder must see exactly the words the trainer's frequency
    table saw — pinned by training on a corpus whose only repeated
    word contains İ and asserting the encoder merges it fully (one
    token per occurrence), which can only happen if encode-side
    tokenization used the SAME lowercase mapping as training."""
    from wd2duckdb_spark.functions.bpe import (
        bpe_encode,
        bpe_word_freqs,
        train_bpe_merges,
    )

    docs = spark.createDataFrame(
        [(0, "İkİ İkİ İkİ İkİ"), (1, "İkİ ok")],
        "doc_id long, text string",
    )
    freqs = bpe_word_freqs(docs)
    merges = train_bpe_merges(freqs, 8)
    toks = {
        r["doc_id"]: list(r["bpe_tokens"])
        for r in bpe_encode(docs, merges, output="tokens").collect()
    }
    trained_word = freqs[0][0]  # the JVM-lowercased form of İkİ
    assert freqs[0][1] == 5
    # fully merged: every occurrence is ONE vocabulary token
    assert toks[0] == [trained_word] * 4
    assert toks[1][0] == trained_word
