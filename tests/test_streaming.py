"""Streaming ingest: identical output to batch for identical input,
incremental appends across micro-batches, windowed event analytics."""

from __future__ import annotations

import pytest

import shutil

import pyspark.sql.functions as F

from tests.conftest import FIXTURE_DUMP, SF_DIR, assert_one_scan_probe


def _simhash_reference(docs):
    """Independent 60-bit SimHash reference: explode each doc's
    distinct non-empty tokens, a doc-keyed count + per-bit sum
    aggregate, then the 2·c > n majority vote — the aggregate form,
    kept here so the store's kernel + sum-merge path is checked
    against a formulation it does not share."""
    toks = docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(F.split(F.lower(F.trim("text")), " "))
        ).alias("tok"),
    ).filter(F.col("tok") != "")
    h = F.conv(F.substring(F.md5("tok"), 1, 15), 16, 10).cast("long")
    agg = toks.groupBy("doc_id").agg(
        F.count("*").alias("n"),
        *[
            F.sum(F.shiftright(h, j).bitwiseAND(1)).alias(f"c{j}")
            for j in range(60)
        ],
    )
    sim = sum(
        F.when(F.col(f"c{j}") * 2 > F.col("n"), F.lit(1 << j)).otherwise(0)
        for j in range(60)
    )
    return {
        tuple(r)
        for r in agg.select("doc_id", sim.cast("long").alias("sim")).collect()
    }


def _source_minhash_reference(docs):
    """Independent per-source MinHash reference: explode each doc's
    word-3-gram shingles, then 8 min aggregates per source over md5
    windows (one md5 → four 32-bit lanes) — the aggregate form, kept
    here so the store's kernel + min-merge path is checked against a
    formulation it does not share."""
    toks = docs.select(
        "source", F.split(F.lower(F.trim(F.col("text"))), " ").alias("toks")
    ).filter(F.size("toks") >= 3)
    sh = toks.select(
        "source",
        F.explode(
            F.expr(
                "transform(sequence(1, size(toks) - 2),"
                " i -> concat_ws(' ', element_at(toks, i),"
                " element_at(toks, i + 1), element_at(toks, i + 2)))"
            )
        ).alias("shingle"),
    )
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
    return {tuple(r) for r in sh.groupBy("source").agg(*mins).collect()}


def test_stream_matches_batch(spark, tmp_path):
    """availableNow streaming pass over the fixture dump produces the
    same six tables as the batch ingest."""
    from wd2duckdb_spark.ingest import build_tables
    from wd2duckdb_spark.streaming import ingest_stream

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    shutil.copy(FIXTURE_DUMP, in_dir / "shard-000.json")
    out = str(tmp_path / "out")

    q = ingest_stream(
        spark, str(in_dir), out, str(tmp_path / "ckpt"), available_now=True
    )
    q.awaitTermination(120)

    batch = build_tables(spark, FIXTURE_DUMP)
    for name in ("vertex", "edge", "string", "coordinates", "quantity", "time"):
        # cast to string before collect: the 0001-01-01 -infinity
        # sentinel is unrepresentable by Python's local-TZ fromtimestamp
        def strings(df):
            cast = df.selectExpr(
                *[f"cast({c} as string) as {c}" for c in df.columns]
            )
            return sorted(tuple(r) for r in cast.collect())

        got = strings(spark.read.parquet(f"{out}/{name}"))
        want = strings(batch[name])
        assert got == want, f"stream/batch mismatch for {name}"


def test_stream_incremental_append(spark, tmp_path):
    """A second shard arriving later appends without duplicating the
    first shard's rows (checkpointed exactly-once)."""
    from wd2duckdb_spark.streaming import ingest_stream

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    (in_dir / "s0.json").write_text(
        '{"id":"Q10","labels":{"en":{"language":"en","value":"ten"}},'
        '"descriptions":{},"claims":{}}\n'
    )
    q = ingest_stream(spark, str(in_dir), out, ckpt, available_now=True)
    q.awaitTermination(120)
    assert spark.read.parquet(f"{out}/vertex").count() == 1

    (in_dir / "s1.json").write_text(
        '{"id":"Q11","labels":{"en":{"language":"en","value":"eleven"}},'
        '"descriptions":{},"claims":{}}\n'
    )
    q = ingest_stream(spark, str(in_dir), out, ckpt, available_now=True)
    q.awaitTermination(120)
    v = spark.read.parquet(f"{out}/vertex")
    assert v.count() == 2
    assert {r["id"] for r in v.collect()} == {10, 11}


def test_windowed_event_counts_batch_parity(spark):
    """The watermarked window aggregation, run in batch mode over the
    events fixture, matches a plain tumbling-window groupBy."""
    from wd2duckdb_spark.catalog import tbl
    from wd2duckdb_spark.streaming.ingest_stream import windowed_event_counts

    e = tbl(spark, SF_DIR, "events")
    got = windowed_event_counts(e, "1 hour").orderBy("window_start", "event_type")
    want = (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("tv"))
    )
    assert got.count() == want.count()
    row = got.first()
    assert row["n_events"] > 0 and row["window_end"] > row["window_start"]


def test_sessionize_stream_matches_batch(spark, tmp_path):
    """The applyInPandasWithState sessionizer, fed the same events in
    two micro-batches, agrees with the batch lag+cumsum twin: taking
    the LAST update per (user, session_start) from the update-mode
    output reproduces every batch session."""
    from wd2duckdb_spark.catalog import tbl
    from wd2duckdb_spark.streaming.sessionize import sessionize, sessionize_stream

    # Small deterministic slice: 5 users' events, split at mid-time so
    # sessions straddle the two micro-batches.
    e = (
        tbl(spark, SF_DIR, "events")
        .filter(F.col("user_id") < 5)
        .select("ts", "event_id", "user_id", "value")
    )
    rows = sorted(e.collect(), key=lambda r: (r.ts, r.event_id))
    cut = rows[len(rows) // 2].ts
    in_dir = tmp_path / "sess_in"
    in_dir.mkdir()
    e.filter(F.col("ts") <= F.lit(cut)).coalesce(1).write.parquet(
        str(in_dir / "b0.parquet")
    )
    e.filter(F.col("ts") > F.lit(cut)).coalesce(1).write.parquet(
        str(in_dir / "b1.parquet")
    )

    stream = (
        spark.readStream.schema(e.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(in_dir) + "/*.parquet")
    )
    q = (
        sessionize_stream(stream)
        .writeStream.format("memory")
        .queryName("sess_updates")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "sess_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    updates = spark.sql(
        "SELECT * FROM sess_updates ORDER BY user_id, session_start"
    ).collect()
    # last update per (user, start) wins (update-mode semantics)
    final = {}
    for r in updates:
        final[(r.user_id, r.session_start)] = (
            r.session_end, r.n_events, round(r.total_value, 2)
        )

    want = {
        (r.user_id, r.session_start): (
            r.session_end, r.n_events, round(r.total_value, 2)
        )
        for r in sessionize(e).collect()
    }
    assert final == want


def test_sessionize_stream_late_event_semantics(spark, tmp_path):
    """A late out-of-order event admitted by the watermark must follow
    batch semantics: >gap before the open session's start → its own
    earlier session; within gap → extends the session backwards."""
    import datetime as dt

    from wd2duckdb_spark.streaming.sessionize import sessionize_stream

    base = dt.datetime(2024, 1, 1, 10, 0, 0)

    def rows(*specs):
        return [
            (base + dt.timedelta(minutes=m), eid, uid, 1.0)
            for m, eid, uid in specs
        ]

    schema = "ts timestamp, event_id long, user_id long, value double"
    in_dir = tmp_path / "late_in"
    in_dir.mkdir()
    # batch 0: user 1 at 10:00/10:05; user 2 at 10:00
    spark.createDataFrame(
        rows((0, 1, 1), (5, 2, 1), (0, 1, 2)), schema
    ).coalesce(1).write.parquet(str(in_dir / "b0.parquet"))
    # batch 1 (late events): user 1 at 09:00 (>gap before start → own
    # session); user 2 at 09:45 (within gap → extends start backwards)
    spark.createDataFrame(
        rows((-60, 3, 1), (-15, 2, 2)), schema
    ).coalesce(1).write.parquet(str(in_dir / "b1.parquet"))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(in_dir) + "/*.parquet")
    )
    q = (
        sessionize_stream(stream)
        .writeStream.format("memory")
        .queryName("late_sess")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "late_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    final = {}
    for r in spark.sql("SELECT * FROM late_sess").collect():
        final[(r.user_id, r.session_start)] = (
            r.session_end, r.n_events, r.status
        )
    u1 = {k[1].minute + 60 * k[1].hour: v for k, v in final.items() if k[0] == 1}
    # user 1: separate 09:00 session (1 event) + open 10:00-10:05 (2)
    assert u1[9 * 60] == (base - dt.timedelta(minutes=60), 1, "closed")
    assert u1[10 * 60][1] == 2 and u1[10 * 60][2] == "open"
    # user 2: single session extended backwards to 09:45, 2 events
    u2 = {k[1]: v for k, v in final.items() if k[0] == 2}
    assert (base - dt.timedelta(minutes=15)) in u2
    assert u2[base - dt.timedelta(minutes=15)][1] == 2


def test_sessionize_stream_rounds_ties_like_batch(spark, tmp_path):
    """total_value is rounded HALF_UP on the shortest decimal repr, as
    the batch twin's F.round does: a one-event session of 0.125 gives
    0.13 and one of 1.005 gives 1.01 on both paths (Python's round()
    gives 0.12 and 1.0)."""
    import datetime as dt

    from wd2duckdb_spark.streaming.sessionize import sessionize, sessionize_stream

    base = dt.datetime(2024, 1, 1, 10, 0, 0)
    schema = "ts timestamp, event_id long, user_id long, value double"
    events = spark.createDataFrame(
        [(base, 1, 1, 0.125), (base, 2, 2, 1.005)], schema
    )
    in_dir = tmp_path / "tie_in"
    in_dir.mkdir()
    events.coalesce(1).write.parquet(str(in_dir / "b0.parquet"))
    stream = spark.readStream.schema(schema).parquet(str(in_dir) + "/*.parquet")
    q = (
        sessionize_stream(stream)
        .writeStream.format("memory")
        .queryName("tie_sess")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "tie_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    got = {
        r.user_id: (r.session_start, r.session_end, r.n_events, r.total_value)
        for r in spark.sql("SELECT * FROM tie_sess").collect()
    }
    want = {
        r.user_id: (r.session_start, r.session_end, r.n_events, r.total_value)
        for r in sessionize(events).collect()
    }
    assert want[1][3] == 0.13 and want[2][3] == 1.01
    assert got == want


def test_dedup_stream_drops_cross_batch_duplicates(spark, tmp_path):
    """Duplicate event_ids arriving in a LATER micro-batch (within the
    watermark) are dropped; distinct events all survive."""
    import datetime as dt

    from wd2duckdb_spark.streaming.ingest_stream import dedup_stream

    base = dt.datetime(2024, 1, 1, 10, 0, 0)
    schema = "ts timestamp, event_id long, user_id long, value double"
    in_dir = tmp_path / "dd_in"
    in_dir.mkdir()
    b0 = [(base, 1, 1, 1.0), (base + dt.timedelta(minutes=1), 2, 1, 2.0)]
    # batch 1 re-delivers event 2 and adds event 3
    b1 = [
        (base + dt.timedelta(minutes=1), 2, 1, 2.0),
        (base + dt.timedelta(minutes=2), 3, 1, 3.0),
    ]
    spark.createDataFrame(b0, schema).coalesce(1).write.parquet(
        str(in_dir / "b0.parquet")
    )
    spark.createDataFrame(b1, schema).coalesce(1).write.parquet(
        str(in_dir / "b1.parquet")
    )

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(in_dir) + "/*.parquet")
    )
    q = (
        dedup_stream(stream)
        .writeStream.format("memory")
        .queryName("dd_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "dd_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = sorted(
        r.event_id for r in spark.sql("SELECT event_id FROM dd_out").collect()
    )
    assert got == [1, 2, 3]

    # batch fallback: same helper, plain DataFrame
    batch = spark.createDataFrame(b0 + b1, schema)
    assert dedup_stream(batch).count() == 3


def test_enrich_stream_static_broadcast_parity(spark, tmp_path):
    """Stream-static enrichment: each micro-batch left-joins the
    broadcast dim; two-batch streaming output equals the batch twin."""
    from wd2duckdb_spark.catalog import tbl
    from wd2duckdb_spark.streaming.joins import enrich_stream

    e = (
        tbl(spark, SF_DIR, "events")
        .filter(F.col("user_id") < 8)
        .select("ts", "event_id", "user_id", "value")
    )
    dim = (
        e.select("user_id")
        .distinct()
        .withColumn(
            "segment",
            F.when(F.col("user_id") % 2 == 0, "even").otherwise("odd"),
        )
    )
    rows = sorted(e.collect(), key=lambda r: (r.ts, r.event_id))
    cut = rows[len(rows) // 2].ts
    in_dir = tmp_path / "en_in"
    in_dir.mkdir()
    e.filter(F.col("ts") <= F.lit(cut)).coalesce(1).write.parquet(
        str(in_dir / "b0.parquet")
    )
    e.filter(F.col("ts") > F.lit(cut)).coalesce(1).write.parquet(
        str(in_dir / "b1.parquet")
    )

    stream = (
        spark.readStream.schema(e.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(in_dir) + "/*.parquet")
    )
    q = (
        enrich_stream(stream, dim)
        .writeStream.format("memory")
        .queryName("en_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "en_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    got = sorted(
        (r.event_id, r.segment)
        for r in spark.sql("SELECT event_id, segment FROM en_out").collect()
    )
    want = sorted(
        (r.event_id, r.segment) for r in enrich_stream(e, dim).collect()
    )
    assert got == want and len(got) == e.count()


@pytest.mark.slow
def test_stream_stream_interval_join_parity(spark, tmp_path):
    """Watermarked stream-stream interval join (purchase attribution):
    clicks and purchases arrive as separate 2-batch streams; the inner
    join output equals the batch twin. The generous watermark keeps
    every pair inside the horizon, so parity is exact."""
    from wd2duckdb_spark.catalog import tbl
    from wd2duckdb_spark.streaming.joins import attribute_purchases

    base = (
        tbl(spark, SF_DIR, "events")
        .filter(F.col("user_id") < 8)
        .select("ts", "event_id", "user_id", "event_type", "value")
    )
    clicks = base.filter(F.col("event_type") == "click").drop("event_type")
    purchases = base.filter(F.col("event_type") == "purchase").drop(
        "event_type"
    )

    dirs = {}
    for name, df in (("clicks", clicks), ("purchases", purchases)):
        rows = sorted(df.collect(), key=lambda r: (r.ts, r.event_id))
        cut = rows[len(rows) // 2].ts
        d = tmp_path / f"ss_{name}"
        d.mkdir()
        df.filter(F.col("ts") <= F.lit(cut)).coalesce(1).write.parquet(
            str(d / "b0.parquet")
        )
        df.filter(F.col("ts") > F.lit(cut)).coalesce(1).write.parquet(
            str(d / "b1.parquet")
        )
        dirs[name] = (d, df.schema)

    def mkstream(name):
        d, schema = dirs[name]
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(d) + "/*.parquet")
        )

    joined = attribute_purchases(
        mkstream("clicks"), mkstream("purchases"), watermark="60 days"
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("ss_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ss_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    key = lambda r: (r.click_id, r.purchase_id)  # noqa: E731
    got = sorted(
        key(r) for r in spark.sql("SELECT * FROM ss_out").collect()
    )
    want = sorted(
        key(r)
        for r in attribute_purchases(clicks, purchases).collect()
    )
    assert got == want
    assert len(got) > 0  # non-vacuous: some purchases attribute


def test_stream_stream_left_outer_join_emits_unmatched(spark, tmp_path):
    """Watermarked stream-stream LEFT OUTER interval join: clicks with
    no purchase inside the lag window must surface as NULL-purchase
    rows once the watermark passes their expiry. Verifies the three
    outer-join contracts a finite run can check: (1) the matched
    subset equals the inner join, (2) NULL rows are genuinely
    unmatched per the batch twin, (3) every unmatched click old
    enough to have expired is present."""
    import datetime

    from wd2duckdb_spark.catalog import tbl
    from wd2duckdb_spark.streaming.joins import attribute_purchases

    base = (
        tbl(spark, SF_DIR, "events")
        .filter(F.col("user_id") < 8)
        .select("ts", "event_id", "user_id", "event_type", "value")
    )
    clicks = base.filter(F.col("event_type") == "click").drop("event_type")
    purchases = base.filter(F.col("event_type") == "purchase").drop(
        "event_type"
    )

    dirs = {}
    cuts = {}
    for name, df in (("clicks", clicks), ("purchases", purchases)):
        rows = sorted(df.collect(), key=lambda r: (r.ts, r.event_id))
        cut = rows[len(rows) // 2].ts
        cuts[name] = cut
        d = tmp_path / f"sso_{name}"
        d.mkdir()
        df.filter(F.col("ts") <= F.lit(cut)).coalesce(1).write.parquet(
            str(d / "b0.parquet")
        )
        df.filter(F.col("ts") > F.lit(cut)).coalesce(1).write.parquet(
            str(d / "b1.parquet")
        )
        dirs[name] = (d, df.schema)

    def mkstream(name):
        d, schema = dirs[name]
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(d) + "/*.parquet")
        )

    lag = 30
    joined = attribute_purchases(
        mkstream("clicks"),
        mkstream("purchases"),
        max_lag_minutes=lag,
        watermark="1 minute",
        how="leftOuter",
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("sso_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "sso_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = spark.sql("SELECT * FROM sso_out").collect()

    batch_inner = attribute_purchases(
        clicks, purchases, max_lag_minutes=lag
    ).collect()
    want_matched = sorted(
        (r.click_id, r.purchase_id) for r in batch_inner
    )
    got_matched = sorted(
        (r.click_id, r.purchase_id)
        for r in got
        if r.purchase_id is not None
    )
    assert got_matched == want_matched

    matched_clicks = {r.click_id for r in batch_inner}
    null_rows = [r for r in got if r.purchase_id is None]
    assert null_rows, "no unmatched clicks surfaced"
    assert all(r.click_id not in matched_clicks for r in null_rows)

    # completeness over the expired region. The global watermark is
    # the MIN across both inputs and lags one micro-batch: during the
    # final trigger it reflects only batch-0 data, so the provably
    # expired region is bounded by min(batch-0 max ts) − delay − lag.
    # (Spark may advance further in a trailing no-data batch — that
    # only ADDS null rows, and the assertion is one-sided.)
    wm_floor = min(cuts.values()) - datetime.timedelta(minutes=1)
    horizon = wm_floor - datetime.timedelta(minutes=lag)
    expired_unmatched = {
        r.event_id
        for r in clicks.collect()
        if r.event_id not in matched_clicks and r.ts < horizon
    }
    emitted_nulls = {r.click_id for r in null_rows}
    assert expired_unmatched <= emitted_nulls


def test_transform_with_state_lifetime_value(spark, tmp_path):
    """Spark 4 transformWithStateInPandas: per-user lifetime aggregate
    over two micro-batches; the LAST update per user equals the batch
    groupBy twin (count, sum, max ts).

    Runs here via tools/protobuf_shim (conftest routes
    google.protobuf to the Cloud SDK's vendored runtime); the
    importorskip only fires where neither a protobuf install nor the
    SDK exists."""
    import pytest

    pytest.importorskip("google.protobuf")
    from wd2duckdb_spark.catalog import tbl
    from wd2duckdb_spark.streaming.transform_state import (
        lifetime_value_batch,
        lifetime_value_stream,
    )

    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )

    e = (
        tbl(spark, SF_DIR, "events")
        .filter(F.col("user_id") < 8)
        .select("ts", "event_id", "user_id", "value")
    )
    rows = sorted(e.collect(), key=lambda r: (r.ts, r.event_id))
    cut = rows[len(rows) // 2].ts
    in_dir = tmp_path / "ltv_in"
    in_dir.mkdir()
    e.filter(F.col("ts") <= F.lit(cut)).coalesce(1).write.parquet(
        str(in_dir / "b0.parquet")
    )
    e.filter(F.col("ts") > F.lit(cut)).coalesce(1).write.parquet(
        str(in_dir / "b1.parquet")
    )

    stream = (
        spark.readStream.schema(e.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(in_dir) + "/*.parquet")
    )
    q = (
        lifetime_value_stream(stream)
        .writeStream.format("memory")
        .queryName("ltv_updates")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ltv_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    # memory sink appends every update; the final state per user is the
    # row with the highest n_events (monotone accumulation).
    updates = spark.sql("SELECT * FROM ltv_updates").collect()
    final = {}
    for r in updates:
        cur = final.get(r.user_id)
        if cur is None or r.n_events > cur[0]:
            final[r.user_id] = (r.n_events, r.total_value, r.last_seen)

    want = {
        r.user_id: (r.n_events, r.total_value, r.last_seen)
        for r in lifetime_value_batch(e).collect()
    }
    assert final == want


def test_transform_with_state_plan_builds(spark, tmp_path):
    """The transformWithStateInPandas plan analyzes end-to-end (schema,
    grouping, output struct) even where the Python state-server deps
    are absent — only execution needs google.protobuf."""
    from wd2duckdb_spark.catalog import tbl
    from wd2duckdb_spark.streaming.transform_state import (
        OUTPUT_SCHEMA,
        lifetime_value_stream,
    )

    e = tbl(spark, SF_DIR, "events").select("ts", "event_id", "user_id", "value")
    d = tmp_path / "tws_plan"
    d.mkdir()
    e.limit(10).coalesce(1).write.parquet(str(d / "b0.parquet"))
    stream = (
        spark.readStream.schema(e.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d) + "/*.parquet")
    )
    out = lifetime_value_stream(stream)
    assert out.isStreaming
    assert [f.name for f in out.schema.fields] == [
        "user_id", "n_events", "total_value", "last_seen",
    ]


def test_windowed_distinct_users_stream_matches_batch(spark, tmp_path):
    """The HLL windowed distinct, fed two micro-batches with a
    watermark, produces the same per-window estimates as the batch
    twin, and each estimate is within 5%+3 of the exact distinct."""
    from wd2duckdb_spark.catalog import tbl
    from wd2duckdb_spark.streaming.ingest_stream import windowed_distinct_users

    e = tbl(spark, SF_DIR, "events").select("ts", "event_id", "user_id", "value")
    rows = sorted(e.collect(), key=lambda r: (r.ts, r.event_id))
    cut = rows[len(rows) // 2].ts
    in_dir = tmp_path / "wdu_in"
    in_dir.mkdir()
    e.filter(F.col("ts") <= F.lit(cut)).coalesce(1).write.parquet(
        str(in_dir / "b0.parquet")
    )
    e.filter(F.col("ts") > F.lit(cut)).coalesce(1).write.parquet(
        str(in_dir / "b1.parquet")
    )
    stream = (
        spark.readStream.schema(e.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(in_dir) + "/*.parquet")
    )
    q = (
        windowed_distinct_users(stream)
        .writeStream.format("memory")
        .queryName("wdu")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "wdu_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    got = {
        r.window_start: (r.approx_users, r.n_events)
        for r in spark.sql("SELECT * FROM wdu").collect()
    }
    want = {
        r.window_start: (r.approx_users, r.n_events)
        for r in windowed_distinct_users(e).collect()
    }
    assert got == want

    exact = {
        r.w: r.n
        for r in e.groupBy(F.window("ts", "1 hour").alias("ww"))
        .agg(F.countDistinct("user_id").alias("n"))
        .select(F.col("ww.start").alias("w"), "n")
        .collect()
    }
    for w, (approx, _) in got.items():
        assert abs(approx - exact[w]) <= max(3, 0.05 * exact[w]), (w, approx, exact[w])


@pytest.mark.slow
def test_neardup_ingest_stream_drops_cross_batch_duplicates(spark, tmp_path):
    """Dedup-at-ingest against the persisted LSH index: a batch-2 doc
    near-duplicating a batch-1 doc is dropped even though exact-key
    dedup would keep it; short docs always pass; a restart with a new
    shard still sees the full history (the index is on disk, not in
    stream state)."""
    from wd2duckdb_spark.streaming.dedup_ingest import neardup_ingest_stream

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    index_dir = str(tmp_path / "index")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    base = "the quick brown fox jumps over the lazy dog again and again"
    schema = "doc_id long, text string, lang string, source string, n_chars long"

    def shard(name, rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            str(in_dir / name)
        )

    shard("b0.parquet", [(1, base, "en", "web", len(base)), (2, "tiny doc", "en", "web", 8)])
    # near-dup of doc 1 (one word changed) + a genuinely new doc
    shard(
        "b1.parquet",
        [
            (3, base.replace("dog", "cat"), "en", "web", len(base)),
            (4, "completely different content about distributed query engines and shuffles", "en", "web", 70),
        ],
    )

    def run():
        q = neardup_ingest_stream(
            (
                spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(str(in_dir) + "/*.parquet")
            ),
            index_dir,
            out_dir,
            ckpt,
        )
        q.awaitTermination(120)
        return sorted(
            r.doc_id for r in spark.read.parquet(out_dir).collect()
        )

    # doc 3 near-duplicates doc 1 -> dropped; 2 (short) and 4 kept
    assert run() == [1, 2, 4]

    # restart with a new shard: another near-dup of doc 1 plus a copy
    # of the SHORT doc (no shingles -> always kept)
    shard(
        "b2.parquet",
        [
            (5, base.replace("quick", "swift"), "en", "web", len(base)),
            (6, "tiny doc", "en", "web", 8),
        ],
    )
    assert run() == [1, 2, 4, 6]

    # replay idempotence: re-running a batch's writer must not
    # duplicate its output (batch=<id> overwrite)
    from wd2duckdb_spark.streaming.dedup_ingest import _batch_dedup

    replay = spark.createDataFrame(
        [(6, "tiny doc", "en", "web", 8), (5, base.replace("quick", "swift"), "en", "web", len(base))],
        schema,
    )
    _batch_dedup(replay, 2, index_dir, out_dir)  # same batch id as b2
    assert sorted(
        r.doc_id for r in spark.read.parquet(out_dir).collect()
    ) == [1, 2, 4, 6]


def test_neardup_ingest_one_batch_equals_batch_twin(spark, tmp_path):
    """Whole-corpus-as-one-batch through the streaming stage's
    _batch_dedup must keep exactly the docs q_lsh_keep_list keeps —
    the stream and its oracle-verified batch twin share the keep
    rule, not just the signature pipeline."""
    from wd2duckdb_spark.functions.dedup import q_lsh_keep_list
    from wd2duckdb_spark.streaming.dedup_ingest import _batch_dedup

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    out = str(tmp_path / "out")
    _batch_dedup(docs, 0, str(tmp_path / "index"), out)
    stream_kept = {r.doc_id for r in spark.read.parquet(out).collect()}

    twin_kept = {
        r.doc_id
        for r in q_lsh_keep_list(spark, sf).collect()
        if r.keep
    }
    assert stream_kept == twin_kept


def test_neardup_ingest_probe_streams_index_not_broadcast(
    spark, tmp_path, monkeypatch
):
    """VERDICT r3 item 1: the history-index probe must broadcast the
    MICRO-BATCH side and stream the index — never build/broadcast the
    ever-growing index relation. Pinned on the executed plan: the
    join is a BroadcastHashJoin whose broadcast subtree is the batch
    bands (the index FileScan appears BEFORE the BroadcastExchange in
    the tree, i.e. it is the streamed first child)."""
    from wd2duckdb_spark.functions.dedup import band_keys
    from wd2duckdb_spark.streaming import lake_index

    index_dir = str(tmp_path / "index")
    schema = "doc_id long, text string, lang string, source string, n_chars long"
    hist = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon", "en", "w", 30)], schema
    )
    band_keys(hist).withColumn("batch", F.lit(0)).write.parquet(index_dir)
    seen = spark.read.parquet(index_dir).select("band", "key")

    batch = spark.createDataFrame(
        [(2, "alpha beta gamma delta epsilon", "en", "w", 30)], schema
    )
    monkeypatch.setattr(lake_index, "MAX_PROBE_CHUNKS", 0)  # full scan
    probe = lake_index.probe(
        band_keys(batch).select("band", "key", "doc_id"),
        seen,
        on=["band", "key"],
        prune_col="key",
    )
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    # the index parquet scan must be the STREAMED side: in the plan
    # tree text it precedes the BroadcastExchange (first child), and
    # the broadcast subtree therefore cannot contain it. The scan is
    # identified structurally (the only FileScan, projecting exactly
    # the index's band/key columns) — NOT by its path, which Spark
    # truncates at spark.sql.maxMetadataStringLength (100 chars), a
    # cliff the pytest tmp-path length sits right on.
    assert plan.count("FileScan parquet") == 1, plan
    assert plan.index("FileScan parquet [band#") < plan.index(
        "BroadcastExchange"
    ), plan
    # the probe actually works
    assert [r.doc_id for r in probe.collect()] == [2]


def test_neardup_ingest_wedged_first_write_recovers(spark, tmp_path):
    """ADVICE r3: a crash during the FIRST index write leaves
    ``index_dir/batch=0/_temporary`` and no data files; the committed-
    data check must fall back to first-batch semantics instead of
    wedging every retry on 'unable to infer schema'."""
    from wd2duckdb_spark.streaming.dedup_ingest import _batch_dedup

    index_dir = tmp_path / "index"
    (index_dir / "batch=0" / "_temporary").mkdir(parents=True)
    (index_dir / "batch=0" / "_temporary" / "junk").write_text("x")
    out_dir = str(tmp_path / "out")

    schema = "doc_id long, text string, lang string, source string, n_chars long"
    batch = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta", "en", "w", 35)], schema
    )
    _batch_dedup(batch, 0, str(index_dir), out_dir)  # the retry
    assert [r.doc_id for r in spark.read.parquet(out_dir).collect()] == [1]
    # and the retried write committed real index data
    idx = spark.read.parquet(str(index_dir))
    assert idx.count() > 0


def test_neardup_ingest_drops_dup_of_dropped_doc(spark, tmp_path):
    """ADVICE r3: ALL docs' band keys are indexed, dropped ones
    included — so a later batch's doc that near-duplicates only a
    DROPPED doc is still dropped, and keep decisions don't depend on
    micro-batch boundaries (parity with the batch twin's every-doc
    window-min). Fixture: Y shares a band with X (dropped in-batch);
    Z shares a band with Y ONLY (precondition asserted)."""
    from wd2duckdb_spark.functions.dedup import band_keys
    from wd2duckdb_spark.streaming.dedup_ingest import _batch_dedup

    X = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    Y = X + " epsilon gamma iota delta theta nu omicron xi"
    Z = "quebec romeo sierra epsilon gamma iota delta theta nu omicron xi victor whiskey"
    schema = "doc_id long, text string, lang string, source string, n_chars long"
    all_docs = spark.createDataFrame(
        [(i, t, "en", "w", len(t)) for i, t in ((1, X), (2, Y), (3, Z))],
        schema,
    )
    keys: dict[int, set] = {}
    for r in band_keys(all_docs).collect():
        keys.setdefault(r.doc_id, set()).add((r.band, r.key))
    assert keys[1] & keys[2], "precondition: Y must collide with X"
    assert keys[2] & keys[3], "precondition: Z must collide with Y"
    assert not (keys[1] & keys[3]), "precondition: Z must NOT collide with X"

    index_dir, out_dir = str(tmp_path / "index"), str(tmp_path / "out")
    _batch_dedup(all_docs.filter("doc_id <= 2"), 0, index_dir, out_dir)
    _batch_dedup(all_docs.filter("doc_id = 3"), 1, index_dir, out_dir)
    kept = sorted(r.doc_id for r in spark.read.parquet(out_dir).collect())
    # Y dropped in batch 0 (collides with X); Z dropped in batch 1
    # because Y's keys are in the index even though Y was dropped
    assert kept == [1]


def test_neardup_ingest_compact_then_replay(spark, tmp_path):
    """VERDICT r3 item 2: index hygiene. Compacting the band-key index
    must preserve the ``batch=<id>`` partition layout (the replay
    filter depends on it), shrink the file count, change no rows —
    and a batch REPLAYED after compaction must still be idempotent."""
    import glob

    from wd2duckdb_spark.streaming.dedup_ingest import (
        _batch_dedup,
        compact_index,
    )

    base = "the quick brown fox jumps over the lazy dog again and again"
    schema = "doc_id long, text string, lang string, source string, n_chars long"
    index_dir, out_dir = str(tmp_path / "index"), str(tmp_path / "out")

    b0 = spark.createDataFrame([(1, base, "en", "w", len(base))], schema)
    b1 = spark.createDataFrame(
        [
            (2, base.replace("dog", "cat"), "en", "w", len(base)),
            (3, "completely different content about distributed query engines", "en", "w", 60),
        ],
        schema,
    )
    _batch_dedup(b0, 0, index_dir, out_dir)
    _batch_dedup(b1, 1, index_dir, out_dir)
    before = {
        (r.doc_id, r.band, r.key, r.batch)
        for r in spark.read.parquet(index_dir).collect()
    }
    n_files_before = len(glob.glob(f"{index_dir}/batch=*/part-*"))

    compact_index(spark, index_dir)

    # layout preserved: same batch=<id> dirs, fewer-or-equal files,
    # identical rows (batch partition column included)
    after = {
        (r.doc_id, r.band, r.key, r.batch)
        for r in spark.read.parquet(index_dir).collect()
    }
    assert after == before
    assert sorted(glob.glob(f"{index_dir}/batch=*/")) == sorted(
        {f"{index_dir}/batch={b}/" for b in (0, 1)}
    )
    n_files_after = len(glob.glob(f"{index_dir}/batch=*/part-*"))
    assert n_files_after <= n_files_before
    assert n_files_after <= 2  # ~one file per batch partition

    # replay batch 1 post-compaction: output and index unchanged
    _batch_dedup(b1, 1, index_dir, out_dir)
    kept = sorted(r.doc_id for r in spark.read.parquet(out_dir).collect())
    assert kept == [1, 3]
    again = {
        (r.doc_id, r.band, r.key, r.batch)
        for r in spark.read.parquet(index_dir).collect()
    }
    assert again == before


def test_neardup_ingest_probe_prunes_index_scan(spark, tmp_path, monkeypatch):
    """In the rate-limited steady state the history probe pushes the
    micro-batch's band keys into ONE index scan as an OR of
    ``PROBE_CHUNK``-value IN predicates, so the scan reads only the
    row groups the keys can hit and its tasks do not grow with the
    chunk count — pinned on the plan — and the pruned probe finds
    exactly the same dups as the unpruned broadcast probe."""
    from wd2duckdb_spark.functions.dedup import band_keys
    from wd2duckdb_spark.streaming import lake_index
    from wd2duckdb_spark.streaming.lake_index import _IN_THRESHOLD_CONF

    schema = "doc_id long, text string, lang string, source string, n_chars long"
    hist = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta", "en", "w", 36),
            (2, "one two three four five six seven", "en", "w", 33),
        ],
        schema,
    )
    index_dir = str(tmp_path / "index")
    band_keys(hist).withColumn("batch", F.lit(0)).write.parquet(index_dir)
    seen = spark.read.parquet(index_dir).select("band", "key")

    batch = spark.createDataFrame(
        [
            (3, "alpha beta gamma delta epsilon zeta", "en", "w", 36),
            (4, "totally novel content with many unique words here", "en", "w", 50),
        ],
        schema,
    )
    bands = band_keys(batch).select("band", "key", "doc_id")
    keys = [r.key for r in bands.select("key").distinct().collect()]
    assert len(keys) > 2  # precondition: multiple chunks below

    def run_probe():
        return lake_index.probe(bands, seen, on=["band", "key"], prune_col="key")

    # force several chunks
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


def _pruned_vs_full_scan(
    spark, monkeypatch, batch_side, seen, on, prune_col, *, partition=False
):
    """The sorted ids of the pruned probe forced into 2-value ``IN``
    chunks (its plan pinned by :func:`assert_one_scan_probe`), then the
    sorted ids of the full-scan regime."""
    from wd2duckdb_spark.streaming import lake_index
    from wd2duckdb_spark.streaming.lake_index import _IN_THRESHOLD_CONF

    def run_probe():
        return lake_index.probe(batch_side, seen, on=on, prune_col=prune_col)

    n_vals = batch_side.select(prune_col).distinct().count()
    monkeypatch.setattr(lake_index, "PROBE_CHUNK", 2)
    old = spark.conf.get(_IN_THRESHOLD_CONF)
    spark.conf.set(_IN_THRESHOLD_CONF, "3")
    try:
        probe = run_probe()
        assert_one_scan_probe(
            probe, prune_col, -(-n_vals // 2), partition=partition
        )
        got = sorted(r[0] for r in probe.collect())
    finally:
        spark.conf.set(_IN_THRESHOLD_CONF, old)
    monkeypatch.setattr(lake_index, "MAX_PROBE_CHUNKS", 0)  # full scan
    full = sorted(r[0] for r in run_probe().collect())
    return got, full


def test_pruned_probe_escapes_string_keys(spark, tmp_path, monkeypatch):
    """The pruned probe's ``IN`` chunks are SQL text: keys holding a
    quote, a backslash or non-ASCII text must still match exactly the
    history rows the full-scan regime finds."""
    keys = [
        "plain", "it's", "back\\slash", "\\'both", "naïve ключ 鍵", "a''b"
    ]
    index_dir = str(tmp_path / "index")
    spark.createDataFrame(
        [(k, 0) for k in keys] + [("other", 0)], "key string, batch int"
    ).write.parquet(index_dir)
    seen = spark.read.parquet(index_dir).select("key")
    batch_side = spark.createDataFrame(
        [(k, i) for i, k in enumerate(keys)]
        + [("it", 10), ("back\\\\slash", 11), ("naive", 12), ("\\", 13)],
        "key string, doc_id long",
    )
    got, full = _pruned_vs_full_scan(
        spark, monkeypatch, batch_side, seen, ["key"], "key"
    )
    assert got == full == list(range(len(keys)))


def test_pruned_probe_int_prune_column(spark, tmp_path, monkeypatch):
    """An int partition column (the semantic tier's ``cell``) prunes
    through the same SQL-text chunks and finds what the full scan
    finds."""
    index_dir = str(tmp_path / "index")
    spark.createDataFrame(
        [(c, c * 10 + j, 0) for c in range(6) for j in range(2)],
        "cell int, v long, batch int",
    ).write.partitionBy("batch", "cell").parquet(index_dir)
    seen = spark.read.parquet(index_dir).select("cell")
    batch_side = spark.createDataFrame(
        [(1, 100), (3, 101), (4, 102), (9, 103), (-2, 104)],
        "cell int, vec_id long",
    )
    got, full = _pruned_vs_full_scan(
        spark, monkeypatch, batch_side, seen, ["cell"], "cell", partition=True
    )
    assert got == full == [100, 101, 102]


def _probe_scan_cost(spark, batch_side, seen):
    """(hit ids, scan tasks, input records) of one pruned ``key`` probe
    and its collect, read from the in-process status store by job-id
    high-water mark."""
    from perfbench.harness import StatusStore
    from wd2duckdb_spark.streaming import lake_index

    store = StatusStore(spark)
    store.drain()
    lo = store.job_high_water()
    probe = lake_index.probe(batch_side, seen, on=["key"], prune_col="key")
    ids = sorted(r[0] for r in probe.collect())
    store.drain()
    stages = [
        s
        for j in store.jobs_after(lo, store.job_high_water())
        for s in j["stage_ids"]
    ]
    c = store.stage_counters(stages)
    return ids, c["tasks"], c["input_records"]


def test_pruned_probe_scan_cost_does_not_grow_with_chunks(
    spark, tmp_path, monkeypatch
):
    """The pruned probe is one scan of the index whatever the chunk
    count: over a 2-file, key-sorted, small-row-group index, 2-value
    and 200-value chunks run the same tasks and read the same input
    records (a union of one scan per chunk multiplies both), and both
    skip row groups the keys cannot hit."""
    from wd2duckdb_spark.streaming import lake_index

    monkeypatch.setattr(lake_index, "INDEX_ROW_GROUP_BYTES", 1 << 14)
    index_dir = str(tmp_path / "index")
    n_rows = 20_000
    lake_index.write_batch(
        spark.range(n_rows)
        .select(F.md5(F.col("id").cast("string")).alias("key"))
        .repartition(2),
        index_dir,
        0,
        key="key",
    )
    seen = spark.read.parquet(index_dir).select("key")
    assert len(seen.inputFiles()) == 2
    keys = sorted(r.key for r in seen.collect())[5000:5060]
    batch_side = spark.createDataFrame(
        [(k, i) for i, k in enumerate(keys)] + [("absent", 99)],
        "key string, doc_id long",
    )
    lake_index._ensure_in_threshold(spark)
    monkeypatch.setattr(lake_index, "PROBE_CHUNK", 200)
    one = _probe_scan_cost(spark, batch_side, seen)
    monkeypatch.setattr(lake_index, "PROBE_CHUNK", 2)
    many = _probe_scan_cost(spark, batch_side, seen)
    assert one == many, (one, many)
    assert one[0] == list(range(len(keys)))
    assert 0 < one[2] < n_rows  # row groups were skipped


@pytest.mark.slow
def test_pruned_probe_max_chunks_does_not_overflow(spark, tmp_path):
    """A probe of ``PROBE_CHUNK × MAX_PROBE_CHUNKS`` keys stays in the
    pruned regime as one scan with that many ``IN`` chunks ORed into
    its pushed filter, runs without a StackOverflowError and finds what
    the full scan finds."""
    from wd2duckdb_spark.streaming import lake_index

    n_keys = lake_index.PROBE_CHUNK * lake_index.MAX_PROBE_CHUNKS
    index_dir = str(tmp_path / "index")
    lake_index.write_batch(
        spark.range(2 * n_keys)
        .select(F.md5(F.col("id").cast("string")).alias("key"))
        .repartition(2),
        index_dir,
        0,
        key="key",
    )
    seen = spark.read.parquet(index_dir).select("key")
    # every other id: half the probe keys are in the index
    batch_side = spark.range(n_keys).select(
        F.md5((F.col("id") * 4).cast("string")).alias("key"),
        F.col("id").alias("doc_id"),
    )
    lake_index._ensure_in_threshold(spark)
    probe = lake_index.probe(batch_side, seen, on=["key"], prune_col="key")
    assert_one_scan_probe(probe, "key", lake_index.MAX_PROBE_CHUNKS)
    got = sorted(r[0] for r in probe.collect())
    full = sorted(
        r[0]
        for r in seen.join(batch_side, "key").select("doc_id").distinct().collect()
    )
    assert got == full == list(range(n_keys // 2))


def test_write_metrics_plans_local_table_scan(spark, tmp_path, monkeypatch):
    """The sidecar row is a JVM-local relation: its write plans a
    ``LocalTableScan``, never a Python-fed ``ExistingRDD`` scan."""
    from wd2duckdb_spark.streaming import lake_index

    frames, real = [], lake_index.local_frame

    def spy(*args):
        frames.append(real(*args))
        return frames[-1]

    monkeypatch.setattr(lake_index, "local_frame", spy)
    root = str(tmp_path / "out")
    lake_index.write_metrics(spark, root, 3, n_in=5, n_dups=2, n_kept=3)
    (frame,) = frames
    plan = frame._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan
    (row,) = lake_index.batch_metrics(spark, root).collect()
    assert row.asDict() == {"batch_id": 3, "n_in": 5, "n_dups": 2, "n_kept": 3}


def test_neardup_ingest_catchup_batch_uses_shuffled_hash_join(
    spark, tmp_path, monkeypatch
):
    """ADVICE r4 (medium): a catch-up batch past MAX_BROADCAST_KEYS
    must NOT be broadcast (unbounded build → driver OOM); the probe
    falls back to a shuffled-hash join with the batch side as the
    hinted build, and still finds the same dups."""
    from wd2duckdb_spark.functions.dedup import band_keys
    from wd2duckdb_spark.streaming import lake_index

    schema = "doc_id long, text string, lang string, source string, n_chars long"
    hist = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta", "en", "w", 36)], schema
    )
    index_dir = str(tmp_path / "index")
    band_keys(hist).withColumn("batch", F.lit(0)).write.parquet(index_dir)
    seen = spark.read.parquet(index_dir).select("band", "key")

    batch = spark.createDataFrame(
        [
            (2, "alpha beta gamma delta epsilon zeta", "en", "w", 36),
            (3, "other content entirely about engines and planners", "en", "w", 50),
        ],
        schema,
    )
    # the batch's 8 band-key rows exceed the broadcast cap
    monkeypatch.setattr(lake_index, "MAX_BROADCAST_KEYS", 1)
    probe = lake_index.probe(
        band_keys(batch).select("band", "key", "doc_id"),
        seen,
        on=["band", "key"],
        prune_col="key",
    )
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "ShuffledHashJoin" in plan, plan
    assert "BroadcastExchange" not in plan, plan
    assert [r.doc_id for r in probe.collect()] == [2]


def test_neardup_ingest_index_layout_is_key_sorted(spark, tmp_path):
    """The index files _batch_dedup writes must be sorted by ``key``
    within each file — the physical property the IN-pushdown probe's
    row-group pruning rides on — and compact_index must preserve it
    through the rewrite."""
    import glob

    from wd2duckdb_spark.streaming.dedup_ingest import (
        _batch_dedup,
        compact_index,
    )

    schema = "doc_id long, text string, lang string, source string, n_chars long"
    docs = spark.createDataFrame(
        [
            (i, f"document number {i} has some shared words plus token{i} "
                f"and more filler text {i * 7}", "en", "w", 60)
            for i in range(40)
        ],
        schema,
    )
    index_dir, out_dir = str(tmp_path / "index"), str(tmp_path / "out")
    _batch_dedup(docs, 0, index_dir, out_dir)

    def assert_sorted_per_file():
        files = glob.glob(f"{index_dir}/batch=*/part-*")
        assert files
        for fpath in files:
            ks = [r.key for r in spark.read.parquet(fpath).collect()]
            assert ks == sorted(ks), fpath

    assert_sorted_per_file()
    compact_index(spark, index_dir)
    assert_sorted_per_file()


@pytest.mark.slow
def test_archive_index_folds_old_batches(spark, tmp_path):
    """Round-5: archive_index merges every batch ≤ through_batch into
    one key-range-sorted batch=-1 partition (disjoint file ranges —
    the probe layout), keeps newer batches' partitions intact,
    changes no (doc_id, band, key) content, refuses to archive the
    newest batch, and dedup still sees archived history."""
    import glob

    import pytest

    from wd2duckdb_spark.streaming.dedup_ingest import (
        _batch_dedup,
        archive_index,
    )

    base = "the quick brown fox jumps over the lazy dog again and again"
    schema = "doc_id long, text string, lang string, source string, n_chars long"
    index_dir, out_dir = str(tmp_path / "index"), str(tmp_path / "out")

    batches = [
        [(1, base, "en", "w", len(base))],
        [(2, "completely different content about distributed query engines", "en", "w", 60)],
        [(3, "yet another unrelated document mentioning columnar shuffles", "en", "w", 58)],
    ]
    for i, rows in enumerate(batches):
        _batch_dedup(spark.createDataFrame(rows, schema), i, index_dir, out_dir)

    before = {
        (r.doc_id, r.band, r.key)
        for r in spark.read.parquet(index_dir).collect()
    }

    with pytest.raises(ValueError):
        archive_index(spark, index_dir, through_batch=2)  # newest batch

    archive_index(spark, index_dir, through_batch=1)

    idx = spark.read.parquet(index_dir)
    assert sorted(
        r.batch for r in idx.select("batch").distinct().collect()
    ) == [-1, 2]
    after = {(r.doc_id, r.band, r.key) for r in idx.collect()}
    assert after == before

    # archive files: key-sorted inside, disjoint ranges across files
    arch_files = sorted(glob.glob(f"{index_dir}/batch=-1/part-*"))
    assert arch_files
    ranges = []
    for fpath in arch_files:
        ks = [r.key for r in spark.read.parquet(fpath).collect()]
        assert ks == sorted(ks), fpath
        if ks:
            ranges.append((ks[0], ks[-1]))
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2, (hi1, lo2)

    # a near-dup of ARCHIVED doc 1 is still dropped; re-archive is
    # idempotent (archive folds into itself)
    _batch_dedup(
        spark.createDataFrame(
            [(9, base.replace("dog", "cat"), "en", "w", len(base))], schema
        ),
        3,
        index_dir,
        out_dir,
    )
    kept = sorted(r.doc_id for r in spark.read.parquet(out_dir).collect())
    assert 9 not in kept and kept == [1, 2, 3]
    archive_index(spark, index_dir, through_batch=2)
    assert sorted(
        r.batch
        for r in spark.read.parquet(index_dir)
        .select("batch")
        .distinct()
        .collect()
    ) == [-1, 3]

    # compact_index must REFUSE an archived index: hash-salted
    # compaction would scatter the archive's disjoint key ranges
    # across overlapping files, silently undoing the probe layout
    from wd2duckdb_spark.streaming.dedup_ingest import compact_index

    with pytest.raises(ValueError, match="archive"):
        compact_index(spark, index_dir)


def test_neardup_ingest_metrics_sidecar(spark, tmp_path):
    """Round-5 accounting sidecar: every micro-batch writes one
    (batch_id, n_in, n_dups, n_kept) row under out_dir/_metrics;
    totals reconcile with the kept corpus; the underscore dir is
    invisible to plain readers of out_dir; a replayed batch
    OVERWRITES its row instead of duplicating it. n_kept is the
    measured row count of the kept write: a batch that repeats a
    doc_id duplicating history drops both rows and says so."""
    from wd2duckdb_spark.streaming.dedup_ingest import _batch_dedup
    from wd2duckdb_spark.streaming.lake_index import batch_metrics

    base = "the quick brown fox jumps over the lazy dog again and again"
    schema = "doc_id long, text string, lang string, source string, n_chars long"
    index_dir, out_dir = str(tmp_path / "index"), str(tmp_path / "out")

    b0 = spark.createDataFrame(
        [(1, base, "en", "w", len(base)), (2, "tiny doc", "en", "w", 8)],
        schema,
    )
    b1 = spark.createDataFrame(
        [
            (3, base.replace("dog", "cat"), "en", "w", len(base)),  # near-dup
            (4, "completely different content about distributed query engines", "en", "w", 60),
        ],
        schema,
    )
    _batch_dedup(b0, 0, index_dir, out_dir)
    _batch_dedup(b1, 1, index_dir, out_dir)

    m = {r.batch_id: r for r in batch_metrics(spark, out_dir).collect()}
    assert m[0].n_in == 2 and m[0].n_dups == 0 and m[0].n_kept == 2
    assert m[1].n_in == 2 and m[1].n_dups == 1 and m[1].n_kept == 1

    corpus = spark.read.parquet(out_dir)
    assert corpus.count() == m[0].n_kept + m[1].n_kept
    # the sidecar does not leak into the data read
    assert set(corpus.columns) == {
        "doc_id", "text", "lang", "source", "n_chars", "batch"
    }

    _batch_dedup(b1, 1, index_dir, out_dir)  # replay
    rows = batch_metrics(spark, out_dir).collect()
    assert [r.batch_id for r in rows] == [0, 1]

    # doc 5 arrives twice and copies history (doc 1): both rows drop
    dup_of_history = (5, base, "en", "w", len(base))
    b2 = spark.createDataFrame(
        [
            dup_of_history,
            dup_of_history,
            (6, "yet another unrelated document mentioning columnar shuffles", "en", "w", 58),
        ],
        schema,
    )
    _batch_dedup(b2, 2, index_dir, out_dir)
    m2 = {r.batch_id: r for r in batch_metrics(spark, out_dir).collect()}[2]
    assert (m2.n_in, m2.n_dups, m2.n_kept) == (3, 2, 1)
    kept = spark.read.parquet(out_dir)
    assert kept.count() == sum(
        r.n_kept for r in batch_metrics(spark, out_dir).collect()
    )


@pytest.mark.slow
def test_neardup_ingest_catchup_tier_end_to_end(spark, tmp_path, monkeypatch):
    """The shuffled-hash catch-up tier must produce the SAME keep
    decisions as the broadcast tier when driven through the real
    _batch_dedup flow (not just the plan pin): lower
    MAX_BROADCAST_KEYS so a normal batch lands in the catch-up
    regime, and compare against an identical run at default
    thresholds."""
    from wd2duckdb_spark.streaming import lake_index
    from wd2duckdb_spark.streaming.dedup_ingest import _batch_dedup

    base = "the quick brown fox jumps over the lazy dog again and again"
    schema = "doc_id long, text string, lang string, source string, n_chars long"
    b0 = spark.createDataFrame(
        [(i, f"{base} filler token{i} number {i * 7}", "en", "w", 80)
         for i in range(20)],
        schema,
    )
    b1 = spark.createDataFrame(
        [(100 + i, f"{base} filler token{i} number {i * 7} tail", "en", "w", 85)
         for i in range(10)]
        + [(200, "completely unrelated content about catalyst optimizer rules", "en", "w", 58)],
        schema,
    )

    def run(sub):
        index_dir = str(tmp_path / sub / "index")
        out_dir = str(tmp_path / sub / "out")
        _batch_dedup(b0, 0, index_dir, out_dir)
        _batch_dedup(b1, 1, index_dir, out_dir)
        return sorted(
            r.doc_id for r in spark.read.parquet(out_dir).collect()
        )

    default_kept = run("default")
    monkeypatch.setattr(lake_index, "MAX_BROADCAST_KEYS", 1)
    catchup_kept = run("catchup")
    assert catchup_kept == default_kept
    assert 200 in catchup_kept  # the genuinely-new doc survived


def test_neardup_ingest_zero_key_batch_skips_probe(spark, tmp_path, monkeypatch):
    """VERDICT r5 item 5: a batch whose docs all emit zero band keys
    (< 3 tokens → no shingles) can hit nothing in the index — the
    probe join must be skipped entirely, not built as a full-scan
    broadcast join over zero rows. Pinned by making the probe's join
    builder explode if touched; every tiny doc is kept."""
    from wd2duckdb_spark.streaming import lake_index
    from wd2duckdb_spark.streaming.dedup_ingest import _batch_dedup

    schema = "doc_id long, text string, lang string, source string, n_chars long"
    index_dir, out_dir = str(tmp_path / "index"), str(tmp_path / "out")
    seed = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta", "en", "w", 36)], schema
    )
    _batch_dedup(seed, 0, index_dir, out_dir)  # index now exists

    def _boom(*a, **k):  # pragma: no cover - the assertion IS not-called
        raise AssertionError("probe join built for a zero-key batch")

    monkeypatch.setattr(lake_index, "_join", _boom)
    tiny = spark.createDataFrame(
        [(2, "hi", "en", "w", 2), (3, "one two", "en", "w", 7)], schema
    )
    _batch_dedup(tiny, 1, index_dir, out_dir)
    kept = spark.read.parquet(out_dir).filter(F.col("batch") == 1)
    assert sorted(r.doc_id for r in kept.collect()) == [2, 3]


def test_neardup_ingest_in_threshold_raise_is_monotonic(spark, tmp_path):
    """ADVICE r5 item 2: the parquet IN-pushdown threshold raise must
    be monotonic and never restored — a per-batch set/restore pair
    races between concurrent ingest streams sharing the session. An
    already-higher value stays; a lower one is raised and stays."""
    from wd2duckdb_spark.streaming.dedup_ingest import _batch_dedup
    from wd2duckdb_spark.streaming.lake_index import (
        _IN_THRESHOLD_CONF,
        PROBE_CHUNK,
    )

    schema = "doc_id long, text string, lang string, source string, n_chars long"
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta", "en", "w", 36)], schema
    )
    old = spark.conf.get(_IN_THRESHOLD_CONF)
    try:
        spark.conf.set(_IN_THRESHOLD_CONF, str(PROBE_CHUNK + 100))
        _batch_dedup(docs, 0, str(tmp_path / "i1"), str(tmp_path / "o1"))
        assert spark.conf.get(_IN_THRESHOLD_CONF) == str(PROBE_CHUNK + 100)

        spark.conf.set(_IN_THRESHOLD_CONF, "10")
        _batch_dedup(docs, 0, str(tmp_path / "i2"), str(tmp_path / "o2"))
        assert spark.conf.get(_IN_THRESHOLD_CONF) == str(PROBE_CHUNK + 1)
    finally:
        spark.conf.set(_IN_THRESHOLD_CONF, old)


def test_neardup_ingest_batch_job_count(spark, tmp_path):
    """One micro-batch over an existing index runs a fixed number of
    Spark jobs: the probe's key count and key collect, the broadcasts,
    the kept and index writes and the sidecar write. The per-batch
    counts ride on the kept write as an observation. Counting them with
    two ``count()`` calls (n_dups, n_in) costs a shuffle-map job and a
    result job each, and caching the dup set for those counts one more
    job: 21 jobs that way, 16 now, so a reintroduced count job fails
    this pin."""
    from wd2duckdb_spark.streaming.dedup_ingest import _batch_dedup

    base = "the quick brown fox jumps over the lazy dog again and again"
    schema = "doc_id long, text string, lang string, source string, n_chars long"
    index_dir, out_dir = str(tmp_path / "index"), str(tmp_path / "out")
    b0 = spark.createDataFrame(
        [(1, base, "en", "w", len(base)), (2, "tiny doc", "en", "w", 8)],
        schema,
    )
    b1 = spark.createDataFrame(
        [
            (3, base.replace("dog", "cat"), "en", "w", len(base)),
            (4, "completely different content about distributed query engines", "en", "w", 60),
        ],
        schema,
    )
    _batch_dedup(b0, 0, index_dir, out_dir)
    sc = spark.sparkContext
    group = f"batch-job-count-{tmp_path.name}"
    sc.setJobGroup(group, "one micro-batch over an existing index")
    try:
        _batch_dedup(b1, 1, index_dir, out_dir)
    finally:
        for k in ("spark.jobGroup.id", "spark.job.description",
                  "spark.job.interruptOnCancel"):
            sc.setLocalProperty(k, None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 16
    assert sorted(
        r.doc_id for r in spark.read.parquet(out_dir).collect()
    ) == [1, 2, 4]


@pytest.mark.slow
def test_neardup_ingest_midband_probe_still_prunes(spark, tmp_path, monkeypatch):
    """The pruned regime extends through the mid-band: more than 16
    chunks (the stack cliff is per-chunk IN depth, never chunk count).
    28 chunks reach the one index scan and agree with the unpruned
    probe."""
    from wd2duckdb_spark.functions.dedup import band_keys
    from wd2duckdb_spark.streaming import lake_index
    from wd2duckdb_spark.streaming.lake_index import _IN_THRESHOLD_CONF

    # the constant itself is part of the contract: ≥ 64 branches
    # (12,800 keys at PROBE_CHUNK=200) stay in the pruned regime
    assert lake_index.MAX_PROBE_CHUNKS >= 64

    schema = "doc_id long, text string, lang string, source string, n_chars long"
    hist = spark.createDataFrame(
        [
            (i, f"history doc {i} alpha{i} beta{i} gamma{i} delta{i} "
                f"epsilon{i} zeta{i}", "en", "w", 60)
            for i in range(8)
        ],
        schema,
    )
    index_dir = str(tmp_path / "index")
    band_keys(hist).withColumn("batch", F.lit(0)).write.parquet(index_dir)
    seen = spark.read.parquet(index_dir).select("band", "key")

    batch = spark.createDataFrame(
        [
            (100, "history doc 3 alpha3 beta3 gamma3 delta3 epsilon3 zeta3",
             "en", "w", 60),
            (101, "fresh content nothing like anything seen before today",
             "en", "w", 54),
        ]
        # fresh docs with disjoint words: > 16 chunks even at chunk
        # size 2 (14 docs × 4 band keys = 56 keys = 28 chunks)
        + [
            (102 + j, " ".join(f"fresh{j}w{t}" for t in range(8)), "en", "w", 60)
            for j in range(12)
        ],
        schema,
    )
    bands = band_keys(batch).select("band", "key", "doc_id")
    n_keys = bands.select("key").distinct().count()
    assert n_keys > 32  # > 16 chunks at chunk size 2

    def run_probe():
        return lake_index.probe(bands, seen, on=["band", "key"], prune_col="key")

    monkeypatch.setattr(lake_index, "PROBE_CHUNK", 2)
    old = spark.conf.get(_IN_THRESHOLD_CONF)
    spark.conf.set(_IN_THRESHOLD_CONF, "3")
    try:
        probe = run_probe()
        assert_one_scan_probe(probe, "key", -(-n_keys // 2))
    finally:
        spark.conf.set(_IN_THRESHOLD_CONF, old)
    got = sorted(r.doc_id for r in probe.collect())
    monkeypatch.setattr(lake_index, "MAX_PROBE_CHUNKS", 0)  # full scan
    unpruned = sorted(r.doc_id for r in run_probe().collect())
    assert got == unpruned == [100]


def test_source_signature_stream_matches_batch_twin(spark, tmp_path):
    """Round 6: per-source MinHash signatures maintained incrementally
    by the stream (per-batch partials, component-wise min on read)
    must equal the batch tier's signatures over the full corpus —
    min is a lossless merge for MinHash — and the overlap estimates
    derived from them must equal q_source_overlap_sketch. Also pins
    replay idempotence: re-writing a batch partition leaves the merge
    unchanged (min is idempotent)."""
    from wd2duckdb_spark.catalog import tbl
    from wd2duckdb_spark.functions.dedup import q_source_overlap_sketch
    from wd2duckdb_spark.streaming.signatures import (
        _batch_signatures,
        source_signature_stream,
        source_signatures,
        overlap_from_signatures,
    )
    from tests.conftest import SF_DIR

    docs = tbl(spark, SF_DIR, "documents")
    src, sig_dir, ckpt = (
        str(tmp_path / d) for d in ("src", "sig", "ckpt")
    )
    # two shards so the stream merges across micro-batches
    docs.filter(F.col("doc_id") % 2 == 0).write.parquet(src)
    docs.filter(F.col("doc_id") % 2 == 1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = source_signature_stream(stream, sig_dir, ckpt)
    q.awaitTermination(120)

    merged = {
        tuple(r) for r in source_signatures(spark, sig_dir).collect()
    }
    batch = _source_minhash_reference(docs)
    assert merged == batch and merged

    got = [
        tuple(r)
        for r in overlap_from_signatures(
            source_signatures(spark, sig_dir)
        ).collect()
    ]
    want = [
        tuple(r) for r in q_source_overlap_sketch(spark, SF_DIR).collect()
    ]
    assert got == want

    # double-count safety: an EXTRA partial over already-counted docs
    # (the worst replay/duplicate-delivery case) cannot corrupt the
    # merge — min over a superset of partials re-confirms the mins
    _batch_signatures(spark.read.parquet(src), 99, sig_dir)
    again = {
        tuple(r) for r in source_signatures(spark, sig_dir).collect()
    }
    assert again == batch


@pytest.mark.slow
def test_archive_signatures_folds_partials_losslessly(spark, tmp_path):
    """Round 7 (VERDICT r6 item 1): archive_signatures folds partials
    ≤ through_batch (plus any existing archive) into ONE batch=-1
    partition. Merged signatures must be bit-identical before/after,
    re-archiving must be idempotent, the newest batch must be refused
    (replay protection), and the batch-twin equality must still hold
    through the archived store."""
    import os

    import pytest as _pytest

    from tests.conftest import SF_DIR
    from wd2duckdb_spark.catalog import tbl
    from wd2duckdb_spark.streaming.signatures import (
        _batch_signatures,
        archive_signatures,
        source_signatures,
    )

    docs = tbl(spark, SF_DIR, "documents")
    sig_dir = str(tmp_path / "sig")
    # 4 partials over disjoint shards + one EMPTY partial (the stream
    # writes those too; it holds no rows so it is invisible to the
    # row-level batch scan and its dir is dropped by the swap rewrite)
    for b in range(4):
        _batch_signatures(docs.filter(F.col("doc_id") % 4 == b), b, sig_dir)
    _batch_signatures(docs.limit(0), 4, sig_dir)

    before = {tuple(r) for r in source_signatures(spark, sig_dir).collect()}
    batch_twin = _source_minhash_reference(docs)
    assert before == batch_twin and before

    # refuse the newest ROW-VISIBLE batch (id 3): a restart may replay
    # it (the empty batch=4 dir holds no rows, so 3 is the guard)
    with _pytest.raises(ValueError, match="most recent batch"):
        archive_signatures(spark, sig_dir, through_batch=3)

    archive_signatures(spark, sig_dir, through_batch=2)
    parts = {d for d in os.listdir(sig_dir) if d.startswith("batch=")}
    assert parts == {"batch=-1", "batch=3"}, parts
    after = {tuple(r) for r in source_signatures(spark, sig_dir).collect()}
    assert after == before  # min-merge is lossless through the fold

    # idempotent re-fold: archive + remaining old partials collapse again
    archive_signatures(spark, sig_dir, through_batch=2)
    assert {
        tuple(r) for r in source_signatures(spark, sig_dir).collect()
    } == before
    # archive partition is pre-merged: exactly one row per source
    arch = spark.read.parquet(sig_dir).filter(F.col("batch") == -1)
    assert arch.groupBy("source").count().filter("count > 1").count() == 0

    # a NEW batch after archiving keeps merging on top of the archive
    _batch_signatures(docs.limit(0), 5, sig_dir)  # empty partial
    _batch_signatures(docs, 6, sig_dir)  # superset partial (replay-ish)
    assert {
        tuple(r) for r in source_signatures(spark, sig_dir).collect()
    } == before
    # swap hygiene: no staging/backup dirs left behind
    assert not os.path.exists(sig_dir + "._compact")
    assert not os.path.exists(sig_dir + "._precompact")

@pytest.mark.slow
def test_source_signature_stream_auto_archive(spark, tmp_path):
    """Round 8 (VERDICT r7 item 4): archive_every=N folds the store
    from INSIDE the stream's foreachBatch — after B micro-batches the
    store holds one batch=-1 archive plus at most N live partials, and
    the merged signatures are bit-identical to a no-archive run of the
    same shards (and to the batch twin)."""
    import os

    from tests.conftest import SF_DIR
    from wd2duckdb_spark.catalog import tbl
    from wd2duckdb_spark.streaming.signatures import (
        source_signature_stream,
        source_signatures,
    )

    docs = tbl(spark, SF_DIR, "documents")
    src = str(tmp_path / "src")
    # 5 single-file shards -> 5 deterministic micro-batches (ids 0..4)
    for b in range(5):
        docs.filter(F.col("doc_id") % 5 == b).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    reader = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    sig_auto, ckpt_auto = str(tmp_path / "sig_a"), str(tmp_path / "ck_a")
    q = source_signature_stream(reader, sig_auto, ckpt_auto, archive_every=2)
    q.awaitTermination(180)

    # store stayed bounded: the archive + at most archive_every live
    parts = {d for d in os.listdir(sig_auto) if d.startswith("batch=")}
    assert "batch=-1" in parts, parts
    assert len(parts) <= 3, parts  # 1 archive + <=2 live partials

    # bit-identical to the no-archive run over the same shards
    reader2 = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    sig_plain, ckpt_plain = str(tmp_path / "sig_p"), str(tmp_path / "ck_p")
    q2 = source_signature_stream(reader2, sig_plain, ckpt_plain)
    q2.awaitTermination(180)

    auto = {tuple(r) for r in source_signatures(spark, sig_auto).collect()}
    plain = {tuple(r) for r in source_signatures(spark, sig_plain).collect()}
    twin = _source_minhash_reference(docs)
    assert auto == plain == twin and auto
    # swap hygiene: no staging/backup dirs left behind by in-stream folds
    assert not os.path.exists(sig_auto + "._compact")
    assert not os.path.exists(sig_auto + "._precompact")


@pytest.mark.slow
def test_simhash_signature_stream_matches_batch_twin(spark, tmp_path):
    """Round 9 (VERDICT r8 item 6): per-doc SimHash bit counters
    maintained incrementally (per-batch partials, component-wise SUM
    on read) equal the batch tier's signatures when docs arrive
    whole, and the exact Hamming<=3 pairs derived from the streaming
    store equal q_simhash_hamming_pairs. Also pins the sum-merge
    replay protocol: a batch REWRITING its own partition (the crash
    replay case) leaves the merge unchanged, because overwrite
    replaces rather than appends."""
    from tests.conftest import SF_DIR
    from wd2duckdb_spark.catalog import tbl
    from wd2duckdb_spark.functions.dedup import (
        q_simhash_hamming_pairs,
        simhash_signatures,
    )
    from wd2duckdb_spark.streaming.simhash_sig import (
        _batch_bit_counts,
        doc_band_keys,
        doc_signatures,
        simhash_signature_stream,
        stream_simhash_pairs,
    )

    docs = tbl(spark, SF_DIR, "documents")
    src, sig_dir, ckpt = (str(tmp_path / d) for d in ("src", "sig", "ckpt"))
    docs.filter(F.col("doc_id") % 2 == 0).write.parquet(src)
    docs.filter(F.col("doc_id") % 2 == 1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = simhash_signature_stream(stream, sig_dir, ckpt)
    q.awaitTermination(120)

    merged = {tuple(r) for r in doc_signatures(spark, sig_dir).collect()}
    batch = {tuple(r) for r in simhash_signatures(docs).collect()}
    assert merged == batch == _simhash_reference(docs) and merged

    got = [
        tuple(r) for r in stream_simhash_pairs(spark, sig_dir).collect()
    ]
    want = [
        tuple(r) for r in q_simhash_hamming_pairs(spark, SF_DIR).collect()
    ]
    assert got == want and got

    # replay protocol: rewriting an existing batch partition (NOT
    # appending a new one) leaves the sum merge unchanged
    _batch_bit_counts(
        spark.read.parquet(src).filter(F.col("doc_id") % 2 == 0), 0, sig_dir
    )
    again = {tuple(r) for r in doc_signatures(spark, sig_dir).collect()}
    assert again == batch

    # band keys: every doc appears once per probe table
    keys = doc_band_keys(spark, sig_dir)
    n_docs = docs.count()
    assert keys.count() == 4 * n_docs  # C(4,1) tables at the default
    assert keys.groupBy("doc_id").count().filter("count != 4").count() == 0


def test_simhash_counter_store_sums_split_doc_rows(spark, tmp_path):
    """A document split into two rows of ONE batch is stored as two
    kernel rows, and its merged signature is the vote over both rows'
    summed counters — per-row token distinctness, so a token in both
    rows counts twice (the split-document semantics of the counter
    store). Expected values come from a pure-Python SimHash."""
    import hashlib

    from wd2duckdb_spark.streaming.simhash_sig import (
        _batch_bit_counts,
        doc_signatures,
    )

    rows = [
        (1, "alpha beta gamma delta"),
        (1, "delta epsilon zeta eta theta"),
        (2, "iota kappa lambda"),
    ]
    batch = spark.createDataFrame(rows, "doc_id long, text string")
    sig_dir = str(tmp_path / "sig")
    _batch_bit_counts(batch, 0, sig_dir)
    stored = spark.read.parquet(sig_dir)
    assert stored.filter("doc_id = 1").count() == 2  # one row per chunk

    def counts(text):
        hs = [
            int(hashlib.md5(t.encode()).hexdigest()[:15], 16)
            for t in set(text.lower().strip().split(" "))
            if t
        ]
        return len(hs), [sum((h >> j) & 1 for h in hs) for j in range(60)]

    expected = {}
    for doc_id, text in rows:
        n, c = counts(text)
        n0, c0 = expected.get(doc_id, (0, [0] * 60))
        expected[doc_id] = (n0 + n, [a + b for a, b in zip(c0, c)])
    want = {
        d: sum(1 << j for j in range(60) if 2 * c[j] > n)
        for d, (n, c) in expected.items()
    }
    got = {r.doc_id: r.sim for r in doc_signatures(spark, sig_dir).collect()}
    assert got == want


@pytest.mark.slow
def test_archive_bit_counts_folds_and_refuses_newest(spark, tmp_path):
    """The sum-merge archive: folding old partials into batch=-1 is
    lossless for the merged signatures, re-archiving is a no-op, and
    the newest live batch is refused (folding it would double-count
    under replay — sum is NOT idempotent, unlike the MinHash min)."""
    import pytest as _pytest

    from tests.conftest import SF_DIR
    from wd2duckdb_spark.catalog import tbl
    from wd2duckdb_spark.streaming.simhash_sig import (
        _batch_bit_counts,
        archive_bit_counts,
        doc_signatures,
    )

    docs = tbl(spark, SF_DIR, "documents")
    sig_dir = str(tmp_path / "sig")
    for b in range(4):
        _batch_bit_counts(docs.filter(F.col("doc_id") % 4 == b), b, sig_dir)

    before = {tuple(r) for r in doc_signatures(spark, sig_dir).collect()}
    with _pytest.raises(ValueError, match="most recent"):
        archive_bit_counts(spark, sig_dir, through_batch=3)
    archive_bit_counts(spark, sig_dir, through_batch=2)
    after = {tuple(r) for r in doc_signatures(spark, sig_dir).collect()}
    assert after == before
    batches = sorted(
        r.batch
        for r in spark.read.parquet(sig_dir).select("batch").distinct().collect()
    )
    assert batches == [-1, 3]
    archive_bit_counts(spark, sig_dir, through_batch=2)  # idempotent
    assert {
        tuple(r) for r in doc_signatures(spark, sig_dir).collect()
    } == before
