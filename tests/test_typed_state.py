"""Execution parity for the Spark 4 typed-state streaming operators
(wd2duckdb_spark/streaming/typed_state.py): event-time timers,
ListState last-N (+ TTL expiry), MapState space-saving top-k, and the
initial-state bootstrap on the lifetime-value aggregate.

All tests drive real micro-batches through the transformWithState
Python state-server (RocksDB provider) — gated on google.protobuf,
which tools/protobuf_shim supplies in this container (conftest)."""

from __future__ import annotations

import datetime
import time

import pyspark.sql.functions as F
import pytest

from tests.conftest import SF_DIR


def _rocksdb(spark):
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )


def _events(spark, max_user: int = 8):
    from wd2duckdb_spark.catalog import tbl

    return (
        tbl(spark, SF_DIR, "events")
        .filter(F.col("user_id") < max_user)
        .select("ts", "event_id", "user_id", "value", "event_type")
    )


def _split_files(e, in_dir):
    """Write e as two time-split parquet files (sessions straddle the
    micro-batch boundary); returns (cut, max_ts)."""
    rows = sorted(e.collect(), key=lambda r: (r.ts, r.event_id))
    cut = rows[len(rows) // 2].ts
    in_dir.mkdir()
    e.filter(F.col("ts") <= F.lit(cut)).coalesce(1).write.parquet(
        str(in_dir / "b0.parquet")
    )
    e.filter(F.col("ts") > F.lit(cut)).coalesce(1).write.parquet(
        str(in_dir / "b1.parquet")
    )
    return cut, rows[-1].ts


def _file_stream(spark, schema, in_dir, per_trigger: int | None = 1):
    r = spark.readStream.schema(schema)
    if per_trigger is not None:
        r = r.option("maxFilesPerTrigger", per_trigger)
    return r.parquet(str(in_dir) + "/*.parquet")


def _run(stream_df, name, ckpt, mode):
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)


@pytest.mark.slow
def test_session_timer_stream_seals_all_on_watermark(spark, tmp_path):
    """Timer-closed sessions (append mode): once the watermark passes
    every real session's end+gap, the emitted set equals the batch
    lag+cumsum twin exactly — each session emitted once, sealed.

    Two far-future sentinel events for a fake user drive the
    watermark: the first advances it past all real sessions, the
    second triggers the batch in which those timers fire (the
    watermark used by batch N reflects data through batch N-1)."""
    pytest.importorskip("google.protobuf")
    _rocksdb(spark)
    from wd2duckdb_spark.streaming.sessionize import sessionize
    from wd2duckdb_spark.streaming.typed_state import session_timer_stream

    e = _events(spark)
    in_dir = tmp_path / "st_in"
    _, max_ts = _split_files(e, in_dir)
    for i, days in enumerate((1, 2)):
        spark.createDataFrame(
            [
                (
                    max_ts + datetime.timedelta(days=days),
                    10_000_000 + i,
                    -1,
                    0.0,
                    "view",
                )
            ],
            schema=e.schema,
        ).coalesce(1).write.parquet(str(in_dir / f"b{2 + i}.parquet"))

    out = session_timer_stream(
        _file_stream(spark, e.schema, in_dir), watermark="1 minute"
    )
    _run(out, "timer_sessions", tmp_path / "st_ckpt", "append")

    got = {
        (r.user_id, r.session_start, r.session_end, r.n_events,
         round(r.total_value, 2))
        for r in spark.sql("SELECT * FROM timer_sessions").collect()
        if r.user_id >= 0
    }
    want = {
        (r.user_id, r.session_start, r.session_end, r.n_events,
         round(r.total_value, 2))
        for r in sessionize(e).collect()
    }
    assert got == want


def test_recent_values_stream_matches_batch(spark, tmp_path):
    """ListState last-N: the final update per user equals the batch
    twin (the oracle-verified `recent_values` query)."""
    pytest.importorskip("google.protobuf")
    _rocksdb(spark)
    from wd2duckdb_spark.streaming.typed_state import (
        recent_values,
        recent_values_stream,
    )

    e = _events(spark)
    in_dir = tmp_path / "rv_in"
    _split_files(e, in_dir)
    out = recent_values_stream(_file_stream(spark, e.schema, in_dir))
    _run(out, "rv_updates", tmp_path / "rv_ckpt", "update")

    # last_ts is strictly increasing across a user's updates (the b1
    # file holds strictly-later events), so max(last_ts) marks final.
    final = {}
    for r in spark.sql("SELECT * FROM rv_updates").collect():
        cur = final.get(r.user_id)
        if cur is None or r.last_ts > cur[2]:
            final[r.user_id] = (r.n_recent, tuple(r.recent_values), r.last_ts)
    want = {
        r.user_id: (r.n_recent, tuple(r.recent_values), r.last_ts)
        for r in recent_values(e).collect()
    }
    assert final == want


@pytest.mark.slow
def test_recent_values_ttl_expires_idle_state(spark, tmp_path):
    """ListState TTL: state written in run 1 is gone after the TTL
    elapses, so run 2's updates reflect only run-2 data — the
    bounded-store contract for idle keys."""
    pytest.importorskip("google.protobuf")
    _rocksdb(spark)
    from wd2duckdb_spark.streaming.typed_state import (
        recent_values,
        recent_values_stream,
    )

    e = _events(spark, max_user=4)
    rows = sorted(e.collect(), key=lambda r: (r.ts, r.event_id))
    cut = rows[len(rows) // 2].ts
    head = e.filter(F.col("ts") <= F.lit(cut))
    tail = e.filter(F.col("ts") > F.lit(cut))
    both = {r.user_id for r in head.select("user_id").distinct().collect()} & {
        r.user_id for r in tail.select("user_id").distinct().collect()
    }
    assert both, "fixture must have users active in both halves"

    in_dir = tmp_path / "ttl_in"
    in_dir.mkdir()
    head.coalesce(1).write.parquet(str(in_dir / "b0.parquet"))

    # memory sink cannot recover a checkpoint across restarts; a
    # foreachBatch sink can, and in local mode the callback runs in
    # the driver so it captures rows directly.
    def _restartable_run(captured: list):
        q = (
            recent_values_stream(
                _file_stream(spark, e.schema, in_dir, per_trigger=None),
                ttl_ms=500,
            )
            .writeStream.foreachBatch(
                lambda df, _bid: captured.extend(df.collect())
            )
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / "ttl_ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    _restartable_run([])
    time.sleep(2.5)  # let every run-1 entry pass its TTL
    tail.coalesce(1).write.parquet(str(in_dir / "b1.parquet"))
    run2: list = []
    _restartable_run(run2)

    got = {
        r.user_id: (r.n_recent, tuple(r.recent_values), r.last_ts)
        for r in run2
    }
    want = {
        r.user_id: (r.n_recent, tuple(r.recent_values), r.last_ts)
        for r in recent_values(tail).collect()
    }
    for u in both:
        assert got[u] == want[u], f"user {u} kept expired state"


def test_type_topk_stream_matches_batch(spark, tmp_path):
    """MapState top-k, capacity ≥ type cardinality (exact regime):
    the final update per user equals the oracle-verified
    `user_type_topk` batch twin, including the exact total."""
    pytest.importorskip("google.protobuf")
    _rocksdb(spark)
    from wd2duckdb_spark.streaming.typed_state import (
        type_topk_stream,
        user_type_topk,
    )

    e = _events(spark)
    in_dir = tmp_path / "tk_in"
    _split_files(e, in_dir)
    out = type_topk_stream(_file_stream(spark, e.schema, in_dir))
    _run(out, "tk_updates", tmp_path / "tk_ckpt", "update")

    # total_events is strictly increasing per update (an update only
    # happens on activity), so max(total_events) marks the final one.
    final = {}
    for r in spark.sql("SELECT * FROM tk_updates").collect():
        cur = final.get(r.user_id)
        if cur is None or r.total_events > cur[2]:
            final[r.user_id] = (
                tuple(r.top_types),
                tuple(r.top_counts),
                r.total_events,
            )
    want = {
        r.user_id: (tuple(r.top_types), tuple(r.top_counts), r.total_events)
        for r in user_type_topk(e).collect()
    }
    assert final == want


def test_type_topk_space_saving_bounds_state_and_overestimates(
    spark, tmp_path
):
    """Capacity BELOW the type cardinality: the space-saving sketch
    still conserves total mass exactly, never under-counts a reported
    type, and reports at most `capacity` counters — bounded state
    regardless of cardinality."""
    pytest.importorskip("google.protobuf")
    _rocksdb(spark)
    from wd2duckdb_spark.streaming.typed_state import type_topk_stream

    e = _events(spark)
    in_dir = tmp_path / "ss_in"
    in_dir.mkdir()
    e.coalesce(1).write.parquet(str(in_dir / "b0.parquet"))
    out = type_topk_stream(
        _file_stream(spark, e.schema, in_dir, per_trigger=None),
        k=2,
        capacity=2,
    )
    _run(out, "ss_updates", tmp_path / "ss_ckpt", "update")

    true_counts: dict[tuple, int] = {
        (r.user_id, r.event_type): r.cnt
        for r in e.groupBy("user_id", "event_type")
        .agg(F.count("*").alias("cnt"))
        .collect()
    }
    true_totals: dict[int, int] = {}
    for (u, _), c in true_counts.items():
        true_totals[u] = true_totals.get(u, 0) + c

    rows = spark.sql("SELECT * FROM ss_updates").collect()
    assert {r.user_id for r in rows} == set(true_totals)
    for r in rows:
        assert len(r.top_types) <= 2
        assert r.total_events == true_totals[r.user_id]  # mass conserved
        for etype, est in zip(r.top_types, r.top_counts):
            assert est >= true_counts.get((r.user_id, etype), 0)


def test_lifetime_value_initial_state_bootstrap(spark, tmp_path):
    """handleInitialState: seed per-user state from a batch aggregate
    of the history, stream only the tail — final updates equal the
    batch aggregate over history + tail (backfill-then-stream)."""
    pytest.importorskip("google.protobuf")
    _rocksdb(spark)
    from wd2duckdb_spark.streaming.transform_state import (
        lifetime_value_batch,
        lifetime_value_seed,
        lifetime_value_stream,
    )

    e = _events(spark)
    rows = sorted(e.collect(), key=lambda r: (r.ts, r.event_id))
    cut = rows[len(rows) // 2].ts
    head = e.filter(F.col("ts") <= F.lit(cut))
    tail = e.filter(F.col("ts") > F.lit(cut))
    # the documented seed path: UNROUNDED (rounding belongs at
    # emission, not in state — lifetime_value_seed's contract)
    hist = lifetime_value_seed(head)

    in_dir = tmp_path / "bs_in"
    in_dir.mkdir()
    tail.coalesce(1).write.parquet(str(in_dir / "b0.parquet"))
    out = lifetime_value_stream(
        _file_stream(spark, e.schema, in_dir, per_trigger=None),
        initial_state=hist,
    )
    _run(out, "bs_updates", tmp_path / "bs_ckpt", "update")

    final = {}
    for r in spark.sql("SELECT * FROM bs_updates").collect():
        cur = final.get(r.user_id)
        if cur is None or r.n_events > cur[0]:
            final[r.user_id] = (r.n_events, r.total_value, r.last_seen)

    tail_users = {r.user_id for r in tail.select("user_id").distinct().collect()}
    assert set(final) == tail_users  # idle seeded keys emit nothing
    want = {
        r.user_id: (r.n_events, r.total_value, r.last_seen)
        for r in lifetime_value_batch(e).collect()
        if r.user_id in tail_users
    }
    assert final == want


@pytest.mark.slow
def test_session_timer_out_of_order_bridge_merges_not_contradicts(
    spark, tmp_path
):
    """The review-found failure mode of emit-before-sealed designs: a
    within-watermark late arrival that lands BETWEEN two sessions and
    bridges them. The stream must emit exactly ONE merged session
    (the batch twin's answer), never an early [t0,t0] row that the
    merged result contradicts."""
    pytest.importorskip("google.protobuf")
    _rocksdb(spark)
    from wd2duckdb_spark.streaming.sessionize import sessionize
    from wd2duckdb_spark.streaming.typed_state import session_timer_stream

    t0 = datetime.datetime(2024, 1, 1, 8, 0, 0)

    def _mk(minutes, eid, uid=7, val=1.0):
        return (t0 + datetime.timedelta(minutes=minutes), eid, uid, val, "view")

    schema = (
        "ts timestamp, event_id long, user_id long, value double,"
        " event_type string"
    )
    in_dir = tmp_path / "oo_in"
    in_dir.mkdir()
    batches = [
        # two sessions 40min apart (> gap 30): old design emitted the
        # first one NOW; watermark at this batch's eval is still 0
        [_mk(0, 1), _mk(40, 2)],
        # late-but-admissible bridge (wm = 40-30 = 10min; 20 > 10):
        # merges everything into ONE session [0, 40]
        [_mk(20, 3)],
        # sentinel pair: advance the watermark past 40+30, then give
        # the timer a batch to fire in
        [_mk(300, 100, uid=-1)],
        [_mk(301, 101, uid=-1)],
    ]
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            str(in_dir / f"b{i}.parquet")
        )
        time.sleep(0.05)  # file-source ordering is by mtime

    out = session_timer_stream(
        _file_stream(spark, out_schema := spark.createDataFrame([], schema).schema, in_dir),
        watermark="30 minutes",
    )
    _run(out, "oo_sessions", tmp_path / "oo_ckpt", "append")

    got = [
        (r.user_id, r.session_start, r.session_end, r.n_events,
         round(r.total_value, 2))
        for r in spark.sql(
            "SELECT * FROM oo_sessions WHERE user_id >= 0"
        ).collect()
    ]
    all_events = spark.createDataFrame(
        [e for b in batches[:2] for e in b], schema
    )
    want = [
        (r.user_id, r.session_start, r.session_end, r.n_events,
         round(r.total_value, 2))
        for r in sessionize(all_events).collect()
    ]
    assert len(want) == 1 and want[0][3] == 3  # fixture sanity: ONE merged
    assert got == want


def test_fold_sessions_batch_split_invariance():
    """Property (pure Python, no Spark): folding events through
    _fold_sessions incrementally — any batch partitioning, any
    within-batch arrival order, carrying ALL pending sessions between
    calls — yields exactly the same sessions as one batch-mode fold
    over the sorted whole. This is the state-side invariant behind
    the stream==sessionize parity contract: micro-batch boundaries
    must never change session shapes while nothing is sealed."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from wd2duckdb_spark.streaming.sessionize import _GAP_US, _fold_sessions

    gap = _GAP_US

    @settings(max_examples=200, deadline=None)
    @given(
        st.lists(
            st.integers(min_value=0, max_value=20).map(
                lambda k: k * (gap // 2)  # cluster around gap boundaries
            ),
            min_size=1,
            max_size=12,
        ),
        st.data(),
    )
    def run(ts, data):
        ts_sorted = sorted(ts)
        want = _fold_sessions(ts_sorted, [1.0] * len(ts_sorted), [])

        # random batch split of a random permutation
        perm = data.draw(st.permutations(ts))
        n_batches = data.draw(st.integers(1, len(perm)))
        cuts = sorted(
            data.draw(
                st.lists(
                    st.integers(0, len(perm)),
                    min_size=n_batches - 1,
                    max_size=n_batches - 1,
                )
            )
        )
        pending: list = []
        for lo, hi in zip([0] + cuts, cuts + [len(perm)]):
            batch = sorted(perm[lo:hi])  # handleInputRows sorts its batch
            if not batch:
                continue
            pending = _fold_sessions(batch, [1.0] * len(batch), pending)
        assert [tuple(m) for m in pending] == [tuple(m) for m in want]

    run()


def test_round2_matches_spark_f_round_on_shortest_repr_ties(spark):
    """_round2 must agree with the batch twin's F.round bit-for-bit.
    Spark's Round goes through BigDecimal.valueOf(double) — the
    SHORTEST round-trip decimal repr — then HALF_UP; a
    floor(abs(x)*100+0.5) on the raw binary double diverges on
    shortest-repr .xx5 ties (1.005 is binary 1.00499…, so that path
    gives 1.00 where Spark gives 1.01). Pin the
    Decimal(repr(x)) implementation against the real F.round on the
    known-divergent ties, negatives, and a spread of sums."""
    from wd2duckdb_spark.streaming.sessionize import _round2

    vals = [
        1.005, 0.285, 2.675, 0.125, 0.015, -1.005, -0.285, -2.675,
        -0.015, 0.0, -0.0, 1.0, 3.14159, -3.14159, 123456.785,
        -123456.785, 1e-9, -1e-9, 0.004999999999, 17.999999999,
        # accumulated float sums (the session total_value shape)
        sum([0.1] * 3), sum([0.335, 0.335, 0.335]), sum([1.1, -0.095]),
    ]
    df = spark.createDataFrame([(v,) for v in vals], "x double").select(
        F.col("x"), F.round("x", 2).alias("r")
    )
    for row in df.collect():
        assert _round2(row.x) == row.r, (
            f"_round2({row.x!r}) = {_round2(row.x)!r} != F.round = {row.r!r}"
        )
