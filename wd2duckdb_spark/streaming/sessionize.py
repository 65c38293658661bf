"""Gap-based user sessionization — batch and stateful-streaming twins.

The canonical custom stateful operator a training-data/event pipeline
needs and Spark has no built-in for: group events into sessions that
close after ``gap`` of inactivity.

Two implementations with identical semantics:

- :func:`q_sessionize` (batch): lag + running sum of gap-breaks over a
  per-user window — pure Column expressions, SQL-expressible, so the
  DuckDB oracle verifies it (driver t2 gate);
- :func:`sessionize_stream` (streaming): ``applyInPandasWithState``
  keeping one open session per user in ``GroupState``, emitting closed
  sessions as they seal and the provisional open session each batch
  (update-mode semantics). Event-time timeout closes idle sessions.

Scale: both partition by ``user_id`` — state per key is O(1) (the open
session aggregate, not the events), the streaming operator's memory is
#active-users × ~48 bytes per executor-partition, and the batch window
never materializes more than one user's events per sort run.
"""

from __future__ import annotations

from typing import TYPE_CHECKING, Any, Iterator

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from wd2duckdb_spark.catalog import tbl

if TYPE_CHECKING:  # pragma: no cover
    import pandas as pd

#: Inactivity gap that closes a session.
SESSION_GAP_MIN = 30

_GAP_US = SESSION_GAP_MIN * 60 * 1_000_000

SESSION_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("session_start", TimestampType()),
        StructField("session_end", TimestampType()),
        StructField("n_events", IntegerType()),
        StructField("total_value", DoubleType()),
        StructField("status", StringType()),  # 'closed' | 'open'
    ]
)

#: GroupState layout: the open session's aggregate only — O(1) per user.
STATE_SCHEMA = StructType(
    [
        StructField("start_us", LongType()),
        StructField("end_us", LongType()),
        StructField("n_events", IntegerType()),
        StructField("total_value", DoubleType()),
    ]
)


# ---------------------------------------------------------------------------
# Batch twin (oracle-checkable)
# ---------------------------------------------------------------------------


def sessionize(events: DataFrame, gap_min: int = SESSION_GAP_MIN) -> DataFrame:
    """Batch sessionization: a session break is a gap > ``gap_min``
    minutes since the previous event of the same user; the session id
    is the running count of breaks (classic lag+cumsum)."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_s = gap_min * 60
    # ts may arrive as TIMESTAMP_NTZ (driver testdata layout), which has
    # no direct cast to BIGINT; route through LTZ — identity under the
    # session's UTC timezone — then take epoch seconds.
    ts_s = F.col("ts").cast("timestamp_ltz").cast("long")
    is_break = ts_s - F.lag(ts_s).over(w) > gap_s
    sess = events.withColumn(
        "session_no",
        F.sum(F.when(is_break, 1).otherwise(0)).over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    return (
        sess.groupBy("user_id", "session_no")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count("*").cast("int").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .drop("session_no")
    )


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sessionize(tbl(spark, sf_dir, "events")).orderBy(
        "user_id", "session_start"
    )


def q_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The built-in `session_window` operator — Spark's native gap
    sessionizer, one hash aggregate with a merging session buffer
    instead of the lag+cumsum double window of :func:`sessionize`.

    Semantics differ from the lag formulation at the exact boundary:
    a session window spans [first_ts, last_ts + gap), so an event
    arriving exactly `gap` after the last one starts a NEW session
    (half-open), where `lag`'s `diff > gap` keeps it. The oracle
    mirrors the half-open rule (`>=`) and the `max(ts) + gap` end.

    At 100 TB this is the operator to prefer: one shuffle on user_id,
    sessions merge inside the aggregate buffer, and the same
    expression runs unchanged under a streaming watermark."""
    e = tbl(spark, sf_dir, "events")
    return (
        e.groupBy("user_id", F.session_window("ts", f"{SESSION_GAP_MIN} minutes"))
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
            "total_value",
        )
        .orderBy("user_id", "session_start")
    )


# ---------------------------------------------------------------------------
# Streaming stateful twin
# ---------------------------------------------------------------------------


def _sessionize_fn(
    key: tuple, pdfs: Iterator["pd.DataFrame"], state: Any
) -> Iterator["pd.DataFrame"]:
    """Per-user stateful update with session-window MERGE semantics:
    fold this batch's events (sorted by event time) into mini-sessions,
    insert the open session from state in start order, and merge every
    adjacent pair whose gap is ≤ the session gap. This makes late
    out-of-order events admitted by the watermark behave exactly like
    the batch twin — an event more than ``gap`` before the open
    session's start becomes its own (earlier) session instead of being
    absorbed; one within the gap extends the session backwards.
    Emits sealed sessions as ``closed`` plus the latest still-open
    session as ``open`` (update-mode provisional row).

    Boundary: only the LATEST session stays in state (O(1) per key), so
    a session sealed because a newer one superseded it cannot be
    re-opened by a yet-later straggler — the watermark bounds how long
    that window is; full fidelity would keep every session younger than
    the watermark in state."""
    import pandas as pd

    (user_id,) = key

    if state.hasTimedOut:
        if state.exists:
            s, e, n, v = state.get
            state.remove()
            yield _session_pdf(pd, user_id, [(s, e, n, v, "closed")])
        return

    frames = list(pdfs)
    events = (
        pd.concat(frames).sort_values(["ts", "event_id"])
        if frames
        else pd.DataFrame(columns=["ts", "event_id", "value"])
    )
    ts_us = (events["ts"].astype("int64") // 1000).tolist()  # ns → µs
    if not ts_us and not state.exists:
        return
    merged = _fold_sessions(
        ts_us, events["value"].tolist(), [state.get] if state.exists else []
    )
    cur = merged[-1]
    state.update(tuple(cur))
    # Event-time timeout: the watermark passing end+gap seals the session.
    state.setTimeoutTimestamp((cur[1] + _GAP_US) // 1000)
    out = [(*m, "closed") for m in merged[:-1]] + [(*cur, "open")]
    yield _session_pdf(pd, user_id, out)


def _fold_sessions(ts_us: list, values: list, prior: list) -> list:
    """Fold (sorted) event times into gap-sessions ``[start_us,
    end_us, n, value]`` and merge them with the ``prior`` sessions
    carried in state: adjacent sessions with inter-gap ≤ gap coalesce,
    so within-watermark out-of-order arrival matches the batch
    lag+cumsum twin. The one session fold of both streaming
    sessionizers (this module's and ``typed_state``'s)."""
    minis: list[list] = []
    for t, val in zip(ts_us, values):
        if minis and t - minis[-1][1] <= _GAP_US:
            m = minis[-1]
            m[1] = max(m[1], t)
            m[2] += 1
            m[3] += val
        else:
            minis.append([t, t, 1, float(val)])
    if prior:
        minis.extend(list(p) for p in prior)
        minis.sort(key=lambda m: (m[0], m[1]))
    merged: list[list] = []
    for m in minis:
        if merged and m[0] - merged[-1][1] <= _GAP_US:
            p = merged[-1]
            p[1] = max(p[1], m[1])
            p[2] += m[2]
            p[3] += m[3]
        else:
            merged.append(m)
    return merged


def _round2(x: float) -> float:
    """2-dp rounding EXACTLY matching the batch twin's F.round: Spark's
    Round converts the double via ``BigDecimal.valueOf`` (the SHORTEST
    round-trip decimal repr — same contract as Python's ``repr``) and
    rounds that decimal HALF_UP. Neither Python's ``round()`` (banker's
    half-even) nor ``floor(abs(x)*100+0.5)`` (rounds the BINARY value,
    so e.g. 1.005 — binary 1.00499...— lands on 1.00 while Spark's
    shortest-repr path gives 1.01) agrees on ties; going through
    ``Decimal(repr(x))`` reproduces the BigDecimal.valueOf semantics
    bit-for-bit (verified on 1.005/0.285/negatives in
    tests/test_typed_state.py)."""
    import math
    from decimal import ROUND_HALF_UP, Decimal

    if not math.isfinite(x):  # Spark's Round passes NaN/±inf through
        return x
    return float(
        Decimal(repr(x)).quantize(Decimal("0.01"), rounding=ROUND_HALF_UP)
    )


def _session_pdf(pd, user_id: int, rows: list[tuple]):
    return pd.DataFrame(
        {
            "user_id": [user_id] * len(rows),
            "session_start": [pd.Timestamp(r[0], unit="us") for r in rows],
            "session_end": [pd.Timestamp(r[1], unit="us") for r in rows],
            "n_events": [r[2] for r in rows],
            "total_value": [_round2(r[3]) for r in rows],
            "status": [r[4] for r in rows],
        }
    )


def sessionize_stream(events: DataFrame) -> DataFrame:
    """Streaming sessionization over an unbounded (ts, user_id, value)
    stream. Requires a watermark on ``ts`` for the event-time timeout.

    One shuffle on user_id (the state partitioning); skew-safe because
    per-key state and per-batch work are O(events of that user in the
    batch)."""
    return (
        events.withWatermark("ts", f"{2 * SESSION_GAP_MIN} minutes")
        .groupBy("user_id")
        .applyInPandasWithState(
            _sessionize_fn,
            outputStructType=SESSION_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf="EventTimeTimeout",
        )
    )


ORACLES: dict[str, str] = {
    "sessionize": f"""
        WITH marked AS (
            SELECT user_id, ts, event_id, value,
                   CASE WHEN epoch(ts) - epoch(lag(ts) OVER w)
                             > {SESSION_GAP_MIN * 60}
                        THEN 1 ELSE 0 END AS brk
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        numbered AS (
            SELECT *, sum(brk) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id
                                     ROWS UNBOUNDED PRECEDING) AS session_no
            FROM marked
        )
        SELECT user_id,
               min(ts) AS session_start,
               max(ts) AS session_end,
               CAST(count(*) AS INT) AS n_events,
               round(sum(value), 2) AS total_value
        FROM numbered
        GROUP BY user_id, session_no
        ORDER BY user_id, session_start
    """,
    "session_window": f"""
        WITH marked AS (
            SELECT user_id, ts, event_id, value,
                   CASE WHEN epoch(ts) - epoch(lag(ts) OVER w)
                             >= {SESSION_GAP_MIN * 60}
                        THEN 1 ELSE 0 END AS brk
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        numbered AS (
            SELECT *, sum(brk) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id
                                     ROWS UNBOUNDED PRECEDING) AS session_no
            FROM marked
        )
        SELECT user_id,
               min(ts) AS session_start,
               max(ts) + INTERVAL {SESSION_GAP_MIN} MINUTE AS session_end,
               CAST(count(*) AS BIGINT) AS n_events,
               round(sum(value), 2) AS total_value
        FROM numbered
        GROUP BY user_id, session_no
        ORDER BY user_id, session_start
    """,
}

QUERIES = {
    "sessionize": q_sessionize,
    "session_window": q_session_window,
}
