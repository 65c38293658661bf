"""Spark 4 typed-state streaming operators: timers, TTL, ListState,
MapState, and initial-state bootstrap.

transform_state.py established the `transformWithStateInPandas`
execution path (one ValueState aggregate); this module exercises the
REST of the Spark 4 stateful surface — the pieces a production
training-data/event pipeline actually needs and the older
`applyInPandasWithState` API cannot express:

- :func:`session_timer_stream` — gap sessions closed by EVENT-TIME
  TIMERS (`handleExpiredTimer`), emitted in append mode only when the
  watermark seals them. The sessionize.py stream emits provisional
  ``open`` rows every batch because GroupState has no per-key timer
  registry; here a session row is emitted exactly once, when it can
  no longer change — the contract a downstream sink wants.
- :func:`recent_values_stream` — last-N events per user in a
  ListState, optionally TTL-bounded (``ttlDurationMs``): the
  feature-store "recent activity" feature. State is O(N) per key by
  construction, and TTL expires idle users so the store tracks the
  active-key working set, not the all-time key universe.
- :func:`type_topk_stream` — per-user top-k event types via a
  capacity-bounded MapState running the space-saving sketch
  (Metwally et al., ICDT 2005): at most ``capacity`` counters per key
  regardless of type cardinality, the bounded-state answer to
  "top domains per crawl shard" at 100 TB.
- :func:`transform_state.lifetime_value_stream` gains an
  ``initial_state`` bootstrap (``handleInitialState``): seed every
  key's state from a batch backfill aggregate, then continue
  streaming — history + stream == full batch, the
  backfill-then-stream deployment pattern.

Scale: all four shuffle once on ``user_id`` (the state partitioning)
and hold O(N)/O(capacity)/O(1) state per key in RocksDB; a
1000-executor cluster splits the key space 1000 ways and every
micro-batch's work is proportional to the batch, never the history.

Parity contracts (tests/test_streaming.py): each operator has a batch
twin on the same events — sessions equal the oracle-verified
``sessionize`` query once the watermark passes; recent-values and
top-k final updates equal their batch twins (both registered as
oracle-backed queries ``recent_values`` / ``user_type_topk``);
the bootstrap run equals the full-history batch aggregate.

Execution needs `google.protobuf` (see transform_state.py docstring;
tools/protobuf_shim provides it in this container) and the RocksDB
state-store provider.
"""

from __future__ import annotations

from typing import TYPE_CHECKING, Any, Iterator

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming.stateful_processor import (
    ExpiredTimerInfo,
    StatefulProcessor,
    StatefulProcessorHandle,
    TimerValues,
)

from wd2duckdb_spark.catalog import tbl

if TYPE_CHECKING:  # pragma: no cover
    import pandas as pd

# ---------------------------------------------------------------------------
# 1. Timer-closed sessionization (ListState + event-time timers)
# ---------------------------------------------------------------------------

#: Imported, not re-declared: the batch twin is the oracle-verified
#: `sessionize` query, so the gap, the session fold and the rounding
#: MUST be the same — a local copy could drift.
from wd2duckdb_spark.streaming.sessionize import (
    _GAP_US,
    SESSION_GAP_MIN,
    _fold_sessions,
    _round2,
)

SESSION_OUT_SCHEMA = (
    "user_id long, session_start timestamp, session_end timestamp,"
    " n_events int, total_value double"
)

#: One pending (unsealed) session — the ListState row layout.
_SESS_STATE_SCHEMA = "start_us long, end_us long, n int, v double"


class SessionTimerProcessor(StatefulProcessor):
    """Gap sessions sealed STRICTLY by the watermark — append-mode,
    emit-once.

    All unsealed sessions ride a ListState; a session row leaves the
    operator only once the watermark has passed its ``end + gap``, at
    which point no admissible future event can extend or bridge it —
    even a within-watermark out-of-order arrival that lands BETWEEN
    two existing sessions merges them in state rather than
    contradicting an already-emitted row (the failure mode of the
    emit-superseded-immediately design this replaces). Sealing
    happens wherever the watermark is next observed: on the key's own
    next input batch, or via the event-time timer registered at
    ``earliest pending seal + 1 ms`` (ceil-to-ms so the timer can
    never fire before the true microsecond seal point). Timers are
    not deleted on re-registration; a superseded timer just fires,
    finds nothing sealable, and re-arms — idempotent by construction,
    at most one live timer per key per batch that touched it."""

    def init(self, handle: StatefulProcessorHandle) -> None:
        self._pending = handle.getListState("pending", _SESS_STATE_SCHEMA)
        self._handle = handle

    def _seal(
        self, pd, user_id: int, merged: list, wm_ms: int
    ) -> Iterator["pd.DataFrame"]:
        """Split merged sessions on the watermark: emit the sealed
        ones, keep the rest pending, arm a timer for the earliest
        pending seal. An event at ts == watermark is still admissible
        and extends a session whose end + gap == ts, so sealing
        requires STRICT `seal < watermark`."""
        wm_us = wm_ms * 1000
        sealed = [m for m in merged if m[1] + _GAP_US < wm_us]
        pending = [m for m in merged if m[1] + _GAP_US >= wm_us]
        if pending:
            self._pending.put([tuple(m) for m in pending])
            earliest_seal_us = min(m[1] for m in pending) + _GAP_US
            self._handle.registerTimer(earliest_seal_us // 1000 + 1)
        else:
            self._pending.clear()
        if sealed:
            yield _sessions_pdf(pd, user_id, sealed)

    def handleInputRows(
        self, key: Any, rows: Iterator["pd.DataFrame"], timerValues: TimerValues
    ) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        (user_id,) = key
        frames = list(rows)
        events = (
            pd.concat(frames).sort_values(["ts", "event_id"])
            if frames
            else pd.DataFrame(columns=["ts", "event_id", "value"])
        )
        ts_us = (events["ts"].astype("int64") // 1000).tolist()
        if not ts_us:
            return
        prior = list(self._pending.get()) if self._pending.exists() else []
        merged = _fold_sessions(ts_us, events["value"].tolist(), prior)
        yield from self._seal(
            pd, user_id, merged, timerValues.getCurrentWatermarkInMs()
        )

    def handleExpiredTimer(
        self, key: Any, timerValues: TimerValues, expiredTimerInfo: ExpiredTimerInfo
    ) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        (user_id,) = key
        if not self._pending.exists():
            return
        pending = [list(p) for p in self._pending.get()]
        if not pending:
            return
        yield from self._seal(
            pd, user_id, pending, timerValues.getCurrentWatermarkInMs()
        )

    def close(self) -> None:
        pass


def _sessions_pdf(pd, user_id: int, rows: list):
    return pd.DataFrame(
        {
            "user_id": [user_id] * len(rows),
            "session_start": [pd.Timestamp(r[0], unit="us") for r in rows],
            "session_end": [pd.Timestamp(r[1], unit="us") for r in rows],
            "n_events": [r[2] for r in rows],
            "total_value": [_round2(r[3]) for r in rows],
        }
    )


def session_timer_stream(
    events: DataFrame, watermark: str = f"{SESSION_GAP_MIN} minutes"
) -> DataFrame:
    """Streaming gap-sessionization with emit-once append semantics.

    `events` is a streaming DataFrame with (ts, event_id, user_id,
    value); the watermark bounds both late admission and how long a
    sealed-but-unemitted session waits for its timer."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .transformWithStateInPandas(
            statefulProcessor=SessionTimerProcessor(),
            outputStructType=SESSION_OUT_SCHEMA,
            outputMode="Append",
            timeMode="EventTime",
        )
    )


# ---------------------------------------------------------------------------
# 2. Last-N recent values per user (ListState, optional TTL)
# ---------------------------------------------------------------------------

#: Feature width: how many most-recent events feed the feature vector.
RECENT_N = 5

RECENT_OUT_SCHEMA = (
    "user_id long, n_recent int, recent_values array<double>,"
    " last_ts timestamp"
)

_RECENT_STATE_SCHEMA = "ts_us long, event_id long, value double"


class RecentValuesProcessor(StatefulProcessor):
    """Keep the last ``n`` events per user in a ListState; emit the
    (time-ascending) value vector each update. With ``ttl_ms`` set,
    an idle user's state expires wholesale — the store holds the
    active working set only."""

    def __init__(self, n: int = RECENT_N, ttl_ms: int | None = None) -> None:
        self._n = n
        self._ttl_ms = ttl_ms

    def init(self, handle: StatefulProcessorHandle) -> None:
        self._recent = handle.getListState(
            "recent", _RECENT_STATE_SCHEMA, self._ttl_ms
        )

    def handleInputRows(
        self, key: Any, rows: Iterator["pd.DataFrame"], timerValues: TimerValues
    ) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        (user_id,) = key
        entries = list(self._recent.get()) if self._recent.exists() else []
        for pdf in rows:
            ts_us = pdf["ts"].astype("int64") // 1000
            entries.extend(
                zip(ts_us.tolist(), pdf["event_id"].tolist(),
                    (float(v) for v in pdf["value"]))
            )
        # newest n by event time; ties broken by event_id like the
        # batch twin's ORDER BY ts, event_id
        entries.sort(key=lambda e: (e[0], e[1]))
        entries = entries[-self._n:]
        self._recent.put(entries)
        yield pd.DataFrame(
            {
                "user_id": [user_id],
                "n_recent": [len(entries)],
                "recent_values": [[_round2(e[2]) for e in entries]],
                "last_ts": [pd.Timestamp(entries[-1][0], unit="us")],
            }
        )

    def close(self) -> None:
        pass


def recent_values_stream(
    events: DataFrame, n: int = RECENT_N, ttl_ms: int | None = None
) -> DataFrame:
    """Streaming last-``n`` feature vector per user (update mode).

    State TTL is wall-clock, so Spark requires ProcessingTime mode
    whenever ``ttl_ms`` is set (TTL in timeMode=None is rejected)."""
    return events.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=RecentValuesProcessor(n, ttl_ms),
        outputStructType=RECENT_OUT_SCHEMA,
        outputMode="Update",
        timeMode="None" if ttl_ms is None else "ProcessingTime",
    )


def recent_values(events: DataFrame, n: int = RECENT_N) -> DataFrame:
    """Batch twin: the stream's final update per user — last ``n``
    events by (ts, event_id), values time-ascending."""
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        events.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= n)
        .groupBy("user_id")
        .agg(
            F.count("*").cast("int").alias("n_recent"),
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("ts", "event_id", "value"))
                ),
                lambda s: F.round(s["value"], 2),
            ).alias("recent_values"),
            F.max("ts").alias("last_ts"),
        )
    )


def q_recent_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    return recent_values(tbl(spark, sf_dir, "events")).orderBy("user_id")


# ---------------------------------------------------------------------------
# 3. Per-user top-k event types (MapState, space-saving capacity bound)
# ---------------------------------------------------------------------------

TOPK_K = 3
#: Counter capacity per key. ≥ the true type cardinality ⇒ exact counts
#: (the parity regime); below it the sketch over-estimates by at most
#: the evicted minimum (space-saving guarantee).
TOPK_CAPACITY = 8

TOPK_OUT_SCHEMA = (
    "user_id long, top_types array<string>, top_counts array<long>,"
    " total_events long"
)


class TypeTopKProcessor(StatefulProcessor):
    """Space-saving heavy hitters per user in a MapState: at most
    ``capacity`` (event_type → count) entries per key. On overflow the
    minimum-count entry is evicted and the newcomer inherits
    ``min + 1`` — counts never under-estimate, and the state bound is
    independent of the true type cardinality.

    NULL event_type rows are excluded (``value_counts`` drops them);
    the batch twin and oracle filter identically so the contract is
    symmetric on corpora that have them."""

    def __init__(self, k: int = TOPK_K, capacity: int = TOPK_CAPACITY) -> None:
        self._k = k
        self._cap = capacity

    def init(self, handle: StatefulProcessorHandle) -> None:
        self._counts = handle.getMapState(
            "counts", "event_type string", "cnt long"
        )

    def handleInputRows(
        self, key: Any, rows: Iterator["pd.DataFrame"], timerValues: TimerValues
    ) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        (user_id,) = key
        counts: dict[str, int] = {
            k_[0]: v[0] for k_, v in self._counts.iterator()
        }
        for pdf in rows:
            for etype, inc in pdf["event_type"].value_counts().items():
                if etype in counts:
                    counts[etype] += int(inc)
                elif len(counts) < self._cap:
                    counts[etype] = int(inc)
                else:  # space-saving eviction
                    victim = min(counts, key=lambda t: (counts[t], t))
                    floor = counts.pop(victim)
                    counts[etype] = floor + int(inc)
                    self._counts.removeKey((victim,))
        if not counts:
            # every event in this batch had NULL event_type (dropped
            # by value_counts) and no prior state: the batch twin and
            # oracle filter such users out entirely, so emitting a
            # (user, [], [], 0) row here would break parity
            return
        for etype, c in counts.items():
            self._counts.updateValue((etype,), (c,))
        top = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[: self._k]
        # space-saving conserves mass: counter sum == events observed,
        # so total_events is exact even past capacity — and it gives
        # the parity test a monotone "which update is final" marker.
        yield pd.DataFrame(
            {
                "user_id": [user_id],
                "top_types": [[t for t, _ in top]],
                "top_counts": [[c for _, c in top]],
                "total_events": [sum(counts.values())],
            }
        )

    def close(self) -> None:
        pass


def type_topk_stream(
    events: DataFrame, k: int = TOPK_K, capacity: int = TOPK_CAPACITY
) -> DataFrame:
    """Streaming per-user top-``k`` event types (update mode)."""
    return events.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=TypeTopKProcessor(k, capacity),
        outputStructType=TOPK_OUT_SCHEMA,
        outputMode="Update",
        timeMode="None",
    )


def user_type_topk(events: DataFrame, k: int = TOPK_K) -> DataFrame:
    """Batch twin: exact per-user top-``k`` event types by count,
    ties broken alphabetically — what the stream's final update equals
    while ``capacity`` ≥ the type cardinality. NULL event_type rows
    are excluded up front, mirroring the stream processor (pandas
    value_counts drops them) and the oracle's WHERE — without the
    filter, total_events would count rows the type counters never
    see, and Spark/DuckDB disagree on NULL's sort position in ties.

    One scan: totals come from a whole-partition window sum over the
    per-(user, type) counts rather than a second pass over events, and
    both window functions share one ``partitionBy(user_id)`` exchange
    that the final groupBy then reuses — no join, no re-scan. Top-k
    itself stays a window ``row_number`` (spill-friendly per-partition
    sort) rather than a per-user ``collect_list`` so a user with a
    huge type cardinality never materializes one giant array row."""
    counts = (
        events.filter(F.col("event_type").isNotNull())
        .groupBy("user_id", "event_type")
        .agg(F.count("*").alias("cnt"))
    )
    w = Window.partitionBy("user_id").orderBy(
        F.col("cnt").desc(), F.col("event_type")
    )
    ranked = (
        counts.withColumn("rn", F.row_number().over(w))
        .withColumn(
            "total_events",
            F.sum("cnt").over(Window.partitionBy("user_id")),
        )
        .filter(F.col("rn") <= k)
    )
    return ranked.groupBy("user_id").agg(
        F.transform(
            F.array_sort(
                F.collect_list(F.struct("rn", "event_type", "cnt"))
            ),
            lambda s: s["event_type"],
        ).alias("top_types"),
        F.transform(
            F.array_sort(
                F.collect_list(F.struct("rn", "event_type", "cnt"))
            ),
            lambda s: s["cnt"],
        ).alias("top_counts"),
        F.first("total_events").alias("total_events"),
    )


def q_user_type_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return user_type_topk(tbl(spark, sf_dir, "events")).orderBy("user_id")


ORACLES: dict[str, str] = {
    "recent_values": f"""
        WITH ranked AS (
            SELECT user_id, ts, event_id, value,
                   row_number() OVER (PARTITION BY user_id
                                      ORDER BY ts DESC, event_id DESC) AS rn
            FROM events
        )
        SELECT user_id,
               CAST(count(*) AS INT) AS n_recent,
               list(round(value, 2) ORDER BY ts, event_id)
                   AS recent_values,
               max(ts) AS last_ts
        FROM ranked
        WHERE rn <= {RECENT_N}
        GROUP BY user_id
        ORDER BY user_id
    """,
    "user_type_topk": f"""
        WITH counts AS (
            SELECT user_id, event_type, count(*) AS cnt
            FROM events
            WHERE event_type IS NOT NULL
            GROUP BY user_id, event_type
        ),
        ranked AS (
            SELECT *, row_number() OVER (PARTITION BY user_id
                                         ORDER BY cnt DESC, event_type)
                          AS rn
            FROM counts
        ),
        totals AS (
            -- derived from counts, not a second events scan, so the
            -- NULL-event_type exclusion applies identically
            SELECT user_id, CAST(sum(cnt) AS BIGINT) AS total_events
            FROM counts
            GROUP BY user_id
        )
        SELECT ranked.user_id,
               list(event_type ORDER BY rn) AS top_types,
               list(cnt ORDER BY rn) AS top_counts,
               any_value(total_events) AS total_events
        FROM ranked JOIN totals USING (user_id)
        WHERE rn <= {TOPK_K}
        GROUP BY ranked.user_id
        ORDER BY ranked.user_id
    """,
}

QUERIES = {
    "recent_values": q_recent_values,
    "user_type_topk": q_user_type_topk,
}
