"""Spark 4 `transformWithStateInPandas`: per-user lifetime aggregate.

The modern stateful-processing API (SPARK-49564 "transformWithState"),
successor to `applyInPandasWithState` (which sessionize.py uses):
typed named state cells (value/list/map) instead of one opaque tuple,
per-key timers, and state TTL — the building blocks of a
feature-store-style streaming aggregate.

Operator here: a running per-user lifetime value — event count, value
sum, last-seen timestamp — updated each micro-batch, emitted in update
mode. The Arrow-batched Pandas path keeps per-batch work vectorized;
state is O(1) per user (three scalars), so a 1000-executor cluster
holds billions of keys in the state store without pressure.

Parity contract (tests/test_streaming.py): after streaming N
micro-batches, the LAST emitted row per user equals the batch
groupBy aggregate over the same events — the same twin discipline as
sessionize/dedup/windowed counts.

Environment gate: `transformWithStateInPandas` runs a Python
state-server whose wire protocol needs `google.protobuf`, and it
requires the RocksDB state-store provider
(`spark.sql.streaming.stateStore.providerClass =
...state.RocksDBStateStoreProvider`). This container ships pyspark
without protobuf, but the public Google Cloud SDK on the image vendors
a pure-Python protobuf 6.32 runtime; `tools/protobuf_shim` (enabled
automatically by tests/conftest.py when no real protobuf is
installed) routes `google.protobuf` to it, so the execution parity
test RUNS here. The
`pytest.importorskip` guard remains for environments with neither a
protobuf install nor the SDK. The production-semantics twin
`applyInPandasWithState` path (sessionize.py) is exercised
independently of the shim.
"""

from __future__ import annotations

from typing import TYPE_CHECKING, Any, Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.stateful_processor import (
    StatefulProcessor,
    StatefulProcessorHandle,
)

if TYPE_CHECKING:  # pragma: no cover
    import pandas as pd

#: Emitted schema — also the batch twin's output schema.
OUTPUT_SCHEMA = (
    "user_id long, n_events long, total_value double, last_seen timestamp"
)

#: State cell: three scalars per user. last_seen_us is epoch micros —
#: timestamps cross the Arrow state boundary more portably as int64.
STATE_SCHEMA = "n long, v double, last_seen_us long"


class LifetimeValueProcessor(StatefulProcessor):
    """Running (count, sum, max-ts) per user via a single ValueState."""

    def init(self, handle: StatefulProcessorHandle) -> None:
        self._agg = handle.getValueState("agg", STATE_SCHEMA)

    def handleInitialState(
        self, key: Any, initialState: Any, timerValues: Any
    ) -> None:
        """Bootstrap: seed this key's state from a batch backfill row
        (same columns as the batch twin) before any stream input —
        the backfill-then-stream deployment pattern. Called once per
        key present in the ``initial_state`` DataFrame."""
        import pandas as pd

        row = (
            initialState.iloc[0]
            if hasattr(initialState, "iloc")
            else initialState
        )
        self._agg.update(
            (
                int(row["n_events"]),
                float(row["total_value"]),
                int(pd.Timestamp(row["last_seen"]).value // 1_000),
            )
        )

    def handleInputRows(
        self, key: Any, rows: Iterator["pd.DataFrame"], timerValues: Any
    ) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        (user_id,) = key
        n, v, last_us = (
            self._agg.get() if self._agg.exists() else (0, 0.0, None)
        )
        for pdf in rows:
            n += len(pdf)
            v += float(pdf["value"].sum())
            # pandas timestamps arrive ns-resolution; keep micros.
            batch_max_us = int(pdf["ts"].max().value // 1_000)
            last_us = (
                batch_max_us if last_us is None else max(last_us, batch_max_us)
            )
        self._agg.update((n, v, last_us))
        # HALF-UP away from zero like the batch twin's F.round —
        # Python round() is banker's and diverges on .xx5 tie sums
        from wd2duckdb_spark.streaming.typed_state import _round2

        yield pd.DataFrame(
            {
                "user_id": [user_id],
                "n_events": [n],
                "total_value": [_round2(v)],
                "last_seen": [pd.Timestamp(last_us, unit="us")],
            }
        )

    def close(self) -> None:
        pass


def lifetime_value_stream(
    events: DataFrame, initial_state: DataFrame | None = None
) -> DataFrame:
    """Streaming per-user lifetime aggregate (update mode).

    `events` is a streaming DataFrame with (user_id, ts, value).
    TimeMode "none": the aggregate is pure accumulation — no
    watermark-driven eviction; add `ttlDurationMs` on the state cell
    when keys churn (e.g. anonymous sessions) to bound the store.

    ``initial_state``: an optional BATCH DataFrame with columns
    (user_id, n_events, total_value, last_seen) that seeds the state
    store on the first micro-batch (``handleInitialState``) — run
    :func:`lifetime_value_seed` (the UNROUNDED aggregate; seeding the
    2-dp-rounded :func:`lifetime_value_batch` output would bake a
    rounding error into every later emission) over the historical
    corpus once, then stream the live tail; the parity contract
    becomes history + stream == batch over the union. The seed ships
    through the state-server once per key and never re-reads history.
    """
    return events.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=LifetimeValueProcessor(),
        outputStructType=OUTPUT_SCHEMA,
        outputMode="Update",
        timeMode="None",
        initialState=(
            None if initial_state is None else initial_state.groupBy("user_id")
        ),
    )


def lifetime_value_batch(events: DataFrame) -> DataFrame:
    """Batch twin: what the stream's final update per user must equal."""
    return events.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 2).alias("total_value"),
        F.max("ts").alias("last_seen"),
    )


def lifetime_value_seed(events: DataFrame) -> DataFrame:
    """UNROUNDED backfill seed for ``lifetime_value_stream(
    initial_state=...)``. Not :func:`lifetime_value_batch`: that twin
    rounds total_value to 2 dp for presentation, and seeding state
    with a rounded running sum bakes a ±0.005 error into every
    subsequent emission (round(round(a,2)+b,2) ≠ round(a+b,2)).
    Rounding belongs at emission only; state carries the exact sum."""
    return events.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.sum("value").alias("total_value"),
        F.max("ts").alias("last_seen"),
    )


def q_lifetime_value(spark, sf_dir: str) -> DataFrame:
    from wd2duckdb_spark.catalog import tbl

    return lifetime_value_batch(tbl(spark, sf_dir, "events")).orderBy(
        "user_id"
    )


ORACLES: dict[str, str] = {
    "lifetime_value": """
        SELECT user_id,
               count(*) AS n_events,
               round(sum(value), 2) AS total_value,
               max(ts) AS last_seen
        FROM events
        GROUP BY user_id
        ORDER BY user_id
    """,
}

QUERIES = {
    "lifetime_value": q_lifetime_value,
}
