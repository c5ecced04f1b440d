"""Custom stateful streaming operator via ``applyInPandasWithState``.

``session_window``/window aggs cover the built-in stateful shapes; this is
the escape hatch for operator state Spark doesn't provide natively. The
demo operator maintains per-user running stats — event count, first event
id, last event time — as explicit group state across micro-batches.

Determinism contract: every state component is order-independent
(count/min/max are commutative+associative), so the FINAL state is
identical for any micro-batch partitioning of the input; emissions are
cumulative snapshots, and the latest emission per key (the one with the
max count) IS the batch answer. That makes the operator verifiable
against a plain GROUP BY oracle even though it runs through the real
streaming state store.

Scale notes: state is shuffled by the grouping key into the state store
(RocksDB in production), so state size is O(distinct keys), not O(rows);
the pandas function receives Arrow batches per key group — no per-row
Python.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

STATS_SCHEMA = "user_id bigint, n_events bigint, first_event_id bigint, last_ts_us bigint"
_STATE_SCHEMA = "count bigint, min_id bigint, max_ts_us bigint"


def stateful_user_stats(stream: DataFrame) -> DataFrame:
    """Running per-user stats as explicit group state (update mode).

    The update function is a nested closure (not a module-level function)
    so cloudpickle serializes it BY VALUE: executor Python workers don't
    need this package on their import path — the driver may import this
    repo from an arbitrary cwd without shipping it via addPyFile. It must
    reference only closure vars, builtins, and worker-importable modules
    (pandas).
    """

    def update_user_stats(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        count, min_id, max_ts = state.get if state.exists else (0, None, None)
        for pdf in pdfs:
            count += len(pdf)
            batch_min = int(pdf["event_id"].min())
            batch_max = int(pdf["ts_us"].max())
            min_id = batch_min if min_id is None else min(min_id, batch_min)
            max_ts = batch_max if max_ts is None else max(max_ts, batch_max)
        state.update((count, min_id, max_ts))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [count],
                "first_event_id": [min_id],
                "last_ts_us": [max_ts],
            }
        )

    events = stream.select(
        "user_id", "event_id", F.unix_micros(F.col("ts")).alias("ts_us")
    )
    return events.groupBy("user_id").applyInPandasWithState(
        update_user_stats,
        outputStructType=STATS_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def finalize_user_stats(emissions: DataFrame) -> DataFrame:
    """Collapse cumulative emissions to each key's final state.

    Counts increase monotonically per key, and min/max move monotonically,
    so max/min across emissions equals the last (final) snapshot."""
    return emissions.groupBy("user_id").agg(
        F.max("n_events").alias("n_events"),
        F.min("first_event_id").alias("first_event_id"),
        F.timestamp_micros(F.max("last_ts_us")).alias("last_ts"),
    )
