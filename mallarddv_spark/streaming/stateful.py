"""Custom stateful streaming operators via ``applyInPandasWithState``.

Structured Streaming's built-in aggregations cover windowed counts; custom
per-key state machines (session carriers, dedup caches) need the
arbitrary-state API. The pattern here — Arrow-batched pandas
per key-group, explicit GroupState handle, update-mode output — is the
production shape; swap the state transition function for any per-key logic.

At scale: state lives in the state store (RocksDB on executors), partitioned
by the grouping key — uniform hash keys again mean no hot state partitions.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    LongType,
    StructField,
    StructType,
    TimestampType,
)

SESSION_OUTPUT = StructType(
    [
        StructField("user_id", LongType()),
        StructField("session_start", TimestampType()),
        StructField("session_end", TimestampType()),
        StructField("n_events", LongType()),
    ]
)

# open session carried across micro-batches: (start_us, end_us, n_events)
SESSION_STATE = StructType(
    [
        StructField("start_us", LongType()),
        StructField("end_us", LongType()),
        StructField("n_events", LongType()),
    ]
)

_GAP_US = 30 * 60 * 1_000_000  # 30-minute session gap


def _sessionize(key, batches: Iterator[pd.DataFrame], state: GroupState):
    """Close sessions whose gap elapsed; carry the open session in state.

    Events may span micro-batches: the open session from state is stitched
    to the front of this batch's (sorted) events. All sessions except the
    last are closed and emitted; the last stays open in state. (A
    production variant adds EventTimeTimeout to flush idle users; the
    session algebra is identical.)
    """
    (user_id,) = key
    ts_us: list[int] = []
    for pdf in batches:
        ts_us.extend(int(t.value // 1_000) for t in pd.to_datetime(pdf["ts"]))
    ts_us.sort()
    if not ts_us:
        return
    sessions = []
    if state.exists:
        start, end, n = state.get
    else:
        start, end, n = ts_us[0], ts_us[0], 0
        n = 1
        ts_us = ts_us[1:]
    for t in ts_us:
        if t - end > _GAP_US:
            sessions.append((start, end, n))
            start, end, n = t, t, 1
        else:
            # cross-batch stitch may see an event older than the open
            # session (no watermark in this variant): widen the interval
            # instead of moving its end backwards
            start, end, n = min(start, t), max(end, t), n + 1
    state.update((start, end, n))
    if sessions:
        yield pd.DataFrame(
            {
                "user_id": user_id,
                "session_start": [pd.Timestamp(s, unit="us") for s, _, _ in sessions],
                "session_end": [pd.Timestamp(e, unit="us") for _, e, _ in sessions],
                "n_events": [n for _, _, n in sessions],
            }
        )


def sessionize_stream(events: DataFrame) -> DataFrame:
    """Streaming gaps-and-islands sessionization with cross-batch state:
    emits each user's *closed* sessions (30-minute gap); the open tail
    session rides in group state until a later event closes it."""
    from mallarddv_spark.streaming.event_time import ensure_event_time

    return (
        ensure_event_time(events, "ts")
        .groupBy("user_id")
        .applyInPandasWithState(
            _sessionize,
            outputStructType=SESSION_OUTPUT,
            stateStructType=SESSION_STATE,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
