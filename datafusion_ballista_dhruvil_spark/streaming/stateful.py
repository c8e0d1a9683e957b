"""Custom stateful streaming operator: gap-based sessionization with
``applyInPandasWithState`` (the brief's canonical custom-operator shape).

The batch form of the same operator lives in streaming/events.py
(ev_sessionize: lag -> flag -> running sum). This is the *incremental* form:
state per user carries (current session id, last event ts, event count,
session start) across micro-batches, emitting one row per CLOSED session
when the 30-minute gap elapses, plus final sessions on timeout.

Scale posture: state is keyed by user_id — shuffled once to group keys onto
executors, then state lives in the state store (RocksDB-backed on a real
cluster). Arrow batches in/out; no row-at-a-time Python.

The reference engine is batch-only (SURVEY.md §1.1), so this operator is
beyond-reference capability.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

SESSION_GAP_US = 30 * 60 * 1_000_000

#: Production state-store posture: RocksDB keeps per-key state off-heap and
#: spills to local disk, so state size is bounded by disk not executor heap —
#: required once keyed state outgrows memory (changelog checkpointing keeps
#: commit cost proportional to the delta, not the store size). rocksdbjni
#: ships with this Spark build; verified against the HDFS-backed default in
#: tests/test_stateful_streaming.py.
ROCKSDB_STATE_CONF = {
    "spark.sql.streaming.stateStore.providerClass": (
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    ),
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled": "true",
}

OUTPUT_SCHEMA = (
    "user_id bigint, session_start_us bigint, session_end_us bigint, n_events bigint"
)
STATE_SCHEMA = "session_start_us bigint, last_us bigint, n_events bigint"


def sessionize_stateful(events: DataFrame, idle_timeout_ms: int | None = None) -> DataFrame:
    """Apply per-user sessionization over a (possibly streaming) DataFrame
    with columns (user_id, ts). Emits closed sessions.

    ``idle_timeout_ms``: in production, set (e.g. 3_600_000) so idle users'
    final sessions are force-closed via ProcessingTimeTimeout. Left off by
    default because a pending timeout keeps an AvailableNow backfill query
    alive past its data (it waits wall-clock time to fire) — for backfills,
    closed sessions are the complete answer.
    """

    def fn(
        key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        if state.hasTimedOut:
            if state.exists:
                start, last, n = state.get
                state.remove()
                yield pd.DataFrame(
                    {
                        "user_id": [user_id],
                        "session_start_us": [start],
                        "session_end_us": [last],
                        "n_events": [n],
                    }
                )
            return

        ts_list: list[int] = []
        for pdf in pdfs:
            ts_list.extend(int(v) for v in pdf["ts_us"])
        ts_list.sort()

        start, last, n = state.get if state.exists else (None, None, 0)
        closed: list[tuple[int, int, int]] = []
        for ts in ts_list:
            if last is None:
                start, last, n = ts, ts, 1
            elif ts - last > SESSION_GAP_US:
                closed.append((start, last, n))
                start, last, n = ts, ts, 1
            else:
                last, n = ts, n + 1
        state.update((start, last, n))
        if idle_timeout_ms is not None:
            state.setTimeoutDuration(idle_timeout_ms)

        if closed:
            yield pd.DataFrame(
                {
                    "user_id": [user_id] * len(closed),
                    "session_start_us": [c[0] for c in closed],
                    "session_end_us": [c[1] for c in closed],
                    "n_events": [c[2] for c in closed],
                }
            )

    keyed = events.select("user_id", F.unix_micros(F.col("ts")).alias("ts_us"))
    return keyed.groupBy("user_id").applyInPandasWithState(
        fn,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=(
            GroupStateTimeout.ProcessingTimeTimeout
            if idle_timeout_ms is not None
            else GroupStateTimeout.NoTimeout
        ),
    )


def stream_sessionize(
    spark: SparkSession, sf_dir: str, user_limit: int | None = None
) -> DataFrame:
    """readStream form over the events parquet (AvailableNow-compatible).

    ``user_limit`` pre-filters users — pushed into the scan, it bounds the
    per-key Python group count (each user is one Arrow batch round-trip; at
    local test scale that overhead, not data volume, dominates).
    """
    from datafusion_ballista_dhruvil_spark.session import stream_events

    events = stream_events(spark, sf_dir)
    if user_limit is not None:
        events = events.where(F.col("user_id") < user_limit)
    return sessionize_stateful(events)
