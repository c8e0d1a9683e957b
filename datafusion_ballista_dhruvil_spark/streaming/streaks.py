"""Per-user activity-streak tracking on Spark 4's ``transformWithState``
API (StatefulProcessor) — the successor to ``applyInPandasWithState`` with
named, schema'd state variables, timers, and TTL.

This is the incremental form of ev_activity_streaks (streaming/events.py):
state per user carries (last active day, current streak, best streak,
active-day count) across micro-batches; each batch emits the user's
updated streak row. The module exists alongside stateful.py's
applyInPandasWithState sessionizer so BOTH stateful-operator APIs this
Spark generation supports are exercised against a batch oracle
(tests/test_stateful_streaming.py::test_transform_with_state_streaks).

Scale posture: identical to any keyed stateful op — one shuffle onto the
state store's key space, RocksDB-backed state off-heap in production
(ROCKSDB_STATE_CONF in stateful.py applies unchanged), Arrow-batched
per-key input. State is three longs per user — the smallest possible
footprint for this metric.

The reference engine is batch-only (SURVEY.md §1.1); beyond-reference.
"""

from __future__ import annotations

from typing import TYPE_CHECKING

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.stateful_processor import (
    StatefulProcessor,
    StatefulProcessorHandle,
)

if TYPE_CHECKING:  # pragma: no cover
    from collections.abc import Iterator

OUTPUT_SCHEMA = "user_id bigint, best_streak bigint, cur_streak bigint, n_active_days bigint"
_STATE_SCHEMA = "last_day long, cur long, best long, days long"


class StreakProcessor(StatefulProcessor):
    """Value-state streak tracker: consecutive-day runs per user."""

    def init(self, handle: StatefulProcessorHandle) -> None:
        self._state = handle.getValueState("streak", _STATE_SCHEMA)

    def handleInputRows(self, key, rows, timerValues):
        days: set[int] = set()
        for pdf in rows:
            days.update(int(d) for d in pdf["day_no"])
        if self._state.exists():
            last_day, cur, best, ndays = self._state.get()
        else:
            last_day, cur, best, ndays = -(10**15), 0, 0, 0
        # late/duplicate days at-or-before the watermark of processed days
        # are no-ops: the batch oracle counts each calendar day once
        for d in sorted(days):
            if d <= last_day:
                continue
            cur = cur + 1 if d == last_day + 1 else 1
            best = max(best, cur)
            ndays += 1
            last_day = d
        self._state.update((last_day, cur, best, ndays))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "best_streak": [best],
                "cur_streak": [cur],
                "n_active_days": [ndays],
            }
        )

    def close(self) -> None:  # pragma: no cover - nothing to release
        pass


def stream_user_streaks(
    spark: SparkSession, sf_dir: str, user_limit: int | None = None
) -> DataFrame:
    """readStream form over the events parquet (AvailableNow-compatible):
    distinct (user, epoch-day) rows into the streak processor."""
    from datafusion_ballista_dhruvil_spark.session import stream_events

    events = stream_events(spark, sf_dir)
    if user_limit is not None:
        events = events.where(F.col("user_id") < user_limit)
    keyed = events.select(
        "user_id", F.expr("unix_micros(ts) div 86400000000").alias("day_no")
    )
    return keyed.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=StreakProcessor(),
        outputStructType=OUTPUT_SCHEMA,
        outputMode="append",
        timeMode="none",
    )
