"""Event-stream analytics over the ``events`` table.

The reference is batch-only (SURVEY.md §1.1: every Ballista plan is
ExecutionMode::Bounded), so these operators EXCEED its surface. Each is
written as a plain DataFrame transformation on an unbounded-compatible shape:
``build_*`` functions accept either a batch DataFrame or a readStream
DataFrame — the tumbling aggregation runs identically under Structured
Streaming with a watermark (see ``stream_tumbling_counts`` and
tests/test_streaming.py which asserts stream==batch).

Scale posture: tumbling windows shuffle on (window, event_type) — bounded
cardinality; sessionization shuffles once on user_id and then runs
window-function passes within each user partition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from datafusion_ballista_dhruvil_spark.functions.compat import dsum
from datafusion_ballista_dhruvil_spark.operators.registry import query
from datafusion_ballista_dhruvil_spark.operators.scale import cached, top_k
from datafusion_ballista_dhruvil_spark.session import Tables, local_frame, stream_events

SESSION_GAP_US = 30 * 60 * 1_000_000  # 30 min


def build_tumbling_counts(events: DataFrame) -> DataFrame:
    """Hourly tumbling window per event_type — identical code batch/stream."""
    return (
        events.groupBy(
            F.window("ts", "1 hour").alias("w"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum(F.col("value").cast("decimal(18,6)")).alias("total_value"),
            F.approx_count_distinct("user_id").alias("approx_users"),
        )
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events", "total_value", "approx_users")
    )


def stream_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream variant with a watermark for late data; run it with
    Trigger.AvailableNow for batch-equivalent backfill (tests assert
    stream == batch)."""
    events = stream_events(spark, sf_dir)
    return build_tumbling_counts(events.withWatermark("ts", "2 hours"))


def stream_dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact deduplication with bounded state:
    ``dropDuplicatesWithinWatermark`` keeps each key only until the
    watermark passes it, so state size tracks the late-data horizon instead
    of growing with the stream — the posture a 100 TB/day ingest needs
    (plain ``dropDuplicates`` on a stream retains every key forever).

    The input doubles every event (self-union) to guarantee duplicates;
    output must equal the distinct batch input. Batch counterpart of the
    same operator family: dedup_exact (operators/dedup.py).
    """
    events = stream_events(spark, sf_dir)
    doubled = events.union(events)
    return doubled.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def build_click_purchase_join(events: DataFrame) -> DataFrame:
    """Inner interval join: each purchase attributed to same-user clicks in
    the preceding hour — identical code batch/stream."""
    clicks = events.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    purchases = events.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
    )
    return purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 1 HOUR")),
    ).select("p_user", "purchase_id", "purchase_ts", "click_id", "click_ts")


def stream_click_purchase_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STREAM interval join (the hardest streaming operator shape):
    both sides watermarked, the time-range predicate bounds how long each
    side's state is retained — click state expires 1 hour + watermark past
    its event time, so state size tracks the join horizon, not the stream.

    Spark plans this as StreamingSymmetricHashJoin; batch parity is asserted
    in tests/test_streaming.py (same build function on the batch table).
    """
    events = stream_events(spark, sf_dir)
    return build_click_purchase_join(events.withWatermark("ts", "2 hours"))


# --------------------------------------------------------------------------
@query(
    "ev_tumbling_window",
    oracle="""
SELECT strftime(date_trunc('hour', CAST(ts AS TIMESTAMP)), '%Y-%m-%d %H:%M:%S')
         AS window_start, event_type,
  COUNT(*) AS n_events,
  CAST(round(SUM(CAST(value AS DECIMAL(18,6))), 4) AS DOUBLE) AS total_value
FROM events
GROUP BY 1, 2
ORDER BY window_start, event_type
""",
)
def ev_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly tumbling aggregation (streaming-window semantics on batch;
    the same build runs under readStream — see stream_tumbling_counts).
    window_start renders as an ISO string at the harness boundary (ISO
    strings sort identically to the timestamps they render)."""
    t = Tables(spark, sf_dir)
    return (
        build_tumbling_counts(t.events)
        .drop("approx_users")  # sketch values are engine-specific
        .withColumn(
            "window_start", F.date_format("window_start", "yyyy-MM-dd HH:mm:ss")
        )
        .orderBy("window_start", "event_type")
    )


# --------------------------------------------------------------------------
@query(
    "ev_rollup_multires",
    oracle="""
WITH minute_agg AS (
  SELECT date_trunc('minute', CAST(ts AS TIMESTAMP)) AS m, event_type,
         COUNT(*) AS n, CAST(round(SUM(CAST(value AS DECIMAL(18,6))), 4) AS DOUBLE) AS v
  FROM events GROUP BY 1, 2
)
SELECT strftime(CAST(date_trunc('day', m) AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS day,
       strftime(date_trunc('hour', m), '%Y-%m-%d %H:%M:%S') AS hour, event_type,
       CAST(SUM(n) AS BIGINT) AS n_events,
       CAST(round(SUM(CAST(v AS DECIMAL(27,4))), 4) AS DOUBLE) AS total_value
FROM minute_agg
GROUP BY ROLLUP (CAST(date_trunc('day', m) AS TIMESTAMP), date_trunc('hour', m)),
         event_type
ORDER BY day NULLS FIRST, hour NULLS FIRST, event_type
""",
)
def ev_rollup_multires(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous-aggregate rollup: a fine-grain (minute)
    partial aggregate is the ONLY pass over raw events; hour/day/total
    grains are re-aggregated from the minute partials via ROLLUP.

    This is the scale pattern behind continuous aggregates: at 100 TB the
    minute partials are materialized incrementally (tumbling-window
    streaming agg writes them; see build_tumbling_counts) and every coarser
    resolution reads partials, never raw data. Decimal partials stay exact
    under re-aggregation, so the two-level rollup is oracle-identical to a
    direct aggregate.
    """
    t = Tables(spark, sf_dir)
    minute_agg = (
        t.events.groupBy(
            F.date_trunc("minute", F.col("ts")).alias("m"), "event_type"
        ).agg(
            F.count(F.lit(1)).alias("n"),
            dsum(F.col("value").cast("decimal(18,6)")).alias("v"),
        )
    )
    # dsum surfaces exact scale-4 decimals as doubles, so the cast back to
    # DECIMAL(27,4) is lossless and the re-aggregation stays exact
    return spark.sql(
        """
        SELECT date_format(date_trunc('day', m), 'yyyy-MM-dd HH:mm:ss') AS day,
               date_format(date_trunc('hour', m), 'yyyy-MM-dd HH:mm:ss') AS hour,
               event_type, SUM(n) AS n_events,
               CAST(CAST(SUM(CAST(v AS DECIMAL(27,4))) AS DECIMAL(38,4)) AS DOUBLE)
                 AS total_value
        FROM {minute_agg}
        GROUP BY event_type, ROLLUP (date_trunc('day', m), date_trunc('hour', m))
        ORDER BY day NULLS FIRST, hour NULLS FIRST, event_type
        """,
        minute_agg=minute_agg,
    )


# --------------------------------------------------------------------------
@query(
    "ev_session_window",
    oracle=f"""
WITH ordered AS (
  SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
    lag(epoch_us(CAST(ts AS TIMESTAMP))) OVER
      (PARTITION BY user_id ORDER BY epoch_us(CAST(ts AS TIMESTAMP)), event_id)
      AS prev_us
  FROM events WHERE user_id < 50
),
flagged AS (
  SELECT user_id, ts_us,
    CASE WHEN prev_us IS NULL OR ts_us - prev_us >= {SESSION_GAP_US} THEN 1 ELSE 0 END
      AS is_new
  FROM ordered
),
sessions AS (
  SELECT user_id, ts_us,
    SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts_us
                      ROWS UNBOUNDED PRECEDING) AS session_id
  FROM flagged
)
SELECT user_id, MIN(ts_us) AS session_start_us, MAX(ts_us) AS last_us,
       COUNT(*) AS n_events
FROM sessions GROUP BY user_id, session_id
ORDER BY user_id, session_start_us
""",
)
def ev_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native ``F.session_window`` sessionization — Spark's built-in
    gap-window operator (works identically under Structured Streaming with
    a watermark, where the manual lag/cumsum form cannot run).

    Boundary semantics differ from ev_sessionize by design: session_window
    windows are ``[ts, ts + gap)`` (end-exclusive), so an event exactly at
    ``prev + gap`` STARTS a new session; the oracle mirrors that with
    ``>= gap``. window.start == min event ts, so values align exactly.
    """
    t = Tables(spark, sf_dir)
    return (
        t.events.where(F.col("user_id") < 50)
        .groupBy("user_id", F.session_window("ts", "30 minutes").alias("sw"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.max(F.unix_micros("ts")).alias("last_us"),
        )
        .select(
            "user_id",
            F.unix_micros(F.col("sw.start")).alias("session_start_us"),
            "last_us",
            "n_events",
        )
        .orderBy("user_id", "session_start_us")
    )


# --------------------------------------------------------------------------
@query(
    "ev_sessionize",
    oracle=f"""
WITH ordered AS (
  SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
    lag(epoch_us(CAST(ts AS TIMESTAMP))) OVER
      (PARTITION BY user_id ORDER BY epoch_us(CAST(ts AS TIMESTAMP)), event_id)
      AS prev_us
  FROM events
),
flagged AS (
  SELECT user_id, event_id, ts_us,
    CASE WHEN prev_us IS NULL OR ts_us - prev_us > {SESSION_GAP_US} THEN 1 ELSE 0 END
      AS is_new
  FROM ordered
),
sessions AS (
  SELECT user_id, event_id, ts_us,
    SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                      ROWS UNBOUNDED PRECEDING) AS session_id
  FROM flagged
)
SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
       COUNT(*) AS n_events,
       CAST(floor((MAX(ts_us) - MIN(ts_us)) / 1000000) AS BIGINT) AS duration_sec
FROM sessions
WHERE user_id < 50
GROUP BY user_id, session_id
ORDER BY user_id, session_id
""",
)
def ev_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity): lag -> new-session flag
    -> running sum as session id -> per-session aggregates. The stateful-
    streaming equivalent is applyInPandasWithState; this is the batch/backfill
    form of the same operator."""
    t = Tables(spark, sf_dir)
    ts_us = F.unix_micros(F.col("ts"))
    w = Window.partitionBy("user_id").orderBy(ts_us, "event_id")
    wrun = w.rowsBetween(Window.unboundedPreceding, 0)
    flagged = t.events.where(F.col("user_id") < 50).select(
        "user_id",
        "event_id",
        ts_us.alias("ts_us"),
        F.when(
            F.lag(ts_us).over(w).isNull()
            | ((ts_us - F.lag(ts_us).over(w)) > SESSION_GAP_US),
            1,
        )
        .otherwise(0)
        .alias("is_new"),
    )
    sessions = flagged.withColumn(
        "session_id", F.sum("is_new").over(
            Window.partitionBy("user_id").orderBy("ts_us", "event_id").rowsBetween(
                Window.unboundedPreceding, 0
            )
        )
    )
    return (
        sessions.groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.floor((F.max("ts_us") - F.min("ts_us")) / 1_000_000)
            .cast("bigint")
            .alias("duration_sec"),
        )
        .select("user_id", F.col("session_id").cast("bigint").alias("session_id"), "n_events", "duration_sec")
        .orderBy("user_id", "session_id")
    )


# --------------------------------------------------------------------------
@query(
    "ev_date_bin",
    oracle="""
SELECT strftime(time_bucket(INTERVAL '15 minutes', CAST(ts AS TIMESTAMP)),
                '%Y-%m-%d %H:%M:%S') AS bin,
       COUNT(*) AS n
FROM events
WHERE user_id < 100
GROUP BY 1
ORDER BY bin
LIMIT 300
""",
)
def ev_date_bin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DATE_BIN parity (reference ScalarFunction::DateBin, datafusion.proto
    value 68): arbitrary-width time bucketing == F.window(ts, width).start
    (DuckDB spells it time_bucket)."""
    t = Tables(spark, sf_dir)
    return (
        t.events.where(F.col("user_id") < 100)
        .groupBy(F.window("ts", "15 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("bin"), "n"
        )
        .orderBy("bin")
        .limit(300)
    )


# --------------------------------------------------------------------------
@query(
    "ev_type_pivot",
    oracle="""
SELECT strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day,
  CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
  CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error,
  CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
  CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
  CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view
FROM events
GROUP BY 1
ORDER BY day
""",
)
def ev_type_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT: daily counts per event type as columns (groupBy().pivot() with
    explicit values so the plan stays single-pass)."""
    t = Tables(spark, sf_dir)
    return (
        t.events.select(F.date_format("ts", "yyyy-MM-dd").alias("day"), "event_type")
        .groupBy("day")
        .pivot("event_type", ["click", "error", "purchase", "signup", "view"])
        .count()
        .na.fill(0)
        .orderBy("day")
    )


# --------------------------------------------------------------------------
@query(
    "ev_gapfill_series",
    oracle="""
WITH RECURSIVE days(day) AS (
  SELECT (SELECT MIN(CAST(ts AS DATE)) FROM events)
  UNION ALL
  SELECT CAST(day + INTERVAL 1 DAY AS DATE) FROM days
  WHERE day < (SELECT MAX(CAST(ts AS DATE)) FROM events)
),
daily AS (
  SELECT CAST(ts AS DATE) AS day,
         COUNT(*) AS n_events,
         COUNT(DISTINCT user_id) AS n_users,
         round(SUM(value), 4) AS sv
  FROM events GROUP BY 1
)
SELECT strftime(d.day, '%Y-%m-%d') AS day,
       COALESCE(n_events, 0) AS n_events, COALESCE(n_users, 0) AS n_users,
       CAST(COALESCE(sv, 0) AS DOUBLE) AS total_value
FROM days d LEFT JOIN daily ON daily.day = d.day
ORDER BY d.day
""",
)
def ev_gapfill_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap filling: densify the daily series, zero-fill holes.

    The calendar axis comes from ONE pass — ``sequence(min_day, max_day)``
    over the global min/max, exploded — then left-joins the daily
    aggregate. Spark >= 4.0 can also express the axis with WITH RECURSIVE
    (the reference can't: SURVEY.md §2.2, its planner only inlines plain
    CTEs); that formulation is correctness-tested against this one in
    tests/test_pipeline_ops.py but NOT used here, because Spark executes
    recursive CTEs one UnionLoop iteration per job — ~180 ms x 30 days of
    fixed overhead for a 30-row axis (measured 5.5 s vs 0.3 s). The oracle
    keeps the recursive form (DuckDB recursion is in-process and free).

    Scale: the axis is bounded by the calendar, not the data, so its side
    of the join broadcasts; the heavy side is one groupBy(day) with
    map-side partials. Money math follows the dsum determinism contract
    (decimal partials, scale-4 surface).
    """
    t = Tables(spark, sf_dir)
    day = F.col("ts").cast("date")
    bounds = t.events.agg(
        F.min(day).alias("lo"), F.max(day).alias("hi")
    )
    days = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 DAY"))).alias("day")
    )
    daily = (
        t.events.groupBy(day.alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("user_id").alias("u"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("decimal(38,4)")
            .alias("sv"),
        )
    )
    return (
        days.join(daily, "day", "left")
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.coalesce("n", F.lit(0)).alias("n_events"),
            F.coalesce("u", F.lit(0)).alias("n_users"),
            F.coalesce(F.col("sv"), F.lit(0)).cast("double").alias("total_value"),
        )
        .orderBy("day")
    )


#: Spark-dialect recursive-CTE formulation of ev_gapfill_series — executed
#: by tests/test_pipeline_ops.py to prove the engine's WITH RECURSIVE
#: support end-to-end; see the docstring above for why the registered query
#: uses sequence() instead.
GAPFILL_RECURSIVE_SQL = """
WITH RECURSIVE days(day) AS (
  SELECT (SELECT MIN(CAST(ts AS DATE)) FROM gapfill_events_v)
  UNION ALL
  SELECT date_add(day, 1) FROM days
  WHERE day < (SELECT MAX(CAST(ts AS DATE)) FROM gapfill_events_v)
),
daily AS (
  SELECT CAST(ts AS DATE) AS day,
         COUNT(*) AS n_events,
         COUNT(DISTINCT user_id) AS n_users,
         CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DECIMAL(38,4)) AS sv
  FROM gapfill_events_v GROUP BY 1
)
SELECT date_format(d.day, 'yyyy-MM-dd') AS day,
       COALESCE(n_events, 0) AS n_events, COALESCE(n_users, 0) AS n_users,
       CAST(COALESCE(sv, 0) AS DOUBLE) AS total_value
FROM days d LEFT JOIN daily ON daily.day = d.day
ORDER BY d.day
"""


# --------------------------------------------------------------------------
@query(
    "ev_props_json",
    oracle="""
SELECT event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS DOUBLE)
         / COUNT(*) AS avg_k
FROM events
GROUP BY event_type
ORDER BY event_type
""",
)
def ev_props_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured payload extraction: pull ``$.k`` out of the JSON
    ``props`` column and aggregate per event type.

    ``get_json_object`` evaluates JVM-side inside whole-stage codegen — no
    Python, no UDF; the JSON parse happens once per row in the scan
    projection and only the extracted integer shuffles. At 100 TB this is
    the difference between re-parsing payload strings per aggregate and a
    narrow long column. avg is surfaced as exact integer-sum / count.
    """
    t = Tables(spark, sf_dir)
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        t.events.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("k").alias("sum_k"),
            (F.sum("k").cast("double") / F.count(F.lit(1))).alias("avg_k"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
@query(
    "ev_cohort_retention",
    oracle="""
WITH ev AS (
  SELECT user_id,
         CAST(date_trunc('week', CAST(ts AS TIMESTAMP)) AS DATE) AS wk
  FROM events
),
f AS (SELECT user_id, MIN(wk) AS cohort_wk FROM ev GROUP BY 1)
SELECT strftime(f.cohort_wk, '%Y-%m-%d') AS cohort_wk,
       date_diff('day', f.cohort_wk, ev.wk) // 7 AS week_offset,
       COUNT(DISTINCT ev.user_id) AS n_users
FROM ev JOIN f USING (user_id)
GROUP BY 1, 2
ORDER BY 1, 2
""",
)
def ev_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users grouped by first-activity week, counted in
    each subsequent week they return — the standard growth-analytics
    triangle.

    Two shuffles at scale, both on user_id: the first-seen aggregate and
    the self-join back to activity (co-partitioned, so AQE plans the join
    without a third exchange). The distinct-user count per (cohort, offset)
    partially dedupes map-side. Week bucketing is date_trunc (Monday-start
    in both engines); offsets are exact integer day arithmetic.
    """
    t = Tables(spark, sf_dir)
    ev = t.events.select(
        "user_id", F.to_date(F.date_trunc("week", "ts")).alias("wk")
    )
    first = ev.groupBy("user_id").agg(F.min("wk").alias("cohort_wk"))
    return (
        ev.join(first, "user_id")
        .select(
            "user_id",
            "cohort_wk",
            F.expr("datediff(wk, cohort_wk) div 7").alias("week_offset"),
        )
        .groupBy(
            F.date_format("cohort_wk", "yyyy-MM-dd").alias("cohort_wk"),
            "week_offset",
        )
        .agg(F.countDistinct("user_id").alias("n_users"))
        .orderBy("cohort_wk", "week_offset")
    )


# --------------------------------------------------------------------------
@query(
    "ev_funnel_stages",
    oracle="""
WITH m AS (
  SELECT user_id,
         MIN(CASE WHEN event_type = 'signup' THEN ts END) AS t_signup,
         MIN(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
         MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
  FROM events GROUP BY 1
),
c AS (
  SELECT
    CAST(COUNT(*) FILTER (t_signup IS NOT NULL) AS BIGINT) AS s1,
    CAST(COUNT(*) FILTER (t_signup IS NOT NULL AND t_click >= t_signup)
         AS BIGINT) AS s2,
    CAST(COUNT(*) FILTER (t_signup IS NOT NULL AND t_click >= t_signup
                          AND t_purchase >= t_click) AS BIGINT) AS s3
  FROM m
),
s AS (
  SELECT 1 AS stage_ord, 'signup' AS stage, s1 AS n_users FROM c
  UNION ALL SELECT 2, 'signup>click', s2 FROM c
  UNION ALL SELECT 3, 'signup>click>purchase', s3 FROM c
)
SELECT stage_ord, stage, n_users,
       CAST(n_users AS DOUBLE)
         / lag(n_users) OVER (ORDER BY stage_ord) AS conv_prev
FROM s ORDER BY stage_ord
""",
)
def ev_funnel_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel analysis on first occurrences: signup -> click -> purchase in
    strict timestamp order, with per-stage conversion vs the previous stage.

    The whole funnel is ONE pass over events: conditional MIN per stage in
    a single user_id groupBy (map-side partials), then the stage counts
    reduce to a single row — the unpivot to stage rows and the lag window
    run on 3 rows. First-occurrence ordering (min_click >= min_signup) is
    the deterministic strict-funnel metric; a per-path sequence match is the
    sessionization operators' job.
    """
    t = Tables(spark, sf_dir)
    ts_of = lambda et: F.min(F.when(F.col("event_type") == et, F.col("ts")))
    m = t.events.groupBy("user_id").agg(
        ts_of("signup").alias("t_signup"),
        ts_of("click").alias("t_click"),
        ts_of("purchase").alias("t_purchase"),
    )
    ok1 = F.col("t_signup").isNotNull()
    ok2 = ok1 & (F.col("t_click") >= F.col("t_signup"))
    ok3 = ok2 & (F.col("t_purchase") >= F.col("t_click"))
    c = m.agg(
        F.count(F.when(ok1, 1)).alias("s1"),
        F.count(F.when(ok2, 1)).alias("s2"),
        F.count(F.when(ok3, 1)).alias("s3"),
    )
    stages = c.select(
        F.expr(
            "stack(3, 1, 'signup', s1, 2, 'signup>click', s2,"
            " 3, 'signup>click>purchase', s3) AS (stage_ord, stage, n_users)"
        )
    )
    # unpartitioned window is safe here: input is the stack() of exactly
    # 3 already-aggregated funnel rows, not per-event data
    w = Window.orderBy("stage_ord")
    return stages.select(
        "stage_ord",
        "stage",
        "n_users",
        (F.col("n_users").cast("double") / F.lag("n_users").over(w)).alias(
            "conv_prev"
        ),
    ).orderBy("stage_ord")


# --------------------------------------------------------------------------
@query(
    "ev_props_variant",
    oracle="""
SELECT event_type,
  COUNT(*) AS n_events,
  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
  MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
  MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
FROM events
GROUP BY event_type
ORDER BY event_type
""",
)
def ev_props_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured payloads via the VARIANT type (Spark 4): parse_json
    once in the scan projection, typed variant_get extraction downstream.

    Where get_json_object re-parses the string per path (ev_props_json),
    VARIANT parses once into a binary-encoded value that any number of
    later extractions navigate without re-parsing — the open-table-format
    pattern for ingesting schemaless payloads at scale. Aggregates stay
    integer-exact.
    """
    t = Tables(spark, sf_dir)
    k = F.variant_get(F.parse_json("props"), "$.k", "long")
    return (
        t.events.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
@query(
    "ev_transition_matrix",
    oracle="""
WITH nxt AS (
  SELECT event_type,
         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS next_type
  FROM events
)
SELECT event_type, next_type,
       CAST(COUNT(*) AS BIGINT) AS n_transitions,
       CAST(COUNT(*) AS DOUBLE)
         / CAST(SUM(COUNT(*)) OVER (PARTITION BY event_type) AS DOUBLE)
         AS p_transition
FROM nxt WHERE next_type IS NOT NULL
GROUP BY event_type, next_type
ORDER BY event_type, next_type
""",
)
def ev_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event sequences:
    for each (event_type -> next event_type) pair, the transition count and
    the row-normalized probability.

    Path analysis is a staple of the reference's event workloads (session
    flows); the lead() formulation is ONE shuffle on user_id for the
    sequence step, and the transition aggregate is a tiny
    (n_types x n_types) relation, so the normalizing window costs nothing.
    Ties in ts break on event_id — a total order, so lead() is
    deterministic. The probability is one int/int IEEE division
    (engine-portable).
    """
    t = Tables(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    nxt = (
        t.events.select(
            "event_type", F.lead("event_type").over(w).alias("next_type")
        )
        .where(F.col("next_type").isNotNull())
    )
    wt = Window.partitionBy("event_type")
    agg = nxt.groupBy("event_type", "next_type").agg(
        F.count(F.lit(1)).alias("n_transitions")
    )
    return agg.select(
        "event_type",
        "next_type",
        "n_transitions",
        (
            F.col("n_transitions").cast("double")
            / F.sum("n_transitions").over(wt).cast("double")
        ).alias("p_transition"),
    ).orderBy("event_type", "next_type")


# --------------------------------------------------------------------------
@query(
    "ev_scd2_intervals",
    oracle="""
WITH o AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN lag(event_type) OVER w IS NULL
                   OR lag(event_type) OVER w <> event_type
              THEN 1 ELSE 0 END AS chg
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
r AS (
  SELECT user_id, ts, event_type,
         SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS UNBOUNDED PRECEDING) AS run_id
  FROM o
),
g AS (
  SELECT user_id, run_id, event_type,
         MIN(ts) AS valid_from,
         CAST(COUNT(*) AS BIGINT) AS n_events
  FROM r GROUP BY user_id, run_id, event_type
)
SELECT user_id, event_type,
       strftime(valid_from, '%Y-%m-%d %H:%M:%S.%f') AS valid_from,
       strftime(lead(valid_from) OVER (PARTITION BY user_id ORDER BY run_id),
                '%Y-%m-%d %H:%M:%S.%f') AS valid_to,
       n_events
FROM g ORDER BY user_id, valid_from
""",
)
def ev_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD-type-2 interval build (gaps-and-islands): collapse each user's
    consecutive runs of the same event_type into [valid_from, valid_to)
    intervals, valid_to = next run's start (NULL for the open current run).

    This is how a change-log becomes a slowly-changing dimension without
    MERGE support: a lag()-flag marks run starts, a running sum numbers the
    runs, and one groupBy collapses them. Everything partitions by user_id
    — a single hash shuffle reused by both windows AND the aggregate
    (Catalyst plans one Exchange), so the shape scales linearly with the
    event volume. Total order (ts, event_id) makes run numbering
    deterministic.
    """
    t = Tables(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    lagged = F.lag("event_type").over(w)
    chg = F.when(
        lagged.isNull() | (lagged != F.col("event_type")), 1
    ).otherwise(0)
    r = t.events.select(
        "user_id",
        "ts",
        "event_type",
        F.sum(chg).over(w.rowsBetween(Window.unboundedPreceding, 0)).alias(
            "run_id"
        ),
    )
    g = r.groupBy("user_id", "run_id", "event_type").agg(
        F.min("ts").alias("valid_from"),
        F.count(F.lit(1)).alias("n_events"),
    )
    wl = Window.partitionBy("user_id").orderBy("run_id")
    iso = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    return g.select(
        "user_id",
        "event_type",
        F.date_format("valid_from", iso).alias("valid_from"),
        F.date_format(F.lead("valid_from").over(wl), iso).alias("valid_to"),
        "n_events",
    ).orderBy("user_id", "valid_from")


# --------------------------------------------------------------------------
@query(
    "ev_anomaly_zscore",
    oracle="""
WITH daily AS (
  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
         CAST(datediff('day', DATE '1970-01-01',
                        CAST(date_trunc('day', ts) AS DATE)) AS BIGINT) AS d,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM events GROUP BY 1, 2, 3
),
stat AS (
  SELECT event_type, day, cnt,
         COUNT(*) OVER w AS n,
         SUM(cnt) OVER w AS s,
         SUM(cnt * cnt) OVER w AS ssq
  FROM daily
  WINDOW w AS (PARTITION BY event_type ORDER BY d
               RANGE BETWEEN 7 PRECEDING AND 1 PRECEDING)
)
SELECT event_type, strftime(day, '%Y-%m-%d') AS day, cnt,
       CAST(n AS BIGINT) AS n_prior,
       CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS mean_prior,
       CASE WHEN n * ssq - s * s > 0 THEN
         (CAST(cnt AS DOUBLE) - CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
           / sqrt(CAST(n * ssq - s * s AS DOUBLE)
                  / CAST(n * (n - 1) AS DOUBLE))
       END AS zscore,
       COALESCE(n * ssq - s * s > 0 AND abs(
         (CAST(cnt AS DOUBLE) - CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
           / sqrt(CAST(n * ssq - s * s AS DOUBLE)
                  / CAST(n * (n - 1) AS DOUBLE))) > 2.0, FALSE)
         AS is_anomaly
FROM stat WHERE n >= 5
ORDER BY event_type, day
""",
)
def ev_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-window anomaly detection: each (event_type, day) count is
    z-scored against the previous 7 days' counts (excluding today), flagging
    |z| > 2 once at least 5 prior days exist.

    The trailing frame is a RANGE over integer epoch-days, so calendar gaps
    widen the window correctly instead of silently sliding over them. All
    window accumulations are exact integer sums (count/sum/sum-of-squares);
    mean/variance/z are derived at the end through a fixed tree of
    correctly-rounded IEEE ops — the population stays integer until the
    final projection, so the result is engine-exact (no float accumulation
    order dependence). sd == 0 windows yield NULL z, not a division blowup.
    """
    t = Tables(spark, sf_dir)
    day = F.to_date(F.date_trunc("day", F.col("ts")))
    daily = (
        t.events.select(
            "event_type",
            day.alias("day"),
            F.datediff(day, F.lit("1970-01-01").cast("date"))
            .cast("long")
            .alias("d"),
        )
        .groupBy("event_type", "day", "d")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rangeBetween(-7, -1)
    )
    stat = daily.select(
        "event_type",
        "day",
        "cnt",
        F.count(F.lit(1)).over(w).alias("n"),
        F.sum("cnt").over(w).alias("s"),
        F.sum(F.col("cnt") * F.col("cnt")).over(w).alias("ssq"),
    ).where(F.col("n") >= 5)
    n, s, ssq, cnt = (F.col(c) for c in ("n", "s", "ssq", "cnt"))
    var_num = n * ssq - s * s
    mean = s.cast("double") / n.cast("double")
    z = (cnt.cast("double") - mean) / F.sqrt(
        var_num.cast("double") / (n * (n - 1)).cast("double")
    )
    return stat.select(
        "event_type",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "cnt",
        n.alias("n_prior"),
        mean.alias("mean_prior"),
        F.when(var_num > 0, z).alias("zscore"),
        F.coalesce((var_num > 0) & (F.abs(z) > 2.0), F.lit(False)).alias(
            "is_anomaly"
        ),
    ).orderBy("event_type", "day")


# --------------------------------------------------------------------------
def build_segment_value(events: DataFrame, user_dim: DataFrame) -> DataFrame:
    """Enrichment join (events x user dimension) + per-segment aggregate;
    runs identically on a batch or streaming events side.

    No broadcast hint on the dim: user dimensions at 100 TB event scale
    are billions of rows (VERDICT r5 #4), so the join strategy is left to
    the planner — AQE broadcasts at runtime when the dim actually fits,
    and falls back to a shuffle join when it doesn't, on both the batch
    and the per-micro-batch streaming plan."""
    return (
        events.join(user_dim, "user_id")
        .groupBy("segment")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum(F.col("value").cast("decimal(18,6)")).alias("total_value"),
        )
    )


def static_user_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic user dimension derived from the events table (distinct
    users, hash-bucketed into 5 segments) — stands in for the profile/dim
    table a production pipeline would join."""
    from datafusion_ballista_dhruvil_spark.session import Tables

    return (
        Tables(spark, sf_dir)
        .events.select("user_id")
        .distinct()
        .select("user_id", (F.col("user_id") % 5).alias("segment"))
    )


def stream_static_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STATIC join: the streaming side is enriched against a static
    (batch) dimension — Spark re-plans the static side per micro-batch
    and picks the join strategy from its measured size (broadcast when it
    fits, shuffle when it doesn't — the hint-free contract of
    build_segment_value). This is the standard enrichment shape (events x
    user/profile dim) of a production feature pipeline; batch parity
    asserted in tests/test_streaming.py.
    """
    events = stream_events(spark, sf_dir)
    return build_segment_value(events, static_user_dim(spark, sf_dir))


# --------------------------------------------------------------------------
@query(
    "ev_watermark_audit",
    oracle="""
WITH arr AS (
  SELECT event_id, CAST(ts AS TIMESTAMP) AS ts,
         max(CAST(ts AS TIMESTAMP)) OVER (
           ORDER BY event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS high_water
  FROM events
),
flagged AS (
  SELECT date_trunc('hour', ts) AS window_start,
         CASE WHEN ts < high_water - INTERVAL 2 HOUR THEN 1 ELSE 0 END AS is_late
  FROM arr
)
SELECT strftime(window_start, '%Y-%m-%d %H:%M:%S') AS window_start,
       count(*) AS n_events,
       CAST(sum(is_late) AS BIGINT) AS n_would_drop,
       CAST(sum(is_late) AS DOUBLE) / count(*) AS drop_rate
FROM flagged
GROUP BY window_start
ORDER BY window_start
""",
)
def ev_watermark_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark-lateness audit: replay the stream in arrival order
    (event_id) tracking the running max event-time (the high-watermark a
    streaming job would hold), and count per hourly window how many events
    arrive more than 2 hours behind it — a per-row UPPER-BOUND model of
    the rows ``withWatermark("ts", "2 hours")`` could drop (Spark's actual
    watermark advances only at micro-batch boundaries, from the previous
    batch's max across partitions, so the true drop count is at most this
    model's). This is how you SIZE a watermark before deploying the
    streaming job: pick the delay where the bound on drop_rate meets the
    SLA.

    The running max is a cumulative window over arrival order; on a real
    log the order key is the ingest offset per partition, making the
    window per-partition and shuffle-free. The audit aggregate itself is
    a low-cardinality groupBy (one row per hour).
    """
    from pyspark.sql.window import Window as W

    t = Tables(spark, sf_dir)
    w = W.orderBy("event_id").rowsBetween(W.unboundedPreceding, W.currentRow)
    arr = t.events.select(
        "event_id",
        "ts",
        F.max("ts").over(w).alias("high_water"),
    )
    flagged = arr.select(
        F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias(
            "window_start"
        ),
        F.when(
            F.col("ts") < F.col("high_water") - F.expr("INTERVAL 2 HOURS"), 1
        ).otherwise(0).alias("is_late"),
    )
    return (
        flagged.groupBy("window_start")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("is_late").cast("long").alias("n_would_drop"),
            (F.sum("is_late").cast("double") / F.count(F.lit(1))).alias("drop_rate"),
        )
        .orderBy("window_start")
    )


# --------------------------------------------------------------------------
@query(
    "ev_dau_wau_mau",
    oracle="""
WITH daily AS (
  SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
),
days AS (SELECT DISTINCT day FROM daily),
rolling AS (
  SELECT d.day,
         COUNT(DISTINCT CASE WHEN a.day = d.day THEN a.user_id END) AS dau,
         COUNT(DISTINCT CASE WHEN a.day > d.day - 7 THEN a.user_id END) AS wau,
         COUNT(DISTINCT a.user_id) AS mau
  FROM days d
  JOIN daily a ON a.day <= d.day AND a.day > d.day - 28
  GROUP BY d.day
)
SELECT strftime(day, '%Y-%m-%d') AS day, dau, wau, mau,
       CAST(dau AS DOUBLE) / mau AS stickiness
FROM rolling ORDER BY day
""",
)
def ev_dau_wau_mau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling distinct-user actives: DAU / WAU(7d) / MAU(28d) per day,
    plus the DAU/MAU stickiness ratio — the standard engagement panel.

    Rolling COUNT(DISTINCT) does not fit a window frame (distinct state
    is not mergeable across frame slides), so the scalable shape is:
    dedupe to (day, user) once — the only pass over raw events — then
    range-join that compact activity table to the day axis and count
    distincts per day. The day axis is calendar-bounded (broadcast); the
    activity table is |users| x |active days|, tiny vs the event log; the
    28x fan-out is bounded by the window length, not the data.
    """
    t = Tables(spark, sf_dir)
    daily = t.events.select(
        F.col("ts").cast("date").alias("day"), "user_id"
    ).distinct()
    days = daily.select("day").distinct()
    j = days.alias("d").join(
        daily.alias("a"),
        (F.col("a.day") <= F.col("d.day"))
        & (F.col("a.day") > F.date_sub(F.col("d.day"), 28)),
    )
    out = (
        j.groupBy(F.col("d.day").alias("day"))
        .agg(
            F.countDistinct(
                F.when(F.col("a.day") == F.col("d.day"), F.col("a.user_id"))
            ).alias("dau"),
            F.countDistinct(
                F.when(
                    F.col("a.day") > F.date_sub(F.col("d.day"), 7),
                    F.col("a.user_id"),
                )
            ).alias("wau"),
            F.countDistinct("a.user_id").alias("mau"),
        )
    )
    return out.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "dau",
        "wau",
        "mau",
        (F.col("dau").cast("double") / F.col("mau")).alias("stickiness"),
    ).orderBy("day")


# --------------------------------------------------------------------------
@query(
    "ev_hll_partition_merge",
    oracle="""
SELECT event_type,
       COUNT(DISTINCT CAST(ts AS DATE)) AS n_days,
       COUNT(DISTINCT user_id) AS exact_users,
       TRUE AS within_bound
FROM events
GROUP BY event_type
ORDER BY event_type
""",
)
def ev_hll_partition_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable HLL sketch rollup: build one Datasketches HLL sketch of
    distinct users PER (event_type, day), then union the daily sketches
    into a per-type total — estimating global distinct users WITHOUT ever
    revisiting raw rows.

    This is the pre-aggregation pattern that makes distinct counting
    tractable at 100 TB: raw events aggregate once into per-partition
    sketch bytes (a few KB per group however many rows feed them); any
    coarser rollup (weekly, all-time, cross-region) is a union of stored
    sketches. The reference's HLL (approx_distinct) can't merge across
    groups; Spark's hll_sketch_agg/hll_union_agg pair is built for it.

    Contract (ops_agg_approx pattern): sketch estimates are
    engine-specific, so the hashed columns are the EXACT distinct counts
    plus a ``within_bound`` boolean asserting the merged estimate lands
    within 3x the configured HLL relative standard error
    (lgConfigK=12 -> rse ~= 1.04/sqrt(4096) ~= 1.6%; bound 5%).
    """
    t = Tables(spark, sf_dir)
    ev = t.events.select(
        "event_type", F.to_date("ts").alias("day"), "user_id"
    )
    daily = ev.groupBy("event_type", "day").agg(
        F.hll_sketch_agg("user_id", F.lit(12)).alias("sk")
    )
    merged = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est"),
    )
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_users")
    )
    return (
        merged.join(exact, "event_type")
        .select(
            "event_type",
            "n_days",
            "exact_users",
            (
                F.abs(F.col("est") - F.col("exact_users"))
                <= 0.05 * F.col("exact_users")
            ).alias("within_bound"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
@query(
    "ev_attribution",
    oracle="""
WITH s AS (
  SELECT user_id, ts, event_id, event_type,
         last_value(CASE WHEN event_type IN ('click', 'view')
                         THEN event_type END IGNORE NULLS)
           OVER w AS src_type,
         last_value(CASE WHEN event_type IN ('click', 'view')
                         THEN epoch_us(ts) END IGNORE NULLS)
           OVER w AS src_us
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
p AS (
  SELECT user_id,
         CASE WHEN src_type IS NULL THEN 'organic'
              WHEN epoch_us(ts) - src_us > 604800000000 THEN 'organic'
              ELSE src_type END AS attributed_type,
         CASE WHEN src_type IS NOT NULL
               AND epoch_us(ts) - src_us <= 604800000000
              THEN (epoch_us(ts) - src_us) // 60000000 END AS gap_min
  FROM s WHERE event_type = 'purchase'
)
SELECT attributed_type,
       COUNT(*) AS n_purchases,
       COUNT(DISTINCT user_id) AS n_users,
       CAST(COALESCE(SUM(gap_min), 0) AS BIGINT) AS sum_gap_min,
       MAX(gap_min) AS max_gap_min
FROM p GROUP BY attributed_type ORDER BY attributed_type
""",
)
def ev_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch marketing attribution: each purchase is credited to the
    user's most recent click/view within a 7-day lookback, else 'organic'.

    A point-in-time (as-of) join expressed as ONE pass: all events sort
    into a per-user window once, `last(..., ignorenulls)` carries the most
    recent source event forward, and purchases read it off — no self-join,
    no per-purchase probe. The 7-day horizon and the gap are exact int64
    microsecond arithmetic (unix_micros/epoch_us agree across engines).

    Scale: single hash-shuffle on user_id + per-user sort — the same cost
    as sessionization; attribution output is a 3-row rollup. Skewed users
    bound the sort per key, not the whole stage.
    """
    t = Tables(spark, sf_dir)
    is_src = F.col("event_type").isin("click", "view")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = t.events.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.last(F.when(is_src, F.col("event_type")), ignorenulls=True)
        .over(w)
        .alias("src_type"),
        F.last(F.when(is_src, F.unix_micros("ts")), ignorenulls=True)
        .over(w)
        .alias("src_us"),
    )
    gap = F.unix_micros("ts") - F.col("src_us")
    horizon = 604800000000  # 7 days in microseconds
    p = s.where(F.col("event_type") == "purchase").select(
        "user_id",
        F.when(F.col("src_type").isNull(), "organic")
        .when(gap > horizon, "organic")
        .otherwise(F.col("src_type"))
        .alias("attributed_type"),
        F.when(
            F.col("src_type").isNotNull() & (gap <= horizon),
            F.expr(
                "(unix_micros(ts) - src_us) div 60000000"
            ),
        ).alias("gap_min"),
    )
    return (
        p.groupBy("attributed_type")
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.countDistinct("user_id").alias("n_users"),
            F.coalesce(F.sum("gap_min"), F.lit(0))
            .cast("bigint")
            .alias("sum_gap_min"),
            F.max("gap_min").alias("max_gap_min"),
        )
        .orderBy("attributed_type")
    )


# --------------------------------------------------------------------------
@query(
    "ev_rfm_segments",
    oracle="""
WITH u AS (
  SELECT user_id,
         DATE '2024-02-01' - CAST(MAX(ts) AS DATE) AS r_val,
         COUNT(*) AS f_val,
         CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS m_val
  FROM events WHERE event_type = 'purchase' GROUP BY user_id
),
long AS (
  SELECT user_id, 'r' AS metric, r_val AS v FROM u
  UNION ALL SELECT user_id, 'f', f_val FROM u
  UNION ALL SELECT user_id, 'm', m_val FROM u
),
rk AS (
  SELECT metric, v,
         ROW_NUMBER() OVER (PARTITION BY metric ORDER BY v, user_id) AS rn,
         COUNT(*) OVER (PARTITION BY metric) AS n
  FROM long
),
cut AS (
  SELECT metric,
         MIN(CASE WHEN rn = (n + 4) // 5 THEN v END) AS c1,
         MIN(CASE WHEN rn = (2 * n + 4) // 5 THEN v END) AS c2,
         MIN(CASE WHEN rn = (3 * n + 4) // 5 THEN v END) AS c3,
         MIN(CASE WHEN rn = (4 * n + 4) // 5 THEN v END) AS c4
  FROM rk GROUP BY metric
),
sc AS (
  SELECT l.user_id, l.metric,
         1 + (CASE WHEN l.v > c.c1 THEN 1 ELSE 0 END)
           + (CASE WHEN l.v > c.c2 THEN 1 ELSE 0 END)
           + (CASE WHEN l.v > c.c3 THEN 1 ELSE 0 END)
           + (CASE WHEN l.v > c.c4 THEN 1 ELSE 0 END) AS raw
  FROM long l JOIN cut c USING (metric)
),
wide AS (
  SELECT user_id,
         6 - MAX(CASE WHEN metric = 'r' THEN raw END) AS r_score,
         MAX(CASE WHEN metric = 'f' THEN raw END) AS f_score,
         MAX(CASE WHEN metric = 'm' THEN raw END) AS m_score
  FROM sc GROUP BY user_id
)
SELECT w.r_score, w.f_score, w.m_score,
       COUNT(*) AS n_users,
       CAST(SUM(u.m_val) AS BIGINT) AS sum_mon_cents
FROM wide w JOIN u ON w.user_id = u.user_id
GROUP BY 1, 2, 3 ORDER BY 1, 2, 3
""",
)
def ev_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: quintile-score every purchasing user on Recency /
    Frequency / Monetary and roll up segment sizes — the classic
    user-value cube, built scale-correctly.

    Monetary is exact int64 cents (round(value*100) — HALF_UP in both
    engines); recency is whole days to a fixed anchor. The three metric
    quintile cutoffs come from ONE weighted_quantile call over the
    metrics in LONG form (group key = metric name): at 1e9 users this is
    the binned two-phase quantile, not a 3x-repeated global sort. Scores
    then need only a 3x4-value broadcast and a map-side CASE; recency is
    score-inverted (5 = most recent).

    The per-user purchase aggregate ``u`` feeds multiple consumers (the
    exploded metric long-form, read by the quantile's histogram and
    resolve passes plus the score join, and the final segment join); it
    is cached (relying on AQE exchange reuse recomputed the events scan
    + groupBy up to 4x).
    """
    from datafusion_ballista_dhruvil_spark.operators.relational import (
        weighted_quantile,
    )

    t = Tables(spark, sf_dir)
    u = cached(
        t.events.where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.datediff(
                F.lit("2024-02-01").cast("date"), F.max("ts").cast("date")
            ).alias("r_val"),
            F.count(F.lit(1)).alias("f_val"),
            F.sum(F.round(F.col("value") * 100).cast("long"))
            .cast("bigint")
            .alias("m_val"),
        )
    )
    # one explode pass over the cached aggregate (not a 3-way union: same
    # rows, but each downstream consumer reads the cache ONCE instead of
    # three branch-reads — fewer stages on an already-stage-bound query)
    long = u.select(
        "user_id",
        F.explode(
            F.array(
                F.struct(
                    F.lit("r").alias("metric"),
                    F.col("r_val").cast("long").alias("v"),
                ),
                F.struct(
                    F.lit("f").alias("metric"),
                    F.col("f_val").cast("long").alias("v"),
                ),
                F.struct(
                    F.lit("m").alias("metric"),
                    F.col("m_val").cast("long").alias("v"),
                ),
            )
        ).alias("mv"),
    ).select("user_id", "mv.metric", "mv.v", F.lit(1).alias("w"))
    cut = weighted_quantile(
        long, value="v", weight="w", group_cols=["metric"],
        qs={"c1": (1, 5), "c2": (2, 5), "c3": (3, 5), "c4": (4, 5)},
    )
    raw = (
        F.lit(1)
        + F.when(F.col("v") > F.col("c1"), 1).otherwise(0)
        + F.when(F.col("v") > F.col("c2"), 1).otherwise(0)
        + F.when(F.col("v") > F.col("c3"), 1).otherwise(0)
        + F.when(F.col("v") > F.col("c4"), 1).otherwise(0)
    )
    sc = long.join(F.broadcast(cut), "metric").select(
        "user_id", "metric", raw.alias("raw")
    )
    wide = sc.groupBy("user_id").agg(
        (6 - F.max(F.when(F.col("metric") == "r", F.col("raw")))).alias("r_score"),
        F.max(F.when(F.col("metric") == "f", F.col("raw"))).alias("f_score"),
        F.max(F.when(F.col("metric") == "m", F.col("raw"))).alias("m_score"),
    )
    return (
        wide.join(u, "user_id")
        .groupBy("r_score", "f_score", "m_score")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.sum("m_val").cast("bigint").alias("sum_mon_cents"),
        )
        .orderBy("r_score", "f_score", "m_score")
    )


# --------------------------------------------------------------------------
@query(
    "ev_path_topk",
    oracle="""
WITH ordered AS (
  SELECT user_id, event_id, event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
    lag(epoch_us(CAST(ts AS TIMESTAMP))) OVER
      (PARTITION BY user_id ORDER BY epoch_us(CAST(ts AS TIMESTAMP)), event_id)
      AS prev_us
  FROM events
),
sessions AS (
  SELECT user_id, event_id, event_type, ts_us,
         SUM(CASE WHEN prev_us IS NULL OR ts_us - prev_us > 1800000000
                  THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                 ROWS UNBOUNDED PRECEDING) AS session_id
  FROM ordered
),
headed AS (
  SELECT user_id, session_id, event_type, ts_us, event_id,
         ROW_NUMBER() OVER (PARTITION BY user_id, session_id
                            ORDER BY ts_us, event_id) AS rn
  FROM sessions
),
paths AS (
  SELECT user_id, session_id,
         string_agg(event_type, '>' ORDER BY ts_us, event_id) AS path
  FROM headed WHERE rn <= 5
  GROUP BY user_id, session_id
)
SELECT path, COUNT(*) AS n_sessions, COUNT(DISTINCT user_id) AS n_users
FROM paths
GROUP BY path
ORDER BY n_sessions DESC, path
LIMIT 20
""",
)
def ev_path_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session path mining: the most common first-5-event journey shapes
    across gap-sessionized visits — the funnel-discovery complement to
    ev_funnel_stages (which checks ONE known funnel; this surfaces which
    paths exist).

    Composes the gap sessionizer (lag + running-sum, identical semantics
    to ev_sessionize) with a per-session ordered path prefix. The prefix
    caps at 5 events so path strings stay bounded regardless of session
    length — at scale the path-count shuffle keys are short strings with
    heavy skew toward a few common journeys, which partial aggregation
    absorbs map-side.
    """
    t = Tables(spark, sf_dir)
    ts_us = F.unix_micros(F.col("ts"))
    wlag = Window.partitionBy("user_id").orderBy(ts_us, F.col("event_id"))
    ordered = t.events.select(
        "user_id", "event_id", "event_type", ts_us.alias("ts_us"),
        F.lag(ts_us).over(wlag).alias("prev_us"),
    )
    is_new = F.when(
        F.col("prev_us").isNull()
        | ((F.col("ts_us") - F.col("prev_us")) > 1_800_000_000),
        1,
    ).otherwise(0)
    wrun = (
        Window.partitionBy("user_id")
        .orderBy("ts_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sessions = ordered.select(
        "user_id", "event_id", "event_type", "ts_us",
        F.sum(is_new).over(wrun).alias("session_id"),
    )
    headed = top_k(
        sessions, ["user_id", "session_id"], ["ts_us", "event_id"], 5
    )
    paths = (
        headed.groupBy("user_id", "session_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct("ts_us", "event_id", "event_type")
                        )
                    ),
                    lambda s: s["event_type"],
                ),
                ">",
            ).alias("path")
        )
    )
    return (
        paths.groupBy("path")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .orderBy(F.desc("n_sessions"), "path")
        .limit(20)
    )


# --------------------------------------------------------------------------
@query(
    "ev_forecast_naive",
    oracle="""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS c
  FROM events GROUP BY 1, 2
),
j AS (
  SELECT a.event_type, a.day, a.c AS actual, f.c AS forecast
  FROM daily a JOIN daily f
    ON f.event_type = a.event_type AND f.day = a.day - 7
)
SELECT event_type,
       COUNT(*) AS n_days,
       CAST(SUM(abs(actual - forecast)) AS BIGINT) AS sum_abs_err,
       CAST(SUM(actual) AS BIGINT) AS sum_actual,
       CAST(SUM(abs(actual - forecast)) AS DOUBLE) / SUM(actual) AS wape
FROM j GROUP BY event_type ORDER BY event_type
""",
)
def ev_forecast_naive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive forecast backtest: predict each day's event volume
    with the same weekday last week and score WAPE per event type — the
    baseline every capacity-planning / anomaly model must beat, and the
    standard first check that a metrics pipeline's seasonality is real.

    Exact: daily counts are integers, the error sum is integer, WAPE is
    one final double division. Scale: events collapse to (type, day)
    counts at the first aggregate (partial map-side); the self-join runs
    on the tiny daily table, shifted by an exact 7-day key — never raw
    events. Backfills and re-runs are idempotent (pure function of the
    input range).
    """
    t = Tables(spark, sf_dir)
    daily = (
        t.events.groupBy(
            "event_type", F.col("ts").cast("date").alias("day")
        ).agg(F.count(F.lit(1)).alias("c"))
    )
    f = daily.select(
        F.col("event_type").alias("ft"),
        F.date_add(F.col("day"), 7).alias("fday"),
        F.col("c").alias("forecast"),
    )
    j = daily.join(
        f,
        (F.col("event_type") == F.col("ft")) & (F.col("day") == F.col("fday")),
    )
    return (
        j.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.sum(F.abs(F.col("c") - F.col("forecast")))
            .cast("bigint")
            .alias("sum_abs_err"),
            F.sum("c").cast("bigint").alias("sum_actual"),
            (
                F.sum(F.abs(F.col("c") - F.col("forecast"))).cast("double")
                / F.sum("c")
            ).alias("wape"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
@query(
    "ev_hopping_window",
    oracle="""
WITH e AS (
  SELECT event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us FROM events
),
b AS (
  SELECT event_type, ts_us,
         (ts_us // 300000000) * 300000000 AS bin5
  FROM e
),
w AS (
  SELECT event_type, u.ws FROM b,
         unnest([bin5, bin5 - 300000000]) AS u(ws)
)
SELECT ws AS window_start_us, event_type, COUNT(*) AS n
FROM w GROUP BY ws, event_type
ORDER BY window_start_us, event_type
""",
)
def ev_hopping_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hopping (sliding) window aggregation: 10-minute windows every 5
    minutes — each event lands in exactly window_len/slide = 2 windows.
    The smoothing/trend primitive tumbling windows can't express (a spike
    at a boundary splits), and the same `F.window(ts, len, slide)` call
    runs unchanged under readStream with a watermark.

    Exactness: window starts are pure epoch-microsecond arithmetic
    (epoch-aligned bins, timezone-independent); the oracle expands each
    event to its two covering starts explicitly. Scale: Spark's Expand
    duplicates rows window_len/slide times BEFORE the partial aggregate —
    the shuffle still carries only (window, type) partial counts.
    """
    t = Tables(spark, sf_dir)
    return (
        t.events.groupBy(
            F.window("ts", "10 minutes", "5 minutes").alias("w"), "event_type"
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.unix_micros(F.col("w.start")).alias("window_start_us"),
            "event_type",
            "n",
        )
        .orderBy("window_start_us", "event_type")
    )


# --------------------------------------------------------------------------
@query(
    "ev_interarrival_profile",
    oracle="""
WITH g AS (
  SELECT event_type,
         (epoch_us(CAST(ts AS TIMESTAMP))
          - lag(epoch_us(CAST(ts AS TIMESTAMP))) OVER
              (PARTITION BY user_id ORDER BY epoch_us(CAST(ts AS TIMESTAMP)), event_id)
         ) // 1000000 AS gap_s
  FROM events
),
b AS (
  SELECT event_type,
         CASE WHEN gap_s < 10 THEN '0_lt10s'
              WHEN gap_s < 60 THEN '1_10s_1m'
              WHEN gap_s < 600 THEN '2_1m_10m'
              WHEN gap_s < 3600 THEN '3_10m_1h'
              ELSE '4_ge1h' END AS bucket,
         gap_s
  FROM g WHERE gap_s IS NOT NULL
)
SELECT event_type, bucket, COUNT(*) AS n,
       CAST(MIN(gap_s) AS BIGINT) AS min_gap_s,
       CAST(MAX(gap_s) AS BIGINT) AS max_gap_s
FROM b GROUP BY event_type, bucket ORDER BY event_type, bucket
""",
)
def ev_interarrival_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival-time distribution per event type: bucketed gaps
    between a user's consecutive events — the burstiness fingerprint that
    sizes session-gap thresholds (ev_sessionize's 30 min), watermark
    horizons, and bot-detection cutoffs from data instead of folklore.

    Gaps are exact integer seconds (microsecond lag arithmetic, floor
    division); buckets are prefix-ordered strings so both engines sort
    identically. Scale: one user-keyed window pass (the sessionization
    shuffle, reused shape) then a partial-agg rollup on <= 25 keys.
    """
    t = Tables(spark, sf_dir)
    ts_us = F.unix_micros(F.col("ts"))
    w = Window.partitionBy("user_id").orderBy(ts_us, F.col("event_id"))
    g = t.events.select(
        "event_type",
        F.expr(
            "(unix_micros(ts) - lag(unix_micros(ts)) OVER "
            "(PARTITION BY user_id ORDER BY unix_micros(ts), event_id)) div 1000000"
        ).alias("gap_s"),
    )
    bucket = (
        F.when(F.col("gap_s") < 10, "0_lt10s")
        .when(F.col("gap_s") < 60, "1_10s_1m")
        .when(F.col("gap_s") < 600, "2_1m_10m")
        .when(F.col("gap_s") < 3600, "3_10m_1h")
        .otherwise("4_ge1h")
    )
    return (
        g.where(F.col("gap_s").isNotNull())
        .select("event_type", bucket.alias("bucket"), "gap_s")
        .groupBy("event_type", "bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("gap_s").cast("bigint").alias("min_gap_s"),
            F.max("gap_s").cast("bigint").alias("max_gap_s"),
        )
        .orderBy("event_type", "bucket")
    )


# --------------------------------------------------------------------------
@query(
    "ev_time_to_convert",
    oracle="""
WITH s AS (
  SELECT user_id, event_id, event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
         first_value(CASE WHEN event_type = 'purchase'
                          THEN epoch_us(CAST(ts AS TIMESTAMP)) END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY epoch_us(CAST(ts AS TIMESTAMP)), event_id
                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_purchase_us
  FROM events
),
c AS (
  SELECT CASE
           WHEN next_purchase_us IS NULL THEN '9_never'
           WHEN next_purchase_us - ts_us <= 600000000 THEN '0_10m'
           WHEN next_purchase_us - ts_us <= 3600000000 THEN '1_1h'
           WHEN next_purchase_us - ts_us <= 86400000000 THEN '2_1d'
           ELSE '3_gt1d' END AS horizon,
         (next_purchase_us - ts_us) // 60000000 AS gap_min
  FROM s WHERE event_type = 'click'
)
SELECT horizon, COUNT(*) AS n_clicks,
       CAST(COALESCE(SUM(gap_min), 0) AS BIGINT) AS sum_gap_min,
       MAX(gap_min) AS max_gap_min
FROM c GROUP BY horizon ORDER BY horizon
""",
)
def ev_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-conversion: for every click, the FORWARD as-of distance to
    the user's next purchase, bucketed by horizon (10 m / 1 h / 1 d /
    longer / never) — the conversion-latency funnel metric, and the
    forward twin of ev_attribution's backward as-of.

    One window pass with a forward frame (``ROWS BETWEEN CURRENT ROW AND
    UNBOUNDED FOLLOWING`` + first non-null purchase timestamp) — no
    self-join, exact integer microsecond arithmetic, same single
    user-keyed shuffle as sessionization. A click that IS a purchase
    boundary counts from itself only if the purchase is a later row
    (clicks are never purchases, so the frame's current row contributes
    null and the search is strictly forward-inclusive of later ties).
    """
    t = Tables(spark, sf_dir)
    ts_us = F.unix_micros(F.col("ts"))
    # Forward search expressed as the REVERSED growing frame (same device
    # as ev_linear_interpolate, PERF.md): (currentRow, unboundedFollowing)
    # is a shrinking frame Spark re-scans to the partition end for EVERY
    # row — latent O(rows-per-user^2), invisible at testdata scale but a
    # power-user time bomb at 100 TB. Descending order + growing frame
    # INCLUDING the current row is row-for-row equivalent and O(n).
    w = (
        Window.partitionBy("user_id")
        .orderBy(ts_us.desc(), F.col("event_id").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    s = t.events.select(
        "event_type",
        ts_us.alias("ts_us"),
        F.last(
            F.when(F.col("event_type") == "purchase", ts_us), ignorenulls=True
        )
        .over(w)
        .alias("next_purchase_us"),
    )
    gap_us = F.col("next_purchase_us") - F.col("ts_us")
    horizon = (
        F.when(F.col("next_purchase_us").isNull(), "9_never")
        .when(gap_us <= 600000000, "0_10m")
        .when(gap_us <= 3600000000, "1_1h")
        .when(gap_us <= 86400000000, "2_1d")
        .otherwise("3_gt1d")
    )
    c = s.where(F.col("event_type") == "click").select(
        horizon.alias("horizon"),
        F.expr(
            "(next_purchase_us - ts_us) div 60000000"
        ).alias("gap_min"),
    )
    return (
        c.groupBy("horizon")
        .agg(
            F.count(F.lit(1)).alias("n_clicks"),
            F.coalesce(F.sum("gap_min"), F.lit(0))
            .cast("bigint")
            .alias("sum_gap_min"),
            F.max("gap_min").alias("max_gap_min"),
        )
        .orderBy("horizon")
    )


# --------------------------------------------------------------------------
@query(
    "ev_ab_chisquare",
    oracle="""
WITH u AS (
  SELECT user_id,
         CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT)
           % 2 AS variant,
         CASE WHEN SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   >= 14 THEN 1 ELSE 0 END AS conv
  FROM events GROUP BY user_id
),
c AS (
  SELECT
    CAST(SUM(CASE WHEN variant = 0 AND conv = 1 THEN 1 ELSE 0 END) AS BIGINT) AS conv_a,
    CAST(SUM(CASE WHEN variant = 0 AND conv = 0 THEN 1 ELSE 0 END) AS BIGINT) AS noconv_a,
    CAST(SUM(CASE WHEN variant = 1 AND conv = 1 THEN 1 ELSE 0 END) AS BIGINT) AS conv_b,
    CAST(SUM(CASE WHEN variant = 1 AND conv = 0 THEN 1 ELSE 0 END) AS BIGINT) AS noconv_b
  FROM u
)
SELECT conv_a, noconv_a, conv_b, noconv_b,
       CAST(conv_a AS DOUBLE) / NULLIF(conv_a + noconv_a, 0) AS rate_a,
       CAST(conv_b AS DOUBLE) / NULLIF(conv_b + noconv_b, 0) AS rate_b,
       CAST(conv_a + noconv_a + conv_b + noconv_b AS DOUBLE)
         * (CAST(conv_a AS DOUBLE) * CAST(noconv_b AS DOUBLE)
            - CAST(noconv_a AS DOUBLE) * CAST(conv_b AS DOUBLE))
         * (CAST(conv_a AS DOUBLE) * CAST(noconv_b AS DOUBLE)
            - CAST(noconv_a AS DOUBLE) * CAST(conv_b AS DOUBLE))
         / NULLIF(CAST(conv_a + noconv_a AS DOUBLE)
            * CAST(conv_b + noconv_b AS DOUBLE)
            * CAST(conv_a + conv_b AS DOUBLE)
            * CAST(noconv_a + noconv_b AS DOUBLE), 0) AS chi2
FROM c
""",
)
def ev_ab_chisquare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic A/B experiment readout: hash-of-user_id variant
    assignment (the same md5-bucket idiom as split_hash_assign — re-runs
    and other engines assign every user identically), per-user conversion
    flag (>= 14 purchases — every synthetic user purchases at least once,
    so "ever purchased" would degenerate the table; an above-median
    threshold keeps all four cells populated), 2x2 contingency table, and
    the chi-square independence statistic
    chi2 = N(ad-bc)^2 / ((a+b)(c+d)(a+c)(b+d)).

    Float determinism: the statistic is a FIXED left-to-right chain of
    IEEE-double ops over exact BIGINT counts — both engines round each
    intermediate identically, so the hash gate holds with no quantization.
    (N(ad-bc)^2 can exceed int64, so the chain casts to DOUBLE before the
    square rather than computing an exact-integer numerator.)

    Degenerate margins: every division is NULLIF-guarded in BOTH engines
    — a corpus where one margin is empty (all users converted, or one
    variant arm unpopulated; the r7 Zipf-skew stress produced exactly
    this, every collapsed hot user clearing the purchase threshold)
    yields NULL rate/chi2 instead of an ANSI DIVIDE_BY_ZERO crash. The
    statistic is genuinely undefined there, so NULL is the right answer;
    values are bit-identical to the unguarded form whenever all four
    cells are populated (the oracle-checked scale).

    Scale: one user-keyed shuffle for the per-user conversion flag (same
    shuffle sessionization already pays), then a 4-counter global
    aggregate with map-side partials; the contingency table is one row.
    """
    t = Tables(spark, sf_dir)
    u = (
        t.events.groupBy("user_id")
        .agg(
            (
                F.sum(
                    F.when(F.col("event_type") == "purchase", 1).otherwise(0)
                )
                >= 14
            )
            .cast("int")
            .alias("conv")
        )
        .select(
            (
                F.conv(
                    F.substring(F.md5(F.col("user_id").cast("string")), 1, 15),
                    16,
                    10,
                ).cast("long")
                % 2
            ).alias("variant"),
            "conv",
        )
    )
    cell = lambda v, c: F.sum(
        F.when((F.col("variant") == v) & (F.col("conv") == c), 1).otherwise(0)
    ).cast("bigint")
    c = u.agg(
        cell(0, 1).alias("conv_a"),
        cell(0, 0).alias("noconv_a"),
        cell(1, 1).alias("conv_b"),
        cell(1, 0).alias("noconv_b"),
    )
    # IDENTICAL op tree as the oracle text: left-to-right double chain
    chi2 = F.expr(
        "CAST(conv_a + noconv_a + conv_b + noconv_b AS DOUBLE)"
        " * (CAST(conv_a AS DOUBLE) * CAST(noconv_b AS DOUBLE)"
        "    - CAST(noconv_a AS DOUBLE) * CAST(conv_b AS DOUBLE))"
        " * (CAST(conv_a AS DOUBLE) * CAST(noconv_b AS DOUBLE)"
        "    - CAST(noconv_a AS DOUBLE) * CAST(conv_b AS DOUBLE))"
        " / NULLIF(CAST(conv_a + noconv_a AS DOUBLE)"
        "    * CAST(conv_b + noconv_b AS DOUBLE)"
        "    * CAST(conv_a + conv_b AS DOUBLE)"
        "    * CAST(noconv_a + noconv_b AS DOUBLE), 0)"
    )
    return c.select(
        "conv_a",
        "noconv_a",
        "conv_b",
        "noconv_b",
        F.expr("CAST(conv_a AS DOUBLE) / NULLIF(conv_a + noconv_a, 0)").alias("rate_a"),
        F.expr("CAST(conv_b AS DOUBLE) / NULLIF(conv_b + noconv_b, 0)").alias("rate_b"),
        chi2.alias("chi2"),
    )


# --------------------------------------------------------------------------
@query(
    "ev_decay_weighted",
    oracle="""
WITH m AS (
  SELECT MAX(epoch_us(CAST(ts AS TIMESTAMP))) AS max_us FROM events
),
e AS (
  SELECT event_type,
         CAST(round(value * 100) AS BIGINT) AS v_cents,
         LEAST((m.max_us - epoch_us(CAST(ts AS TIMESTAMP)))
                 // 604800000000, 8) AS k
  FROM events CROSS JOIN m
)
SELECT event_type,
       COUNT(*) AS n_events,
       CAST(SUM(v_cents) AS BIGINT) AS raw_sum_cents,
       CAST(SUM(v_cents * (256 // CAST(power(2, k) AS BIGINT))) AS BIGINT)
         AS decayed_num,
       CAST(CAST(SUM(v_cents * (256 // CAST(power(2, k) AS BIGINT)))
                 AS BIGINT) AS DOUBLE) / 25600.0 AS decayed_sum
FROM e GROUP BY event_type ORDER BY event_type
""",
)
def ev_decay_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency-decay-weighted value per event type: each event's value is
    weighted by 2^-(age/half-life) with a 7-day half-life — the freshness
    weighting training-data curricula and engagement scores apply, without
    the cross-engine libm hazard of exp()/pow(float): the decay is DYADIC
    (exact powers of two on integer week counts, clamped at 8 halvings),
    so the weighted sum is an exact BIGINT in both engines and the final
    scale-down is a single deterministic double division.

    Integer budget: weight <= 256, cents <= ~56k -> <= 1.4e7 per row,
    int64-safe past 1e11 rows. Scale: one scalar max(ts) aggregate
    broadcast back (no window), then a map-side-partial groupBy; the
    decay weight is a pure per-row projection.
    """
    t = Tables(spark, sf_dir)
    m = t.events.agg(F.max(F.unix_micros(F.col("ts"))).alias("max_us"))
    e = t.events.crossJoin(F.broadcast(m)).select(
        "event_type",
        F.round(F.col("value") * 100).cast("bigint").alias("v_cents"),
        F.least(
            F.expr("(max_us - unix_micros(ts)) div 604800000000"), F.lit(8)
        ).alias("k"),
    )
    wgt = F.expr("256 div CAST(power(2, k) AS BIGINT)")
    return (
        e.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("v_cents").cast("bigint").alias("raw_sum_cents"),
            F.sum(F.col("v_cents") * wgt).cast("bigint").alias("decayed_num"),
            (
                F.sum(F.col("v_cents") * wgt).cast("bigint").cast("double")
                / 25600.0
            ).alias("decayed_sum"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
@query(
    "ev_activity_streaks",
    oracle="""
WITH days AS (
  SELECT DISTINCT user_id,
         CAST(epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS BIGINT)
           AS day_no
  FROM events
),
isl AS (
  SELECT user_id, day_no,
         day_no - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day_no)
           AS island
  FROM days
),
streaks AS (
  SELECT user_id, island, COUNT(*) AS streak_len
  FROM isl GROUP BY user_id, island
),
best AS (
  SELECT user_id, MAX(streak_len) AS max_streak,
         COUNT(*) AS n_streaks
  FROM streaks GROUP BY user_id
)
SELECT max_streak,
       COUNT(*) AS n_users,
       CAST(SUM(n_streaks) AS BIGINT) AS total_streaks
FROM best GROUP BY max_streak ORDER BY max_streak
""",
)
def ev_activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-day activity streak per user (gaps-and-islands):
    distinct active days, then the classic ``day - row_number`` island
    key — consecutive days share one island — then max island length per
    user, summarized as a streak-length histogram (the engagement metric
    behind every "7-day streak" product feature).

    Exact: days are integer epoch-day numbers (UTC-pinned microseconds,
    no timezone-dependent date casting), islands are integer differences.
    Scale: one user-keyed shuffle shared by the distinct, the window, and
    both aggregates (all partition by user_id or its superset) — Catalyst
    reuses the single exchange; the final histogram is a tiny-key agg.
    """
    t = Tables(spark, sf_dir)
    days = t.events.select(
        "user_id",
        F.expr("unix_micros(ts) div 86400000000").alias("day_no"),
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("day_no")
    isl = days.select(
        "user_id",
        "day_no",
        (F.col("day_no") - F.row_number().over(w)).alias("island"),
    )
    streaks = isl.groupBy("user_id", "island").agg(
        F.count(F.lit(1)).alias("streak_len")
    )
    best = streaks.groupBy("user_id").agg(
        F.max("streak_len").alias("max_streak"),
        F.count(F.lit(1)).alias("n_streaks"),
    )
    return (
        best.groupBy("max_streak")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.sum("n_streaks").cast("bigint").alias("total_streaks"),
        )
        .orderBy("max_streak")
    )


# --------------------------------------------------------------------------
@query(
    "ev_pareto_share",
    oracle="""
WITH u AS (
  SELECT user_id, COUNT(*) AS n_events FROM events GROUP BY user_id
),
tot AS (SELECT COUNT(*) AS n_users,
               CAST(SUM(n_events) AS BIGINT) AS total_events FROM u),
v AS (SELECT n_events AS v, COUNT(*) AS c FROM u GROUP BY 1),
cum AS (
  SELECT v, SUM(c) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cm
  FROM v
),
thr AS (
  SELECT MIN(v) AS p90
  FROM cum CROSS JOIN tot WHERE cm * 10 >= n_users * 9
)
SELECT tot.n_users,
       tot.total_events,
       thr.p90 AS p90_events,
       COUNT(*) FILTER (WHERE u.n_events >= thr.p90) AS n_heavy,
       CAST(SUM(u.n_events) FILTER (WHERE u.n_events >= thr.p90)
            AS BIGINT) AS heavy_events,
       COUNT(*) FILTER (WHERE u.n_events >= thr.p90) * 1000000
         // tot.n_users AS heavy_user_ppm,
       CAST(SUM(u.n_events) FILTER (WHERE u.n_events >= thr.p90)
            AS BIGINT) * 1000000 // tot.total_events AS heavy_share_ppm
FROM u CROSS JOIN tot CROSS JOIN thr
GROUP BY tot.n_users, tot.total_events, thr.p90
""",
)
def ev_pareto_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto concentration readout: what share of all events do the
    top-decile (by activity) users generate — the 80/20 audit behind
    capacity planning, skew-aware partitioning decisions, and "is this
    corpus dominated by a few power users/domains" data-quality checks.

    The p90 activity threshold is an EXACT order statistic through
    weighted_quantile's two-phase binned pass (no global sort of users by
    count — the rank-the-whole-table approach dies at scale); the
    threshold scalar broadcasts back for one conditional aggregate. Same
    selection semantics as the oracle's cumulative-count MIN(v) with
    cm*10 >= n*9.
    """
    from datafusion_ballista_dhruvil_spark.operators.relational import (
        weighted_quantile,
    )

    t = Tables(spark, sf_dir)
    u = t.events.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_events"))
    staged = u.select(
        F.lit(1).alias("g"), F.col("n_events").alias("v"), F.lit(1).alias("w")
    )
    thr = weighted_quantile(
        staged, value="v", weight="w", group_cols=["g"], qs={"p90": (9, 10)}
    ).drop("g")
    heavy = F.col("n_events") >= F.col("p90")
    return (
        u.crossJoin(F.broadcast(thr))
        .groupBy("p90")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.sum("n_events").cast("bigint").alias("total_events"),
            F.count(F.when(heavy, 1)).alias("n_heavy"),
            F.sum(F.when(heavy, F.col("n_events"))).cast("bigint").alias(
                "heavy_events"
            ),
        )
        .select(
            "n_users",
            "total_events",
            F.col("p90").alias("p90_events"),
            "n_heavy",
            "heavy_events",
            F.expr("n_heavy * 1000000 div n_users").alias("heavy_user_ppm"),
            F.expr("heavy_events * 1000000 div total_events").alias(
                "heavy_share_ppm"
            ),
        )
    )


# --------------------------------------------------------------------------
#: Per-cell chi-square contribution, quantized to 1e-6 BIGINTs before the
#: SUM — aggregating raw doubles is addition-order nondeterministic; the
#: same text runs in both engines (obs/rt/ct/n are exact BIGINTs).
_CHI_CELL = (
    "CAST(round((CAST(obs AS DOUBLE)"
    " - CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(n AS DOUBLE))"
    " * (CAST(obs AS DOUBLE)"
    " - CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(n AS DOUBLE))"
    " / (CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(n AS DOUBLE))"
    " * 1000000) AS BIGINT)"
)


@query(
    "ev_chisquare_matrix",
    oracle=f"""
WITH e AS (
  SELECT event_type,
         (epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 + 4) % 7 AS dow
  FROM events
),
cells AS (
  SELECT event_type, dow, CAST(COUNT(*) AS BIGINT) AS obs
  FROM e GROUP BY event_type, dow
),
rt AS (SELECT event_type, CAST(SUM(obs) AS BIGINT) AS rt
       FROM cells GROUP BY event_type),
ct AS (SELECT dow, CAST(SUM(obs) AS BIGINT) AS ct FROM cells GROUP BY dow),
tot AS (SELECT CAST(SUM(obs) AS BIGINT) AS n FROM cells),
q AS (
  SELECT cells.event_type, {_CHI_CELL} AS contrib_q6
  FROM cells JOIN rt USING (event_type) JOIN ct USING (dow) CROSS JOIN tot
)
SELECT event_type, COUNT(*) AS n_cells,
       CAST(SUM(contrib_q6) AS BIGINT) AS row_chi2_q6
FROM q GROUP BY event_type ORDER BY event_type
""",
)
def ev_chisquare_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K x K chi-square heterogeneity of the event_type x day-of-week
    contingency table — "does traffic mix shift by weekday", the
    generalization of ev_ab_chisquare's 2x2 to full categorical matrices
    (seasonality audits, mixture drift by shard, device x outcome).

    Day-of-week is pure integer arithmetic on epoch days ((d+4)%7,
    1970-01-01 = Thursday) — no locale/timezone-dependent date functions.
    Each cell's (obs-exp)^2/exp is a deterministic double chain over
    exact BIGINT marginals, quantized to 1e-6 BEFORE summation so the
    reduction is exact-integer and addition-order-free.

    Scale: one scan into a 35-cell aggregate (map-side partials); the
    marginal tables are bounded (K rows) broadcast joins.
    """
    t = Tables(spark, sf_dir)
    e = t.events.select(
        "event_type",
        F.expr("(unix_micros(ts) div 86400000000 + 4) % 7").alias("dow"),
    )
    # the 35-cell contingency table feeds FOUR consumers (row/col/total
    # marginals + the contrib join); cache it so the events scan+agg
    # runs once
    cells = cached(
        e.groupBy("event_type", "dow").agg(F.count(F.lit(1)).cast("bigint").alias("obs"))
    )
    rt = cells.groupBy("event_type").agg(F.sum("obs").cast("bigint").alias("rt"))
    ct = cells.groupBy("dow").agg(F.sum("obs").cast("bigint").alias("ct"))
    tot = cells.agg(F.sum("obs").cast("bigint").alias("n"))
    q = (
        cells.join(F.broadcast(rt), "event_type")
        .join(F.broadcast(ct), "dow")
        .crossJoin(F.broadcast(tot))
        .select("event_type", F.expr(_CHI_CELL).alias("contrib_q6"))
    )

    return (
        q.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_cells"),
            F.sum("contrib_q6").cast("bigint").alias("row_chi2_q6"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
@query(
    "ev_bot_detection",
    oracle="""
WITH g AS (
  SELECT user_id,
         epoch_us(CAST(ts AS TIMESTAMP)) // 1000000
           - lag(epoch_us(CAST(ts AS TIMESTAMP)) // 1000000)
             OVER (PARTITION BY user_id
                   ORDER BY epoch_us(CAST(ts AS TIMESTAMP)), event_id)
           AS gap_s
  FROM events
),
u AS (
  SELECT user_id, COUNT(*) AS n,
         CAST(SUM(gap_s) AS BIGINT) AS sg,
         CAST(SUM(gap_s * gap_s) AS BIGINT) AS sgg
  FROM g WHERE gap_s IS NOT NULL
  GROUP BY user_id HAVING COUNT(*) >= 20 AND SUM(gap_s) >= 1000
),
c AS (
  SELECT user_id,
         (n * sgg - sg * sg) // (sg * sg // 1000000 + 1) AS cv2_ppm
  FROM u
)
SELECT LEAST(cv2_ppm // 250000, 12) AS cv2_bucket,
       COUNT(*) AS n_users,
       CAST(COUNT(*) FILTER (WHERE cv2_ppm < 250000) AS BIGINT)
         AS n_flagged
FROM c GROUP BY 1 ORDER BY cv2_bucket
""",
)
def ev_bot_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Automation/bot detection by inter-arrival regularity: a human's
    event gaps are bursty (squared coefficient of variation CV^2 ~ 1 for
    Poisson, higher for bursty), a scripted client fires on a timer
    (CV^2 -> 0). Flag users whose n*CV^2 proxy — exactly
    (n*SUM(g^2) - SUM(g)^2) / SUM(g)^2 in integer ppm — falls below
    0.25, and report the CV^2 histogram. The cleaning step that keeps
    scripted traffic out of behavioural training data.

    Exact: second-granularity integer gaps keep every product within
    int64 (n*SUM(g^2) <= ~3e16 for a 30-day span and bounded per-user
    counts); the ppm ratio divides FIRST (sg^2 * 1e6 would overflow), with
    the same +1-guarded denominator text in both engines. Scale: the lag window and the aggregate share one
    user-keyed shuffle; the histogram is a tiny-key agg.
    """
    t = Tables(spark, sf_dir)
    ts_s = F.expr("unix_micros(ts) div 1000000")
    w = Window.partitionBy("user_id").orderBy(
        F.unix_micros(F.col("ts")), F.col("event_id")
    )
    g = t.events.select(
        "user_id", (ts_s - F.lag(ts_s).over(w)).alias("gap_s")
    ).where(F.col("gap_s").isNotNull())
    u = (
        g.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("gap_s").cast("bigint").alias("sg"),
            F.sum(F.col("gap_s") * F.col("gap_s")).cast("bigint").alias("sgg"),
        )
        .where((F.col("n") >= 20) & (F.col("sg") >= 1000))
    )
    # divide-first ppm: (sg*sg)*1e6 would overflow int64; the +1 floor-guard
    # denominator is applied IDENTICALLY in the oracle, so hashes agree
    c = u.select(
        F.expr(
            "(n * sgg - sg * sg) div (sg * sg div 1000000 + 1)"
        ).alias("cv2_ppm")
    )
    return (
        c.groupBy(
            F.expr("LEAST(cv2_ppm div 250000, 12)").alias("cv2_bucket")
        )
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.count(F.when(F.col("cv2_ppm") < 250000, 1))
            .cast("bigint")
            .alias("n_flagged"),
        )
        .orderBy("cv2_bucket")
    )


# --------------------------------------------------------------------------
@query(
    "ev_survival_retention",
    oracle="""
WITH u AS (
  SELECT user_id,
         MIN(epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000) AS first_day,
         MAX(epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000) AS last_day
  FROM events GROUP BY user_id
),
life AS (SELECT user_id, last_day - first_day AS lifetime_days FROM u),
n AS (SELECT COUNT(*) AS n_users FROM life),
d AS (SELECT unnest(range(0, 29)) AS day)
SELECT d.day,
       CAST(COUNT(*) FILTER (WHERE life.lifetime_days >= d.day) AS BIGINT)
         AS n_surviving,
       n.n_users,
       COUNT(*) FILTER (WHERE life.lifetime_days >= d.day) * 1000000
         // n.n_users AS survival_ppm
FROM life CROSS JOIN d CROSS JOIN n
GROUP BY d.day, n.n_users ORDER BY d.day
""",
)
def ev_survival_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survival/retention curve: for each day-offset d, the fraction of
    users whose observed lifetime (last activity - first activity) reaches
    d — the product-analytics survival function behind churn dashboards
    and the engagement-horizon statistic training-data recency weighting
    keys on. (Right-censoring is inherent: the last observed day bounds
    every lifetime; a Kaplan-Meier estimator refines this with per-day
    hazards, same plan shape.)

    Exact: integer epoch-day lifetimes, ppm integer division. Scale: one
    user-keyed aggregate (min/max partial-agg), then the per-user lifetime
    row explodes against a FIXED 29-row day axis (broadcast) — the cross
    join fan-out is 29x the USER table (already aggregated), never the
    event log.
    """
    t = Tables(spark, sf_dir)
    day = F.expr("unix_micros(ts) div 86400000000")
    life = (
        t.events.groupBy("user_id")
        .agg(
            F.min(day).alias("first_day"),
            F.max(day).alias("last_day"),
        )
        .select((F.col("last_day") - F.col("first_day")).alias("lifetime_days"))
    )
    n = life.agg(F.count(F.lit(1)).alias("n_users"))
    d = spark.range(0, 29).select(F.col("id").alias("day"))
    surv = F.count(F.when(F.col("lifetime_days") >= F.col("day"), 1)).cast(
        "bigint"
    )
    return (
        life.crossJoin(F.broadcast(d))
        .crossJoin(F.broadcast(n))
        .groupBy("day", "n_users")
        .agg(surv.alias("n_surviving"))
        .select(
            "day",
            "n_surviving",
            "n_users",
            F.expr("n_surviving * 1000000 div n_users").alias("survival_ppm"),
        )
        .orderBy("day")
    )


# --------------------------------------------------------------------------
@query(
    "ev_markov_stationary",
    oracle="""
WITH nxt AS (
  SELECT event_type,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY epoch_us(CAST(ts AS TIMESTAMP)),
                                         event_id) AS next_type
  FROM events
),
tm AS (
  SELECT event_type AS src, next_type AS dst,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM nxt WHERE next_type IS NOT NULL GROUP BY src, dst
),
p AS (
  SELECT src, dst,
         n * 1000000 // CAST(SUM(n) OVER (PARTITION BY src) AS BIGINT)
           AS p_ppm
  FROM tm
),
k AS (SELECT COUNT(DISTINCT src) AS nk FROM tm),
pi0 AS (SELECT src AS state, 1000000 // nk AS pi FROM p, k GROUP BY src, nk),
pi1 AS (
  SELECT p.dst AS state, CAST(SUM(pi0.pi * p.p_ppm) // 1000000 AS BIGINT) AS pi
  FROM pi0 JOIN p ON p.src = pi0.state GROUP BY p.dst
),
pi2 AS (
  SELECT p.dst AS state, CAST(SUM(pi1.pi * p.p_ppm) // 1000000 AS BIGINT) AS pi
  FROM pi1 JOIN p ON p.src = pi1.state GROUP BY p.dst
),
pi3 AS (
  SELECT p.dst AS state, CAST(SUM(pi2.pi * p.p_ppm) // 1000000 AS BIGINT) AS pi
  FROM pi2 JOIN p ON p.src = pi2.state GROUP BY p.dst
)
SELECT pi3.state AS state, pi3.pi AS pi_ppm,
       pi1.pi AS pi_ppm_iter1
FROM pi3 JOIN pi1 ON pi1.state = pi3.state
ORDER BY pi3.state
""",
)
def ev_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stationary distribution of the event-type Markov chain: three
    unrolled power-iteration steps pi' = pi P from a uniform start — the
    long-run traffic mix implied by the observed transition structure
    (differs from raw frequencies when flows are asymmetric; the same
    machinery as dedup_chunk_pagerank, on event metadata).

    Integer fixed-point throughout: transition rows normalize to ppm, each
    iteration is SUM(pi * p) // 1e6 over exact BIGINTs — identical
    rounding in both engines, no float accumulation. Scale: the sequence
    step (lead) is the single user-keyed shuffle; every iteration joins
    the K-row state vector to the K^2-row matrix — bounded metadata.
    """
    t = Tables(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy(
        F.unix_micros(F.col("ts")), F.col("event_id")
    )
    nxt = t.events.select(
        F.col("event_type").alias("src"),
        F.lead("event_type").over(w).alias("dst"),
    ).where(F.col("dst").isNotNull())
    # the K^2-row transition matrix feeds the row-normalize, the state
    # init, AND every unrolled iteration's join — cache so the events
    # scan + lead window runs once
    tm = cached(nxt.groupBy("src", "dst").agg(F.count(F.lit(1)).cast("bigint").alias("n")))
    wsrc = Window.partitionBy("src")
    p = tm.select(
        "src",
        "dst",
        F.expr("n * 1000000").cast("bigint").alias("n6"),
        F.sum("n").over(wsrc).cast("bigint").alias("rowsum"),
    ).select("src", "dst", F.expr("n6 div rowsum").alias("p_ppm"))
    k = tm.select("src").distinct().agg(F.count(F.lit(1)).alias("nk"))
    pi = (
        tm.select("src")
        .distinct()
        .crossJoin(F.broadcast(k))
        .select(F.col("src").alias("state"), F.expr("1000000 div nk").alias("pi"))
    )
    pi1 = None
    for i in range(3):
        pi = (
            pi.join(p, F.col("state") == F.col("src"))
            .groupBy("dst")
            .agg(
                F.expr("CAST(SUM(pi * p_ppm) div 1000000 AS BIGINT)").alias("pi")
            )
            .select(F.col("dst").alias("state"), "pi")
        )
        if i == 0:
            pi1 = pi

    return (
        pi.join(
            pi1.select(F.col("state").alias("s1"), F.col("pi").alias("pi_ppm_iter1")),
            F.col("state") == F.col("s1"),
        )
        .select("state", F.col("pi").alias("pi_ppm"), "pi_ppm_iter1")
        .orderBy("state")
    )


# --------------------------------------------------------------------------
@query(
    "ev_first_touch",
    oracle="""
WITH e AS (
  SELECT user_id, event_id, event_type,
         epoch_us(CAST(ts AS TIMESTAMP)) AS us
  FROM events
),
s AS (
  SELECT user_id, event_type, us,
         MIN(CASE WHEN event_type = 'click' THEN us * 8 + 1
                  WHEN event_type = 'view' THEN us * 8 + 2 END)
           OVER (PARTITION BY user_id ORDER BY us
                 RANGE BETWEEN 604800000000 PRECEDING AND CURRENT ROW)
           AS first_src
  FROM e
),
p AS (
  SELECT CASE WHEN first_src IS NULL THEN 'organic'
              WHEN first_src % 8 = 1 THEN 'click' ELSE 'view' END
           AS attributed_type,
         CASE WHEN first_src IS NOT NULL
              THEN (us - first_src // 8) // 60000000 END AS gap_min
  FROM s WHERE event_type = 'purchase'
)
SELECT attributed_type,
       COUNT(*) AS n_purchases,
       CAST(COALESCE(SUM(gap_min), 0) AS BIGINT) AS sum_gap_min,
       MAX(gap_min) AS max_gap_min
FROM p GROUP BY attributed_type ORDER BY attributed_type
""",
)
def ev_first_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FIRST-touch attribution (the complement of ev_attribution's
    last-touch): each purchase credits the EARLIEST click/view inside a
    7-day lookback — computed in one pass with a RANGE frame (time-bounded
    window: ``RANGE 604800000000 PRECEDING`` over integer microseconds),
    i.e. the as-of-with-horizon expressed declaratively, no join.

    Determinism trick: RANGE frames order by the single numeric key only,
    so equal-timestamp peers would make first_value() ambiguous — instead
    the frame takes MIN(us*8 + typecode), which encodes (time, source
    type) into one integer: earliest time wins, click (1) beats view (2)
    on exact ties, and decode is % 8 / // 8. Scale: one user-keyed
    shuffle, same as sessionization; 3-row rollup output.
    """
    t = Tables(spark, sf_dir)
    us = F.unix_micros(F.col("ts"))
    w = (
        Window.partitionBy("user_id")
        .orderBy(us)
        .rangeBetween(-604_800_000_000, 0)
    )
    first_src = F.min(
        F.when(F.col("event_type") == "click", us * 8 + 1).when(
            F.col("event_type") == "view", us * 8 + 2
        )
    ).over(w)
    s = t.events.select(
        "event_type", us.alias("us"), first_src.alias("first_src")
    )
    attributed = (
        F.when(F.col("first_src").isNull(), "organic")
        .when(F.col("first_src") % 8 == 1, "click")
        .otherwise("view")
    )
    gap_min = F.when(
        F.col("first_src").isNotNull(),
        F.expr("(us - first_src div 8) div 60000000"),
    )
    p = s.where(F.col("event_type") == "purchase").select(
        attributed.alias("attributed_type"), gap_min.alias("gap_min")
    )
    return (
        p.groupBy("attributed_type")
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.coalesce(F.sum("gap_min"), F.lit(0)).cast("bigint").alias(
                "sum_gap_min"
            ),
            F.max("gap_min").alias("max_gap_min"),
        )
        .orderBy("attributed_type")
    )


# --------------------------------------------------------------------------
@query(
    "ev_funnel_regex",
    oracle="""
WITH s AS (
  SELECT user_id,
         string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id)
           AS seq
  FROM events GROUP BY user_id
),
c AS (
  SELECT
    CAST(COUNT(*) FILTER (regexp_matches(seq, 's.*c.*p')) AS BIGINT) AS p1,
    CAST(COUNT(*) FILTER (regexp_matches(seq, 'ce')) AS BIGINT) AS p2,
    CAST(COUNT(*) FILTER (regexp_matches(seq, 'vvv')) AS BIGINT) AS p3,
    CAST(COUNT(*) FILTER (regexp_matches(seq, '^[^s]*p')) AS BIGINT) AS p4,
    CAST(COUNT(*) AS BIGINT) AS n_users
  FROM s
)
SELECT pattern_ord, pattern, n_matched, n_users
FROM (
  SELECT 1 AS pattern_ord, 'signup_then_click_then_purchase' AS pattern,
         p1 AS n_matched, n_users FROM c
  UNION ALL SELECT 2, 'click_immediately_error', p2, n_users FROM c
  UNION ALL SELECT 3, 'three_consecutive_views', p3, n_users FROM c
  UNION ALL SELECT 4, 'purchase_before_any_signup', p4, n_users FROM c
)
ORDER BY pattern_ord
""",
)
def ev_funnel_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE-style sequence-pattern matching (Flink/Trino's
    row-pattern queries; the reference class is per-entity ordered event
    scans): each user's event history collapses to a compact symbol string
    — one character per event, in (ts, event_id) total order — and row
    patterns become plain regexes over that string: subsequence funnels
    ('s.*c.*p'), strict adjacency ('ce' = click immediately followed by
    error), runs ('vvv'), and negative lookback-free "p before any s"
    ('^[^s]*p'). All four patterns evaluate in ONE pass over the per-user
    strings; the regex dialect used is the RE2-portable subset shared by
    the JVM and DuckDB.

    Scale: one shuffle to group events per user (partial collect_list
    combines map-side); symbol strings are bounded by per-user event
    counts, so state per key is O(events-per-user) — the same bound any
    sessionizer carries. The four pattern counters then reduce to a single
    4-row readout; no second shuffle.
    """
    t = Tables(spark, sf_dir)
    seqs = t.events.groupBy("user_id").agg(
        F.array_join(
            F.expr(
                "transform(array_sort(collect_list(struct(ts, event_id,"
                " substring(event_type, 1, 1) AS c))), x -> x.c)"
            ),
            "",
        ).alias("seq")
    )
    c = seqs.agg(
        F.count(F.when(F.col("seq").rlike("s.*c.*p"), 1))
        .cast("bigint")
        .alias("p1"),
        F.count(F.when(F.col("seq").rlike("ce"), 1)).cast("bigint").alias("p2"),
        F.count(F.when(F.col("seq").rlike("vvv"), 1))
        .cast("bigint")
        .alias("p3"),
        F.count(F.when(F.col("seq").rlike("^[^s]*p"), 1))
        .cast("bigint")
        .alias("p4"),
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
    )
    return c.select(
        F.expr(
            "stack(4,"
            " 1, 'signup_then_click_then_purchase', p1,"
            " 2, 'click_immediately_error', p2,"
            " 3, 'three_consecutive_views', p3,"
            " 4, 'purchase_before_any_signup', p4)"
            " AS (pattern_ord, pattern, n_matched)"
        ),
        "n_users",
    ).orderBy("pattern_ord")


# --------------------------------------------------------------------------
@query(
    "ev_cusum_changepoint",
    oracle="""
WITH daily AS (
  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
         CAST(datediff('day', DATE '1970-01-01',
                        CAST(date_trunc('day', ts) AS DATE)) AS BIGINT) AS d,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM events GROUP BY 1, 2, 3
),
base AS (
  SELECT event_type, day, d, cnt,
         (SUM(cnt) OVER (PARTITION BY event_type) * 100)
           // COUNT(*) OVER (PARTITION BY event_type) AS mean100
  FROM daily
),
psum AS (
  SELECT event_type, day, d, cnt, mean100,
         SUM(cnt * 100 - mean100 - mean100 // 20) OVER w AS p
  FROM base
  WINDOW w AS (PARTITION BY event_type ORDER BY d
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
pfx AS (
  SELECT event_type, day, cnt, mean100, p, MIN(p) OVER w AS minp
  FROM psum
  WINDOW w AS (PARTITION BY event_type ORDER BY d
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT event_type, strftime(day, '%Y-%m-%d') AS day, cnt,
       CAST(p - LEAST(minp, 0) AS BIGINT) AS cusum_fixed,
       p - LEAST(minp, 0) > 3 * mean100 AS shifted
FROM pfx ORDER BY event_type, day
""",
)
def ev_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM mean-shift (changepoint) detection on daily event volume —
    the streaming-monitoring classic for catching sustained rate drifts
    that per-day z-scores miss. The textbook recursion
    S_t = max(0, S_{t-1} + (x_t - mu - slack)) looks inherently
    sequential, but equals P_t - min(0, min_{j<=t} P_j) over the prefix
    sums P of the slack-adjusted deviations — two stacked window
    functions, no recursion, no iteration.

    Exactness: deviations live at scale-100 integers (mu and the 5% slack
    via truncating integer division — nonnegative operands, so Spark `div`
    and DuckDB `//` agree); prefix sum, running min, and the 3*mu
    threshold all stay in exact BIGINT. No doubles anywhere.

    Scale: one shuffle to daily grain (map-side partial count), then one
    window sort per event_type; day count per type is bounded (~years),
    so the window partition never skews. The shift threshold is the
    standard h = 3*mu rate-scale heuristic, hash-verified not asserted.
    """
    t = Tables(spark, sf_dir)
    daily = (
        t.events.groupBy(
            "event_type",
            F.date_trunc("day", F.col("ts")).cast("date").alias("day"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        .select(
            "event_type",
            "day",
            F.datediff(F.col("day"), F.lit("1970-01-01").cast("date"))
            .cast("bigint")
            .alias("d"),
            "cnt",
        )
    )
    wtype = Window.partitionBy("event_type")
    base = daily.select(
        "event_type",
        "day",
        "d",
        "cnt",
        F.expr(
            "(sum(cnt * 100) OVER (PARTITION BY event_type))"
            " div (count(*) OVER (PARTITION BY event_type))"
        ).alias("mean100"),
    )
    wpfx = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    dev = F.col("cnt") * 100 - F.col("mean100") - F.expr("mean100 div 20")
    psum = base.select(
        "event_type",
        "day",
        "d",
        "cnt",
        "mean100",
        F.sum(dev).over(wpfx).alias("p"),
    )
    pfx = psum.select(
        "event_type",
        "day",
        "cnt",
        "mean100",
        "p",
        F.min("p").over(wpfx).alias("minp"),
    )
    cusum = F.col("p") - F.least(F.col("minp"), F.lit(0))
    return pfx.select(
        "event_type",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "cnt",
        cusum.cast("bigint").alias("cusum_fixed"),
        (cusum > 3 * F.col("mean100")).alias("shifted"),
    ).orderBy("event_type", "day")


# --------------------------------------------------------------------------
@query(
    "ev_entropy_rate",
    oracle="""
WITH nxt AS (
  SELECT event_type,
         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS next_type
  FROM events
),
c AS (
  SELECT event_type, next_type, CAST(COUNT(*) AS BIGINT) AS c_st
  FROM nxt WHERE next_type IS NOT NULL
  GROUP BY event_type, next_type
),
s AS (
  SELECT event_type,
         CAST(SUM(c_st) AS BIGINT) AS c_s,
         CAST(COUNT(*) AS BIGINT) AS n_next_types,
         CAST(SUM(c_st * CAST(round(log2(c_st) * 1000000) AS BIGINT))
              AS BIGINT) AS sum_cy
  FROM c GROUP BY event_type
)
SELECT event_type, c_s AS n_transitions, n_next_types,
       c_s * CAST(round(log2(c_s) * 1000000) AS BIGINT) - sum_cy
         AS ent_num_q6,
       CAST(c_s * CAST(round(log2(c_s) * 1000000) AS BIGINT) - sum_cy
            AS DOUBLE) / CAST(c_s AS DOUBLE) / 1000000.0 AS entropy_bits
FROM s ORDER BY event_type
""",
)
def ev_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-state transition entropy of the user-journey Markov chain: for
    each event_type, the Shannon entropy (bits) of its next-event
    distribution — near-zero entropy states are deterministic funnels,
    high-entropy states are exploration points. Completes the Markov
    family (ev_transition_matrix gives P, ev_markov_stationary gives pi;
    this gives H(next | state)).

    Exactness: the module's quantized-log path — every log2 of an INTEGER
    transition count rounds to micro-bits, the entropy numerator
    c_s*log2(c_s) - SUM(c_st*log2(c_st)) accumulates in exact BIGINTs
    (associativity-proof), and the only float op is one final division
    chain. Scale: one user_id shuffle for lead(), then aggregates over the
    tiny (types x types) relation.
    """
    t = Tables(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    nxt = t.events.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    ).where(F.col("next_type").isNotNull())
    c = nxt.groupBy("event_type", "next_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("c_st")
    )
    y = F.round(F.log2("c_st") * 1000000).cast("bigint")
    s = c.groupBy("event_type").agg(
        F.sum("c_st").cast("bigint").alias("c_s"),
        F.count(F.lit(1)).cast("bigint").alias("n_next_types"),
        F.sum(F.col("c_st") * y).cast("bigint").alias("sum_cy"),
    )
    ys = F.round(F.log2("c_s") * 1000000).cast("bigint")
    ent_num = F.col("c_s") * ys - F.col("sum_cy")
    return s.select(
        "event_type",
        F.col("c_s").alias("n_transitions"),
        "n_next_types",
        ent_num.alias("ent_num_q6"),
        (
            ent_num.cast("double") / F.col("c_s").cast("double") / 1000000.0
        ).alias("entropy_bits"),
    ).orderBy("event_type")


# --------------------------------------------------------------------------
_HOLT_DAILY_SQL = """
SELECT CAST(row_number() OVER (ORDER BY day) - 1 AS INTEGER) AS d, day, v
FROM (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
         CAST(COUNT(*) AS DOUBLE) AS v
  FROM events GROUP BY 1
)
"""

_HOLT_RECURSE_SQL = """
WITH RECURSIVE holt AS (
  SELECT d, day, v, v AS level, CAST(0.0 AS DOUBLE) AS trend
  FROM daily WHERE d = 0
  UNION ALL
  SELECT nd.d, nd.day, nd.v,
         0.5 * nd.v + 0.5 * (h.level + h.trend),
         0.25 * ((0.5 * nd.v + 0.5 * (h.level + h.trend)) - h.level)
           + 0.75 * h.trend
  FROM holt h JOIN daily nd ON nd.d = h.d + 1
  WHERE h.d < 14
)
SELECT d, CAST(day AS STRING) AS day, v AS observed, level, trend,
       level + trend AS forecast_next
FROM holt ORDER BY d
"""


@query(
    "ev_forecast_holt",
    oracle=f"""
WITH RECURSIVE daily AS ({_HOLT_DAILY_SQL}
),
{_HOLT_RECURSE_SQL.replace("WITH RECURSIVE holt AS (", "holt AS (", 1)}
""",
)
def ev_forecast_holt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt linear-trend double exponential smoothing over the daily event
    series — a genuine linear recurrence (level and trend each depend on
    yesterday's smoothed state), which no window frame can express.

    The ORACLE runs it as a recursive CTE; the Spark side runs the
    recurrence as a grouped-map kernel over the aggregated series — the
    sharded form a 1e6-series forecasting job actually uses (series key
    -> applyInPandas, recurrence in a tight loop). A pure-SQL recursive
    CTE works on Spark 4 too (ops_recursive_cte covers the surface) but
    prices each iteration at a full Spark job (~0.8s of scheduling per
    step measured against a 30-row LOCAL relation — the loop machinery,
    not the data, is the cost), which is the wrong shape for a
    15-step-per-series recurrence at any scale. Both forms evaluate the
    identical IEEE expression order (alpha=1/2, beta=1/4 — exact binary
    fractions), so the hash gate proves the kernel == the SQL recursion.

    Scale posture: one groupBy(day) shuffle builds the series; the kernel
    sees one bounded group per series (single series here, 15 rows by
    the recursion guard — same cap as the oracle).
    """
    import pandas as _pd

    t = Tables(spark, sf_dir)
    series = spark.sql(
        "WITH events AS (SELECT * FROM {e}) " + _HOLT_DAILY_SQL, e=t.events
    ).where(F.col("d") <= 14)

    def holt_kernel(pdf: _pd.DataFrame) -> _pd.DataFrame:
        pdf = pdf.sort_values("d").reset_index(drop=True)
        level, trend = [], []
        lv, tr = 0.0, 0.0
        for i, v in enumerate(pdf["v"]):
            if i == 0:
                lv, tr = float(v), 0.0
            else:
                new_lv = 0.5 * float(v) + 0.5 * (lv + tr)
                tr = 0.25 * (new_lv - lv) + 0.75 * tr
                lv = new_lv
            level.append(lv)
            trend.append(tr)
        return _pd.DataFrame(
            {
                "d": pdf["d"],
                "day": pdf["day"].astype(str),
                "observed": pdf["v"],
                "level": _pd.Series(level, dtype="float64"),
                "trend": _pd.Series(trend, dtype="float64"),
                "forecast_next": [lv + tr for lv, tr in zip(level, trend)],
            }
        )

    # single bounded group (one series, <= 15 rows by the guard) — the
    # constant key stands in for the series key of a multi-series job
    return (
        series.groupBy(F.lit(1).alias("_series"))
        .applyInPandas(
            holt_kernel,
            schema="d int, day string, observed double, level double, "
            "trend double, forecast_next double",
        )
        .orderBy("d")
    )


# --------------------------------------------------------------------------
@query(
    "ev_linear_interpolate",
    oracle="""
WITH grid AS (
  SELECT event_type,
         TIMESTAMP '2024-01-15 00:00:00' + to_hours(CAST(h AS BIGINT)) AS g
  FROM (SELECT DISTINCT event_type FROM events),
       (SELECT unnest(range(0, 24)) AS h)
),
u AS (
  SELECT event_type, ts, 0 AS is_grid, event_id,
         epoch_us(ts) AS t_us, value
  FROM events
  UNION ALL
  SELECT event_type, g, 1, NULL, epoch_us(g), NULL FROM grid
),
fwd AS (
  SELECT *,
         last_value(CASE WHEN is_grid = 0 THEN t_us END IGNORE NULLS)
           OVER w AS t_prev,
         last_value(CASE WHEN is_grid = 0 THEN value END IGNORE NULLS)
           OVER w AS v_prev
  FROM u
  WINDOW w AS (PARTITION BY event_type
               ORDER BY ts, is_grid, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
),
bwd AS (
  SELECT *,
         first_value(CASE WHEN is_grid = 0 THEN t_us END IGNORE NULLS)
           OVER w2 AS t_next,
         first_value(CASE WHEN is_grid = 0 THEN value END IGNORE NULLS)
           OVER w2 AS v_next
  FROM fwd
  WINDOW w2 AS (PARTITION BY event_type
                ORDER BY ts, is_grid, event_id
                ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
)
SELECT event_type, CAST(ts AS STRING) AS grid_ts,
       CASE WHEN t_next = t_prev THEN v_prev
            ELSE (v_prev * CAST(t_next - t_us AS DOUBLE)
                  + v_next * CAST(t_us - t_prev AS DOUBLE))
                 / CAST(t_next - t_prev AS DOUBLE) END AS v_interp
FROM bwd
WHERE is_grid = 1 AND t_prev IS NOT NULL AND t_next IS NOT NULL
ORDER BY event_type, grid_ts
""",
)
def ev_linear_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear interpolation of an event-stream metric onto a fixed hourly
    grid — the time-series resampling primitive (gap-FILLING carries the
    last value; interpolation blends both neighbors), used to align
    irregular telemetry onto model-ready fixed-step series.

    The union-window shape shared with the as-of joins: grid points and
    events union into ONE relation, a backward window (ROWS ... 1
    PRECEDING) carries the previous real observation and a forward
    window the next, so each grid point finds both neighbors in a single
    sort per event_type — no join, no per-grid-point probe. The blend
    ((v1*(t2-g) + v2*(g-t1))/(t2-t1) on microsecond integers cast to
    double) is the same IEEE expression in both engines. Grid rows sort
    AFTER real events at identical timestamps ((ts, is_grid, event_id)
    total order), pinning the boundary semantics.
    """
    t = Tables(spark, sf_dir)
    grid = (
        t.events.select("event_type")
        .distinct()
        .crossJoin(
            F.broadcast(
                spark.range(24).select(
                    (
                        F.lit("2024-01-15 00:00:00").cast("timestamp")
                        + F.make_interval(hours=F.col("id").cast("int"))
                    ).alias("ts")
                )
            )
        )
        .select(
            "event_type",
            "ts",
            F.lit(1).alias("is_grid"),
            F.lit(None).cast("long").alias("event_id"),
            F.unix_micros("ts").alias("t_us"),
            F.lit(None).cast("double").alias("value"),
        )
    )
    ev = t.events.select(
        "event_type",
        "ts",
        F.lit(0).alias("is_grid"),
        "event_id",
        F.unix_micros("ts").alias("t_us"),
        "value",
    )
    u = ev.unionAll(grid)
    # Both neighbor lookups use GROWING frames (unboundedPreceding .. -1):
    # Spark accumulates those in O(n) per partition, whereas a shrinking
    # (1 .. unboundedFollowing) frame re-scans current->end for EVERY row
    # — O(n^2), measured 242s at sf0.1 vs 0.9s for this shape. The "next
    # real observation" is therefore found by running the SAME growing
    # frame over the exactly REVERSED total order (desc ts, desc is_grid,
    # desc event_id with nulls last — the mirror of asc nulls first);
    # same partitioning, so the second window adds one sort, no shuffle.
    wb = (
        Window.partitionBy("event_type")
        .orderBy(F.col("ts"), F.col("is_grid"), F.col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    wf = (
        Window.partitionBy("event_type")
        .orderBy(
            F.col("ts").desc(),
            F.col("is_grid").desc(),
            F.col("event_id").desc_nulls_last(),
        )
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    real_t = F.when(F.col("is_grid") == 0, F.col("t_us"))
    real_v = F.when(F.col("is_grid") == 0, F.col("value"))
    d = u.select(
        "event_type",
        "ts",
        "is_grid",
        "t_us",
        F.last(real_t, ignorenulls=True).over(wb).alias("t_prev"),
        F.last(real_v, ignorenulls=True).over(wb).alias("v_prev"),
        F.last(real_t, ignorenulls=True).over(wf).alias("t_next"),
        F.last(real_v, ignorenulls=True).over(wf).alias("v_next"),
    )
    interp = F.when(
        F.col("t_next") == F.col("t_prev"), F.col("v_prev")
    ).otherwise(
        (
            F.col("v_prev") * (F.col("t_next") - F.col("t_us")).cast("double")
            + F.col("v_next") * (F.col("t_us") - F.col("t_prev")).cast("double")
        )
        / (F.col("t_next") - F.col("t_prev")).cast("double")
    )
    return (
        d.where(
            (F.col("is_grid") == 1)
            & F.col("t_prev").isNotNull()
            & F.col("t_next").isNotNull()
        )
        .select(
            "event_type",
            F.col("ts").cast("string").alias("grid_ts"),
            interp.alias("v_interp"),
        )
        .orderBy("event_type", "grid_ts")
    )


# --------------------------------------------------------------------------
@query(
    "ev_new_vs_returning",
    oracle="""
WITH fd AS (
  SELECT user_id, MIN(CAST(date_trunc('day', ts) AS DATE)) AS first_day
  FROM events GROUP BY user_id
),
daily AS (
  SELECT CAST(date_trunc('day', e.ts) AS DATE) AS day,
         CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS dau,
         CAST(COUNT(DISTINCT CASE WHEN f.first_day
                    = CAST(date_trunc('day', e.ts) AS DATE)
                    THEN e.user_id END) AS BIGINT) AS new_users
  FROM events e JOIN fd f USING (user_id)
  GROUP BY 1
)
SELECT CAST(day AS STRING) AS day, dau, new_users,
       dau - new_users AS returning_users,
       CAST(SUM(new_users) OVER (ORDER BY day
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS cumulative_users
FROM daily ORDER BY day
""",
)
def ev_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Growth accounting: daily actives split into NEW (first-ever day)
    vs RETURNING, plus the cumulative distinct-user curve — the
    day-over-day decomposition every growth dashboard leads with, and
    the denominator series for the retention/survival queries.

    Each user's first day computes once (one user_id shuffle); the daily
    split joins events back to that k-per-user row, and the cumulative
    curve is a running sum over the BOUNDED daily summary (days, not
    events — the unpartitioned window rides on ~30 rows here, ~years at
    most in production).
    """
    t = Tables(spark, sf_dir)
    day = F.date_trunc("day", F.col("ts")).cast("date")
    fd = t.events.groupBy("user_id").agg(F.min(day).alias("first_day"))
    daily = (
        t.events.join(fd, "user_id")
        .select(
            day.alias("day"),
            "user_id",
            (day == F.col("first_day")).alias("is_new"),
        )
        .groupBy("day")
        .agg(
            F.countDistinct("user_id").cast("bigint").alias("dau"),
            F.countDistinct(F.when(F.col("is_new"), F.col("user_id")))
            .cast("bigint")
            .alias("new_users"),
        )
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return (
        daily.select(
            F.col("day").cast("string").alias("day"),
            "dau",
            "new_users",
            (F.col("dau") - F.col("new_users")).alias("returning_users"),
            F.sum("new_users").over(w).cast("bigint").alias("cumulative_users"),
        )
        .orderBy("day")
    )


# --------------------------------------------------------------------------
@query(
    "ev_seasonality_profile",
    oracle="""
WITH daily AS (
  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2
),
keyed AS (
  SELECT event_type, day, c, CAST(isodow(day) AS BIGINT) AS dow FROM daily
),
prof AS (
  SELECT event_type, dow,
         CAST(COUNT(*) AS BIGINT) AS n_days,
         CAST(SUM(c) AS BIGINT) AS total
  FROM keyed GROUP BY 1, 2
),
base AS (
  SELECT event_type, CAST(SUM(c) AS BIGINT) AS grand,
         CAST(COUNT(*) AS BIGINT) AS all_days
  FROM keyed GROUP BY 1
)
SELECT p.event_type, p.dow, p.n_days, p.total,
       p.total * b.all_days * 1000000 // (p.n_days * b.grand)
         AS seasonal_index_ppm
FROM prof p JOIN base b USING (event_type)
ORDER BY event_type, dow
""",
)
def ev_seasonality_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly seasonality profile: per (event_type, ISO day-of-week), the
    seasonal index — mean daily volume on that weekday relative to the
    type's overall mean, in exact ppm (cleared-denominator integer form:
    total*all_days*1e6 div (n_days*grand), no float means). Index > 1e6
    = that weekday runs hot; the multiplicative-decomposition profile
    that deseasonalizes a series before trend/anomaly models
    (ev_forecast_holt, ev_anomaly_zscore) see it.

    Scale: one day-grain shuffle, then a 7-row-per-type rollup — the
    whole decomposition costs the daily aggregate it already shares
    with the other series queries.
    """
    t = Tables(spark, sf_dir)
    day = F.date_trunc("day", F.col("ts")).cast("date")
    daily = t.events.groupBy(
        "event_type", day.alias("day")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    keyed = daily.select(
        "event_type",
        "c",
        F.dayofweek("day").alias("_dw"),
    ).select(
        "event_type",
        "c",
        # Spark dayofweek: 1=Sunday..7=Saturday; ISO: 1=Monday..7=Sunday
        F.when(F.col("_dw") == 1, 7).otherwise(F.col("_dw") - 1)
        .cast("bigint")
        .alias("dow"),
    )
    prof = keyed.groupBy("event_type", "dow").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.sum("c").cast("bigint").alias("total"),
    )
    base = keyed.groupBy("event_type").agg(
        F.sum("c").cast("bigint").alias("grand"),
        F.count(F.lit(1)).cast("bigint").alias("all_days"),
    )
    return (
        prof.join(F.broadcast(base), "event_type")
        .select(
            "event_type",
            "dow",
            "n_days",
            "total",
            F.expr(
                "total * all_days * 1000000 div (n_days * grand)"
            ).alias("seasonal_index_ppm"),
        )
        .orderBy("event_type", "dow")
    )


# ---------------------------------------------------------------------------
@query(
    "ev_theil_sen_trend",
    oracle="""
WITH daily AS (
  SELECT event_type,
         CAST(datediff('day', DATE '1970-01-01',
                       CAST(date_trunc('day', ts) AS DATE)) AS BIGINT) AS d,
         CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS v_cents
  FROM events GROUP BY 1, 2
),
slopes AS (
  SELECT a.event_type,
         CAST(b.v_cents - a.v_cents AS DOUBLE) / (b.d - a.d) AS slope
  FROM daily a JOIN daily b
    ON a.event_type = b.event_type AND a.d < b.d
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_slopes,
       CAST(median(slope) AS DOUBLE) AS ts_slope_cents_per_day
FROM slopes GROUP BY event_type ORDER BY event_type
""",
)
def ev_theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend per event type: the MEDIAN of all pairwise
    day-to-day slopes of the daily monetary total — a 29%-breakdown-point
    trend estimator that one anomalous day cannot drag (unlike the OLS
    slope ops_agg_regr fits).

    The pairwise stage is the textbook quadratic trap, bounded here the
    way production bounds it: slopes are taken over the DAILY aggregate
    (first-aggregate collapse: 100 TB of events -> one row per
    (type, day) before any pair math), so the self-join is
    O(types x days^2) with days ~ bounded window — never over raw events.
    Monetary is exact int64 cents; each slope is ONE double division of
    exact integers, so both engines see the identical slope multiset and
    the interpolated median (one IEEE average of the two middles) is
    bit-identical.
    """
    t = Tables(spark, sf_dir)
    daily = (
        t.events.groupBy(
            "event_type",
            F.datediff(
                F.date_trunc("day", F.col("ts")).cast("date"),
                F.lit("1970-01-01").cast("date"),
            ).cast("long").alias("d"),
        )
        .agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("v_cents"))
    )
    a = daily.select(
        "event_type", F.col("d").alias("da"), F.col("v_cents").alias("va")
    )
    b = daily.select(
        F.col("event_type").alias("et_b"),
        F.col("d").alias("db"),
        F.col("v_cents").alias("vb"),
    )
    slopes = a.join(
        b, (F.col("event_type") == F.col("et_b")) & (F.col("da") < F.col("db"))
    ).select(
        "event_type",
        ((F.col("vb") - F.col("va")).cast("double") / (F.col("db") - F.col("da"))).alias(
            "slope"
        ),
    )
    return (
        slopes.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_slopes"),
            F.median("slope").alias("ts_slope_cents_per_day"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
@query(
    "ev_click_debounce",
    oracle="""
WITH ordered AS (
  SELECT user_id, event_type, ts, event_id,
         lag(ts) OVER (PARTITION BY user_id, event_type
                       ORDER BY ts, event_id) AS prev_ts
  FROM events
),
marked AS (
  SELECT user_id, event_type, ts, event_id,
         CASE WHEN prev_ts IS NULL
                OR date_diff('second', prev_ts, ts) > 300
              THEN 1 ELSE 0 END AS new_burst
  FROM ordered
),
bursts AS (
  SELECT user_id, event_type, ts, event_id,
         SUM(new_burst) OVER (PARTITION BY user_id, event_type
                              ORDER BY ts, event_id) AS burst_id
  FROM marked
),
kept AS (
  SELECT user_id, event_type, burst_id,
         CAST(COUNT(*) AS BIGINT) AS burst_len
  FROM bursts GROUP BY 1, 2, 3
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_kept,
       CAST(SUM(burst_len) AS BIGINT) AS n_raw,
       CAST(SUM(burst_len - 1) AS BIGINT) AS n_suppressed,
       CAST(MAX(burst_len) AS BIGINT) AS max_burst
FROM kept GROUP BY event_type ORDER BY event_type
""",
)
def ev_click_debounce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event debounce: collapse rapid-fire repeats of the same event by
    the same user into one, with CHAINED suppression semantics — a burst
    extends while consecutive gaps stay <= 300 s (the sessionize recipe
    applied as a dedup operator: bot double-clicks, retry storms, SDK
    re-sends). Keeping the first event of each burst is exact chained
    debounce; the output audits suppression per event type.

    Scale: one shuffle on (user_id, event_type) serves both windows (lag
    and the running burst-id sum share the partitioning and sort), then
    the burst/type aggregates are map-side-partial rollups — the same
    single-shuffle posture as ev_sessionize. Tie-break on event_id makes
    the lag order total, so both engines chain identical bursts.
    """
    t = Tables(spark, sf_dir)
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    marked = t.events.select(
        "user_id", "event_type", "ts", "event_id",
        F.lag("ts").over(w).alias("prev_ts"),
    ).withColumn(
        "new_burst",
        F.when(
            F.col("prev_ts").isNull()
            | (F.unix_timestamp("ts") - F.unix_timestamp("prev_ts") > 300),
            1,
        ).otherwise(0),
    )
    bursts = marked.withColumn(
        "burst_id",
        F.sum("new_burst").over(
            Window.partitionBy("user_id", "event_type")
            .orderBy("ts", "event_id")
            .rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    kept = bursts.groupBy("user_id", "event_type", "burst_id").agg(
        F.count(F.lit(1)).alias("burst_len")
    )
    return (
        kept.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("burst_len").alias("n_raw"),
            F.sum(F.col("burst_len") - 1).alias("n_suppressed"),
            F.max("burst_len").alias("max_burst"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
@query(
    "ev_sliding_hll_7d",
    oracle="""
WITH d AS (
  SELECT DISTINCT CAST(datediff('day', DATE '1970-01-01',
                   CAST(date_trunc('day', ts) AS DATE)) AS BIGINT) AS day,
         user_id
  FROM events
),
days AS (SELECT DISTINCT day FROM d)
SELECT w.day,
       CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS exact_users_7d,
       TRUE AS within_bound
FROM days w JOIN d e ON e.day BETWEEN w.day - 6 AND w.day
GROUP BY w.day ORDER BY w.day
""",
)
def ev_sliding_hll_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 7-day distinct users from MERGEABLE per-day HLL sketches —
    the store-once-answer-any-window rollup: each day's sketch is built
    once (one pass over that day's events), and every trailing window is
    a union of <= 7 sketches, never a rescan of raw events. This is the
    sketch-algebra answer to ev_dau_wau_mau's exact-but-rescanning
    window; at 100 TB the per-day sketches are a few KB each and the
    window union touches no raw data.

    The 7-day fan-out is the offset-explode equi-join (each day's sketch
    mails itself to the 7 window-ends it serves) — shuffle carries
    7 x #days sketch rows, independent of corpus size. Oracle contract
    (ops_agg_approx pattern): the query emits the EXACT sliding distinct
    (computed from deduped (day,user) pairs, also offset-exploded) plus
    a boolean pinning the merged-sketch estimate inside 5% (~3 sigma for
    lgConfigK=12); the oracle emits the exact count with literal TRUE.
    """
    t = Tables(spark, sf_dir)
    day = F.datediff(
        F.date_trunc("day", F.col("ts")).cast("date"),
        F.lit("1970-01-01").cast("date"),
    ).cast("long")
    ev = t.events.select(day.alias("day"), "user_id")
    days = ev.select("day").distinct()
    # per-day sketch, built once
    sk = ev.groupBy("day").agg(F.expr("hll_sketch_agg(user_id)").alias("sk"))
    off = F.explode(F.sequence(F.lit(0), F.lit(6))).alias("off")
    sk_w = (
        sk.select("day", "sk", off)
        .select((F.col("day") + F.col("off")).alias("wday"), "sk")
        .join(days.select(F.col("day").alias("wday")), "wday")
        .groupBy("wday")
        .agg(F.expr("hll_sketch_estimate(hll_union_agg(sk))").alias("est"))
    )
    # exact side from deduped (day, user) pairs — same fan-out shape
    pairs = ev.distinct()
    exact = (
        pairs.select("day", "user_id", off)
        .select((F.col("day") + F.col("off")).alias("wday"), "user_id")
        .join(days.select(F.col("day").alias("wday")), "wday")
        .groupBy("wday")
        .agg(F.countDistinct("user_id").cast("bigint").alias("exact_users_7d"))
    )
    return (
        exact.join(sk_w, "wday")
        .select(
            F.col("wday").alias("day"),
            "exact_users_7d",
            (
                F.abs(F.col("est") - F.col("exact_users_7d"))
                <= 0.05 * F.col("exact_users_7d")
            ).alias("within_bound"),
        )
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
@query(
    "ev_lttb_downsample",
    oracle="""
WITH daily AS (
  SELECT event_type,
         CAST(datediff('day', DATE '1970-01-01',
                       CAST(date_trunc('day', ts) AS DATE)) AS BIGINT) AS d,
         CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS v
  FROM events GROUP BY 1, 2
),
mn AS (SELECT MIN(d) AS d0 FROM daily),
pts AS (
  SELECT event_type, d, v, CAST((d - d0) // 3 AS BIGINT) AS b
  FROM daily CROSS JOIN mn
),
bs AS (
  SELECT event_type, b, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(d) AS BIGINT) AS sx, CAST(SUM(v) AS BIGINT) AS sy
  FROM pts GROUP BY 1, 2
),
bounds AS (SELECT event_type, MIN(b) AS bmin, MAX(b) AS bmax FROM pts GROUP BY 1),
mid AS (
  SELECT p.event_type, p.b, p.d, p.v,
         abs((pp.sx - pp.n * p.d) * (nn.sy - nn.n * p.v)
           - (nn.sx - nn.n * p.d) * (pp.sy - pp.n * p.v)) AS area2
  FROM pts p
  JOIN bs pp ON pp.event_type = p.event_type AND pp.b = p.b - 1
  JOIN bs nn ON nn.event_type = p.event_type AND nn.b = p.b + 1
),
sel_mid AS (
  SELECT event_type, b, d, v, 'lttb' AS role FROM (
    SELECT *, row_number() OVER (PARTITION BY event_type, b
                                 ORDER BY area2 DESC, d) AS rn
    FROM mid
  ) WHERE rn = 1
),
sel_edge AS (
  SELECT event_type, b, d, v, role FROM (
    SELECT p.event_type, p.b, p.d, p.v,
           CASE WHEN p.b = bo.bmin THEN 'first' ELSE 'last' END AS role,
           row_number() OVER (
             PARTITION BY p.event_type, p.b
             ORDER BY CASE WHEN p.b = bo.bmin THEN p.d ELSE -p.d END
           ) AS rn
    FROM pts p JOIN bounds bo
      ON bo.event_type = p.event_type AND p.b IN (bo.bmin, bo.bmax)
  ) WHERE rn = 1
)
SELECT event_type, b AS bucket, d AS day_index, v AS v_cents, role
FROM (SELECT * FROM sel_mid UNION ALL SELECT * FROM sel_edge)
ORDER BY event_type, day_index
""",
)
def ev_lttb_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-Triangle-Three-Buckets downsampling of each event-type's
    daily series — the dashboard-rendering operator: reduce millions of
    points per series to one visually-dominant point per bucket
    (Steinarsson's LTTB), keeping the exact first/last points.

    This is the PARALLEL variant: anchors are the neighbor buckets'
    MEANS (classic LTTB chains on the previously selected point — a
    sequential recurrence; the mean-anchor form is embarrassingly
    parallel and is what production time-series stores implement). The
    triangle area comparison is EXACT INTEGER arithmetic: with mean
    anchors (sx/n, sy/n), multiplying the 2x-area by n_prev * n_next
    clears every denominator — |(sxp - np*x)(syn - nn*y) -
    (sxn - nn*x)(syp - np*y)| — so the argmax (ties broken by day) is
    bit-identical in both engines, no float comparisons anywhere.

    Scale: first-aggregate collapse to (type, day), bucket sums are a
    second tiny rollup joined back by (type, bucket +/- 1) equi-joins;
    the argmax is a per-bucket window over ~bucket_width rows. Nothing
    after the daily collapse exceeds #buckets rows per series.
    """
    t = Tables(spark, sf_dir)
    daily = (
        t.events.groupBy(
            "event_type",
            F.datediff(
                F.date_trunc("day", F.col("ts")).cast("date"),
                F.lit("1970-01-01").cast("date"),
            ).cast("long").alias("d"),
        )
        .agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("v"))
    )
    mn = daily.agg(F.min("d").alias("d0"))
    # the bucketed (type, day) points feed FOUR consumers (bucket sums,
    # bounds, the mid-argmax join, the edge picker) — cache the bounded
    # daily grain so the events scan+agg runs once
    pts = cached(
        daily.crossJoin(F.broadcast(mn)).select(
            "event_type", "d", "v", F.expr("(d - d0) DIV 3").alias("b")
        )
    )
    bs = pts.groupBy("event_type", "b").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("d").alias("sx"),
        F.sum("v").alias("sy"),
    )
    bounds = pts.groupBy("event_type").agg(
        F.min("b").alias("bmin"), F.max("b").alias("bmax")
    )
    pp = bs.select(
        F.col("event_type").alias("et_p"), (F.col("b") + 1).alias("b_p"),
        F.col("n").alias("np"), F.col("sx").alias("sxp"), F.col("sy").alias("syp"),
    )
    nn = bs.select(
        F.col("event_type").alias("et_n"), (F.col("b") - 1).alias("b_n"),
        F.col("n").alias("nnx"), F.col("sx").alias("sxn"), F.col("sy").alias("syn"),
    )
    mid = (
        pts.join(pp, (F.col("event_type") == F.col("et_p")) & (F.col("b") == F.col("b_p")))
        .join(nn, (F.col("event_type") == F.col("et_n")) & (F.col("b") == F.col("b_n")))
        .select(
            "event_type", "b", "d", "v",
            F.abs(
                (F.col("sxp") - F.col("np") * F.col("d"))
                * (F.col("syn") - F.col("nnx") * F.col("v"))
                - (F.col("sxn") - F.col("nnx") * F.col("d"))
                * (F.col("syp") - F.col("np") * F.col("v"))
            ).alias("area2"),
        )
    )
    sel_mid = top_k(
        mid, ["event_type", "b"], [F.desc("area2"), "d"], 1
    ).select("event_type", "b", "d", "v", F.lit("lttb").alias("role"))
    edge_pts = pts.join(F.broadcast(bounds), "event_type").where(
        (F.col("b") == F.col("bmin")) | (F.col("b") == F.col("bmax"))
    )
    edge_first = F.when(F.col("b") == F.col("bmin"), F.col("d")).otherwise(
        -F.col("d")
    )
    sel_edge = (
        top_k(edge_pts, ["event_type", "b"], [edge_first], 1)
        .select(
            "event_type", "b", "d", "v",
            F.when(F.col("b") == F.col("bmin"), "first").otherwise("last").alias("role"),
        )
    )

    return (
        sel_mid.unionAll(sel_edge)
        .select(
            "event_type", F.col("b").alias("bucket"),
            F.col("d").alias("day_index"), F.col("v").alias("v_cents"), "role",
        )
        .orderBy("event_type", "day_index")
    )


# --------------------------------------------------------------------------
@query(
    "ev_mann_kendall",
    oracle="""
WITH daily AS (
  SELECT event_type,
         CAST(datediff('day', DATE '1970-01-01',
                       CAST(date_trunc('day', ts) AS DATE)) AS BIGINT) AS d,
         CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS v_cents
  FROM events GROUP BY 1, 2
),
pairs AS (
  SELECT a.event_type,
         CAST(SUM(CASE WHEN b.v_cents > a.v_cents THEN 1
                       WHEN b.v_cents < a.v_cents THEN -1 ELSE 0 END)
              AS BIGINT) AS s_stat
  FROM daily a JOIN daily b
    ON a.event_type = b.event_type AND a.d < b.d
  GROUP BY a.event_type
),
ties AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n_days,
         CAST(SUM(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_term
  FROM (
    SELECT event_type, v_cents, CAST(COUNT(*) AS BIGINT) AS t
    FROM daily GROUP BY event_type, v_cents
  ) GROUP BY event_type
)
SELECT p.event_type, t.n_days, p.s_stat,
       t.n_days * (t.n_days - 1) * (2 * t.n_days + 5) - t.tie_term AS var18,
       CASE WHEN p.s_stat > 0 THEN CAST(p.s_stat - 1 AS DOUBLE)
                 / sqrt(CAST(t.n_days * (t.n_days - 1) * (2 * t.n_days + 5)
                             - t.tie_term AS DOUBLE) / 18.0)
            WHEN p.s_stat < 0 THEN CAST(p.s_stat + 1 AS DOUBLE)
                 / sqrt(CAST(t.n_days * (t.n_days - 1) * (2 * t.n_days + 5)
                             - t.tie_term AS DOUBLE) / 18.0)
            ELSE 0.0 END AS z_score
FROM pairs p JOIN ties t ON p.event_type = t.event_type
ORDER BY p.event_type
""",
)
def ev_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall trend significance test per event type — the
    nonparametric partner to ev_theil_sen_trend: Theil-Sen says how
    steep the trend is, Mann-Kendall says whether a monotone trend
    exists at all (S = sum of pairwise direction signs; z from the
    tie-corrected variance n(n-1)(2n+5)/18 - tie term, with the
    standard +/-1 continuity correction). The pair every monitoring
    stack ships for rate-drift alerts that must not assume normality.

    Exactness: S, n, the tie term, and var18 (variance x18, kept as an
    integer so no /18 rounds early) are all exact int64 over exact
    int64 cent totals; z is formed by ONE identical double sequence in
    both engines (int->double cast, /18.0, IEEE sqrt, one division).

    Scale posture at 100 TB: first-aggregate collapse to (type, day)
    rows before any pair math — the self-join is O(types x days^2)
    over a bounded day window, never over raw events; the tie counts
    are a second partial-agg pass over the same daily rows; final join
    merges two <=|types|-row sides.
    """
    t = Tables(spark, sf_dir)
    # the bounded (type, day) rows feed the pair self-join's BOTH sides
    # plus the tie-count pass — cache so the events scan+agg runs once
    daily = cached(
        t.events.groupBy(
            "event_type",
            F.datediff(
                F.date_trunc("day", F.col("ts")).cast("date"),
                F.lit("1970-01-01").cast("date"),
            )
            .cast("long")
            .alias("d"),
        ).agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("v_cents"))
    )
    a = daily.select(
        "event_type", F.col("d").alias("da"), F.col("v_cents").alias("va")
    )
    b = daily.select(
        F.col("event_type").alias("et_b"),
        F.col("d").alias("db"),
        F.col("v_cents").alias("vb"),
    )
    pairs = (
        a.join(b, (a.event_type == b.et_b) & (a.da < b.db))
        .groupBy("event_type")
        .agg(
            F.sum(
                F.when(F.col("vb") > F.col("va"), 1)
                .when(F.col("vb") < F.col("va"), -1)
                .otherwise(0)
            )
            .cast("bigint")
            .alias("s_stat")
        )
    )
    ties = (
        daily.groupBy("event_type", "v_cents")
        .agg(F.count(F.lit(1)).alias("t"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_days"),
            F.sum(
                F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)
            )
            .cast("bigint")
            .alias("tie_term"),
        )
    )
    var18 = (
        F.col("n_days") * (F.col("n_days") - 1) * (2 * F.col("n_days") + 5)
        - F.col("tie_term")
    )
    denom = F.sqrt(var18.cast("double") / F.lit(18.0))

    return (
        pairs.join(ties, "event_type")
        .select(
            "event_type",
            "n_days",
            "s_stat",
            var18.alias("var18"),
            F.when(
                F.col("s_stat") > 0,
                (F.col("s_stat") - 1).cast("double") / denom,
            )
            .when(
                F.col("s_stat") < 0,
                (F.col("s_stat") + 1).cast("double") / denom,
            )
            .otherwise(F.lit(0.0))
            .alias("z_score"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
@query(
    "ev_rfm_segmentation",
    oracle="""
WITH maxd AS (
  SELECT CAST(datediff('day', DATE '1970-01-01',
              CAST(date_trunc('day', MAX(ts)) AS DATE)) AS BIGINT) AS dmax
  FROM events
),
per_user AS (
  SELECT user_id,
         CAST(m.dmax - datediff('day', DATE '1970-01-01',
              CAST(date_trunc('day', MAX(e.ts)) AS DATE)) AS BIGINT)
           AS recency_days,
         CAST(COUNT(*) AS BIGINT) AS frequency,
         CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
           AS monetary_cents
  FROM events e CROSS JOIN maxd m
  WHERE e.event_type = 'purchase'
  GROUP BY user_id, m.dmax
),
scored AS (
  SELECT user_id, monetary_cents,
         ntile(5) OVER (ORDER BY recency_days ASC, user_id) AS r_inv,
         ntile(5) OVER (ORDER BY frequency DESC, user_id) AS f_inv,
         ntile(5) OVER (ORDER BY monetary_cents DESC, user_id) AS m_inv
  FROM per_user
)
SELECT (6 - r_inv) * 100 + (6 - f_inv) * 10 + (6 - m_inv) AS rfm_code,
       CAST(COUNT(*) AS BIGINT) AS n_users,
       CAST(SUM(monetary_cents) AS BIGINT) AS segment_cents,
       CAST(MIN(user_id) AS BIGINT) AS sample_user
FROM scored GROUP BY 1 ORDER BY rfm_code
""",
)
def ev_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM (recency / frequency / monetary) quintile segmentation — the
    classic lifecycle-marketing cut of the purchase log: score each
    buyer 1-5 on how recently, how often, and how much they bought
    (5 = best), and report user counts + revenue per RFM code. Recency
    anchors to the corpus max day (never now() — hash stability).

    Sibling of ev_rfm_segments, deliberately the OTHER design point:
    that query rolls up segment sizes from binned weighted_quantile
    cutoffs (the 1e9-user path); this one emits the full per-RFM-code
    revenue table from tie-broken exact ntile (the exact
    small-cardinality form) — the pair documents the trade.

    Exactness: recency in integer days, frequency integer, monetary in
    exact int64 cents; quintiles via ntile(5) over a fully tie-broken
    total order (metric, user_id), which both engines bucket
    identically (earlier buckets get the remainder); the RFM code is
    pure integer arithmetic.

    Scale posture at 100 TB: the raw log collapses to one row per
    purchaser first (partial-agg shuffle on user_id). The three global
    ntile windows are single-partition sorts over USERS (already
    ~1e4x smaller than events) — exact-quantile semantics chosen here
    deliberately; at 1e9-user scale swap each ntile for broadcast
    quintile cutpoints from the two-phase binned weighted_quantile
    (operators/relational.py) and a CASE lookup, which keeps the same
    output contract without a global sort.
    """
    t = Tables(spark, sf_dir)
    day_num = lambda c: F.datediff(  # noqa: E731
        F.date_trunc("day", c).cast("date"), F.lit("1970-01-01").cast("date")
    ).cast("long")
    purchases = t.events.where(F.col("event_type") == "purchase")
    # recency anchors to the corpus max day over ALL events (matches the
    # oracle's maxd CTE) — not the purchase-only max, which would differ by
    # a constant the moment recency_days is emitted or used non-ordinally
    maxd = t.events.agg(day_num(F.max("ts")).alias("dmax"))
    per_user = (
        purchases.groupBy("user_id")
        .agg(
            day_num(F.max("ts")).alias("last_day"),
            F.count(F.lit(1)).alias("frequency"),
            F.sum(F.round(F.col("value") * 100).cast("long"))
            .cast("bigint")
            .alias("monetary_cents"),
        )
        .crossJoin(F.broadcast(maxd))  # 1-row scalar merge
        .select(
            "user_id",
            (F.col("dmax") - F.col("last_day")).alias("recency_days"),
            "frequency",
            "monetary_cents",
        )
    )
    scored = per_user.select(
        "user_id",
        "monetary_cents",
        F.ntile(5)
        .over(Window.orderBy(F.asc("recency_days"), F.asc("user_id")))
        .alias("r_inv"),
        F.ntile(5)
        .over(Window.orderBy(F.desc("frequency"), F.asc("user_id")))
        .alias("f_inv"),
        F.ntile(5)
        .over(Window.orderBy(F.desc("monetary_cents"), F.asc("user_id")))
        .alias("m_inv"),
    )
    return (
        scored.groupBy(
            (
                (6 - F.col("r_inv")) * 100
                + (6 - F.col("f_inv")) * 10
                + (6 - F.col("m_inv"))
            ).cast("bigint").alias("rfm_code")
        )
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.sum("monetary_cents").cast("bigint").alias("segment_cents"),
            F.min("user_id").cast("bigint").alias("sample_user"),
        )
        .orderBy("rfm_code")
    )


# --------------------------------------------------------------------------
def _markov_attr_oracle() -> str:
    """Unrolled absorbing-chain oracle (v0..v5) for ev_markov_attribution;
    generated by loop so both engines share the identical step algebra."""
    steps = []
    for k in range(1, 6):
        steps.append(f"""
v{k} AS (
  SELECT s.cfg, s.state, COALESCE(p.pc, 0) + COALESCE(m.acc, 0) AS v
  FROM states s
  LEFT JOIN pconv p ON p.cfg = s.cfg AND p.state = s.state
  LEFT JOIN (
    SELECT t.cfg, t.src, SUM(t.p_ppm * v.v) // 1000000 AS acc
    FROM tmat t JOIN v{k - 1} v ON v.cfg = t.cfg AND v.state = t.dst
    GROUP BY t.cfg, t.src
  ) m ON m.cfg = s.cfg AND m.src = s.state
)""")
    return f"""
WITH seq AS (
  SELECT user_id, event_type AS src,
         lead(event_type) OVER (PARTITION BY user_id
           ORDER BY epoch_us(CAST(ts AS TIMESTAMP)), event_id) AS dst,
         row_number() OVER (PARTITION BY user_id
           ORDER BY epoch_us(CAST(ts AS TIMESTAMP)), event_id) AS rn
  FROM events
),
trans AS (
  SELECT src, COALESCE(dst, 'NULL') AS dst FROM seq WHERE src <> 'purchase'
  UNION ALL
  SELECT 'START' AS src, src AS dst FROM seq WHERE rn = 1
),
cnt AS (SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS n FROM trans
        GROUP BY src, dst),
base AS (
  SELECT src, dst, n * 1000000 // SUM(n) OVER (PARTITION BY src) AS p_ppm
  FROM cnt
),
configs AS (SELECT 'FULL' AS cfg UNION ALL
            SELECT DISTINCT event_type FROM events
            WHERE event_type <> 'purchase'),
mat AS (
  SELECT c.cfg, b.src, b.dst, b.p_ppm FROM configs c JOIN base b
    ON (c.cfg = 'FULL' OR (b.src <> c.cfg AND b.dst <> c.cfg))
),
pconv AS (SELECT cfg, src AS state, p_ppm AS pc FROM mat
          WHERE dst = 'purchase'),
tmat AS (SELECT cfg, src, dst, p_ppm FROM mat
         WHERE dst NOT IN ('purchase', 'NULL')),
states AS (SELECT DISTINCT cfg, src AS state FROM mat),
v0 AS (SELECT s.cfg, s.state, COALESCE(p.pc, 0) AS v
       FROM states s LEFT JOIN pconv p
         ON p.cfg = s.cfg AND p.state = s.state),
{",".join(steps)},
conv AS (SELECT cfg, v AS conv_ppm FROM v5 WHERE state = 'START'),
eff AS (
  SELECT c.cfg AS channel,
         CAST(f.conv_ppm AS BIGINT) AS conv_full_ppm,
         CAST(c.conv_ppm AS BIGINT) AS conv_removed_ppm,
         CAST(CASE WHEN f.conv_ppm > 0
              THEN 1000000 - c.conv_ppm * 1000000 // f.conv_ppm
              END AS BIGINT) AS removal_effect_ppm
  FROM conv c CROSS JOIN (SELECT conv_ppm FROM conv WHERE cfg = 'FULL') f
  WHERE c.cfg <> 'FULL'
)
SELECT channel, conv_full_ppm, conv_removed_ppm, removal_effect_ppm,
       CAST(CASE WHEN SUM(removal_effect_ppm) OVER () > 0
            THEN removal_effect_ppm * 1000000
                 // SUM(removal_effect_ppm) OVER ()
            END AS BIGINT) AS attribution_ppm
FROM eff ORDER BY channel
"""


@query("ev_markov_attribution", oracle=_markov_attr_oracle())
def ev_markov_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-driven (Markov removal-effect) attribution — the
    multi-touch-attribution algorithm that replaced last-click in
    marketing stacks: build the first-order channel chain with START /
    conversion ('purchase', absorbing) / NULL (journey end) states,
    compute P(convert from START) by absorbing-chain fixed point, then
    re-run it with each channel REMOVED (its transitions fail to NULL —
    no renormalization, per the standard formulation). A channel's
    credit is its removal effect 1 - conv_removed/conv_full, normalized
    across channels.

    Exactness: transition probabilities, the 5 fixed-point steps
    (v' = pconv + (P_transient v) div 1e6), the removal effects, and
    the attribution shares are ALL ppm-scaled exact integers with
    nonnegative operands, so Python //, Spark `div`, and DuckDB `//`
    agree bit-for-bit; the oracle's unrolled step CTEs run the
    identical algebra.

    Scale posture at 100 TB: Spark owns the ONE pass over the raw log
    (the lead/row_number user window — the sessionize shuffle — plus a
    partial-agg collapse to K^2 transition counts). The fixed point then
    runs driver-side on the COLLECTED transition matrix — bounded
    metadata (K^2 <= dozens of rows, independent of corpus size), the
    same posture as the PQ/IVF codebook collects. The first draft ran
    the 5 steps as unrolled DataFrame join-aggs; that shape re-shuffled
    <=300-row metadata through ~20 stages and cost 15.5s of pure stage
    scheduling at ANY scale (PERF.md) — scheduling fixed costs belong
    on the driver when the data is metadata-sized.
    """
    t = Tables(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy(
        F.unix_micros(F.col("ts")), F.col("event_id")
    )
    seq = t.events.select(
        F.col("event_type").alias("src"),
        F.lead("event_type").over(w).alias("dst"),
        F.row_number().over(w).alias("rn"),
    )
    # one conditional-array explode instead of a two-branch union: the
    # union's branches were independent subplans, so the sessionize window
    # (the query's only corpus-wide shuffle+sort) ran TWICE over events
    # (guide §2.4 — remove shuffles outright). Each seq row emits 0-2
    # transition structs: its own (src -> dst|NULL) edge unless src is the
    # absorbing state, plus the START edge when it opens a user journey.
    # Row multiset identical to the union by construction.
    trans = seq.select(
        F.explode(
            F.array_compact(
                F.array(
                    F.when(
                        F.col("src") != "purchase",
                        F.struct(
                            F.col("src").alias("src"),
                            F.coalesce(F.col("dst"), F.lit("NULL")).alias("dst"),
                        ),
                    ),
                    F.when(
                        F.col("rn") == 1,
                        F.struct(
                            F.lit("START").alias("src"), F.col("src").alias("dst")
                        ),
                    ),
                )
            )
        ).alias("e")
    ).select("e.src", "e.dst")
    cnt = trans.groupBy("src", "dst").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    wsrc = Window.partitionBy("src")
    base_rows = (
        cnt.select(
            "src",
            "dst",
            F.expr("n * 1000000").cast("bigint").alias("n6"),
            F.sum("n").over(wsrc).cast("bigint").alias("rowsum"),
        )
        .select("src", "dst", F.expr("n6 div rowsum").alias("p_ppm"))
        .collect()  # bounded: K^2 transition-matrix metadata, never log rows
    )
    base = [(r.src, r.dst, int(r.p_ppm)) for r in base_rows]
    channels = sorted(
        ({s for s, _, _ in base} | {d for _, d, _ in base})
        - {"START", "NULL", "purchase"}
    )

    def conv_ppm(removed: str | None) -> int:
        mat = [
            (s, d, p)
            for s, d, p in base
            if removed is None or (s != removed and d != removed)
        ]
        pconv = {s: p for s, d, p in mat if d == "purchase"}
        tmat = [(s, d, p) for s, d, p in mat if d not in ("purchase", "NULL")]
        states = {s for s, _, _ in mat}
        v = {s: pconv.get(s, 0) for s in states}
        for _ in range(5):
            acc: dict[str, int] = {}
            for s, d, p in tmat:
                if d in v:
                    acc[s] = acc.get(s, 0) + p * v[d]
            v = {s: pconv.get(s, 0) + acc.get(s, 0) // 1000000 for s in states}
        return v.get("START", 0)

    full = conv_ppm(None)
    rows = []
    effs = {}
    for c in channels:
        removed = conv_ppm(c)
        effs[c] = (
            1000000 - removed * 1000000 // full if full > 0 else None
        )
        rows.append((c, full, removed))
    total_eff = sum(e for e in effs.values() if e is not None)
    out = [
        (
            c,
            full_,
            removed_,
            effs[c],
            (
                effs[c] * 1000000 // total_eff
                if effs[c] is not None and total_eff > 0
                else None
            ),
        )
        for c, full_, removed_ in rows
    ]
    return local_frame(
        spark,
        out,
        "channel string, conv_full_ppm long, conv_removed_ppm long, "
        "removal_effect_ppm long, attribution_ppm long",
    ).orderBy("channel")


# --------------------------------------------------------------------------
@query(
    "ev_conversion_latency",
    oracle="""
WITH firsts AS (
  SELECT user_id,
         MIN(CASE WHEN event_type = 'click'
             THEN epoch_us(CAST(ts AS TIMESTAMP)) END) AS first_click_us,
         MIN(CASE WHEN event_type = 'purchase'
             THEN epoch_us(CAST(ts AS TIMESTAMP)) END) AS first_purchase_us
  FROM events GROUP BY user_id
),
lat AS (
  SELECT user_id,
         (first_purchase_us - first_click_us) // 1000000 AS latency_s
  FROM firsts
  WHERE first_click_us IS NOT NULL AND first_purchase_us IS NOT NULL
    AND first_purchase_us >= first_click_us
),
ranked AS (
  SELECT latency_s,
         row_number() OVER (ORDER BY latency_s, user_id) AS rn,
         COUNT(*) OVER () AS n
  FROM lat
)
SELECT CAST(MAX(n) AS BIGINT) AS n_users,
       CAST(MIN(latency_s) AS BIGINT) AS min_s,
       CAST(MAX(CASE WHEN rn = (n + 1) // 2 THEN latency_s END) AS BIGINT)
         AS median_s,
       CAST(MAX(CASE WHEN rn = (n * 9 + 9) // 10 THEN latency_s END)
         AS BIGINT) AS p90_s,
       CAST(MAX(latency_s) AS BIGINT) AS max_s
FROM ranked
""",
)
def ev_conversion_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-click -> first-purchase conversion-latency distribution —
    the funnel-timing stat behind attribution-window and retargeting-
    deadline decisions (how long do converters actually take?).
    Complements ev_time_to_convert, which buckets EVERY click by its
    forward as-of horizon: this collapses to one latency per CONVERTING
    user and reports the exact percentile curve of that population.

    Percentiles are ORDER STATISTICS (the element at rank ceil(n/2) /
    ceil(0.9n)), not interpolated quantiles: interpolation is one
    `l + (u-l)*f` in Spark but `(l+u)/2` in DuckDB — algebraically
    equal, floating-point DIFFERENT — while a rank-selected element is
    an exact integer in both. Latency lives in integer seconds via
    epoch-microsecond subtraction and `div`.

    Scale posture at 100 TB: one conditional-min partial agg collapses
    the raw log to a row per user; the rank window runs over CONVERTING
    users only (orders of magnitude smaller than the log — and at
    billion-converter scale the same output comes from the two-phase
    binned weighted_quantile with disc semantics, same contract). Final
    aggregate is one row.
    """
    t = Tables(spark, sf_dir)
    firsts = t.events.groupBy("user_id").agg(
        F.min(
            F.when(
                F.col("event_type") == "click", F.unix_micros(F.col("ts"))
            )
        ).alias("first_click_us"),
        F.min(
            F.when(
                F.col("event_type") == "purchase",
                F.unix_micros(F.col("ts")),
            )
        ).alias("first_purchase_us"),
    )
    lat = firsts.where(
        F.col("first_click_us").isNotNull()
        & F.col("first_purchase_us").isNotNull()
        & (F.col("first_purchase_us") >= F.col("first_click_us"))
    ).select(
        "user_id",
        F.expr(
            "(first_purchase_us - first_click_us) div 1000000"
        ).alias("latency_s"),
    )
    # bounded window: converting users only (tiny vs the raw log)
    wr = Window.orderBy("latency_s", "user_id")
    ranked = lat.select(
        "latency_s",
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("n"),
    )
    return ranked.agg(
        F.max("n").cast("bigint").alias("n_users"),
        F.min("latency_s").cast("bigint").alias("min_s"),
        F.max(
            F.when(F.col("rn") == F.expr("(n + 1) div 2"), F.col("latency_s"))
        )
        .cast("bigint")
        .alias("median_s"),
        F.max(
            F.when(
                F.col("rn") == F.expr("(n * 9 + 9) div 10"),
                F.col("latency_s"),
            )
        )
        .cast("bigint")
        .alias("p90_s"),
        F.max("latency_s").cast("bigint").alias("max_s"),
    )


# --------------------------------------------------------------------------
@query(
    "ev_path_analysis",
    oracle="""
WITH ranked AS (
  SELECT user_id, event_type,
         row_number() OVER (PARTITION BY user_id
           ORDER BY epoch_us(CAST(ts AS TIMESTAMP)), event_id) AS rn
  FROM events
),
paths AS (
  SELECT user_id, string_agg(event_type, '>' ORDER BY rn) AS path
  FROM ranked WHERE rn <= 3 GROUP BY user_id
),
agg AS (
  SELECT path, CAST(COUNT(*) AS BIGINT) AS n_users FROM paths GROUP BY path
),
tot AS (SELECT CAST(SUM(n_users) AS BIGINT) AS total FROM agg)
SELECT a.path, a.n_users, a.n_users * 1000000 // t.total AS share_ppm
FROM agg a CROSS JOIN tot t
ORDER BY a.n_users DESC, a.path
LIMIT 20
""",
)
def ev_path_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top entry paths — the "user flows" report: each user's first
    three event types as an ordered path string, counted and ranked.
    The descriptive sibling of ev_funnel_regex (which tests ONE
    hypothesized sequence) and ev_markov_attribution (which models
    transitions): this surfaces which sequences actually happen.
    Differs from ev_path_topk (per-SESSION first-5 journeys over the
    gap sessionizer) by mining the user-LIFETIME entry sequence — the
    acquisition view rather than the visit view — with exact ppm
    shares of the user base.

    Scale posture at 100 TB: the rn <= 3 filter on the ranking window
    plans as WindowGroupLimit — a per-partition top-3 heap BELOW the
    user shuffle, so the exchange carries <= 3 rows per user per map
    partition, never the full log; path assembly is an ordered
    collect_list over <= 3 rows per user; the final count groupBy is
    path-keyed with map-side partials, and the total is a 1-row
    broadcast scalar merge. Exact integer share_ppm.
    """
    t = Tables(spark, sf_dir)
    ranked = top_k(
        t.events.select("user_id", "event_type", "ts", "event_id"),
        ["user_id"],
        [F.unix_micros(F.col("ts")), F.col("event_id")],
        3,
        rank="rn",
    )
    paths = ranked.groupBy("user_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("rn"), F.col("event_type")))
                ),
                lambda s: s["event_type"],
            ),
            ">",
        ).alias("path")
    )
    agg = paths.groupBy("path").agg(F.count(F.lit(1)).alias("n_users"))
    tot = agg.agg(F.sum("n_users").cast("bigint").alias("total"))
    return (
        agg.crossJoin(F.broadcast(tot))  # 1-row scalar merge
        .select(
            "path",
            "n_users",
            F.expr("n_users * 1000000 div total").alias("share_ppm"),
        )
        .orderBy(F.desc("n_users"), "path")
        .limit(20)
    )
