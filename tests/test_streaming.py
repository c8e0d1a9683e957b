"""Structured Streaming parity: the tumbling-window aggregation produces the
same result via readStream + Trigger.AvailableNow as via batch.

The reference has no streaming surface (SURVEY.md §1.1) — this covers the
engine's beyond-reference event-stream capability.
"""

from __future__ import annotations

import uuid

from datafusion_ballista_dhruvil_spark.session import Tables
from datafusion_ballista_dhruvil_spark.streaming.events import (
    build_tumbling_counts,
    stream_tumbling_counts,
)

from tests.conftest import SF_DIR


def test_stream_matches_batch(spark):
    sink = f"stream_sink_{uuid.uuid4().hex[:8]}"
    q = (
        stream_tumbling_counts(spark, SF_DIR)
        .writeStream.format("memory")
        .queryName(sink)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    stream_rows = sorted(map(tuple, spark.table(sink).collect()))

    batch_rows = sorted(
        map(tuple, build_tumbling_counts(Tables(spark, SF_DIR).events).collect())
    )
    assert len(stream_rows) == len(batch_rows) > 0
    assert stream_rows == batch_rows


def test_stream_dedup_within_watermark(spark):
    from pyspark.sql import functions as F

    from datafusion_ballista_dhruvil_spark.streaming.events import stream_dedup_events

    sink = f"dedup_sink_{uuid.uuid4().hex[:8]}"
    q = (
        stream_dedup_events(spark, SF_DIR)
        .writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    deduped = spark.table(sink)
    batch = Tables(spark, SF_DIR).events

    n_dedup = deduped.count()
    n_batch = batch.count()
    assert n_dedup == n_batch > 0  # doubled input collapsed to distinct
    assert deduped.select("event_id").distinct().count() == n_batch
    # spot-check content parity on a slice
    s = sorted(map(tuple, deduped.where(F.col("event_id") < 100).select("event_id", "user_id", "event_type").collect()))
    b = sorted(map(tuple, batch.where(F.col("event_id") < 100).select("event_id", "user_id", "event_type").collect()))
    assert s == b


def test_watermark_drops_late_data(spark, tmp_path):
    """Real watermark semantics (not just backfill parity). The watermark
    persists in the checkpoint across restarts, so a three-run sequence is
    deterministic: run 1 sees on-time data (12:00, watermark -> 11:00,
    window still open -> nothing emitted); run 2 sees 6:00 data, 5 hours
    below the watermark -> DROPPED, no state created; run 3 sees 14:00 data
    which advances the watermark past the 12:00 window -> it finalizes with
    exactly the on-time rows. If late rows had been kept, the 6:00 window
    would exist in state and finalize in run 3 too."""
    import datetime as dt

    from pyspark.sql import functions as F

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    schema = "event_id long, ts timestamp"

    def add_file(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(src)

    def run_once():
        q = (
            spark.readStream.schema(schema)
            .parquet(src)
            .withWatermark("ts", "1 hour")
            .groupBy(F.window("ts", "1 hour").alias("w"))
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.col("w.start").alias("ws"), "n")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        try:
            return sorted((r.ws.hour, r.n) for r in spark.read.parquet(out).collect())
        except Exception:  # no output files yet
            return []

    add_file([(i, dt.datetime(2024, 1, 1, 12, 0, i)) for i in range(10)])
    assert run_once() == []  # window open, append emits nothing
    add_file([(100 + i, dt.datetime(2024, 1, 1, 6, 0, i)) for i in range(5)])
    assert run_once() == []  # late rows dropped, no state, nothing emitted
    add_file([(200 + i, dt.datetime(2024, 1, 1, 14, 0, i)) for i in range(3)])
    # 12:00 finalizes WITHOUT the late rows; no 6:00 window ever appears
    assert run_once() == [(12, 10)]


def test_stream_stream_interval_join_matches_batch(spark):
    from datafusion_ballista_dhruvil_spark.streaming.events import (
        build_click_purchase_join,
        stream_click_purchase_join,
    )

    sink = f"ssj_sink_{uuid.uuid4().hex[:8]}"
    q = (
        stream_click_purchase_join(spark, SF_DIR)
        .writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    stream_rows = sorted(map(tuple, spark.table(sink).collect()))

    batch_rows = sorted(
        map(
            tuple,
            build_click_purchase_join(Tables(spark, SF_DIR).events).collect(),
        )
    )
    assert len(stream_rows) == len(batch_rows) > 0
    assert stream_rows == batch_rows


def test_stream_static_enrichment_matches_batch(spark):
    """Stream-static broadcast join: streaming events enriched against a
    static user dimension must equal the batch join bit-for-bit."""
    from datafusion_ballista_dhruvil_spark.streaming.events import (
        build_segment_value,
        static_user_dim,
        stream_static_enrichment,
    )

    sink = f"enrich_sink_{uuid.uuid4().hex[:8]}"
    q = (
        stream_static_enrichment(spark, SF_DIR)
        .writeStream.format("memory")
        .queryName(sink)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    stream_rows = sorted(map(tuple, spark.table(sink).collect()))

    batch_rows = sorted(
        map(
            tuple,
            build_segment_value(
                Tables(spark, SF_DIR).events, static_user_dim(spark, SF_DIR)
            ).collect(),
        )
    )
    assert len(stream_rows) == len(batch_rows) > 0
    assert stream_rows == batch_rows


def test_foreachbatch_exactly_once_sink(spark, tmp_path):
    """foreachBatch + epoch-keyed idempotent overwrite = exactly-once
    landing: a restart from the same checkpoint with no new data must add
    NOTHING, and the landed rows must equal the batch read of the input."""
    from pyspark.sql import functions as F

    from datafusion_ballista_dhruvil_spark.session import stream_events
    from datafusion_ballista_dhruvil_spark.streaming.sinks import (
        start_exactly_once_parquet_sink,
    )

    out, ck = str(tmp_path / "landed"), str(tmp_path / "ck")

    def start():
        ev = stream_events(spark, SF_DIR).select("event_id", "event_type")
        return start_exactly_once_parquet_sink(ev, out, ck)

    q = start()
    q.awaitTermination(120)
    first = spark.read.parquet(out)
    n_first = first.count()
    epochs_first = {r.epoch for r in first.select("epoch").distinct().collect()}

    # restart from the same checkpoint: no new input -> nothing lands
    q2 = start()
    q2.awaitTermination(120)
    second = spark.read.parquet(out)
    assert second.count() == n_first
    assert {r.epoch for r in second.select("epoch").distinct().collect()} == epochs_first

    batch = spark.read.parquet(f"{SF_DIR}/events.parquet").select(
        "event_id", "event_type"
    )
    assert second.count() == batch.count()
    assert (
        second.select(F.sum("event_id")).collect()[0][0]
        == batch.select(F.sum("event_id")).collect()[0][0]
    )


def test_streaming_cdc_merge_matches_batch(spark, tmp_path):
    """Streaming MERGE (per-epoch compressed deltas + merge-on-read view)
    must converge to exactly the batch MERGE result, across multiple
    micro-batches and a checkpoint replay (which must change nothing)."""
    from pyspark.sql import functions as F

    from datafusion_ballista_dhruvil_spark.operators import load_all
    from datafusion_ballista_dhruvil_spark.operators.registry import QUERIES
    from datafusion_ballista_dhruvil_spark.session import normalize_events_ts
    from datafusion_ballista_dhruvil_spark.streaming.sinks import (
        cdc_merge_view,
        start_cdc_upsert_sink,
    )

    load_all()

    # split the CDC log into 4 files -> 4 micro-batches (out-of-order keys)
    src = str(tmp_path / "cdc_src")
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    ev.repartition(4).write.parquet(src)

    delta, ck = str(tmp_path / "deltas"), str(tmp_path / "ck")

    def start():
        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        cdc = normalize_events_ts(stream).select(
            "user_id",
            "ts",
            "event_id",
            F.when(F.col("event_type") == "error", "D")
            .otherwise("U")
            .alias("op"),
        )
        return start_cdc_upsert_sink(cdc, delta, ck)

    start().awaitTermination(120)

    base = (
        spark.read.parquet(f"{SF_DIR}/events.parquet")
        .select("user_id")
        .distinct()
        .withColumn("base_value", F.col("user_id") * 10)
    )
    merged = cdc_merge_view(spark, base, delta)
    got = sorted(map(tuple, merged.collect()))

    want = sorted(
        (r.user_id, r.final_value, r.origin)
        for r in QUERIES["pipeline_merge_upsert"](spark, SF_DIR).collect()
    )
    assert len(got) == len(want) > 0
    assert got == want

    # several epochs actually landed (merge-on-read really spans deltas)
    epochs = spark.read.parquet(delta).select("epoch").distinct().count()
    assert epochs >= 2

    # checkpoint replay with no new files: view unchanged
    start().awaitTermination(120)
    again = sorted(map(tuple, cdc_merge_view(spark, base, delta).collect()))
    assert again == got


def test_streaming_hopping_window_matches_batch(spark):
    """Hopping (10-min/5-min slide) window counts via readStream +
    watermark must equal the batch ev_hopping_window result — the overlap
    (Expand) duplication interacts with streaming state, so parity is
    asserted explicitly."""
    import uuid as _uuid

    from pyspark.sql import functions as F

    from datafusion_ballista_dhruvil_spark.operators import load_all
    from datafusion_ballista_dhruvil_spark.operators.registry import QUERIES
    from datafusion_ballista_dhruvil_spark.session import stream_events

    load_all()
    hopped = (
        stream_events(spark, SF_DIR)
        .withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.unix_micros(F.col("w.start")).alias("window_start_us"),
            "event_type",
            "n",
        )
    )
    sink = f"hop_sink_{_uuid.uuid4().hex[:8]}"
    q = (
        hopped.writeStream.format("memory")
        .queryName(sink)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    stream_rows = sorted(map(tuple, spark.table(sink).collect()))
    batch_rows = sorted(
        map(tuple, QUERIES["ev_hopping_window"](spark, SF_DIR).collect())
    )
    assert len(stream_rows) == len(batch_rows) > 0
    assert stream_rows == batch_rows


def test_streaming_snapshot_log_sink_exactly_once(spark, tmp_path):
    """Streaming into the transactional snapshot table: each micro-batch
    is one atomic snapshot carrying its batch_id; a checkpoint replay
    commits NOTHING new, and the landed table equals the batch read."""
    from pyspark.sql import functions as F

    from datafusion_ballista_dhruvil_spark.session import stream_events
    from datafusion_ballista_dhruvil_spark.sources.snapshots import (
        history,
        read_snapshot,
    )
    from datafusion_ballista_dhruvil_spark.streaming.sinks import (
        committed_stream_batches,
        start_snapshot_log_sink,
    )

    root, ck = str(tmp_path / "snap_tbl"), str(tmp_path / "ck")

    def start():
        ev = stream_events(spark, SF_DIR).select("event_id", "event_type")
        return start_snapshot_log_sink(ev, root, ck)

    q = start()
    q.awaitTermination(120)
    first_hist = history(root)
    assert len(first_hist) >= 1
    batches = committed_stream_batches(root)
    assert batches  # every committed snapshot carries its batch id

    # restart from the same checkpoint: replay must add NO snapshot
    q2 = start()
    q2.awaitTermination(120)
    assert history(root) == first_hist

    landed = read_snapshot(spark, root)
    batch = spark.read.parquet(f"{SF_DIR}/events.parquet").select(
        "event_id", "event_type"
    )
    assert landed.count() == batch.count()
    assert (
        landed.agg(F.sum("event_id")).first()[0]
        == batch.agg(F.sum("event_id")).first()[0]
    )
