"""Streaming sinks: the exactly-once foreachBatch pattern.

The reference engine is batch-only (SURVEY.md §1.1) and its serving side
returns Arrow Flight streams; a production Spark pipeline lands streaming
results in a table. Structured Streaming's parquet sink is append-only
exactly-once, but real pipelines need arbitrary writers (MERGE into a
table, JDBC, multi-table fan-out) — the canonical recipe is
``foreachBatch`` + an IDEMPOTENT epoch-keyed write:

- the checkpoint guarantees each micro-batch is delivered with a stable
  ``epoch_id`` (replayed after failure with the SAME id and contents);
- the writer makes the epoch's output a deterministic function of the
  epoch: here, ``mode("overwrite")`` into ``<out>/epoch=<id>`` — a replay
  rewrites the same directory byte-for-byte instead of duplicating rows.

Together: at-least-once delivery x idempotent write = exactly-once output.
tests/test_streaming.py proves it by running the sink twice from one
checkpoint (the restart must add NOTHING) and diffing the landed rows
against the batch read of the same input.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from datafusion_ballista_dhruvil_spark.operators.scale import top_k


def start_exactly_once_parquet_sink(
    stream_df: DataFrame, out_path: str, checkpoint: str
) -> StreamingQuery:
    """Land a stream into ``out_path`` exactly-once via epoch-keyed
    idempotent overwrites. Read the result back with
    ``spark.read.parquet(out_path)`` (``epoch`` appears as a partition
    column). Uses Trigger.AvailableNow: processes everything available,
    then stops — the backfill/catch-up shape."""

    def write_epoch(batch_df: DataFrame, epoch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(f"{out_path}/epoch={epoch_id}")

    return (
        stream_df.writeStream.foreachBatch(write_epoch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def start_cdc_upsert_sink(
    cdc_stream: DataFrame,
    delta_dir: str,
    checkpoint: str,
    key: str = "user_id",
    order_cols: tuple[str, str] = ("ts", "event_id"),
) -> StreamingQuery:
    """Streaming MERGE INTO: land a CDC stream as per-epoch compressed
    delta files — the merge-on-read (LSM) pattern Hudi/Iceberg MOR use.

    Each micro-batch is compressed to its per-key winner (latest by
    ``order_cols``) BEFORE landing, and written idempotently into
    ``<delta_dir>/epoch=<id>`` (same exactly-once contract as
    start_exactly_once_parquet_sink). Tombstones (op='D') are LANDED, not
    applied: because "keep the max-(ts, event_id) row per key" is a
    commutative, associative reduction, the read-side view is correct
    whatever order epochs arrive or replay in — out-of-order micro-batches
    cannot corrupt state, which is the property that makes this safe on a
    real cluster. Compaction = periodically rewriting the merged view as a
    new base (same reduction, so it commutes with further deltas).
    """
    latest_first = [F.col(c).desc() for c in order_cols]

    def write_epoch(batch_df: DataFrame, epoch_id: int) -> None:
        latest = top_k(batch_df, [key], latest_first, 1)
        latest.write.mode("overwrite").parquet(f"{delta_dir}/epoch={epoch_id}")

    return (
        cdc_stream.writeStream.foreachBatch(write_epoch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def cdc_merge_view(
    spark,
    base_df: DataFrame,
    delta_dir: str,
    key: str = "user_id",
    order_cols: tuple[str, str] = ("ts", "event_id"),
) -> DataFrame:
    """Merge-on-read view over a CDC delta directory: base rows overlaid
    with the per-key latest delta; keys whose winning op is 'D' drop out.

    Columns returned: (key, final_value, origin, n_ops-free) — matches the
    batch MERGE (operators/lifecycle.py::pipeline_merge_upsert) semantics
    so stream==batch can be asserted. Scale: the delta side re-compresses
    to one row per touched key (window keyed by ``key``); the base join is
    a single co-partitioned left join.
    """
    deltas = spark.read.parquet(delta_dir)
    latest_first = [F.col(c).desc() for c in order_cols]
    latest = top_k(deltas, [key], latest_first, 1).select(key, "event_id", "op")
    m = base_df.alias("b").join(
        latest.alias("l"), F.col(f"b.{key}") == F.col(f"l.{key}"), "left"
    )
    return (
        m.where(F.col("l.op").isNull() | (F.col("l.op") != "D"))
        .select(
            F.col(f"b.{key}").alias(key),
            F.when(F.col(f"l.{key}").isNull(), F.col("b.base_value"))
            .otherwise(F.col("l.event_id"))
            .alias("final_value"),
            F.when(F.col(f"l.{key}").isNull(), "base")
            .otherwise("cdc")
            .alias("origin"),
        )
    )


def committed_stream_batches(root: str) -> set[int]:
    """Streaming batch ids already published to the snapshot table."""
    from datafusion_ballista_dhruvil_spark.sources import snapshots as _snap

    out = set()
    for n in _snap._list_snapshots(root):
        m = _snap._read_manifest(root, n)
        if "batch_id" in m:
            out.add(int(m["batch_id"]))
    return out


def start_snapshot_log_sink(
    stream_df: DataFrame, root: str, checkpoint: str
) -> StreamingQuery:
    """Land a stream into a snapshot manifest-log table exactly-once:
    each micro-batch commits as ONE transactional snapshot carrying its
    ``batch_id`` in the manifest, and a replayed batch (same checkpoint,
    after failure/restart) is SKIPPED because its id is already
    committed — Delta's ``txn`` appId/version idempotence on the repo's
    own table format (sources/snapshots.py). Readers always see a
    consistent snapshot: a batch is either fully visible or absent.
    """
    from datafusion_ballista_dhruvil_spark.sources import snapshots as _snap

    def write_epoch(batch_df: DataFrame, epoch_id: int) -> None:
        if epoch_id in committed_stream_batches(root):
            return  # replay of an already-committed batch: exactly-once
        files = _snap._stage_files(batch_df, root)
        _snap.publish(
            root,
            files,
            "append",
            batch_df.schema.json(),
            extra={"batch_id": int(epoch_id)},
        )

    return (
        stream_df.writeStream.foreachBatch(write_epoch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
