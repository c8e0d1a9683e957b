"""Manifest-log table format: snapshot isolation, time travel, optimistic
concurrency and snapshot expiry over plain parquet — no jars.

Reference parity: the reference's #1 fork feature is Iceberg table support
(`IcebergExtensionCodec`, /root/reference/ballista/core/src/serde/mod.rs:90,
Cargo.toml:44-46). The Iceberg-Spark runtime jar is unobtainable in this
container (context.register_catalog keeps the loud gate + recipe for real
clusters), so this module supplies the table-format SEMANTICS natively,
the same way Iceberg/Delta implement them on any object store:

- a table is a directory of immutable parquet data files plus an
  append-only commit log ``_log/<n>.json``; each manifest lists the FULL
  set of live files for that snapshot (Iceberg's snapshot manifest-list);
- readers resolve a snapshot (latest, by id, or by timestamp) and read
  exactly its files — a concurrent writer can never tear a read, because
  data files are immutable and commits are whole-manifest swaps;
- writers stage data files under a unique directory, then publish with an
  atomic create-if-absent of the next log entry (``O_CREAT|O_EXCL`` — the
  same rename/put-if-absent primitive Delta uses on a filesystem). Losing
  a race re-reads the new head and retries (append) or aborts
  (overwrite), i.e. optimistic concurrency with serialized commits;
- expiry keeps the last K snapshots and deletes data files no kept
  snapshot references (Iceberg's ``expireSnapshots`` + orphan cleanup).

Scale posture: manifests carry file paths + stats-free metadata — O(files)
JSON, independent of row count; reads plan a plain pruned parquet scan over
the snapshot's files (all pushdown/pruning applies); commit cost is one
small JSON write however large the table is.
"""

from __future__ import annotations

import json
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession

_LOG_DIR = "_log"
_DATA_DIR = "data"


class CommitConflict(RuntimeError):
    """Another writer committed the same snapshot id (overwrite only)."""


def _log_path(root: str, n: int) -> str:
    return os.path.join(root, _LOG_DIR, f"{n:08d}.json")


def _list_snapshots(root: str) -> list[int]:
    d = os.path.join(root, _LOG_DIR)
    if not os.path.isdir(d):
        return []
    return sorted(
        int(f.split(".")[0]) for f in os.listdir(d) if f.endswith(".json")
    )


def _read_manifest(root: str, n: int) -> dict:
    with open(_log_path(root, n)) as f:
        return json.load(f)


def _stage_files(df: DataFrame, root: str) -> list[str]:
    """Write df as immutable parquet files under a unique staging dir and
    return their table-relative paths. Files are never moved afterwards —
    the manifest, not the directory layout, defines table membership."""
    stage = os.path.join(root, _DATA_DIR, uuid.uuid4().hex)
    df.write.mode("error").parquet(stage)
    return [
        os.path.relpath(os.path.join(stage, f), root)
        for f in sorted(os.listdir(stage))
        if f.endswith(".parquet")
    ]


def commit(
    df: DataFrame,
    root: str,
    mode: str = "append",
    max_retries: int = 10,
) -> int:
    """Commit ``df`` to the table at ``root``; returns the snapshot id.

    mode='append' adds files to the current snapshot's set; 'overwrite'
    replaces the set. The publish step is an atomic create-if-absent of
    the next numbered manifest: two racing writers cannot both win a
    snapshot id. An append that loses simply recomputes against the new
    head and retries (its data files are already staged and immutable);
    an overwrite that loses raises CommitConflict — the caller must
    re-decide against the new table state (Delta/Iceberg semantics).
    """
    if mode not in ("append", "overwrite"):
        raise ValueError(f"mode must be append|overwrite, got {mode!r}")
    new_files = _stage_files(df, root)
    return publish(root, new_files, mode, df.schema.json(), max_retries)


def publish(
    root: str,
    new_files: list[str],
    mode: str,
    schema_json: str,
    max_retries: int = 10,
    extra: dict | None = None,
) -> int:
    """Publish already-staged immutable data files as the next snapshot
    (the atomic half of ``commit`` — also the commit step of the Python
    DataSource writer, sources/pysource.py). ``extra`` records
    application metadata in the manifest (e.g. the streaming sink's
    ``batch_id`` idempotence key — Delta's txn appId/version)."""
    os.makedirs(os.path.join(root, _LOG_DIR), exist_ok=True)
    for _ in range(max_retries):
        snaps = _list_snapshots(root)
        head = snaps[-1] if snaps else -1
        if mode == "append" and head >= 0:
            files = _read_manifest(root, head)["files"] + new_files
        else:
            files = list(new_files)
        manifest = {
            "snapshot_id": head + 1,
            "parent_id": head if head >= 0 else None,
            "ts_ms": int(time.time() * 1000),
            "op": mode,
            "files": files,
            "schema": schema_json,
            **(extra or {}),
        }
        try:
            fd = os.open(
                _log_path(root, head + 1), os.O_CREAT | os.O_EXCL | os.O_WRONLY
            )
        except FileExistsError:
            if mode == "overwrite":
                raise CommitConflict(
                    f"snapshot {head + 1} was committed concurrently; "
                    "re-read the table and retry the overwrite"
                ) from None
            continue  # append: recompute against the new head and retry
        with os.fdopen(fd, "w") as f:
            json.dump(manifest, f)
        return head + 1
    raise CommitConflict(f"lost {max_retries} append races at {root}")


def resolve_version(
    root: str, version: int | None = None, as_of_ts_ms: int | None = None
) -> int:
    """The snapshot a read sees: ``version`` when given, else the newest
    with ``ts_ms <= as_of_ts_ms`` when that is given, else the latest."""
    snaps = _list_snapshots(root)
    if not snaps:
        raise FileNotFoundError(f"no snapshots at {root}")
    if version is None and as_of_ts_ms is not None:
        eligible = [
            n for n in snaps if _read_manifest(root, n)["ts_ms"] <= as_of_ts_ms
        ]
        if not eligible:
            raise FileNotFoundError(
                f"no snapshot at or before ts {as_of_ts_ms} in {root}"
            )
        return eligible[-1]
    if version is None:
        return snaps[-1]
    if version not in snaps:
        raise FileNotFoundError(f"snapshot {version} not found in {root}")
    return version


def read_snapshot(
    spark: SparkSession,
    root: str,
    version: int | None = None,
    as_of_ts_ms: int | None = None,
) -> DataFrame:
    """Read the table at a snapshot: latest by default, an explicit
    ``version``, or time-travel to the newest snapshot with
    ``ts_ms <= as_of_ts_ms``. Plans a plain parquet scan over exactly the
    snapshot's files — pushdown, pruning and AQE all apply unchanged."""
    m = _read_manifest(root, resolve_version(root, version, as_of_ts_ms))
    if not m["files"]:
        from pyspark.sql.types import StructType

        from datafusion_ballista_dhruvil_spark.session import local_frame

        return local_frame(spark, [], StructType.fromJson(json.loads(m["schema"])))
    return spark.read.parquet(*[os.path.join(root, p) for p in m["files"]])


def history(root: str) -> list[dict]:
    """Snapshot log, oldest first: id, parent, op, ts, file count."""
    out = []
    for n in _list_snapshots(root):
        m = _read_manifest(root, n)
        out.append(
            {
                "snapshot_id": m["snapshot_id"],
                "parent_id": m["parent_id"],
                "op": m["op"],
                "ts_ms": m["ts_ms"],
                "n_files": len(m["files"]),
            }
        )
    return out


def expire_snapshots(root: str, keep_last: int = 1) -> dict:
    """Drop all but the newest ``keep_last`` snapshots and delete data
    files no kept snapshot references. Readers of kept snapshots are
    unaffected (their files survive); time travel past the horizon is
    gone — exactly Iceberg's expireSnapshots contract."""
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    snaps = _list_snapshots(root)
    drop, keep = snaps[:-keep_last], snaps[-keep_last:]
    kept_files = set()
    for n in keep:
        kept_files.update(_read_manifest(root, n)["files"])
    removed_files = 0
    for n in drop:
        for p in _read_manifest(root, n)["files"]:
            if p not in kept_files:
                fp = os.path.join(root, p)
                if os.path.exists(fp):
                    os.remove(fp)
                    removed_files += 1
        os.remove(_log_path(root, n))
    return {"removed_snapshots": len(drop), "removed_files": removed_files}


def snapshot_diff(
    spark: SparkSession,
    root: str,
    v_old: int,
    v_new: int,
    key: str,
) -> DataFrame:
    """Change data feed between two snapshots: per-key status
    ('added' / 'removed' / 'changed' / 'unchanged') by comparing md5 of the
    full row between versions — Delta's CDF / Iceberg's changelog scan,
    derived from plain snapshot reads (no extra bookkeeping at write time).

    Scale: both sides hash map-side and join on the key only — the same
    32-bytes-per-row diff shape as pipeline_version_diff; with both
    snapshots' files written bucketed by key the join is exchange-free.
    """
    from pyspark.sql import functions as F

    def hashed(v: int) -> DataFrame:
        df = read_snapshot(spark, root, version=v)
        others = [c for c in sorted(df.columns) if c != key]
        return df.select(
            F.col(key),
            F.md5(F.concat_ws("\x1f", *[F.col(c).cast("string") for c in others])).alias(
                "__h"
            ),
        )

    o, n = hashed(v_old).alias("o"), hashed(v_new).alias("n")
    j = o.join(n, F.col(f"o.{key}") == F.col(f"n.{key}"), "full_outer")
    status = (
        F.when(F.col(f"o.{key}").isNull(), "added")
        .when(F.col(f"n.{key}").isNull(), "removed")
        .when(F.col("o.__h") != F.col("n.__h"), "changed")
        .otherwise("unchanged")
    )
    return j.select(
        F.coalesce(F.col(f"o.{key}"), F.col(f"n.{key}")).alias(key),
        status.alias("_change_type"),
    )


def cleanup_orphans(root: str) -> dict:
    """Delete staged data directories no manifest references — the debris
    of failed/abandoned commits (files are staged BEFORE the atomic
    manifest publish, so a crashed writer leaves an orphan staging dir).
    Safe at any time: a referenced file can never be removed, because
    membership is defined by the manifests, and staging dirs are
    unique-per-writer (never appended to after publish)."""
    import shutil

    referenced: set[str] = set()
    for n in _list_snapshots(root):
        for p in _read_manifest(root, n)["files"]:
            referenced.add(os.path.dirname(p))
    data_dir = os.path.join(root, _DATA_DIR)
    removed = 0
    if os.path.isdir(data_dir):
        for stage in os.listdir(data_dir):
            rel = os.path.join(_DATA_DIR, stage)
            if rel not in referenced:
                shutil.rmtree(os.path.join(root, rel), ignore_errors=True)
                removed += 1
    return {"removed_dirs": removed}
