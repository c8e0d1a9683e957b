"""Python DataSource (Spark 4 API) serving the snapshot manifest-log
format — a REAL custom TableProvider, the PySpark-native analogue of the
reference's custom_scan/Iceberg TableProvider surface
(/root/reference/ballista/core/src/serde/mod.rs:90 IcebergExtensionCodec;
scheduler planning consumes the provider's file listing the same way).

``spark.read.format("snapshot_log").option(...).load(root)`` resolves a
snapshot (latest, ``version`` or ``as_of_ts_ms`` time travel) from the
append-only manifest log (sources/snapshots.py) and plans ONE input
partition per immutable data file — real distributed scan planning: each
executor-side ``read()`` opens only its own parquet file with pyarrow and
yields Arrow record batches straight onto Spark's Arrow ingest path (no
row-by-row Python loop).

Scale posture: partitions() runs on the driver and is O(files) manifest
JSON; file bytes never touch the driver. Column pruning/pushdown is not
part of Spark's Python DataSource contract (the built-in parquet reader
path, used by snapshots.read_snapshot, keeps full pushdown) — this source
exists to prove the pluggable-provider surface end-to-end, exactly the
role custom TableProviders play in the reference.
"""

from __future__ import annotations

import json
import os

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceWriter,
    InputPartition,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType

from datafusion_ballista_dhruvil_spark.sources import snapshots as _snap


class _FilePartition(InputPartition):
    def __init__(self, path: str):
        self.path = path


def _resolve_version(root: str, options: dict) -> int:
    def opt(key: str) -> int | None:
        return int(options[key]) if key in options else None

    return _snap.resolve_version(root, opt("version"), opt("as_of_ts_ms"))


class SnapshotLogDataSource(DataSource):
    """format("snapshot_log"): read a manifest-log table at a snapshot.

    Options: ``path`` (table root, or pass to ``.load()``), ``version``
    (explicit snapshot id), ``as_of_ts_ms`` (time travel).
    """

    @classmethod
    def name(cls) -> str:
        return "snapshot_log"

    def _root(self) -> str:
        root = self.options.get("path")
        if not root:
            raise ValueError("snapshot_log requires a path")
        return root

    def schema(self):
        root = self._root()
        m = _snap._read_manifest(root, _resolve_version(root, self.options))
        return StructType.fromJson(json.loads(m["schema"]))

    def reader(self, schema: StructType) -> DataSourceReader:
        root = self._root()
        m = _snap._read_manifest(root, _resolve_version(root, self.options))
        files = [os.path.join(root, p) for p in m["files"]]
        return SnapshotLogReader(files)

    def writer(self, schema: StructType, overwrite: bool):
        return SnapshotLogWriter(self._root(), schema, overwrite)


class SnapshotLogReader(DataSourceReader):
    def __init__(self, files: list[str]):
        self._files = files

    def partitions(self):
        # one partition per immutable data file: the planner's unit of
        # parallelism, mirroring the reference provider's file groups
        return [_FilePartition(p) for p in self._files]

    def read(self, partition: _FilePartition):
        # executor-side: open ONLY this partition's file; yield Arrow
        # record batches (vectorized ingest, no per-row Python)
        import pyarrow.parquet as pq

        yield from pq.ParquetFile(partition.path).iter_batches()


class _StagedFile(WriterCommitMessage):
    def __init__(self, rel_path: str | None):
        self.rel_path = rel_path


class SnapshotLogWriter(DataSourceWriter):
    """df.write.format("snapshot_log").mode(...).save(root): the Iceberg
    write protocol in miniature — every task stages ONE immutable parquet
    file (executor-side, pyarrow), sends back only its path as the commit
    message, and the driver-side ``commit`` publishes the file set as the
    next manifest with the same atomic create-if-absent the DataFrame
    ``snapshots.commit`` path uses. A failed/aborted job publishes
    nothing: staged files without a manifest entry are invisible to
    readers and reaped by cleanup_orphans."""

    def __init__(self, root: str, schema: StructType, overwrite: bool):
        self._root = root
        self._schema = schema
        self._mode = "overwrite" if overwrite else "append"
        # unique staging dir per job, fixed at plan time on the driver
        import uuid as _uuid

        self._stage = os.path.join(_snap._DATA_DIR, _uuid.uuid4().hex)

    def write(self, iterator):
        import uuid as _uuid

        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import to_arrow_schema

        rows = list(iterator)
        if not rows:
            return _StagedFile(None)  # empty task -> no file
        arrow_schema = to_arrow_schema(self._schema)
        cols = list(zip(*rows))
        table = pa.Table.from_arrays(
            [
                pa.array(c, type=f.type)
                for c, f in zip(cols, arrow_schema)
            ],
            schema=arrow_schema,
        )
        rel = os.path.join(self._stage, f"part-{_uuid.uuid4().hex}.parquet")
        full = os.path.join(self._root, rel)
        os.makedirs(os.path.dirname(full), exist_ok=True)
        pq.write_table(table, full)
        return _StagedFile(rel)

    def commit(self, messages):
        files = sorted(m.rel_path for m in messages if m.rel_path)
        _snap.publish(self._root, files, self._mode, self._schema.json())

    def abort(self, messages):
        # staged files are unpublished and invisible; leave them for
        # cleanup_orphans (object-store-safe: no delete on the failure path)
        pass


def register(spark) -> None:
    """Idempotently register the data source with this session."""
    spark.dataSource.register(SnapshotLogDataSource)
