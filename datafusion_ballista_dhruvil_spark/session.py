"""SparkSession factory + table registration.

Parity notes (reference config surface, ballista/core/src/config.rs:183-208):
- ``ballista.shuffle.partitions`` (default 16)      -> spark.sql.shuffle.partitions
- ``ballista.batch.size`` (8192)                    -> columnar batch size is a
  Tungsten/parquet-reader detail in Spark; nothing to set.
- ``ballista.parquet.pruning``                      -> spark.sql.parquet.filterPushdown
- ``hash_join_single_partition_threshold`` (1 MiB)  -> spark.sql.autoBroadcastJoinThreshold
- repartition_joins/aggregations/windows            -> AQE + shuffle partitions

Scale posture (100 TB / 1000 executors): AQE on (runtime coalescing, skew-join
splitting), broadcast threshold left at Spark's default 10 MiB (the reference's
1 MiB is pessimistic for a JVM engine), shuffle partitions sized from the core
budget, session timezone pinned to UTC so timestamp semantics are stable across
clusters and match naive-UTC parquet data.
"""

from __future__ import annotations

import logging
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

_log = logging.getLogger(__name__)

#: Every table the driver's testdata provides (TESTDATA.md). TPC-H-ish star
#: schema plus an events stream table and LLM-pipeline tables.
TABLE_NAMES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

#: Generated classes Spark keeps compiled (``spark.sql.codegen.cache.maxEntries``,
#: default 100). One sf0.01 pass over all 354 registered queries compiles
#: about 4,660 distinct classes, the largest single query 76, and the 8
#: Flight TPC-H statements of perfbench's flight_mixed about 140: at 100
#: entries every warm pass of that mix recompiled 125 classes and ran them
#: before the JIT had warmed them. Holding a whole registry pass costs about
#: 52 MB of JVM non-heap (426 MB against 374 MB at 100 entries, after a
#: full GC). A static conf: a session the engine did not build keeps
#: Spark's 100.
CODEGEN_CACHE_ENTRIES = 8192

#: The Python worker daemon the engine's session runs (``worker_daemon``):
#: Spark's own, except that a worker re-reads an archive on its path (the
#: spark-core jar, ``pyspark.zip``) at the start of a task only when the
#: file changed, where Spark's re-reads both on every task (about 170 ms).
#: A static conf, like ``CODEGEN_CACHE_ENTRIES``: a session the engine did
#: not build keeps Spark's daemon, and so does one on a cluster master
#: (``_python_worker_confs``).
WORKER_DAEMON = "datafusion_ballista_dhruvil_spark.worker_daemon"


def _cpus() -> int:
    try:
        return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    except ValueError:
        return 32


def _python_worker_confs(master: str) -> dict[str, str]:
    """Confs that run ``WORKER_DAEMON`` on a ``local`` master.

    Spark starts the daemon with ``python -m`` before any ``addPyFile``
    content is on the worker's path, so the package must already be
    importable from the path in ``spark.executorEnv.PYTHONPATH``, which
    PySpark passes to every Python function's workers (also in a JVM an
    earlier session launched). That path is this driver's checkout, which
    only a ``local`` master's workers share; on any other master the
    workers keep Spark's daemon and get the package from
    ``ensure_session_confs``' ``addPyFile``.
    """
    if not master.startswith("local"):
        return {}
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    return {
        "spark.python.daemon.module": WORKER_DAEMON,
        "spark.executorEnv.PYTHONPATH": pkg_root,
    }


def create_session(
    app_name: str = "datafusion-ballista-dhruvil-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create a SparkSession configured for this engine.

    On a real cluster, pass ``master=None`` and set ``spark.master`` via
    spark-submit; ``shuffle_partitions`` should then be ~2-3x total cores.
    """
    cpus = _cpus()
    master = master or f"local[{cpus}]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # local-mode tasks all live in the driver JVM, whose Spark default
        # is a 1 GiB heap — 32 concurrent tasks' join/agg hash maps OOM'd
        # the salted 10x stress corpus there (PERF.md r4). Size the heap
        # like the executor fleet it stands in for; overridable via env
        # or extra_conf, ignored when a real cluster sets it externally.
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"),
        )
        # Runtime re-planning: partition coalescing, skew-join splitting,
        # broadcast-join demotion/promotion. Core of the 100 TB posture.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        # Scan-side pushdown (reference: ballista.parquet.pruning, config.rs:38).
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        # Arrow exchange for pandas UDFs / toPandas (reference is Arrow-native).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Deterministic timestamp semantics; testdata parquet is naive-UTC.
        .config("spark.sql.session.timeZone", "UTC")
        # events.parquet stores TIMESTAMP(NANOS) which Spark's vectorized
        # reader rejects; read as raw int64 nanos and convert at load
        # (load_table) — values are µs-aligned so the conversion is lossless.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Compile each generated class once per JVM (CODEGEN_CACHE_ENTRIES).
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        # Quieter driver logs for bench runs.
        .config("spark.ui.showConsoleProgress", "false")
    )
    for k, v in _python_worker_confs(master).items():
        builder = builder.config(k, v)
    # Suite-level conf A/B knob (r11, guide §1.2 "config last"): semicolon-
    # separated k=v pairs, e.g.
    #   SPARK_GRAFT_EXTRA_CONF="spark.io.compression.codec=zstd;..."
    # Defaults above stay untouched so the driver's bench protocol is
    # unchanged; a knob only moves into the defaults after a measured win
    # (PERF.md records the A/Bs). On a real cluster the same env carries
    # site-specific values without code edits.
    for k, v in _extra_conf_items(os.environ.get("SPARK_GRAFT_EXTRA_CONF", "")):
        _log.warning("SPARK_GRAFT_EXTRA_CONF: %s=%s", k, v)
        builder = builder.config(k, v)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


#: SQL confs the engine's results DEPEND on (not just perf): applied
#: defensively on any session that reaches the query path, because the
#: driver/harness may hand us a SparkSession it built itself.
_REQUIRED_SQL_CONFS = {
    # timestamp values must be interpreted as naive-UTC to match the
    # parquet data and the DuckDB oracle
    "spark.sql.session.timeZone": "UTC",
    # events.parquet is TIMESTAMP(NANOS); without this the scan throws
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}

#: Whole-stage codegen puts the stage id in a generated class's name, and
#: AQE numbers stages in planning order, so a warm build of the same query
#: emitted new source and compiled again (sim_mmr_rerank: 14 classes per
#: warm build); without the id, identical stages share one cached class.
#: A runtime conf that changes speed, not results: ``ensure_session_confs``
#: sets it on any session, but it is not in ``_REQUIRED_SQL_CONFS``.
_STABLE_CLASS_NAMES = ("spark.sql.codegen.useIdInClassName", "false")


def _extra_conf_items(raw: str) -> list[tuple[str, str]]:
    """Parse ``SPARK_GRAFT_EXTRA_CONF`` (``k=v`` items separated by ``;``).

    An item without ``=`` is an error, not a silent no-op, and so is any
    key in ``_REQUIRED_SQL_CONFS``: results depend on those values, so no
    environment knob may override them. Empty items are skipped.
    """
    items = []
    for item in raw.split(";"):
        if not item.strip():
            continue
        if "=" not in item:
            raise ValueError(f"SPARK_GRAFT_EXTRA_CONF item {item!r} has no '='")
        k, v = (x.strip() for x in item.split("=", 1))
        if k in _REQUIRED_SQL_CONFS:
            raise ValueError(
                f"SPARK_GRAFT_EXTRA_CONF may not set {k}: results depend on it"
            )
        items.append((k, v))
    return items


def ensure_session_confs(spark: SparkSession) -> SparkSession:
    """Apply correctness-critical runtime SQL confs (and stable generated-class
    names) to an externally-created session (idempotent), and ship this
    package to the Python workers.

    The driver/harness may hand us a session whose Python workers don't
    have this package on their path; closures that reference module-level
    helpers (e.g. the Avro codec inside write_avro_py's partition writer)
    pickle those BY REFERENCE, so the workers must be able to import the
    package. ``addPyFile`` of a zip of the package fixes that at runtime
    for any session — guarded per-SparkContext so it runs once.
    """
    for k, v in [*_REQUIRED_SQL_CONFS.items(), _STABLE_CLASS_NAMES]:
        try:
            if spark.conf.get(k, None) != v:
                spark.conf.set(k, v)
        except Exception:
            spark.conf.set(k, v)
    _ensure_package_on_workers(spark)
    return spark


def _ensure_package_on_workers(spark: SparkSession) -> None:
    sc = spark.sparkContext
    if getattr(sc, "_dbds_pkg_shipped", False):
        return
    import hashlib
    import shutil
    import tempfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    root = os.path.dirname(pkg_dir)
    # content-address the zip name: "already registered" under the SAME
    # name then genuinely means same contents (Spark rejects re-adding a
    # name with DIFFERENT contents, and a pid-based name could collide
    # across driver restarts and mask exactly that conflict)
    digest = hashlib.md5()
    for dirpath, dirnames, filenames in os.walk(pkg_dir):
        dirnames.sort()
        for fn in sorted(filenames):
            if fn.endswith(".py"):
                fp = os.path.join(dirpath, fn)
                digest.update(os.path.relpath(fp, root).encode())
                with open(fp, "rb") as fh:
                    digest.update(fh.read())
    base = os.path.join(
        tempfile.gettempdir(), f"dbds_spark_pkg_{digest.hexdigest()[:16]}"
    )
    zip_path = base + ".zip"
    if not os.path.exists(zip_path):
        shutil.make_archive(
            base, "zip", root_dir=root, base_dir=os.path.basename(pkg_dir)
        )
    try:
        sc.addPyFile(zip_path)
    except Exception as e:
        # with the content-addressed name, "already" is benign; anything
        # else (stopped context, unreadable zip) must not set the shipped
        # flag — otherwise the first distributed closure dies later with an
        # opaque ModuleNotFoundError on the executors
        if "already" not in str(e).lower():
            raise
    sc._dbds_pkg_shipped = True


def table_path(sf_dir: str, name: str) -> str:
    return f"{sf_dir}/{name}.parquet"


def normalize_events_ts(df: DataFrame) -> DataFrame:
    """Normalize ``events.ts`` to TimestampType regardless of how the driver
    wrote it: int64 nanos (older testdata, read via nanosAsLong),
    TIMESTAMP_NTZ (timestamp[us] without the UTC flag), or already
    TimestampType. Session tz is pinned to UTC so the NTZ→LTZ cast is
    value-identical and the DuckDB oracle (naive TIMESTAMP) sees the same
    instants. Works on batch and streaming DataFrames alike.
    """
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    ts_type = df.schema["ts"].dataType
    if isinstance(ts_type, T.LongType):
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if not isinstance(ts_type, T.TimestampType):
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def table_schema(spark: SparkSession, path: str) -> StructType:
    """Schema of the parquet data at ``path``, inferred once per SparkContext.

    Inferring a parquet schema launches a Spark job that reads the footers;
    the reference resolves it once, as catalog metadata, when a table is
    registered (``register_parquet``). Here the inferred schema is kept in
    a dict on the SparkContext, keyed by ``path``, by the (name, size,
    mtime) of the path's entries and by the ``nanosAsLong`` setting; any
    mismatch infers again. The entries come from one Hadoop
    ``FileSystem.listStatus`` call, so files, directories and object-store
    URIs take the same path. Only the schema is held — never data, and
    never on disk — so every query still scans the files. A new
    SparkContext starts with an empty dict.
    """
    sc = spark.sparkContext
    hpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    try:
        statuses = hpath.getFileSystem(sc._jsc.hadoopConfiguration()).listStatus(hpath)
    except Exception:  # noqa: BLE001 - the reader raises the clean error
        return spark.read.parquet(path).schema
    stamp = (
        sorted(
            (st.getPath().getName(), st.getLen(), st.getModificationTime())
            for st in statuses
        ),
        # the inferred type of TIMESTAMP(NANOS) columns depends on it
        spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false"),
    )
    schemas = sc.__dict__.setdefault("_dbds_schemas", {})
    hit = schemas.get(path)
    if hit is None or hit[0] != stamp:
        hit = schemas[path] = (stamp, spark.read.parquet(path).schema)
    return hit[1]


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """One testdata table, read through the schema-bound seam.

    The read carries the schema from ``table_schema``, held per
    SparkContext and keyed by path, by the (name, size, mtime) of the
    path's entries and by ``nanosAsLong``, so only the first read of a
    file state launches the inference job. No data is cached: each query
    plans and runs its own scan. Local and remote paths take the same
    code path. ``events.ts`` is normalized to TimestampType.
    """
    ensure_session_confs(spark)
    path = table_path(sf_dir, name)
    df = spark.read.schema(table_schema(spark, path)).parquet(path)
    if name == "events":
        df = normalize_events_ts(df)
    return df


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream counterpart of ``load_table(..., "events")``: the same
    bound schema over ``sf_dir`` filtered to the events file, ``ts``
    normalized."""
    ensure_session_confs(spark)
    raw = (
        spark.readStream.schema(table_schema(spark, table_path(sf_dir, "events")))
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    return normalize_events_ts(raw)


def local_frame(spark: SparkSession, rows, schema: StructType | str) -> DataFrame:
    """A driver-side result as a DataFrame: ``rows`` (tuples or Rows, in
    ``schema`` order) become a ``pyarrow.Table`` typed by ``schema`` (a
    StructType or DDL string), handed to ``createDataFrame``.

    Rule: every DataFrame built from driver-side rows goes through here.
    Below ``spark.sql.execution.arrow.localRelationThreshold`` Spark plans
    the table as a ``LocalRelation``: no ``Scan ExistingRDD``, no Python
    worker and no job, where ``createDataFrame(list)`` pays all three on
    every action. The ``pa.Table`` path does not read the Arrow conf, so a
    foreign session gets the same plan. Naive datetimes are read as UTC,
    the engine's pinned session timezone.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    arrow = to_arrow_schema(schema)
    cols = list(zip(*rows)) if rows else [()] * len(arrow)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow)], schema=arrow
    )
    return spark.createDataFrame(table, schema)


class Tables:
    """Lazy accessor for the testdata star schema.

    ``Tables(spark, sf_dir).lineitem`` returns the lineitem DataFrame; reads
    are lazy so touching only the tables a query needs keeps scan planning
    minimal (column pruning + filter pushdown happen per-query). Each read
    goes through the module attribute ``load_table``, whose bound schema
    (see ``table_schema``) is keyed by path, file state and ``nanosAsLong``
    and holds no data, for local and remote paths alike.
    """

    def __init__(self, spark: SparkSession, sf_dir: str):
        self._spark = spark
        self._sf_dir = sf_dir
        self._cache: dict[str, DataFrame] = {}

    def __getattr__(self, name: str) -> DataFrame:
        if name.startswith("_"):
            raise AttributeError(name)
        if name not in TABLE_NAMES:
            raise AttributeError(f"unknown table {name!r}")
        if name not in self._cache:
            self._cache[name] = load_table(self._spark, self._sf_dir, name)
        return self._cache[name]


def register_tables(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    """Register every testdata table as a temp view (parity with the
    reference's ``register_parquet``; ballista/client/src/context.rs:300-312).
    """
    out: dict[str, DataFrame] = {}
    for name in TABLE_NAMES:
        df = load_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out
