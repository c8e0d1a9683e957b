"""The session seams: schema-bound table reads, driver-side local frames,
the generated-class cache and the SPARK_GRAFT_EXTRA_CONF parser."""

from __future__ import annotations

import os
import shutil
import subprocess
import sys

import pytest

from datafusion_ballista_dhruvil_spark import session
from datafusion_ballista_dhruvil_spark.plans.inspect import count_jobs
from datafusion_ballista_dhruvil_spark.session import (
    TABLE_NAMES,
    load_table,
    local_frame,
    table_path,
)

from tests.conftest import SF_DIR


@pytest.fixture
def sf_copy(tmp_path):
    """A private copy of the test tables, so this test owns their file state."""
    for name in ("nation", "region"):
        shutil.copy(table_path(SF_DIR, name), table_path(str(tmp_path), name))
    return str(tmp_path)


def test_second_load_table_launches_no_job(spark, sf_copy):
    _, first = count_jobs(spark, lambda: load_table(spark, sf_copy, "nation"))
    assert first >= 1  # the one schema inference
    df, second = count_jobs(spark, lambda: load_table(spark, sf_copy, "nation"))
    assert second == 0
    assert df.count() == 25


def test_touched_file_infers_again(spark, sf_copy):
    path = table_path(sf_copy, "region")
    load_table(spark, sf_copy, "region")
    _, cached = count_jobs(spark, lambda: load_table(spark, sf_copy, "region"))
    assert cached == 0
    st = os.stat(path)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))  # new mtime
    _, after_touch = count_jobs(spark, lambda: load_table(spark, sf_copy, "region"))
    assert after_touch >= 1
    # a rewrite with different content (size) is seen as well
    shutil.copy(table_path(SF_DIR, "nation"), path)
    df, after_rewrite = count_jobs(spark, lambda: load_table(spark, sf_copy, "region"))
    assert after_rewrite >= 1
    assert df.count() == 25 and "n_nationkey" in df.columns


def test_bound_schema_matches_inferred_schema(spark):
    session.ensure_session_confs(spark)
    assert spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true"
    for name in TABLE_NAMES:
        path = table_path(SF_DIR, name)
        assert session.table_schema(spark, path) == spark.read.parquet(path).schema, name


def _probe(code: str, tmp_path) -> str:
    """stdout of ``code`` run in its own Python process, hence its own JVM."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, "-c", code],
        capture_output=True,
        text=True,
        timeout=300,
        cwd=str(tmp_path),
        env={**os.environ, "PYTHONPATH": repo, "SPARK_GRAFT_DRIVER_MEM": "1g"},
    )
    return out.stdout + out.stderr[-2000:]


def test_schemas_belong_to_the_spark_context(tmp_path):
    """A new SparkContext starts with an empty schema dict (the probe needs
    its own JVM: one process holds one SparkContext)."""
    probe = f"""
from datafusion_ballista_dhruvil_spark import session
sf = {SF_DIR!r}
spark = session.create_session(app_name="schema-probe", master="local[1]")
session.load_table(spark, sf, "nation")
assert list(spark.sparkContext._dbds_schemas) == [session.table_path(sf, "nation")]
spark.stop()
spark = session.create_session(app_name="schema-probe", master="local[1]")
assert "_dbds_schemas" not in vars(spark.sparkContext)
assert session.load_table(spark, sf, "nation").count() == 25
spark.stop()
print("SCHEMA_PROBE_OK")
"""
    out = _probe(probe, tmp_path)
    assert "SCHEMA_PROBE_OK" in out, out[-4000:]


def test_local_frame_round_trips_without_a_job(spark):
    import datetime
    from decimal import Decimal

    schema = (
        "i int, l bigint, d double, s string, m decimal(12,4), day date, "
        "xs array<bigint>"
    )
    rows = [
        (1, 2**40, 0.5, "a", Decimal("1.2500"), datetime.date(1995, 3, 1), [1, 2]),
        (None, None, None, None, None, None, None),
    ]
    df = local_frame(spark, rows, schema)
    assert "LocalRelation" in df._jdf.queryExecution().optimizedPlan().toString()
    got, jobs = count_jobs(spark, df.collect)
    assert jobs == 0
    assert [tuple(r) for r in got] == rows
    assert df.schema == spark.createDataFrame([], schema).schema

    empty = local_frame(spark, [], df.schema)
    got, jobs = count_jobs(spark, empty.collect)
    assert got == [] and jobs == 0
    assert empty.schema == df.schema


def test_warm_pass_compiles_nothing(tmp_path):
    """The generated-class cache holds a whole pass of perfbench
    flight_mixed's statements (``perfbench/workloads.FLIGHT_SQL``), whose
    generated code is the same on every build, so a second pass compiles
    nothing; Spark's 100 entries recompiled ~125. A second build of
    ops_setops compiles nothing either: its classes are not named after
    the stage ids AQE assigns in planning order (``_STABLE_CLASS_NAMES``);
    with the id every warm build compiled about 12. The probe has its own
    JVM: the shared test session's cache holds the suite's earlier
    classes, and its compile counter counts every thread's compiles."""
    probe = f"""
from datafusion_ballista_dhruvil_spark import session
from datafusion_ballista_dhruvil_spark.operators import load_all
from datafusion_ballista_dhruvil_spark.operators.registry import ORACLES, QUERIES
load_all()
spark = session.create_session(app_name="codegen-probe", master="local[2]")
assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(
    session.CODEGEN_CACHE_ENTRIES
)
session.register_tables(spark, {SF_DIR!r})
compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
passes = {{
    "flight": lambda: [
        spark.sql(ORACLES[n]).toArrow()
        for n in ["q3", "q4", "q5", "q7", "q9", "q10", "q11", "q20"]
    ],
    "setops": lambda: QUERIES["ops_setops"](spark, {SF_DIR!r}).collect(),
}}
for name, run in passes.items():
    counts = []
    for _ in range(2):
        before = compiles.METRIC_COMPILATION_TIME().getCount()
        run()
        counts.append(compiles.METRIC_COMPILATION_TIME().getCount() - before)
    print("COMPILES", name, *counts)
spark.stop()
"""
    out = _probe(probe, tmp_path)
    counts = {
        line.split()[1]: tuple(map(int, line.split()[2:4]))
        for line in out.splitlines()
        if line.startswith("COMPILES ")
    }
    assert set(counts) == {"flight", "setops"}, out[-4000:]
    for first, second in counts.values():
        assert first > 0 and second == 0, counts


def test_extra_conf_items():
    assert session._extra_conf_items("") == []
    assert session._extra_conf_items(" a.b = 1 ;; c=x=y;") == [("a.b", "1"), ("c", "x=y")]
    with pytest.raises(ValueError, match="no '='"):
        session._extra_conf_items("spark.io.compression.codec")
    for key in session._REQUIRED_SQL_CONFS:
        with pytest.raises(ValueError, match="results depend"):
            session._extra_conf_items(f"{key}=false")
