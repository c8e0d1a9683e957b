"""The session seams: schema-bound table reads, driver-side local frames,
and the SPARK_GRAFT_EXTRA_CONF parser."""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
import uuid

import pytest

from datafusion_ballista_dhruvil_spark import session
from datafusion_ballista_dhruvil_spark.session import (
    TABLE_NAMES,
    load_table,
    local_frame,
    table_path,
)

from tests.conftest import SF_DIR


def _jobs(spark, fn):
    """(result of fn(), number of Spark jobs it launched)."""
    sc = spark.sparkContext
    group = f"test-session-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setJobGroup("", "")
    # job-start events reach the status tracker through the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture
def sf_copy(tmp_path):
    """A private copy of the test tables, so this test owns their file state."""
    for name in ("nation", "region"):
        shutil.copy(table_path(SF_DIR, name), table_path(str(tmp_path), name))
    return str(tmp_path)


def test_second_load_table_launches_no_job(spark, sf_copy):
    _, first = _jobs(spark, lambda: load_table(spark, sf_copy, "nation"))
    assert first >= 1  # the one schema inference
    df, second = _jobs(spark, lambda: load_table(spark, sf_copy, "nation"))
    assert second == 0
    assert df.count() == 25


def test_touched_file_infers_again(spark, sf_copy):
    path = table_path(sf_copy, "region")
    load_table(spark, sf_copy, "region")
    _, cached = _jobs(spark, lambda: load_table(spark, sf_copy, "region"))
    assert cached == 0
    st = os.stat(path)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))  # new mtime
    _, after_touch = _jobs(spark, lambda: load_table(spark, sf_copy, "region"))
    assert after_touch >= 1
    # a rewrite with different content (size) is seen as well
    shutil.copy(table_path(SF_DIR, "nation"), path)
    df, after_rewrite = _jobs(spark, lambda: load_table(spark, sf_copy, "region"))
    assert after_rewrite >= 1
    assert df.count() == 25 and "n_nationkey" in df.columns


def test_bound_schema_matches_inferred_schema(spark):
    session.ensure_session_confs(spark)
    assert spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true"
    for name in TABLE_NAMES:
        path = table_path(SF_DIR, name)
        assert session.table_schema(spark, path) == spark.read.parquet(path).schema, name


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
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, "-c", probe],
        capture_output=True,
        text=True,
        timeout=300,
        cwd=str(tmp_path),
        env={**os.environ, "PYTHONPATH": repo, "SPARK_GRAFT_DRIVER_MEM": "1g"},
    )
    assert "SCHEMA_PROBE_OK" in out.stdout, out.stdout[-2000:] + out.stderr[-2000:]


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
    got, jobs = _jobs(spark, df.collect)
    assert jobs == 0
    assert [tuple(r) for r in got] == rows
    assert df.schema == spark.createDataFrame([], schema).schema

    empty = local_frame(spark, [], df.schema)
    got, jobs = _jobs(spark, empty.collect)
    assert got == [] and jobs == 0
    assert empty.schema == df.schema


def test_extra_conf_items():
    assert session._extra_conf_items("") == []
    assert session._extra_conf_items(" a.b = 1 ;; c=x=y;") == [("a.b", "1"), ("c", "x=y")]
    with pytest.raises(ValueError, match="no '='"):
        session._extra_conf_items("spark.io.compression.codec")
    for key in session._REQUIRED_SQL_CONFS:
        with pytest.raises(ValueError, match="results depend"):
            session._extra_conf_items(f"{key}=false")
