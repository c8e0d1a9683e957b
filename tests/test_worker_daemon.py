"""The engine's Python worker daemon (``worker_daemon``): a worker re-reads
an archive on its path at the start of a task only when the file changed."""

from __future__ import annotations

import importlib.util
import os
import zipfile
import zipimport

import pandas as pd
import pytest
from pyspark.sql.functions import pandas_udf

from datafusion_ballista_dhruvil_spark import session
from datafusion_ballista_dhruvil_spark.worker_daemon import invalidate_caches

from tests.test_session import _probe


@pytest.fixture
def reads(monkeypatch):
    """Archive paths whose directory ``zipimport`` read, in order."""
    seen: list[str] = []
    read = zipimport._read_directory

    def counted(path):
        seen.append(path)
        return read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counted)
    return seen


def _write(path: str, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, body in modules.items():
            z.writestr(f"{name}.py", body)


def _load(importer, name: str):
    spec = importer.find_spec(name)
    if spec is None:
        return None
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


def test_unchanged_archive_is_read_once(tmp_path, reads):
    path = str(tmp_path / "lib.zip")
    _write(path, {"dbds_a": "X = 1\n"})
    importer = zipimport.zipimporter(path)
    reads.clear()
    for _ in range(5):
        invalidate_caches(importer)
    assert reads == [path]
    assert _load(importer, "dbds_a").X == 1


def test_rewritten_archive_is_read_again(tmp_path, reads):
    path = str(tmp_path / "lib.zip")
    _write(path, {"dbds_a": "X = 1\n"})
    importer = zipimport.zipimporter(path)
    invalidate_caches(importer)
    reads.clear()
    _write(path, {"dbds_a": "X = 2\n", "dbds_b": "Y = 3\n"})
    invalidate_caches(importer)
    invalidate_caches(importer)
    assert reads == [path]
    assert _load(importer, "dbds_b").Y == 3
    assert _load(importer, "dbds_a").X == 2


def test_removed_archive_behaves_as_before(tmp_path, reads):
    path = str(tmp_path / "lib.zip")
    _write(path, {"dbds_a": "X = 1\n"})
    ours, spark_s = zipimport.zipimporter(path), zipimport.zipimporter(path)
    invalidate_caches(ours)
    os.remove(path)
    reads.clear()
    for _ in range(2):
        invalidate_caches(ours)
        zipimport.zipimporter.invalidate_caches(spark_s)
    # every invalidation tries the read, and both importers end up empty
    assert reads == [path] * 4
    assert ours._files == spark_s._files == {}
    assert path not in zipimport._zip_directory_cache
    assert _load(ours, "dbds_a") is None
    _write(path, {"dbds_a": "X = 4\n"})
    invalidate_caches(ours)
    assert _load(ours, "dbds_a").X == 4


def test_only_a_local_master_runs_the_daemon():
    """The daemon module must import before ``addPyFile`` content is on a
    worker's path, and only a local master's workers share the driver's
    checkout; a cluster master keeps Spark's daemon and worker path."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(session.__file__)))
    for master in ("local[4]", "local", "local-cluster[2,1,1024]"):
        assert session._python_worker_confs(master) == {
            "spark.python.daemon.module": session.WORKER_DAEMON,
            "spark.executorEnv.PYTHONPATH": root,
        }
    for master in ("spark://host:7077", "yarn", "k8s://https://host:443"):
        assert session._python_worker_confs(master) == {}


def test_session_workers_run_the_wrapper(spark):
    """Every Python worker of an engine session is forked from the daemon,
    so its zipimporter's invalidation is the engine's wrapper."""

    @pandas_udf("string")
    def invalidation_source(x: pd.Series) -> pd.Series:
        import zipimport

        code = zipimport.zipimporter.invalidate_caches.__code__
        return pd.Series([code.co_filename] * len(x))

    got = {
        r[0]
        for r in spark.range(0, 8, 1, 4).select(invalidation_source("id")).collect()
    }
    assert len(got) == 1, got
    assert got.pop().endswith(
        os.path.join("datafusion_ballista_dhruvil_spark", "worker_daemon.py")
    )


def test_engine_session_after_a_foreign_one_runs_python(tmp_path):
    """A JVM that a session without this package on its PYTHONPATH
    launched still runs the engine daemon's workers: the package root
    reaches them through ``spark.executorEnv.PYTHONPATH``."""
    probe = """
import os
os.environ.pop("PYTHONPATH")
import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql.functions import pandas_udf
from datafusion_ballista_dhruvil_spark import session

SparkSession.builder.master("local[1]").appName("foreign").getOrCreate().stop()
spark = session.create_session(app_name="daemon-probe", master="local[1]")
assert spark.conf.get("spark.python.daemon.module") == session.WORKER_DAEMON

@pandas_udf("long")
def plus_one(x: pd.Series) -> pd.Series:
    return x + 1

print("ROWS", [r[0] for r in spark.range(3).select(plus_one("id")).collect()])
spark.stop()
"""
    out = _probe(probe, tmp_path)
    assert "ROWS [1, 2, 3]" in out, out[-4000:]
