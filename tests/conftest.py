"""Shared fixtures: one local SparkSession per test run + a DuckDB oracle,
and the oracle gate.

The gate checks every registered query against its DuckDB oracle exactly
once, through ``tools.drive_common.check``: the drive tools' compare,
LEAK rule included. ``oracle_home`` gives each query one test module;
each module's gate parametrizes over ``homed_queries(__name__)``. Floats
must be *exactly* equal — the engine's determinism contract (exact decimal
aggregation surfaced as double) makes that achievable.
"""

from __future__ import annotations

import os

import pytest

from datafusion_ballista_dhruvil_spark.operators import load_all
from datafusion_ballista_dhruvil_spark.operators.registry import QUERIES
from datafusion_ballista_dhruvil_spark.operators.tpch import ALL_TPCH
from datafusion_ballista_dhruvil_spark.session import create_session
from tools.drive_common import check, make_duckdb

load_all()

# sf0.01 = the driver's t2 correctness gate scale
SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.01")

#: family test modules, by query-name prefix
_FAMILIES = (
    ("test_relational", ("ops_",)),
    ("test_h2o_udf", ("h2o_", "udf_", "nyctaxi")),
    (
        "test_pipeline_ops",
        ("dedup_", "sim_", "text_", "mm_", "ev_", "split_", "sample_", "pack_", "pipeline_"),
    ),
)


def oracle_home(name: str) -> str:
    """The one test module whose gate checks ``name``; a query outside
    every family lands in test_query_coverage."""
    if name in ALL_TPCH:
        return "test_tpch"
    if name in ("asof_click_attribution", "range_recent_clicks"):
        return "test_temporal"
    for module, prefixes in _FAMILIES:
        if name.startswith(prefixes):
            return module
    return "test_query_coverage"


def homed_queries(module: str) -> list[str]:
    home = module.rsplit(".", 1)[-1]
    return sorted(n for n in QUERIES if oracle_home(n) == home)


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "driver_parity: driver-grade pandas-dtype-strict oracle compare of "
        "queries that have no CORRECTNESS_r*.json verdict yet",
    )


@pytest.fixture(scope="session")
def spark():
    s = create_session(app_name="tests", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def oracle():
    con = make_duckdb(SF_DIR)
    yield con
    con.close()


def assert_query_matches(spark, oracle, build, sql: str, min_rows: int = 1):
    failure = check(spark, oracle, build, sql, SF_DIR, min_rows)
    assert failure is None, failure
