"""Shared fixtures: one local SparkSession per test run + a DuckDB oracle.

The comparator mirrors the driver's t2 check: sort columns by name, sort rows,
compare values. Floats must be *exactly* equal — the engine's determinism
contract (exact decimal aggregation surfaced as double) makes that achievable.
"""

from __future__ import annotations

import os

import pytest

from datafusion_ballista_dhruvil_spark.session import create_session
from tools.drive_common import canon, make_duckdb

# sf0.01 = the driver's t2 correctness gate scale
SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.01")


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


def _normalize(rows: list[tuple], cols: list[str]) -> list[tuple]:
    """Sort columns by name, then rows; canonicalize value types
    (type-strict, int != float, to mirror the driver's value hashing)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(canon(r[i]) for i in order) for r in rows]
    out.sort()
    return out


def assert_query_matches(spark, oracle, query_fn, oracle_sql: str, min_rows: int = 0):
    sdf = query_fn(spark, SF_DIR)
    scols = [c.lower() for c in sdf.columns]
    srows = [tuple(r) for r in sdf.collect()]

    cur = oracle.execute(oracle_sql)
    ocols = [d[0].lower() for d in cur.description]
    orows = cur.fetchall()

    assert sorted(scols) == sorted(ocols), f"columns differ: {scols} vs {ocols}"
    assert len(srows) == len(orows), f"row count {len(srows)} vs oracle {len(orows)}"
    assert len(srows) >= min_rows, f"query returned {len(srows)} rows (< {min_rows})"

    sn = _normalize(srows, scols)
    on = _normalize(orows, ocols)
    mismatches = [(a, b) for a, b in zip(sn, on) if a != b]
    assert not mismatches, (
        f"{len(mismatches)}/{len(sn)} rows differ; first: spark={mismatches[0][0]} "
        f"oracle={mismatches[0][1]}"
    )
