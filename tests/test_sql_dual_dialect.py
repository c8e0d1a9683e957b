"""Dual-dialect SQL conformance: every TPC-H oracle SQL string runs
UNMODIFIED on Spark SQL and hash-matches DuckDB running the same string.
The oracle gate (test_tpch) shows each DataFrame implementation matches the
same DuckDB rows under the same compare, and equality is transitive, so the
SQL text also equals the DataFrame. One SQL text -> two engines -> identical
results: the strongest form of the conformance the reference's own harness
approximates with row-by-row golden files
(benchmarks/src/bin/tpch.rs:1002-1022).
"""

from __future__ import annotations

import pytest

from datafusion_ballista_dhruvil_spark.operators.registry import ORACLES
from datafusion_ballista_dhruvil_spark.operators.tpch import ALL_TPCH
from datafusion_ballista_dhruvil_spark.session import register_tables

from tests.conftest import SF_DIR, assert_query_matches


@pytest.fixture(scope="module", autouse=True)
def _views(spark):
    register_tables(spark, SF_DIR)


@pytest.mark.parametrize("name", ALL_TPCH)
def test_sql_text_equals_dataframe(spark, oracle, name):
    sql = ORACLES[name]
    assert_query_matches(spark, oracle, lambda s, _: s.sql(sql), sql)
