"""All 22 TPC-H-derived queries vs the DuckDB oracle (SURVEY.md §5).

Stronger than the reference's own harness, which row-verifies only q4/q12/q13
and skips q16 (reference benchmarks/run.sh). Runs at sf0.01 — the same scale
the driver's t2 correctness gate uses.
"""

from __future__ import annotations

import pytest

from datafusion_ballista_dhruvil_spark.operators.registry import ORACLES, QUERIES

from tests.conftest import assert_query_matches, homed_queries


@pytest.mark.parametrize("name", homed_queries(__name__))
def test_tpch_matches_oracle(spark, oracle, name):
    assert_query_matches(spark, oracle, QUERIES[name], ORACLES[name])
