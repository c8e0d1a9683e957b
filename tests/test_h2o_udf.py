"""h2o db-benchmark groupby shapes + UDF surface vs the DuckDB oracle."""

from __future__ import annotations

import pytest

from datafusion_ballista_dhruvil_spark.operators.registry import ORACLES, QUERIES

from tests.conftest import SF_DIR, assert_query_matches, homed_queries


@pytest.mark.parametrize("name", homed_queries(__name__))
def test_matches_oracle(spark, oracle, name):
    assert_query_matches(spark, oracle, QUERIES[name], ORACLES[name])


def test_registered_udf_callable_from_sql(spark):
    from datafusion_ballista_dhruvil_spark.functions.udf import register_udfs

    register_udfs(spark)
    row = spark.sql("SELECT signal_score(2.0) AS s").collect()[0]
    assert row.s == 0.3 * 2.0 + 0.1 * 4.0 - 2.0


@pytest.mark.parametrize("name", ["udf_grouped_map_normalize", "sim_dbscan_core"])
def test_grouped_map_udf_runs_once(spark, name):
    """The executed FlatMapGroupsInPandas emits exactly the result's rows.
    A range exchange after it (an orderBy) would run its sampling job over
    the grouped map, so every group's UDF would run twice."""
    from datafusion_ballista_dhruvil_spark.plans.metrics import executed_metrics

    df = QUERIES[name](spark, SF_DIR)
    n_rows = len(df.collect())
    emitted = [
        r["metrics"]["number of output rows"]
        for r in executed_metrics(df)
        if r["node"] == "FlatMapGroupsInPandas"
    ]
    assert emitted == [n_rows]
