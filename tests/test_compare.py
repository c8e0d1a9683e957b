"""The one Spark-vs-DuckDB compare (tools/drive_common): what MATCH means
for the oracle gate, the drive tools and driver_diff."""

from __future__ import annotations

import math
from decimal import Decimal

import duckdb
import pandas as pd
import pytest

from datafusion_ballista_dhruvil_spark.operators.registry import query
from tools.drive_common import check, diff, pandas_diff


def _one(v):
    return diff(["v"], [(v,)], ["v"], [(v,)])


@pytest.mark.parametrize("a, b", [(5, 5.0), (5, Decimal("5")), (5.0, Decimal("5"))])
def test_numeric_types_are_distinct(a, b):
    assert _one(a) is None and _one(b) is None
    assert diff(["v"], [(a,)], ["v"], [(b,)]) is not None
    assert diff(["v"], [(b,)], ["v"], [(a,)]) is not None


def test_nan_equals_nan_but_not_null():
    assert diff(["v"], [(math.nan,)], ["v"], [(float("nan"),)]) is None
    assert diff(["v"], [(None,)], ["v"], [(math.nan,)]) is not None


def test_column_case_column_order_and_row_order_are_ignored():
    srows = [(1, "a"), (2, "b")]
    orows = [("b", 2), ("a", 1)]
    assert diff(["K", "s"], srows, ["s", "k"], orows) is None


def test_messages_name_the_first_difference():
    assert diff(["k"], [(1,), (2,)], ["k"], [(1,)]) == "rowcount 2 vs 1"
    assert diff(["k", "v"], [(1, 2)], ["k", "w"], [(1, 2)]) == (
        "cols ['k', 'v'] vs ['k', 'w']"
    )
    assert diff(["k", "v"], [(1, 2), (3, 4)], ["v", "k"], [(2, 1), (5, 3)]) == (
        "1/2 rows differ; first at column v: spark=int:4 oracle=int:5"
    )


def test_pandas_compare_is_dtype_strict_and_na_equal():
    ints = pd.DataFrame({"v": [1, 2]})
    assert pandas_diff(ints, pd.DataFrame({"v": [2, 1]})) is None
    assert "dtype drift on v" in pandas_diff(ints, ints.astype("float64"))
    na = pd.DataFrame({"v": [None, 1.0]})
    assert pandas_diff(na, na.copy()) is None


def test_query_without_oracle_fails_at_registration():
    with pytest.raises(TypeError):
        query("no_oracle")


def test_build_that_leaves_a_cache_is_a_leak(spark):
    con = duckdb.connect()
    sql = "SELECT range AS id FROM range(3)"
    left = []

    def leaky(s, _):
        df = s.range(3).cache()
        left.append(df)
        return df

    try:
        assert check(spark, con, lambda s, _: s.range(3), sql, "") is None
        assert check(spark, con, leaky, sql, "") == (
            "LEAK 1 cache entries left registered"
        )
    finally:
        for df in left:
            df.unpersist()
        con.close()


def test_build_that_leaves_a_view_is_a_leak(spark):
    """A view or function that is new after the collect, or a view new
    after a failed build, is a LEAK; one that was already there is not."""
    con = duckdb.connect()
    sql = "SELECT range AS id FROM range(3)"

    def leaky(s, _):
        df = s.range(3)
        df.createOrReplaceTempView("leaked_view")
        return df

    def leaky_function(s, _):
        s.udf.register("leaked_fn", lambda x: x, "long")
        return s.range(3)

    def broken(s, _):
        s.range(1).createOrReplaceTempView("leaked_by_failure")
        raise ValueError("boom")

    try:
        assert check(spark, con, leaky, sql, "") == "LEAK temp views left: leaked_view"
        assert check(spark, con, leaky, sql, "") is None
        assert check(spark, con, broken, sql, "") == (
            "LEAK temp views left: leaked_by_failure; ValueError: boom"
        )
        assert check(spark, con, leaky_function, sql, "") == "LEAK functions left: leaked_fn"
        assert check(spark, con, leaky_function, sql, "") is None
    finally:
        spark.catalog.dropTempView("leaked_view")
        spark.catalog.dropTempView("leaked_by_failure")
        spark.sql("DROP TEMPORARY FUNCTION IF EXISTS leaked_fn")
        con.close()
