"""Operator-checklist queries vs the DuckDB oracle."""

from __future__ import annotations

import pytest

from datafusion_ballista_dhruvil_spark.operators.registry import ORACLES, QUERIES

from tests.conftest import assert_query_matches, homed_queries


@pytest.mark.parametrize("name", homed_queries(__name__))
def test_ops_matches_oracle(spark, oracle, name):
    assert_query_matches(spark, oracle, QUERIES[name], ORACLES[name])


def test_weighted_quantile_helper(spark):
    from datafusion_ballista_dhruvil_spark.operators.relational import weighted_quantile

    df = spark.createDataFrame(
        [("g", 1, 1), ("g", 2, 1), ("g", 3, 10), ("h", 5, 1)],
        "grp string, v int, w int",
    )
    out = {
        r.grp: r
        for r in weighted_quantile(
            df, "v", "w", ["grp"], {"wp50": (1, 2), "wp90": (9, 10)}
        ).collect()
    }
    # g: total weight 12; cum 1,2,12 -> first v with 2*cw>=12 is 3
    assert out["g"].wp50 == 3 and out["g"].wp90 == 3
    # single-row group: every quantile is that row
    assert out["h"].wp50 == 5 and out["h"].wp90 == 5


def test_weighted_quantile_adversarial_boundaries(spark):
    """The two-phase binned quantile vs the naive one-sort window form on
    adversarial inputs: values sitting exactly ON bucket boundaries
    (multiples of bucket_width), cumulative weight landing EXACTLY on
    q*total, equal values split across rows, and a group entirely inside
    one bucket. The binned resolve must agree with the direct
    cumulative-weight definition row-for-row."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from datafusion_ballista_dhruvil_spark.operators.relational import (
        weighted_quantile,
    )

    rows = []
    # group A: values on the 32-boundary, weights make cum hit exactly q*tw
    #   tw = 8; wp50 threshold = 4 -> cum after v=32 is exactly 4
    rows += [("A", 0, 1), ("A", 32, 3), ("A", 64, 3), ("A", 96, 1)]
    # group B: equal values split across many rows (pre-aggregation path)
    rows += [("B", 32, 1)] * 5 + [("B", 33, 5)]
    # group C: everything inside one bucket
    rows += [("C", 3, 2), ("C", 5, 2), ("C", 7, 2)]
    # group D: single heavy row dominating
    rows += [("D", 10, 100), ("D", 1000, 1)]
    df = spark.createDataFrame(rows, "grp string, v int, w int")
    qs = {"wp25": (1, 4), "wp50": (1, 2), "wp75": (3, 4), "wp100": (1, 1)}

    binned = {
        r.grp: r
        for r in weighted_quantile(df, "v", "w", ["grp"], qs, bucket_width=32).collect()
    }

    # naive reference: smallest v whose cumulative weight reaches q of total
    cum = (
        df.groupBy("grp", "v")
        .agg(F.sum("w").alias("vw"))
        .withColumn(
            "cw",
            F.sum("vw").over(
                Window.partitionBy("grp")
                .orderBy("v")
                .rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        .withColumn("tw", F.sum("vw").over(Window.partitionBy("grp")))
    )
    for qname, (num, den) in qs.items():
        naive = {
            r.grp: r.pick
            for r in cum.where(F.col("cw") * den >= F.col("tw") * num)
            .groupBy("grp")
            .agg(F.min("v").alias("pick"))
            .collect()
        }
        for grp, expected in naive.items():
            assert binned[grp][qname] == expected, (
                f"{grp}.{qname}: binned={binned[grp][qname]} naive={expected}"
            )
    # pin the exactly-on-threshold semantics explicitly
    assert binned["A"].wp50 == 32  # cum hits exactly half the total weight
