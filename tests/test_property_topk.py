"""Property test for scale.top_k, the engine's one per-group rank-limit:
its rows must equal a Python oracle's ``sorted(group)[:k]`` under Spark's
ordering rules — NULLs first under ASC and last under DESC, NaN above
every other double, -0.0 equal to 0.0 — with ties resolved by the total
tie-break, for k below and at or above the group size, NULL group keys,
and an empty frame. An empty partition key is refused.
"""

from __future__ import annotations

import math

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from datafusion_ballista_dhruvil_spark.operators.scale import top_k

value = st.one_of(
    st.none(),
    st.just(math.nan),
    st.sampled_from([0.0, -0.0, 1.5, -2.0]),  # few values: many ties
)
rows = st.lists(
    st.tuples(st.one_of(st.none(), st.integers(0, 2)), value),
    max_size=14,
)
case = st.tuples(rows, st.sampled_from(["asc", "desc"]), st.integers(1, 6))


def _oracle(data: list[tuple], direction: str, k: int) -> list[tuple]:
    """(g, id, rank) for the first k rows of each g by (v <direction>, id)."""

    def vkey(v):
        # Spark's ascending order: NULL, numbers (-0.0 == 0.0), NaN
        if v is None:
            return (0, 0.0)
        if math.isnan(v):
            return (2, 0.0)
        return (1, v)

    out = []
    for g in {r[0] for r in data}:
        grp = sorted((r for r in data if r[0] == g), key=lambda r: r[2])
        # stable: equal v keep id order, also under reverse=True
        grp.sort(key=lambda r: vkey(r[1]), reverse=direction == "desc")
        out += [(g, r[2], i + 1) for i, r in enumerate(grp[:k])]
    return out


def _canon(rows_):
    return sorted(rows_, key=lambda r: tuple((v is None, v) for v in r))


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(case)
@example(([], "desc", 1))  # empty frame
@example(([(1, None), (1, 2.0), (1, None)], "desc", 2))  # NULLs last under DESC
@example(([(1, None), (1, 2.0), (1, None)], "asc", 2))  # NULLs first under ASC
@example(([(0, math.nan), (0, 1.5), (0, math.nan)], "desc", 1))  # NaN greatest
@example(([(0, -0.0), (0, 0.0), (0, -0.0)], "asc", 2))  # -0.0 ties 0.0
@example(([(None, 1.5), (None, -2.0), (2, 1.5)], "asc", 6))  # k > group size
def test_top_k_matches_python_oracle(spark, case_):
    raw, direction, k = case_
    data = [(g, v, i) for i, (g, v) in enumerate(raw)]
    df = spark.createDataFrame(data, "g long, v double, id long")
    order = [getattr(F, direction)("v"), "id"]

    ranked = top_k(df, ["g"], order, k, rank="rn")
    got = [tuple(r) for r in ranked.select("g", "id", "rn").collect()]
    assert _canon(got) == _canon(_oracle(data, direction, k))

    plain = top_k(df, ["g"], order, k)
    assert plain.columns == df.columns  # rank column dropped by default
    assert sorted(r.id for r in plain.collect()) == sorted(r[1] for r in got)


def test_top_k_refuses_empty_partition_key(spark):
    df = spark.createDataFrame([(1, 1.0)], "id long, v double")
    with pytest.raises(ValueError, match="partition key"):
        top_k(df, [], ["v", "id"], 1)
