"""Property test for scale.top_k, the engine's one per-group rank-limit:
its rows must equal a Python oracle's ``sorted(group)[:k]`` under Spark's
ordering rules — NULLs first under ASC and last under DESC, NaN above
every other double, -0.0 equal to 0.0 — with ties resolved by the total
tie-break, for k below and at or above the group size, NULL group keys,
and an empty frame. An empty partition key is refused.

The similarity probe kernel (``similarity._probe_top_k``) finishes with
scale.top_k over per-Arrow-batch partial top-k rows; its rows must equal
a brute-force integer-cosine reference on corpora with duplicate vectors
(exact cosine ties) that straddle batch boundaries, with every probe also
in the corpus (it is never its own neighbor).
"""

from __future__ import annotations

import math

import numpy as np
import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from datafusion_ballista_dhruvil_spark.operators.scale import top_k
from datafusion_ballista_dhruvil_spark.operators.similarity import (
    _collect_quantized,
    _probe_top_k,
)

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


#: few distinct non-zero components, so a small pool of vectors repeats
#: across the corpus: duplicates tie exactly, and no norm is zero
GRID = [-0.5, -0.25, 0.1, 0.25, 0.3333333, 0.5]
pool = st.lists(
    st.lists(st.sampled_from(GRID), min_size=4, max_size=4), min_size=1, max_size=3
)
probe_case = st.tuples(
    pool,
    st.lists(st.integers(0, 2), min_size=2, max_size=12),  # corpus: pool picks
    st.lists(st.integers(0, 11), min_size=1, max_size=3),  # probe vec_ids
    st.integers(1, 4),  # k
    st.sampled_from([2, 3]),  # rows per Arrow batch
)


def _half_away(x: float) -> int:
    ax = abs(x) * 1e7
    fl = math.floor(ax)
    return int(math.copysign(fl + (1 if ax - fl >= 0.5 else 0), x))


def _brute_force(vecs: dict[int, list[float]], probe_ids, k: int) -> list[tuple]:
    """(query_id, neighbor_id, cosine) from exact Python integer dots, in
    the oracles' op order: (dot / 1e14) / (|q| * |c|)."""
    q = {i: [_half_away(x) for x in v] for i, v in vecs.items()}
    nrm = {i: math.sqrt(sum(x * x for x in v) / 1e14) for i, v in q.items()}
    out = []
    for p in probe_ids:
        scored = sorted(
            (-(sum(a * b for a, b in zip(q[p], q[c])) / 1e14) / (nrm[p] * nrm[c]), c)
            for c in q
            if c != p
        )
        out += [(p, c, -negcos) for negcos, c in scored[:k]]
    return out


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(probe_case)
@example(([[0.5, 0.25, 0.1, -0.5]], [0, 0, 0, 0, 0], [0, 3], 3, 2))  # all ties
def test_probe_top_k_matches_brute_force(spark, case_):
    vectors, picks, probe_ids, k, batch = case_
    # float32 storage, as the embeddings table holds them
    vecs = {
        i: [float(x) for x in np.asarray(vectors[p % len(vectors)], dtype=np.float32)]
        for i, p in enumerate(picks)
    }
    probe_ids = sorted({p for p in probe_ids if p in vecs}) or [0]
    corpus = spark.createDataFrame(
        list(vecs.items()), "vec_id long, embedding array<float>"
    )
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, str(batch))
    try:
        probes = _collect_quantized(corpus.where(F.col("vec_id").isin(probe_ids)))
        got = [tuple(r) for r in _probe_top_k(corpus, probes, k).collect()]
    finally:
        spark.conf.set(key, old)
    assert sorted(got) == sorted(_brute_force(vecs, probe_ids, k))
