"""Property tests for the two near-duplicate kernels in operators/dedup.py.

``bucket_pairs`` must emit exactly the brute-force pairs: every unordered
pair of a bucket's members once, d1 < d2, among the MAX_BUCKET_DOCS
smallest ids when a bucket is over the cap (the deterministic sample),
with the carried key columns on every pair — for doc-id members and for
struct members whose first field is the doc id.

``set_overlap`` must equal Python set arithmetic: |a & b|, |a|, |b| and
|a & b| / |a | b|, with empty sets on either side (NULL jaccard when both
are empty) and custom pair column names.
"""

from __future__ import annotations

from itertools import combinations

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from datafusion_ballista_dhruvil_spark.operators import dedup

#: (k, j, members): two key columns and a bucket of distinct doc ids
buckets = st.lists(
    st.tuples(
        st.integers(0, 2), st.integers(0, 1), st.sets(st.integers(0, 30), max_size=9)
    ),
    max_size=6,
)


def _expected(data, cap):
    out = []
    for k, j, ids in data:
        kept = sorted(ids)[:cap]
        out += [(k, j, a, b) for a, b in combinations(kept, 2)]
    return sorted(out)


def _with_cap(cap, fn):
    prev = dedup.MAX_BUCKET_DOCS
    dedup.MAX_BUCKET_DOCS = cap  # read by bucket_pairs at call time
    try:
        return fn()
    finally:
        dedup.MAX_BUCKET_DOCS = prev


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(buckets, st.integers(2, 5))
@example([], 3)  # no buckets
@example([(0, 0, {7}), (1, 0, set())], 3)  # under two members: no pairs
@example([(0, 0, {5, 3, 9})], 3)  # at the cap
@example([(1, 1, set(range(20, 10, -1)))], 4)  # over the cap: smallest ids
@example([(0, 0, {1, 2}), (0, 0, {1, 2, 3})], 5)  # same key twice: both emit
def test_bucket_pairs_match_brute_force(spark, data, cap):
    df = spark.createDataFrame(
        [(k, j, sorted(ids, reverse=True)) for k, j, ids in data],
        "k int, j int, ids array<long>",
    )
    rows = _with_cap(
        cap, lambda: dedup.bucket_pairs(df, "ids", "test", keys=["k", "j"]).collect()
    )
    assert sorted(tuple(r) for r in rows) == _expected(data, cap)
    assert all(r.d1 < r.d2 for r in rows)


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(buckets, st.integers(2, 5))
@example([(2, 1, set(range(12)))], 5)  # over the cap
def test_bucket_pairs_of_struct_members(spark, data, cap):
    """Struct members sort and cap by their first field; the rest of the
    struct rides along on each side of the pair."""
    df = spark.createDataFrame(
        [(k, j, [(d, f"p{d * 7 % 5}") for d in sorted(ids, reverse=True)]) for k, j, ids in data],
        "k int, j int, ms array<struct<doc_id: long, payload: string>>",
    )
    rows = _with_cap(cap, lambda: dedup.bucket_pairs(df, "ms", "test", keys=["k"]).collect())
    got = sorted((r.k, r.d1.doc_id, r.d1.payload, r.d2.doc_id, r.d2.payload) for r in rows)
    want = sorted(
        (k, a, f"p{a * 7 % 5}", b, f"p{b * 7 % 5}") for k, _, a, b in _expected(data, cap)
    )
    assert got == want


words = st.sets(st.sampled_from(["a b c", "b c d", "c d e", "d e f", "x y z"]), max_size=5)


@st.composite
def overlap_cases(draw):
    sets = draw(st.lists(words, min_size=1, max_size=6))
    ids = st.integers(0, len(sets) - 1)
    return sets, draw(st.lists(st.tuples(ids, ids), max_size=8))


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(overlap_cases())
@example(([set(), set(), {"a b c"}], [(0, 1), (0, 2), (2, 1), (2, 2)]))  # empty sets
def test_set_overlap_matches_set_arithmetic(spark, case):
    sets, pairs = case
    arrs = spark.createDataFrame(
        [(i, sorted(s)) for i, s in enumerate(sets)], "doc_id long, ss array<string>"
    )
    cand = spark.createDataFrame(
        [(a, b, t) for t, (a, b) in enumerate(pairs)], "new_doc long, old_doc long, t int"
    )
    out = dedup.set_overlap(cand, arrs, "new_doc", "old_doc")
    assert out.columns == ["new_doc", "old_doc", "t", "common", "n1", "n2", "jaccard"]
    got = sorted((r.t, r.common, r.n1, r.n2, r.jaccard) for r in out.collect())
    want = []
    for t, (a, b) in enumerate(pairs):
        common, union = len(sets[a] & sets[b]), len(sets[a] | sets[b])
        want.append((t, common, len(sets[a]), len(sets[b]), common / union if union else None))
    assert got == want
