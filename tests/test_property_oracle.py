"""Property-based conformance: randomized filter+group+aggregate queries must
hash-match DuckDB (SURVEY.md §5 'optional stretch' — the reference has no
randomized testing; this goes beyond it).

A tiny query AST is generated, rendered BOTH as a DataFrame plan and as
oracle SQL, and compared exactly — the same determinism contract as the
static suites (decimal sums, exact doubles for min/max).
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from datafusion_ballista_dhruvil_spark.functions.compat import dsum, sql_dsum
from datafusion_ballista_dhruvil_spark.session import Tables

from tests.conftest import SF_DIR
from tools.drive_common import diff

NUM_COLS = {
    "l_quantity": (1.0, 50.0),
    "l_extendedprice": (900.0, 100000.0),
    "l_discount": (0.0, 0.1),
}
OPS = {"lt": "<", "le": "<=", "gt": ">", "ge": ">="}
KEYS = ["l_returnflag", "l_linestatus"]


predicate = st.tuples(
    st.sampled_from(sorted(NUM_COLS)),
    st.sampled_from(sorted(OPS)),
    st.floats(0.0, 1.0, allow_nan=False),
)
query_ast = st.tuples(
    st.lists(predicate, min_size=0, max_size=3),
    st.lists(st.sampled_from(KEYS), min_size=0, max_size=2, unique=True),
    st.sampled_from(["count", "sum", "min", "max"]),
    st.sampled_from(sorted(NUM_COLS)),
)


def _threshold(col: str, frac: float) -> float:
    lo, hi = NUM_COLS[col]
    # 2-decimal thresholds keep double comparisons boundary-clean
    return round(lo + (hi - lo) * frac, 2)


@settings(max_examples=20, deadline=None, suppress_health_check=list(HealthCheck))
@given(query_ast)
def test_random_query_matches_oracle(spark, oracle, ast):
    preds, keys, agg, agg_col = ast

    df = Tables(spark, SF_DIR).lineitem
    where_sql = []
    for col, op, frac in preds:
        thr = _threshold(col, frac)
        df = df.where(
            {
                "lt": F.col(col) < thr,
                "le": F.col(col) <= thr,
                "gt": F.col(col) > thr,
                "ge": F.col(col) >= thr,
            }[op]
        )
        where_sql.append(f"{col} {OPS[op]} {thr}")

    if agg == "count":
        agg_expr = F.count(F.lit(1)).alias("v")
        agg_sql = "COUNT(*) AS v"
    elif agg == "sum":
        agg_expr = dsum(F.col(agg_col).cast("decimal(18,4)")).alias("v")
        agg_sql = f"{sql_dsum(f'CAST({agg_col} AS DECIMAL(18,4))')} AS v"
    elif agg == "min":
        agg_expr = F.min(agg_col).alias("v")
        agg_sql = f"MIN({agg_col}) AS v"
    else:
        agg_expr = F.max(agg_col).alias("v")
        agg_sql = f"MAX({agg_col}) AS v"

    sdf = df.groupBy(*keys).agg(agg_expr) if keys else df.agg(agg_expr)
    srows = [tuple(r) for r in sdf.collect()]
    scols = sdf.columns

    sql = f"SELECT {', '.join(keys + [agg_sql])} FROM lineitem"
    if where_sql:
        sql += " WHERE " + " AND ".join(where_sql)
    if keys:
        sql += " GROUP BY " + ", ".join(keys)
    cur = oracle.execute(sql)
    assert diff(scols, srows, [d[0] for d in cur.description], cur.fetchall()) is None, sql


# ---------------------------------------------------------------------------
# SQL rewrite property tests (pure-Python, no Spark): the literal-masking
# invariant over sqlparser-corpus-shaped inputs (r2 VERDICT item 6).

_ident = st.from_regex(r"[a-z_][a-z0-9_]{0,10}", fullmatch=True)
# literal body: anything printable without quotes, plus doubled quotes
_lit_body = st.text(
    alphabet=st.characters(
        min_codepoint=32, max_codepoint=126, blacklist_characters="'"
    ),
    max_size=40,
)


@given(body=_lit_body)
@settings(max_examples=200, deadline=None)
def test_rewrite_never_touches_literal_contents(body):
    """Whatever a string literal contains — '::', 'SIMILAR TO', function
    names, 'CREATE EXTERNAL TABLE' — rewrite_sql must emit it verbatim."""
    from datafusion_ballista_dhruvil_spark.sql.rewrite import rewrite_sql

    sql = f"SELECT '{body}' AS s, 'x SIMILAR TO y' AS t FROM docs"
    assert rewrite_sql(sql) == sql


@given(a=_ident, b=_ident, pat=st.from_regex(r"[a-z%_]{1,8}", fullmatch=True))
@settings(max_examples=200, deadline=None)
def test_rewrite_similar_to_operand_shapes(a, b, pat):
    """SIMILAR TO rewrites for both simple and parenthesized operands; the
    operand text is preserved byte-for-byte and the pattern is anchored."""
    from datafusion_ballista_dhruvil_spark.sql.rewrite import (
        _similar_to_regex,
        rewrite_sql,
    )

    want = _similar_to_regex(f"'{pat}'")
    out1 = rewrite_sql(f"SELECT {a} SIMILAR TO '{pat}' FROM t")
    assert f"{a} RLIKE {want}" in out1
    out2 = rewrite_sql(f"SELECT ({a} || {b}) NOT SIMILAR TO '{pat}' FROM t")
    assert f"({a} || {b}) NOT RLIKE {want}" in out2


@given(body=_lit_body, ty=st.sampled_from(["INT", "VARCHAR(10)", "DECIMAL(12,2)"]))
@settings(max_examples=100, deadline=None)
def test_rewrite_pg_cast_on_masked_literal(body, ty):
    """'lit'::TYPE casts rewrite with the literal restored untouched."""
    from datafusion_ballista_dhruvil_spark.sql.rewrite import rewrite_sql

    out = rewrite_sql(f"SELECT '{body}'::{ty} FROM t")
    assert out == f"SELECT CAST('{body}' AS {ty}) FROM t"


# ---------------------------------------------------------------------------
# Window-function conformance fuzz: ONE SQL text (shared dialect) with a
# random window spec runs on BOTH engines and must match exactly. Covers
# ranking, offset (lag/lead) and framed aggregates — the §2.6 surface —
# under randomized PARTITION BY / ROWS frames.

_WFUNCS = ["row_number", "rank", "dense_rank", "lag", "lead", "sum", "min", "max", "count"]

window_ast = st.tuples(
    st.sampled_from(_WFUNCS),
    st.lists(
        st.sampled_from(["o_orderpriority", "o_orderstatus"]),
        max_size=2,
        unique=True,
    ),
    st.integers(0, 3),  # frame preceding / lag offset
    st.integers(0, 3),  # frame following
)


@settings(max_examples=25, deadline=None, suppress_health_check=list(HealthCheck))
@given(window_ast)
def test_random_window_matches_oracle(spark, oracle, ast):
    func, parts, a, b = ast
    over = "PARTITION BY " + ", ".join(parts) + " " if parts else ""
    order = "ORDER BY o_custkey, o_orderkey"  # total order: ties impossible
    if func in ("row_number", "rank", "dense_rank"):
        expr = f"{func}() OVER ({over}{order})"
    elif func in ("lag", "lead"):
        expr = f"{func}(o_custkey, {a}) OVER ({over}{order})"
    elif func == "count":
        expr = (
            f"COUNT(*) OVER ({over}{order} "
            f"ROWS BETWEEN {a} PRECEDING AND {b} FOLLOWING)"
        )
    else:
        expr = (
            f"CAST({func.upper()}(o_custkey) OVER ({over}{order} "
            f"ROWS BETWEEN {a} PRECEDING AND {b} FOLLOWING) AS BIGINT)"
        )
    sql = (
        f"SELECT o_orderkey, {expr} AS v FROM orders "
        "WHERE o_orderkey < 3000 ORDER BY o_orderkey"
    )

    Tables(spark, SF_DIR).orders.createOrReplaceTempView("orders")
    srows = [tuple(r) for r in spark.sql(sql).collect()]
    cur = oracle.execute(sql)
    orows = cur.fetchall()
    assert len(srows) > 0, sql
    cols = ["o_orderkey", "v"]
    assert diff(cols, srows, cols, orows) is None, sql


@given(
    k=_ident,
    v=_ident,
    alias=_ident,
    lim=st.integers(min_value=1, max_value=99),
    use_order=st.booleans(),
    use_limit=st.booleans(),
)
@settings(max_examples=200, deadline=None)
def test_rewrite_qualify_shapes(k, v, alias, lim, use_order, use_limit):
    """QUALIFY lowers for arbitrary identifier shapes; the OVER clause's
    internal ORDER BY is never confused with the outer ORDER BY, and the
    outer tail (ORDER BY / LIMIT) survives verbatim."""
    from datafusion_ballista_dhruvil_spark.sql.rewrite import rewrite_sql

    tail = (f" ORDER BY {k}" if use_order else "") + (
        f" LIMIT {lim}" if use_limit else ""
    )
    sql = (
        f"SELECT {k}, {v} AS {alias} FROM t QUALIFY "
        f"row_number() OVER (PARTITION BY {k} ORDER BY {v} DESC) = 1{tail}"
    )
    out = rewrite_sql(sql)
    assert out.startswith(f"SELECT {k}, {alias} FROM (SELECT {k}, {v} AS {alias}, ")
    assert f"OVER (PARTITION BY {k} ORDER BY {v} DESC) = 1) AS __qualify" in out
    assert out.endswith(f"WHERE __qualify{tail}")


@given(body=_lit_body)
@settings(max_examples=100, deadline=None)
def test_rewrite_qualify_never_fires_inside_literals_or_subqueries(body):
    """A literal containing 'QUALIFY' and a QUALIFY inside a subquery both
    pass through byte-identical (single-SELECT guard + literal masking)."""
    from datafusion_ballista_dhruvil_spark.sql.rewrite import rewrite_sql

    lit = f"SELECT '{body} QUALIFY {body}' AS s FROM t"
    assert rewrite_sql(lit) == lit
    sub = (
        "SELECT * FROM (SELECT k FROM t "
        "QUALIFY row_number() OVER (ORDER BY k) = 1) z"
    )
    assert rewrite_sql(sub) == sub


# ---------------------------------------------------------------------------
# TPC-DS scaled-integer revenue contract (operators/tpcds.py): rev6 must
# equal the exact decimal product for every representable (2-dp price,
# 4-dp discount) pair, in BOTH engines' arithmetic models — the property
# that makes the tpcds_* ratios/ranks bit-identical without floats.


@given(
    cents=st.integers(min_value=90000, max_value=10_000_000),
    bp=st.integers(min_value=0, max_value=1000),
)
@settings(max_examples=300, deadline=None)
def test_tpcds_rev6_equals_decimal_product(cents, bp):
    from decimal import Decimal

    price = cents / 100.0       # what the parquet double stores
    discount = bp / 10000.0
    # the operator's integer form
    rev6 = round(price * 100) * (10000 - round(discount * 10000))
    # the exact decimal ground truth, scaled to 1e6 dollars
    exact = Decimal(cents) * (Decimal(10000) - Decimal(bp))
    assert rev6 == int(exact), (cents, bp)


@given(
    cents=st.integers(min_value=90000, max_value=10_000_000),
    bp=st.integers(min_value=0, max_value=1000),
)
@settings(max_examples=60, deadline=None)
def test_tpcds_rev6_matches_duckdb_rounding(oracle, cents, bp):
    """Both engines' round(double) must recover the same integers the
    Python form does — the cross-engine half of the contract."""
    price = cents / 100.0
    discount = bp / 10000.0
    got = oracle.execute(
        "SELECT CAST(round(? * 100) AS BIGINT)"
        " * (10000 - CAST(round(? * 10000) AS BIGINT))",
        [price, discount],
    ).fetchone()[0]
    assert got == round(price * 100) * (10000 - round(discount * 10000))
