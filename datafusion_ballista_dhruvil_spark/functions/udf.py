"""UDF surface (SURVEY.md §2.8).

Reference: named scalar/aggregate UDFs resolved from per-task registries
(ScalarUDFExprNode/AggregateUDFExprNode, datafusion.proto:558-568;
executor registries, ballista/executor/src/execution_loop.rs:182-205) and a
dynamic-library plugin loader (ballista/core/src/plugin/udf.rs:29-45).

Spark-side equivalents, in preference order:
1. SQL-bodied functions (functions/compat.py) — JVM, codegen-inlined;
2. Arrow-vectorized pandas UDFs (this module) — the DataFusion-Arrow-native
   analogue; ~10-100x faster than row Python UDFs;
3. row-at-a-time ``F.udf`` — supported for parity, discouraged in hot paths.

Python packages/wheels shipped via ``spark.submit.pyFiles`` replace the
reference's ``.so`` plugin_dir mechanism.
"""

from __future__ import annotations

import uuid

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from datafusion_ballista_dhruvil_spark.operators.registry import query
from datafusion_ballista_dhruvil_spark.session import Tables


def make_signal_score():
    """Vectorized scalar UDF: polynomial signal score over a double column.

    Pure IEEE double arithmetic in a fixed order, so results are
    bit-reproducible and oracle-checkable (no libm calls).
    """

    @pandas_udf("double")
    def signal_score(v: pd.Series) -> pd.Series:
        v = v.astype("float64")  # SQL decimal literals arrive as Decimal
        return 0.3 * v + 0.1 * v * v - 2.0

    return signal_score


def register_udfs(spark: SparkSession) -> None:
    """Register named UDFs in the session (parity: executor function
    registry keyed by name, execution_loop.rs:182-205)."""
    spark.udf.register("signal_score", make_signal_score())


@query(
    "udf_vectorized_score",
    oracle="""
SELECT event_id, 0.3 * value + 0.1 * value * value - 2.0 AS score
FROM events
WHERE event_id < 500
ORDER BY event_id
""",
)
def udf_vectorized_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-vectorized pandas UDF in a projection; the oracle evaluates the
    same IEEE-double expression in SQL — results match exactly because the
    UDF sticks to fixed-order double arithmetic.

    The UDF runs after the global sort: under the sort's range-partition
    exchange it would run twice, once in the sampling job that picks the
    range bounds and once in the shuffle's map stage."""
    t = Tables(spark, sf_dir)
    score = make_signal_score()
    return (
        t.events.where(F.col("event_id") < 500)
        .select("event_id", "value")
        .orderBy("event_id")
        .select("event_id", score(F.col("value")).alias("score"))
    )


@query(
    "udf_grouped_agg",
    oracle="""
SELECT event_type,
       CAST(SUM(user_id * CAST(round(greatest(value, 0.001) * 1000000)
                               AS BIGINT)) AS DOUBLE)
       / CAST(SUM(CAST(round(greatest(value, 0.001) * 1000000) AS BIGINT))
              AS DOUBLE) AS weighted_user
FROM events
WHERE value IS NOT NULL AND user_id IS NOT NULL
GROUP BY event_type ORDER BY event_type
""",
)
def udf_grouped_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-aggregate pandas UDF (UDAF parity): value-weighted mean via
    applyInPandas. Demonstrates the reference's aggregate-UDF surface
    (AggregateUDFExprNode).

    Exactness (no float-accumulation tolerance): weights quantize to
    round(w * 1e6) int64 (away-from-zero, matching DuckDB round()), the
    numerator/denominator are EXACT integer sums, and both engines then
    perform the identical two-step int->double cast + one division — so
    the mean is bit-equal regardless of pandas' pairwise vs DuckDB's
    sequential summation order. Magnitudes stay far inside int64
    (uid*weight ~ 1e12 x group rows).
    """
    import numpy as np

    t = Tables(spark, sf_dir)

    def weighted_mean(pdf: pd.DataFrame) -> pd.DataFrame:
        # SQL NULL-skip semantics: rows with NULL value/user_id drop out of
        # the sums exactly as they do in the oracle's SUM (NaN would
        # otherwise poison the int64 cast)
        keep = pdf["value"].notna() & pdf["user_id"].notna()
        if not keep.any():
            # all-NULL group: the oracle's WHERE drops it entirely
            return pd.DataFrame({"event_type": [], "weighted_user": []})
        v = pdf.loc[keep, "value"].to_numpy(dtype="float64")
        x = np.maximum(v, 0.001) * 1e6
        # half-away-from-zero EXACTLY like DuckDB/Spark round(): compare
        # the (exactly representable) fraction against 0.5 — trunc(x+0.5)
        # differs when x sits within half an ulp below k+0.5, because the
        # +0.5 addition itself rounds up across the boundary
        fx = np.floor(x)
        w = (fx + (x - fx >= 0.5)).astype(np.int64)
        uid = pdf.loc[keep, "user_id"].to_numpy().astype(np.int64)
        # numpy int64 ops wrap silently on overflow; the oracle's HUGEINT
        # does not — bound-check with EXACT Python ints BEFORE the int64
        # multiply (a post-multiply check would read post-wrap values and
        # defeat itself)
        if len(uid) and len(uid) * int(np.abs(uid).max()) * int(
            np.abs(w).max()
        ) >= 2**62:
            raise OverflowError(
                "udf_grouped_agg: group magnitude exceeds the int64 "
                "accumulation bound; shard the group or widen the kernel"
            )
        prod = uid * w
        num, den = int(prod.sum()), int(w.sum())
        return pd.DataFrame(
            {
                "event_type": [pdf["event_type"].iloc[0]],
                # float(num)/float(den), NOT num/den: Python divides the
                # exact rationals, DuckDB casts each side to double first —
                # match DuckDB's two-step rounding
                "weighted_user": [float(num) / float(den)],
            }
        )

    return (
        t.events.select("event_type", "user_id", "value")
        .groupBy("event_type")
        .applyInPandas(weighted_mean, schema="event_type string, weighted_user double")
    )


@query(
    "udf_table_function",
    oracle="""
WITH d AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents
           WHERE doc_id < 20)
SELECT doc_id, i AS pos, tk[i] AS token
FROM d, unnest(range(1, len(tk) + 1)) AS r(i)
ORDER BY doc_id, pos
""",
)
def udf_table_function(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (table function): one input row -> many output rows via
    SQL `LATERAL udtf(...)` — the user-defined-relation surface beyond
    scalar/aggregate UDFs.

    Token positions here are expressible with posexplode (and production
    code should use it — this family is the Python slow path, documented as
    such); the UDTF exists to cover the extension point where the row
    expansion genuinely needs imperative Python. Bounded to 20 docs.
    Class defined inside the function so cloudpickle serializes it by value
    (module-level classes pickle by reference and fail on foreign-cwd
    workers).
    """
    from pyspark.sql.functions import udtf

    t = Tables(spark, sf_dir)

    @udtf(returnType="pos: int, token: string")
    class TokenPositions:
        def eval(self, text: str):
            for i, tok in enumerate((text or "").split(" "), start=1):
                yield i, tok

    # SQL reaches a UDTF only by name: a unique temporary function that
    # lives until the plan is analyzed (the UDTF is bound there)
    fn = f"token_positions_{uuid.uuid4().hex}"
    spark.udtf.register(fn, TokenPositions)
    try:
        return spark.sql(
            f"""
            SELECT d.doc_id, tp.pos, tp.token
            FROM {{docs}} d, LATERAL {fn}(d.text) tp
            ORDER BY d.doc_id, tp.pos
            """,
            docs=t.documents.where(F.col("doc_id") < 20),
        )
    finally:
        spark.sql(f"DROP TEMPORARY FUNCTION {fn}")


# --------------------------------------------------------------------------
@query(
    "udf_grouped_map_normalize",
    oracle="""
WITH b AS (
  SELECT event_id, event_type,
         CAST(round(value * 100) AS BIGINT) AS cents,
         MIN(CAST(round(value * 100) AS BIGINT)) OVER (PARTITION BY event_type) AS mn,
         MAX(CAST(round(value * 100) AS BIGINT)) OVER (PARTITION BY event_type) AS mx
  FROM events WHERE event_id < 2000
)
SELECT event_id, event_type,
       CASE WHEN mx = mn THEN 500000
            ELSE (cents - mn) * 1000000 // (mx - mn) END AS scaled_ppm
FROM b ORDER BY event_id
""",
)
def udf_grouped_map_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-MAP pandas UDF (``applyInPandas`` returning per-row output,
    not a scalar) — the §2.8 UDF shape where custom logic needs the whole
    group in memory: per-event-type min-max normalization to exact
    integer ppm (degenerate single-value groups pin to the midpoint).

    Arithmetic inside the UDF is exact int64 (cents quantization, the
    round(x*100) HALF_UP contract), so the pandas path hash-matches the
    pure-SQL window oracle — proving the Python group kernel is a drop-in
    for the relational form. Scale: one shuffle on the group key; each
    group must fit an executor (event types do; for high-cardinality
    normalize keys the window form is the right plan — documented
    trade-off of the grouped-map API).
    """
    import numpy as np
    import pandas as pd

    from datafusion_ballista_dhruvil_spark.session import Tables

    t = Tables(spark, sf_dir)
    src = t.events.where(F.col("event_id") < 2000).select(
        "event_id", "event_type", "value"
    )

    from datafusion_ballista_dhruvil_spark.operators.similarity import (
        _round_half_away,
    )

    def normalize(pdf: pd.DataFrame) -> pd.DataFrame:
        # HALF_UP like both engines' round(); np.round is half-to-even
        cents = _round_half_away(pdf["value"].to_numpy() * 100).astype(np.int64)
        mn, mx = cents.min(), cents.max()
        if mx == mn:
            scaled = np.full(len(cents), 500000, dtype=np.int64)
        else:
            scaled = (cents - mn) * 1000000 // (mx - mn)
        return pd.DataFrame(
            {
                "event_id": pdf["event_id"].astype("int64"),
                "event_type": pdf["event_type"],
                "scaled_ppm": pd.Series(scaled, dtype="int64"),
            }
        )

    return src.groupBy("event_type").applyInPandas(
        normalize, schema="event_id long, event_type string, scaled_ppm long"
    )
