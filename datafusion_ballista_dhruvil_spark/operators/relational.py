"""Operator-checklist queries: one named query per relational operator /
expression family from SURVEY.md §2.2-§2.6.

Coverage map (reference proto cites in parentheses):
- join types INNER/LEFT/RIGHT/FULL/SEMI/ANTI + null-safe + residual filter +
  cross join (datafusion.proto:240-265,275-278)
- set ops UNION/UNION ALL/INTERSECT/EXCEPT (rewritten to joins in the
  reference; :271-273 + planner rewrite)
- DISTINCT (:267-269), VALUES (:214-217), subquery alias (:292-295),
  limit/offset (:280-286), sort + Top-K (:147-152)
- GROUPING SETS / ROLLUP / CUBE + grouping_id (:340-344,370-380)
- aggregates MIN/MAX/SUM/AVG/COUNT, DISTINCT + FILTER modifiers, stats
  (VARIANCE/STDDEV/COVAR/CORR), MEDIAN, ARRAY_AGG, APPROX_* (:529-557)
- window ranking/analytic functions + ROWS/RANGE frames (:569-596,651-679)
- scalar expression families: string, math, datetime, regexp, hash, CASE /
  CAST / IN / BETWEEN / LIKE / ILIKE / NULLIF / COALESCE (:298-359,448-521)

Each query is deterministic (tie-broken sorts, exact decimal money sums) so
the DuckDB oracle hash-matches exactly.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from datafusion_ballista_dhruvil_spark.functions.compat import dec2, dsum, sql_dsum
from datafusion_ballista_dhruvil_spark.operators.registry import query
from datafusion_ballista_dhruvil_spark.operators.scale import cached
from datafusion_ballista_dhruvil_spark.session import Tables


# --------------------------------------------------------------------------
# Joins (SURVEY §2.2 join; proto JoinType INNER..RIGHTANTI)
# --------------------------------------------------------------------------
@query(
    "ops_join_outer_coalesce",
    oracle="""
SELECT COALESCE(c.nk, s.nk) AS nationkey, c.c_cnt, s.s_cnt
FROM (SELECT c_nationkey AS nk, COUNT(*) AS c_cnt FROM customer GROUP BY 1) c
FULL OUTER JOIN (SELECT s_nationkey AS nk, COUNT(*) AS s_cnt FROM supplier GROUP BY 1) s
  ON c.nk = s.nk
ORDER BY nationkey
""",
)
def ops_join_outer_coalesce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join of two aggregates + COALESCE over the join keys."""
    t = Tables(spark, sf_dir)
    c = t.customer.groupBy(F.col("c_nationkey").alias("c_nk")).agg(
        F.count(F.lit(1)).alias("c_cnt")
    )
    s = t.supplier.groupBy(F.col("s_nationkey").alias("s_nk")).agg(
        F.count(F.lit(1)).alias("s_cnt")
    )
    return (
        c.join(s, c.c_nk == s.s_nk, "full_outer")
        .select(
            F.coalesce("c_nk", "s_nk").alias("nationkey"),
            "c_cnt",
            "s_cnt",
        )
        .orderBy("nationkey")
    )


@query(
    "ops_join_left_right",
    oracle="""
SELECT n_name, COUNT(s_suppkey) AS n_suppliers
FROM nation LEFT OUTER JOIN supplier ON n_nationkey = s_nationkey AND s_acctbal > 5000
GROUP BY n_name
ORDER BY n_name
""",
)
def ops_join_left_right(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER with compound ON; RIGHT OUTER is the mirrored plan (Spark
    canonicalizes RIGHT to LEFT by swapping inputs, same as the reference's
    RIGHT* types being swapped-input LEFT*)."""
    t = Tables(spark, sf_dir)
    sup = t.supplier.where(F.col("s_acctbal") > 5000)
    # expressed as RIGHT OUTER from supplier to exercise the type
    return (
        sup.join(t.nation, F.col("n_nationkey") == F.col("s_nationkey"), "right_outer")
        .groupBy("n_name")
        .agg(F.count("s_suppkey").alias("n_suppliers"))
        .orderBy("n_name")
    )


@query(
    "ops_join_semi_anti",
    oracle="""
SELECT
  (SELECT COUNT(*) FROM customer WHERE EXISTS
    (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT'))
    AS n_with_urgent,
  (SELECT COUNT(*) FROM customer WHERE NOT EXISTS
    (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT'))
    AS n_without_urgent
""",
)
def ops_join_semi_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI + LEFT ANTI joins (EXISTS / NOT EXISTS decorrelation)."""
    t = Tables(spark, sf_dir)
    urgent = t.orders.where(F.col("o_orderpriority") == "1-URGENT")
    cond = F.col("o_custkey") == F.col("c_custkey")
    semi = t.customer.join(urgent, cond, "left_semi").agg(
        F.count(F.lit(1)).alias("n_with_urgent")
    )
    anti = t.customer.join(urgent, cond, "left_anti").agg(
        F.count(F.lit(1)).alias("n_without_urgent")
    )
    return semi.crossJoin(anti)


@query(
    "ops_join_null_safe",
    oracle="""
SELECT COUNT(*) AS n_pairs
FROM (SELECT nullif(c_nationkey, 3) AS k FROM customer) c
JOIN (SELECT nullif(s_nationkey, 3) AS k FROM supplier) s
  ON c.k IS NOT DISTINCT FROM s.k
""",
)
def ops_join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (reference null_equals_null; Spark <=>)."""
    t = Tables(spark, sf_dir)
    c = t.customer.select(F.nullif(F.col("c_nationkey"), F.lit(3)).alias("ck"))
    s = t.supplier.select(F.nullif(F.col("s_nationkey"), F.lit(3)).alias("sk"))
    return c.join(s, c.ck.eqNullSafe(s.sk)).agg(F.count(F.lit(1)).alias("n_pairs"))


@query(
    "ops_cross_join",
    oracle="""
SELECT r_name, n_name
FROM region CROSS JOIN nation
ORDER BY r_name, n_name
LIMIT 30
""",
)
def ops_cross_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    return (
        t.region.crossJoin(t.nation)
        .select("r_name", "n_name")
        .orderBy("r_name", "n_name")
        .limit(30)
    )


# --------------------------------------------------------------------------
# Set operations + DISTINCT
# --------------------------------------------------------------------------
@query(
    "ops_setops",
    oracle="""
SELECT
  (SELECT COUNT(*) FROM (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
                         UNION SELECT o_custkey FROM orders WHERE o_orderstatus = 'P') u)
    AS n_union,
  (SELECT COUNT(*) FROM (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
                         UNION ALL SELECT o_custkey FROM orders WHERE o_orderstatus = 'P') ua)
    AS n_union_all,
  (SELECT COUNT(*) FROM (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
                         INTERSECT SELECT o_custkey FROM orders WHERE o_orderstatus = 'P') i)
    AS n_intersect,
  (SELECT COUNT(*) FROM (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
                         EXCEPT SELECT o_custkey FROM orders WHERE o_orderstatus = 'P') e)
    AS n_except,
  (SELECT COUNT(*) FROM (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
                         INTERSECT ALL SELECT o_custkey FROM orders WHERE o_orderstatus = 'P') ia)
    AS n_intersect_all,
  (SELECT COUNT(*) FROM (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
                         EXCEPT ALL SELECT o_custkey FROM orders WHERE o_orderstatus = 'P') ea)
    AS n_except_all,
  (SELECT COUNT(DISTINCT o_custkey) FROM orders) AS n_distinct
""",
)
def ops_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION / UNION ALL / INTERSECT / EXCEPT / DISTINCT."""
    t = Tables(spark, sf_dir)
    f = t.orders.where(F.col("o_orderstatus") == "F").select("o_custkey")
    p = t.orders.where(F.col("o_orderstatus") == "P").select("o_custkey")
    out = [
        f.union(p).distinct().agg(F.count(F.lit(1)).alias("n_union")),
        f.unionAll(p).agg(F.count(F.lit(1)).alias("n_union_all")),
        f.intersect(p).agg(F.count(F.lit(1)).alias("n_intersect")),
        f.subtract(p).agg(F.count(F.lit(1)).alias("n_except")),  # EXCEPT (distinct)
        f.intersectAll(p).agg(F.count(F.lit(1)).alias("n_intersect_all")),
        f.exceptAll(p).agg(F.count(F.lit(1)).alias("n_except_all")),
        t.orders.select("o_custkey").distinct().agg(F.count(F.lit(1)).alias("n_distinct")),
    ]
    res = out[0]
    for df in out[1:]:
        res = res.crossJoin(df)
    return res


# --------------------------------------------------------------------------
# GROUPING SETS / ROLLUP / CUBE (proto :340-344,370-380)
# --------------------------------------------------------------------------
@query(
    "ops_grouping_sets",
    oracle=f"""
SELECT r_name, c_mktsegment,
       GROUPING(r_name) AS g_region, GROUPING(c_mktsegment) AS g_segment,
       COUNT(*) AS n, {sql_dsum('CAST(c_acctbal AS DECIMAL(12,2))')} AS total_bal
FROM customer, nation, region
WHERE c_nationkey = n_nationkey AND n_regionkey = r_regionkey
GROUP BY GROUPING SETS ((r_name, c_mktsegment), (r_name), ())
ORDER BY g_region, g_segment, r_name NULLS FIRST, c_mktsegment NULLS FIRST
""",
)
def ops_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    joined = t.customer.join(
        F.broadcast(t.nation), F.col("c_nationkey") == F.col("n_nationkey")
    ).join(F.broadcast(t.region), F.col("n_regionkey") == F.col("r_regionkey"))
    return spark.sql(
        f"""
        SELECT r_name, c_mktsegment,
               CAST(grouping(r_name) AS INT) AS g_region,
               CAST(grouping(c_mktsegment) AS INT) AS g_segment,
               COUNT(*) AS n, {sql_dsum('CAST(c_acctbal AS DECIMAL(12,2))')} AS total_bal
        FROM {{joined}}
        GROUP BY GROUPING SETS ((r_name, c_mktsegment), (r_name), ())
        ORDER BY g_region, g_segment, r_name NULLS FIRST, c_mktsegment NULLS FIRST
        """,
        joined=joined,
    )


@query(
    "ops_rollup_cube",
    oracle=f"""
SELECT r_name, n_name, GROUPING(r_name) + GROUPING(n_name) AS lvl,
       {sql_dsum('CAST(s_acctbal AS DECIMAL(12,2))')} AS total_bal
FROM supplier, nation, region
WHERE s_nationkey = n_nationkey AND n_regionkey = r_regionkey
GROUP BY ROLLUP (r_name, n_name)
ORDER BY lvl, r_name NULLS FIRST, n_name NULLS FIRST
""",
)
def ops_rollup_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    joined = t.supplier.join(
        F.broadcast(t.nation), F.col("s_nationkey") == F.col("n_nationkey")
    ).join(F.broadcast(t.region), F.col("n_regionkey") == F.col("r_regionkey"))
    return (
        joined.rollup("r_name", "n_name")
        .agg(
            (F.grouping("r_name").cast("int") + F.grouping("n_name").cast("int")).alias("lvl"),
            dsum(dec2("s_acctbal")).alias("total_bal"),
        )
        .select("r_name", "n_name", "lvl", "total_bal")
        .orderBy("lvl", F.asc_nulls_first("r_name"), F.asc_nulls_first("n_name"))
    )


# --------------------------------------------------------------------------
# Window functions (proto BuiltInWindowFunction :569-581; frames :651-679)
# --------------------------------------------------------------------------
@query(
    "ops_window_ranking",
    oracle="""
SELECT c_mktsegment, c_custkey, rn, rnk, drnk,
       round(prnk, 8) AS prnk, round(cdist, 8) AS cdist, nt
FROM (
  SELECT c_mktsegment, c_custkey,
         row_number() OVER w AS rn,
         rank() OVER w AS rnk,
         dense_rank() OVER w AS drnk,
         percent_rank() OVER w AS prnk,
         cume_dist() OVER w AS cdist,
         ntile(4) OVER w AS nt
  FROM customer
  WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey)
) x
WHERE rn <= 5
ORDER BY c_mktsegment, rn
""",
)
def ops_window_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """row_number / rank / dense_rank / percent_rank / cume_dist / ntile."""
    t = Tables(spark, sf_dir)
    w = Window.partitionBy("c_mktsegment").orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
    return (
        t.customer.select(
            "c_mktsegment",
            "c_custkey",
            F.row_number().over(w).alias("rn"),
            F.rank().over(w).alias("rnk"),
            F.dense_rank().over(w).alias("drnk"),
            F.round(F.percent_rank().over(w), 8).alias("prnk"),
            F.round(F.cume_dist().over(w), 8).alias("cdist"),
            F.ntile(4).over(w).alias("nt"),
        )
        .where(F.col("rn") <= 5)
        .orderBy("c_mktsegment", "rn")
    )


@query(
    "ops_window_analytic",
    oracle="""
SELECT user_id, event_id,
       lag(value) OVER w AS prev_value,
       lead(value) OVER w AS next_value,
       first_value(value) OVER w AS first_val,
       last_value(value) OVER
         (PARTITION BY user_id ORDER BY event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_val,
       nth_value(value, 2) OVER
         (PARTITION BY user_id ORDER BY event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS second_val
FROM events
WHERE user_id < 20
WINDOW w AS (PARTITION BY user_id ORDER BY event_id)
ORDER BY user_id, event_id
""",
)
def ops_window_analytic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag / lead / first_value / last_value / nth_value with explicit frames."""
    t = Tables(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("event_id")
    wfull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return (
        t.events.where(F.col("user_id") < 20)
        .select(
            "user_id",
            "event_id",
            F.lag("value").over(w).alias("prev_value"),
            F.lead("value").over(w).alias("next_value"),
            F.first("value").over(w).alias("first_val"),
            F.last("value").over(wfull).alias("last_val"),
            F.nth_value("value", 2).over(wfull).alias("second_val"),
        )
        .orderBy("user_id", "event_id")
    )


@query(
    "ops_window_frames",
    oracle="""
SELECT o_custkey, o_orderkey,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) OVER
    (PARTITION BY o_custkey ORDER BY o_orderkey
     ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE) AS moving_sum,
  COUNT(*) OVER
    (PARTITION BY o_custkey ORDER BY o_orderkey
     RANGE BETWEEN 100 PRECEDING AND 100 FOLLOWING) AS near_orders
FROM orders
WHERE o_custkey < 50
ORDER BY o_custkey, o_orderkey
""",
)
def ops_window_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROWS and RANGE window frames; aggregate-as-window-function."""
    t = Tables(spark, sf_dir)
    wrows = Window.partitionBy("o_custkey").orderBy("o_orderkey").rowsBetween(-2, 0)
    wrange = Window.partitionBy("o_custkey").orderBy("o_orderkey").rangeBetween(-100, 100)
    return (
        t.orders.where(F.col("o_custkey") < 50)
        .select(
            "o_custkey",
            "o_orderkey",
            F.sum(dec2("o_totalprice")).over(wrows).cast("double").alias("moving_sum"),
            F.count(F.lit(1)).over(wrange).alias("near_orders"),
        )
        .orderBy("o_custkey", "o_orderkey")
    )


# --------------------------------------------------------------------------
@query(
    "ops_window_groups",
    oracle="""
WITH f AS (SELECT * FROM orders WHERE o_custkey < 20),
g AS (
  SELECT o_orderpriority, o_orderdate,
         COUNT(*) AS c, SUM(o_custkey) AS s
  FROM f GROUP BY 1, 2
),
gr AS (
  SELECT *, row_number() OVER (
    PARTITION BY o_orderpriority ORDER BY o_orderdate
  ) AS rn
  FROM g
),
fr AS (
  SELECT a.o_orderpriority, a.o_orderdate,
         CAST(SUM(b.c) AS BIGINT) AS grp_cnt, CAST(SUM(b.s) AS BIGINT) AS grp_sum
  FROM gr a JOIN gr b
    ON a.o_orderpriority = b.o_orderpriority AND abs(a.rn - b.rn) <= 1
  GROUP BY 1, 2
)
SELECT f.o_orderkey, f.o_orderpriority,
       strftime(f.o_orderdate, '%Y-%m-%d %H:%M:%S') AS o_orderdate,
       fr.grp_cnt, fr.grp_sum
FROM f JOIN fr USING (o_orderpriority, o_orderdate)
ORDER BY o_orderkey
""",
)
def ops_window_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPS window frames, emulated (closes the §2.6 documented gap —
    neither Spark nor this DuckDB build implements GROUPS natively).

    Spark has no GROUPS frame mode, but a GROUPS frame is definable as a
    RANGE frame over the peer-group index: dense_rank() numbers the ORDER BY
    peer groups consecutively, so `ORDER BY dense_rank RANGE BETWEEN n
    PRECEDING AND m FOLLOWING` covers exactly the same rows as `GROUPS
    BETWEEN n PRECEDING AND m FOLLOWING`. The oracle is an independent
    first-principles formulation: aggregate each peer group, neighbor-join
    groups at index distance <= 1, re-join to rows.

    Both windows share one partitioning+sort, so Catalyst evaluates them in
    a single Window node after one exchange — the emulation costs one extra
    integer column, not a second shuffle.
    """
    t = Tables(spark, sf_dir)
    wd = Window.partitionBy("o_orderpriority").orderBy("o_orderdate")
    wg = (
        Window.partitionBy("o_orderpriority")
        .orderBy("__dr")
        .rangeBetween(-1, 1)
    )
    return (
        t.orders.where(F.col("o_custkey") < 20)
        .withColumn("__dr", F.dense_rank().over(wd))
        .select(
            "o_orderkey",
            "o_orderpriority",
            F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss").alias("o_orderdate"),
            F.count(F.lit(1)).over(wg).alias("grp_cnt"),
            F.sum("o_custkey").over(wg).alias("grp_sum"),
        )
        .orderBy("o_orderkey")
    )


# --------------------------------------------------------------------------
# Aggregate modifiers + stats aggregates (proto :529-557)
# --------------------------------------------------------------------------
@query(
    "ops_agg_filter_distinct",
    oracle="""
SELECT c_mktsegment,
  COUNT(*) FILTER (WHERE c_acctbal > 5000) AS n_rich,
  COUNT(DISTINCT c_nationkey) AS n_nations,
  array_to_string(list_sort(list(DISTINCT c_nationkey)), ',') AS nation_list,
  MIN(c_acctbal) AS min_bal, MAX(c_acctbal) AS max_bal
FROM customer
GROUP BY c_mktsegment
ORDER BY c_mktsegment
""",
)
def ops_agg_filter_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTER clause, COUNT(DISTINCT), ARRAY_AGG(DISTINCT sorted), MIN/MAX."""
    t = Tables(spark, sf_dir)
    return (
        t.customer.groupBy("c_mktsegment")
        .agg(
            F.count(F.when(F.col("c_acctbal") > 5000, 1)).alias("n_rich"),
            F.countDistinct("c_nationkey").alias("n_nations"),
            F.array_join(F.sort_array(F.collect_set("c_nationkey")), ",").alias(
                "nation_list"
            ),
            F.min("c_acctbal").alias("min_bal"),
            F.max("c_acctbal").alias("max_bal"),
        )
        .orderBy("c_mktsegment")
    )


@query(
    "ops_agg_stats",
    oracle="""
SELECT l_returnflag,
  round(stddev_samp(l_quantity), 6) AS sd_qty,
  round(stddev_pop(l_quantity), 6) AS sdp_qty,
  round(corr(l_quantity, l_extendedprice), 8) AS corr_qty_price,
  median(l_quantity) AS median_qty
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
""",
)
def ops_agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STDDEV / STDDEV_POP / CORR / MEDIAN (VARIANCE family via stddev^2)."""
    t = Tables(spark, sf_dir)
    return (
        t.lineitem.groupBy("l_returnflag")
        .agg(
            F.round(F.stddev_samp("l_quantity"), 6).alias("sd_qty"),
            F.round(F.stddev_pop("l_quantity"), 6).alias("sdp_qty"),
            F.round(F.corr("l_quantity", "l_extendedprice"), 8).alias("corr_qty_price"),
            F.median("l_quantity").alias("median_qty"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "ops_agg_approx",
    """
SELECT
  count(DISTINCT l_partkey) AS exact_parts,
  TRUE AS within_distinct,
  TRUE AS within_p25,
  TRUE AS within_p50,
  TRUE AS within_p75
FROM lineitem
""",
)
def ops_agg_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPROX_DISTINCT (HLL) + APPROX_PERCENTILE_CONT + APPROX_MEDIAN,
    oracle-checked via documented error bounds.

    Sketch values are engine-specific (same as the reference, whose
    approx_distinct is DataFusion's HLL — datafusion.proto:529-549), so the
    raw approx numbers can never hash-match an oracle. The *contract* can:
    this query emits the exact count-distinct plus ``within_*`` booleans
    asserting each approx answer lands inside its documented bound, and the
    DuckDB oracle emits the same exact value with literal TRUEs. A sketch
    that drifts out of bound flips a boolean and fails the hash gate.

    Bounds: approx_count_distinct default rsd = 0.05 (1 sigma) -> assert
    relative error <= 0.15 (3 sigma). percentile_approx default accuracy
    10000 -> rank error <= 1e-4, and it returns an actual data value -> a
    valid sandwich is [type-1 quantile at q-0.002, type-1 quantile at
    q+0.002] (20x rank margin; monotone rank->value). The boundary
    quantiles come from the two-phase binned weighted_quantile helper with
    unit weights — exact F.percentile would buffer EVERY value per
    aggregate (6 copies of the column on one reducer, the few-groups
    collapse that dies at scale; it benched 19s at sf0.1 vs ~1s for this).
    """
    t = Tables(spark, sf_dir)
    # the (g, p, w) projection feeds BOTH weighted_quantile passes (the
    # histogram pass and the boundary-bucket resolve pass) — cache it so
    # the second pass reads ~10 bytes/row from memory instead of
    # re-scanning + re-decimal-converting lineitem (r11, guide §5; the
    # ops_mad_outliers precedent).
    staged = cached(
        t.lineitem.select(
            F.lit(1).alias("g"),
            dec2("l_extendedprice").alias("p"),
            F.lit(1).alias("w"),
        )
    )
    bounds = weighted_quantile(
        staged,
        value="p",
        weight="w",
        group_cols=["g"],
        qs={
            "_lo25": (31, 125),
            "_hi25": (63, 250),
            "_lo50": (249, 500),
            "_hi50": (251, 500),
            "_lo75": (187, 250),
            "_hi75": (94, 125),
        },
    ).drop("g")
    # exact count-distinct and the sketches run as SEPARATE aggregates:
    # mixing a DISTINCT aggregate with percentile_approx in one agg makes
    # Spark plan the expand-based multi-distinct around the sketch buffers
    # too — measured 11s vs 1.4s for the split form at sf0.1. Two scans of
    # a columnar source beat one pathological pass.
    exact = t.lineitem.agg(F.countDistinct("l_partkey").alias("exact_parts"))
    agg = t.lineitem.agg(
        F.approx_count_distinct("l_partkey").alias("_ad"),
        F.percentile_approx("l_extendedprice", 0.25).alias("_a25"),
        F.percentile_approx("l_extendedprice", 0.5).alias("_a50"),
        F.percentile_approx("l_extendedprice", 0.75).alias("_a75"),
    )

    def _within(a: str, lo: str, hi: str):
        return F.col(a).cast("double").between(
            F.col(lo).cast("double"), F.col(hi).cast("double")
        )

    return (
        agg.crossJoin(F.broadcast(exact)).crossJoin(F.broadcast(bounds)).select(
            "exact_parts",
            (
                F.abs(F.col("_ad") - F.col("exact_parts"))
                <= 0.15 * F.col("exact_parts")
            ).alias("within_distinct"),
            _within("_a25", "_lo25", "_hi25").alias("within_p25"),
            _within("_a50", "_lo50", "_hi50").alias("within_p50"),
            _within("_a75", "_lo75", "_hi75").alias("within_p75"),
        )
    )


def weighted_quantile(
    df: DataFrame,
    value: str,
    weight: str,
    group_cols: list[str],
    qs: dict[str, tuple[int, int]],
    order_tiebreak: list[str] | None = None,
    bucket_width: int = 32,
) -> DataFrame:
    """Exact weighted quantiles per group: the smallest ``value`` whose
    cumulative weight reaches ``q`` of the group's total weight.

    ``qs`` maps output column name -> quantile as an exact fraction
    (num, den), e.g. ``{"wp50": (1, 2)}``. Weights must be positive.
    ``value``/``weight`` must already be exact types (decimal/int) — the
    cumulative sum is then order-independent and engine-portable.
    ``order_tiebreak`` is accepted for API stability but unused: rows with
    equal values are pre-aggregated, so the window order is total without
    it (the selected value is identical whichever row of a tied run
    crosses the threshold).

    Reference parity: DataFusion's APPROX_PERCENTILE_CONT_WITH_WEIGHT
    (datafusion.proto:529-549) is the sketch version of this; here the
    weighted rank is exact.

    Scale — two-phase binned quantile, NOT one big per-group sort. The
    naive form windows every row partitioned by the group key; with few
    groups (3 returnflags) that collapses parallelism to n_groups sort
    tasks over the full data, the exact pattern that dies at 100 TB.
    Instead:

    1. histogram pass: bucket = floor(value / bucket_width); aggregate
       weight per (group, bucket) — map-side partials, full parallelism,
       output is ~values_range/width rows however big the input is.
    2. locate: a window over the tiny histogram finds, per quantile, the
       first bucket whose cumulative weight crosses the threshold, and the
       exact cumulative weight BEFORE it.
    3. resolve: broadcast those (group, bucket, quantile) targets back
       onto the input; only rows in a boundary bucket survive the join
       (~1/n_buckets of the data), and a window over that sliver finds the
       smallest value whose (carry-in + in-bucket running) weight crosses.

    Cost: two parallel scans + tiny shuffles, vs one scan + a near-serial
    full sort. Weights must be positive for the crossing bucket to
    contain the crossing value.
    """
    gcols = [F.col(c) for c in group_cols]
    bucket = F.floor(F.col(value) / F.lit(bucket_width)).cast("long").alias("__bkt")

    hist = (
        df.select(*gcols, bucket, F.col(weight).alias("__w"))
        .groupBy(*group_cols, "__bkt")
        .agg(F.sum("__w").alias("__bw"))
    )
    w_cum = (
        Window.partitionBy(*group_cols)
        .orderBy("__bkt")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy(*group_cols)
    hist = hist.withColumn("__through", F.sum("__bw").over(w_cum)).withColumn(
        "__tw", F.sum("__bw").over(w_all)
    )
    # per quantile: the first bucket whose cumulative crosses num/den.
    # The quantile list is exploded onto the histogram (NOT a union of one
    # filtered branch per quantile — each branch would re-evaluate the
    # whole histogram scan+aggregate).
    qrow = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(name).alias("qn"),
                    F.lit(num).alias("num"),
                    F.lit(den).alias("den"),
                )
                for name, (num, den) in qs.items()
            ]
        )
    ).alias("__q")
    targets = (
        hist.select(
            *group_cols,
            "__bkt",
            "__bw",
            "__through",
            "__tw",
            qrow,
        )
        .where(
            (F.col("__through") * F.col("__q.den") >= F.col("__tw") * F.col("__q.num"))
            & (
                (F.col("__through") - F.col("__bw")) * F.col("__q.den")
                < F.col("__tw") * F.col("__q.num")
            )
        )
        .select(
            *group_cols,
            "__bkt",
            F.col("__q.qn").alias("__qn"),
            F.col("__q.num").alias("__num"),
            F.col("__q.den").alias("__den"),
            (F.col("__through") - F.col("__bw")).alias("__carry"),
            "__tw",
        )
    )

    cand = df.select(*gcols, bucket, F.col(value).alias("__v"), F.col(weight).alias("__w")).join(
        F.broadcast(targets), [*group_cols, "__bkt"]
    )
    # collapse equal values, then in-bucket running weight + carry-in
    cand = cand.groupBy(
        *group_cols, "__qn", "__num", "__den", "__carry", "__tw", "__v"
    ).agg(F.sum("__w").alias("__vw"))
    w_in = (
        Window.partitionBy(*group_cols, "__qn")
        .orderBy("__v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cand = cand.withColumn("__cw", F.col("__carry") + F.sum("__vw").over(w_in))
    picked = F.when(
        F.col("__cw") * F.col("__den") >= F.col("__tw") * F.col("__num"),
        F.col("__v"),
    )
    aggs = [
        F.min(F.when(F.col("__qn") == name, picked)).alias(name)
        for name in qs
    ]
    return cand.groupBy(*group_cols).agg(*aggs)


@query(
    "ops_agg_weighted_percentile",
    oracle="""
WITH t AS (
  SELECT l_returnflag,
         CAST(l_extendedprice AS DECIMAL(12,2)) AS p,
         CAST(l_quantity AS DECIMAL(12,2)) AS w,
         l_orderkey, l_linenumber
  FROM lineitem
), c AS (
  SELECT l_returnflag, p,
         SUM(w) OVER (PARTITION BY l_returnflag ORDER BY p, l_orderkey, l_linenumber
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
         SUM(w) OVER (PARTITION BY l_returnflag) AS tw
  FROM t
)
SELECT l_returnflag,
       CAST(MIN(CASE WHEN 4*cw >= tw THEN p END) AS DOUBLE) AS wp25,
       CAST(MIN(CASE WHEN 2*cw >= tw THEN p END) AS DOUBLE) AS wp50,
       CAST(MIN(CASE WHEN 4*cw >= 3*tw THEN p END) AS DOUBLE) AS wp75
FROM c GROUP BY l_returnflag ORDER BY l_returnflag
""",
)
def ops_agg_weighted_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted price quartiles per returnflag, exact decimals."""
    t = Tables(spark, sf_dir)
    # NOT cached (r11 negative A/B): ops_agg_approx's staged cache won
    # ~15% solo, but here the projection carries 5 columns incl. the
    # tie-break keys, and the measured solo band (2.69-3.02s cached vs
    # 2.77s baseline) showed the cache write canceling the saved scan;
    # two scans of a columnar source also remain the better 100 TB
    # posture for a wide projection (guide §5 cache-vs-recompute).
    staged = t.lineitem.select(
        "l_returnflag",
        dec2("l_extendedprice").alias("p"),
        dec2("l_quantity").alias("w"),
        "l_orderkey",
        "l_linenumber",
    )
    # Final quartiles cast to double on BOTH sides: the exact decimal math
    # happens upstream; the driver's canonicalizer renders Decimal('x.40')
    # and float x.4 differently, so the output type must match the oracle.
    return (
        weighted_quantile(
            staged,
            value="p",
            weight="w",
            group_cols=["l_returnflag"],
            qs={"wp25": (1, 4), "wp50": (1, 2), "wp75": (3, 4)},
            order_tiebreak=["l_orderkey", "l_linenumber"],
        )
        .select(
            "l_returnflag",
            F.col("wp25").cast("double").alias("wp25"),
            F.col("wp50").cast("double").alias("wp50"),
            F.col("wp75").cast("double").alias("wp75"),
        )
        .orderBy("l_returnflag")
    )


# --------------------------------------------------------------------------
# VALUES / subquery alias / LIMIT+OFFSET / Top-K
# --------------------------------------------------------------------------
@query(
    "ops_values_limit_offset",
    oracle="""
SELECT t.a, t.b FROM (VALUES (1, 'x'), (2, 'y'), (3, 'z'), (4, 'w')) AS t(a, b)
ORDER BY t.a LIMIT 2 OFFSET 1
""",
)
def ops_values_limit_offset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inline VALUES + subquery alias + ORDER BY + LIMIT/OFFSET."""
    return spark.sql(
        "SELECT t.a, t.b FROM (VALUES (1, 'x'), (2, 'y'), (3, 'z'), (4, 'w')) AS t(a, b) "
        "ORDER BY t.a LIMIT 2 OFFSET 1"
    )


@query(
    "ops_topk",
    oracle="""
SELECT o_orderkey, o_totalprice FROM orders
ORDER BY o_totalprice DESC, o_orderkey LIMIT 15
""",
)
def ops_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sort.fetch Top-K -> Spark TakeOrderedAndProject."""
    t = Tables(spark, sf_dir)
    return (
        t.orders.select("o_orderkey", "o_totalprice")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(15)
    )


@query("ops_empty_relation", oracle="SELECT 1 AS one")
def ops_empty_relation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EmptyRelation one-row plan (reference client test SELECT 1,
    context.rs:765-780; proto empty_relation :167-169)."""
    return spark.sql("SELECT 1 AS one")


# --------------------------------------------------------------------------
# Scalar expression families (proto ScalarFunction :448-521)
# --------------------------------------------------------------------------
@query(
    "ops_scalar_string",
    oracle="""
SELECT p_partkey,
  upper(p_name) AS up, lower(p_brand) AS lo,
  substring(p_name, 1, 4) AS sub, trim(p_name) AS trimmed,
  lpad(p_brand, 12, '*') AS lpadded, rpad(p_brand, 12, '*') AS rpadded,
  replace(p_name, ' ', '_') AS replaced, reverse(p_type) AS revd,
  split_part(p_name, ' ', 1) AS first_word,
  strpos(p_name, ' ') AS space_pos,
  left(p_name, 3) AS l3, right(p_name, 3) AS r3,
  repeat(p_brand, 2) AS doubled, translate(p_type, 'AEO', 'aeo') AS xlat,
  concat(p_brand, ':', p_type) AS joined,
  concat_ws('-', p_brand, p_type) AS ws_joined,
  ltrim(concat(' ', p_name)) AS ltrimmed, rtrim(concat(p_name, ' ')) AS rtrimmed,
  trim(concat('xx', p_brand, 'xx'), 'x') AS btrimmed,
  CAST(8 * octet_length(encode(p_name)) AS INT) AS bits,
  CAST(octet_length(encode(p_name)) AS INT) AS octets,
  starts_with(p_name, 'red') AS sw,
  length(p_name) AS name_len, ascii(p_name) AS first_ascii,
  chr(CAST(65 + (p_partkey % 26) AS INT)) AS letter,
  p_name LIKE '%red%' AS is_red, p_name ILIKE 'RED%' AS starts_red
FROM part
WHERE p_partkey < 100
ORDER BY p_partkey
""",
)
def ops_scalar_string(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String function family (ascii/chr/substr/trim/pad/replace/reverse/
    split_part/strpos/left/right/repeat/translate/concat/length/like/ilike)."""
    t = Tables(spark, sf_dir)
    return (
        t.part.where(F.col("p_partkey") < 100)
        .select(
            "p_partkey",
            F.upper("p_name").alias("up"),
            F.lower("p_brand").alias("lo"),
            F.substring("p_name", 1, 4).alias("sub"),
            F.trim("p_name").alias("trimmed"),
            F.lpad("p_brand", 12, "*").alias("lpadded"),
            F.rpad("p_brand", 12, "*").alias("rpadded"),
            F.replace(F.col("p_name"), F.lit(" "), F.lit("_")).alias("replaced"),
            F.reverse("p_type").alias("revd"),
            F.split_part(F.col("p_name"), F.lit(" "), F.lit(1)).alias("first_word"),
            F.locate(" ", F.col("p_name")).alias("space_pos"),
            F.left(F.col("p_name"), F.lit(3)).alias("l3"),
            F.right(F.col("p_name"), F.lit(3)).alias("r3"),
            F.repeat("p_brand", 2).alias("doubled"),
            F.translate("p_type", "AEO", "aeo").alias("xlat"),
            F.concat_ws("", F.col("p_brand"), F.lit(":"), F.col("p_type")).alias("joined"),
            F.concat_ws("-", F.col("p_brand"), F.col("p_type")).alias("ws_joined"),
            F.ltrim(F.concat(F.lit(" "), F.col("p_name"))).alias("ltrimmed"),
            F.rtrim(F.concat(F.col("p_name"), F.lit(" "))).alias("rtrimmed"),
            F.btrim(F.concat(F.lit("xx"), F.col("p_brand"), F.lit("xx")), F.lit("x")).alias(
                "btrimmed"
            ),
            F.bit_length("p_name").alias("bits"),
            F.octet_length("p_name").alias("octets"),
            F.startswith(F.col("p_name"), F.lit("red")).alias("sw"),
            F.length("p_name").alias("name_len"),
            F.ascii("p_name").alias("first_ascii"),
            F.chr(F.lit(65) + (F.col("p_partkey") % 26)).alias("letter"),
            F.col("p_name").like("%red%").alias("is_red"),
            F.col("p_name").ilike("RED%").alias("starts_red"),
        )
        .orderBy("p_partkey")
    )


@query(
    "ops_scalar_math",
    oracle="""
SELECT l_orderkey, l_linenumber,
  abs(l_discount - 0.05) AS ad,
  CAST(ceil(l_quantity / 7) AS BIGINT) AS ce,
  CAST(floor(l_quantity / 7) AS BIGINT) AS fl,
  round(l_extendedprice / 1000, 2) AS rnd, sqrt(l_quantity) AS sq,
  round(exp(l_discount), 10) AS ex, round(ln(l_extendedprice), 10) AS lnp,
  round(log10(l_extendedprice), 10) AS lg10, round(log2(l_quantity), 10) AS lg2,
  power(l_quantity, 2) AS p2, CAST(sign(l_discount - 0.05) AS DOUBLE) AS sg,
  CAST(CASE WHEN l_tax >= 0 THEN floor(l_tax * 100) ELSE ceil(l_tax * 100) END AS BIGINT)
    AS trunc_tax
FROM lineitem
WHERE l_orderkey < 40
ORDER BY l_orderkey, l_linenumber
""",
)
def ops_scalar_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math function family (abs/ceil/floor/round/sqrt/exp/ln/log10/log2/
    power/signum/trunc). Transcendentals rounded to 10 dp — last-ulp libm
    differences between engines are below that."""
    t = Tables(spark, sf_dir)
    return (
        t.lineitem.where(F.col("l_orderkey") < 40)
        .select(
            "l_orderkey",
            "l_linenumber",
            F.abs(F.col("l_discount") - 0.05).alias("ad"),
            F.ceil(F.col("l_quantity") / 7).alias("ce"),
            F.floor(F.col("l_quantity") / 7).alias("fl"),
            F.round(F.col("l_extendedprice") / 1000, 2).alias("rnd"),
            F.sqrt("l_quantity").alias("sq"),
            F.round(F.exp("l_discount"), 10).alias("ex"),
            F.round(F.log("l_extendedprice"), 10).alias("lnp"),
            F.round(F.log10("l_extendedprice"), 10).alias("lg10"),
            F.round(F.log2("l_quantity"), 10).alias("lg2"),
            F.pow("l_quantity", F.lit(2)).alias("p2"),
            F.signum(F.col("l_discount") - 0.05).alias("sg"),
            F.when(F.col("l_tax") >= 0, F.floor(F.col("l_tax") * 100))
            .otherwise(F.ceil(F.col("l_tax") * 100))
            .alias("trunc_tax"),
        )
        .orderBy("l_orderkey", "l_linenumber")
    )


@query(
    "ops_scalar_datetime",
    oracle="""
SELECT o_orderkey,
  CAST(extract(year FROM o_orderdate) AS INT) AS y,
  CAST(extract(month FROM o_orderdate) AS INT) AS mo,
  CAST(extract(day FROM o_orderdate) AS INT) AS d,
  CAST(extract(quarter FROM o_orderdate) AS INT) AS q,
  CAST(extract(dow FROM o_orderdate) + 1 AS INT) AS dw,
  CAST(extract(doy FROM o_orderdate) AS INT) AS dy,
  strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month_start,
  strftime(date_trunc('year', o_orderdate), '%Y-%m-%d') AS year_start,
  strftime(CAST(o_orderdate AS DATE) + 30, '%Y-%m-%d') AS plus30,
  datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS days_since_epoch_start,
  strftime(make_timestamp(o_orderkey * 1000000), '%Y-%m-%d %H:%M:%S.%f') AS ts_from_s,
  strftime(make_timestamp(o_orderkey * 1000), '%Y-%m-%d %H:%M:%S.%f') AS ts_from_ms,
  strftime(make_timestamp(o_orderkey), '%Y-%m-%d %H:%M:%S.%f') AS ts_from_us
FROM orders
WHERE o_orderkey < 100
ORDER BY o_orderkey
""",
)
def ops_scalar_datetime(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Datetime family: DATE_PART/extract, DATE_TRUNC, date arithmetic
    (reference DatePart/DateTrunc/DateBin, proto :28-29,68)."""
    t = Tables(spark, sf_dir)
    return (
        t.orders.where(F.col("o_orderkey") < 100)
        .select(
            "o_orderkey",
            F.year("o_orderdate").alias("y"),
            F.month("o_orderdate").alias("mo"),
            F.dayofmonth("o_orderdate").alias("d"),
            F.quarter("o_orderdate").alias("q"),
            F.dayofweek("o_orderdate").alias("dw"),
            F.dayofyear("o_orderdate").alias("dy"),
            # date/timestamp outputs rendered as ISO strings at the harness
            # boundary: pandas date objects vs DuckDB Timestamps (and
            # datetime64 ns-vs-us units) are not guaranteed to canonicalize
            # equal; ISO strings are engine- and dtype-invariant.
            F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM-dd").alias(
                "month_start"
            ),
            F.date_format(F.date_trunc("year", "o_orderdate"), "yyyy-MM-dd").alias(
                "year_start"
            ),
            F.date_format(F.date_add(F.to_date("o_orderdate"), 30), "yyyy-MM-dd").alias(
                "plus30"
            ),
            F.datediff(F.to_date("o_orderdate"), F.lit("1995-01-01").cast("date")).alias(
                "days_since_epoch_start"
            ),
            # ToTimestamp{Seconds,Millis,Micros} parity (proto :55-58):
            # DuckDB spells all three via make_timestamp(microseconds)
            F.date_format(
                F.timestamp_seconds("o_orderkey"), "yyyy-MM-dd HH:mm:ss.SSSSSS"
            ).alias("ts_from_s"),
            F.date_format(
                F.timestamp_millis("o_orderkey"), "yyyy-MM-dd HH:mm:ss.SSSSSS"
            ).alias("ts_from_ms"),
            F.date_format(
                F.timestamp_micros("o_orderkey"), "yyyy-MM-dd HH:mm:ss.SSSSSS"
            ).alias("ts_from_us"),
        )
        .orderBy("o_orderkey")
    )


@query(
    "ops_case_cast",
    oracle="""
SELECT o_orderkey,
  CASE WHEN o_totalprice > 300000 THEN 'big' WHEN o_totalprice > 100000 THEN 'mid'
       ELSE 'small' END AS searched_case,
  CASE o_orderstatus WHEN 'F' THEN 'finished' WHEN 'O' THEN 'open' ELSE 'other' END
    AS simple_case,
  CAST(trunc(o_totalprice) AS BIGINT) AS price_int,  -- Spark CAST truncates; DuckDB rounds
  CAST(CAST(o_orderkey AS VARCHAR) AS BIGINT) AS roundtrip,
  TRY_CAST(o_orderstatus AS INT) AS bad_cast,
  o_orderpriority IN ('1-URGENT', '2-HIGH') AS is_hot,
  o_totalprice BETWEEN 100000 AND 200000 AS in_band,
  nullif(o_orderstatus, 'P') AS status_or_null,
  coalesce(nullif(o_orderstatus, 'P'), 'pending') AS status_filled,
  (o_orderstatus = 'P') IS NOT NULL AS known
FROM orders
WHERE o_orderkey < 200
ORDER BY o_orderkey
""",
)
def ops_case_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CASE (searched+simple) / CAST / TRY_CAST / IN / BETWEEN / NULLIF /
    COALESCE / IS NOT NULL (proto :298-359)."""
    t = Tables(spark, sf_dir)
    return (
        t.orders.where(F.col("o_orderkey") < 200)
        .select(
            "o_orderkey",
            F.when(F.col("o_totalprice") > 300000, "big")
            .when(F.col("o_totalprice") > 100000, "mid")
            .otherwise("small")
            .alias("searched_case"),
            F.when(F.col("o_orderstatus") == "F", "finished")
            .when(F.col("o_orderstatus") == "O", "open")
            .otherwise("other")
            .alias("simple_case"),
            F.col("o_totalprice").cast("bigint").alias("price_int"),
            F.col("o_orderkey").cast("string").cast("bigint").alias("roundtrip"),
            F.col("o_orderstatus").try_cast("int").alias("bad_cast"),
            F.col("o_orderpriority").isin("1-URGENT", "2-HIGH").alias("is_hot"),
            F.col("o_totalprice").between(100000, 200000).alias("in_band"),
            F.nullif(F.col("o_orderstatus"), F.lit("P")).alias("status_or_null"),
            F.coalesce(F.nullif(F.col("o_orderstatus"), F.lit("P")), F.lit("pending")).alias(
                "status_filled"
            ),
            (F.col("o_orderstatus") == "P").isNotNull().alias("known"),
        )
        .orderBy("o_orderkey")
    )


@query(
    "ops_regexp_hash",
    oracle="""
SELECT doc_id,
  regexp_extract(text, '([a-z]+)', 1) AS first_token,
  regexp_replace(text, '[aeiou]', '', 'g') AS no_vowels_head,
  regexp_matches(text, 'table') AS mentions_table,
  md5(text) AS text_md5,
  sha256(substring(text, 1, 32)) AS head_sha256
FROM (SELECT doc_id, substring(text, 1, 64) AS text FROM documents WHERE doc_id < 100) d
ORDER BY doc_id
""",
)
def ops_regexp_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RegexpMatch/RegexpReplace + MD5/SHA256 (proto :21,39 + hash family)."""
    t = Tables(spark, sf_dir)
    return (
        t.documents.where(F.col("doc_id") < 100)
        .select("doc_id", F.substring("text", 1, 64).alias("text"))
        .select(
            "doc_id",
            F.regexp_extract("text", "([a-z]+)", 1).alias("first_token"),
            F.regexp_replace("text", "[aeiou]", "").alias("no_vowels_head"),
            F.col("text").rlike("table").alias("mentions_table"),
            F.md5("text").alias("text_md5"),
            F.sha2(F.substring("text", 1, 32), 256).alias("head_sha256"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
@query(
    "ops_unpivot",
    oracle="""
WITH m AS (
  SELECT n.n_name,
         (SELECT COUNT(*) FROM customer c WHERE c.c_nationkey = n.n_nationkey)
           AS n_customers,
         (SELECT COUNT(*) FROM supplier s WHERE s.s_nationkey = n.n_nationkey)
           AS n_suppliers
  FROM nation n
)
SELECT n_name, metric, n FROM (
  SELECT n_name, 'n_customers' AS metric, n_customers AS n FROM m
  UNION ALL
  SELECT n_name, 'n_suppliers' AS metric, n_suppliers AS n FROM m
) u
ORDER BY n_name, metric
""",
)
def ops_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (wide -> long): per-nation entity counts melted to
    (nation, metric, n) rows — `DataFrame.unpivot` (SQL `UNPIVOT` /
    `stack`), the inverse of ev_type_pivot.

    The wide relation comes from two broadcast-joined counts (nation is
    tiny); the unpivot itself is a zero-shuffle projection — each input row
    expands to one row per value column in place, so it composes with
    whatever partitioning the wide side already has.
    """
    t = Tables(spark, sf_dir)
    cust = t.customer.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("n_customers")
    )
    supp = t.supplier.groupBy("s_nationkey").agg(
        F.count(F.lit(1)).alias("n_suppliers")
    )
    wide = (
        t.nation.join(
            cust, t.nation.n_nationkey == cust.c_nationkey, "left"
        )
        .join(supp, t.nation.n_nationkey == supp.s_nationkey, "left")
        .select(
            "n_name",
            F.coalesce("n_customers", F.lit(0)).alias("n_customers"),
            F.coalesce("n_suppliers", F.lit(0)).alias("n_suppliers"),
        )
    )
    return wide.unpivot(
        ["n_name"], ["n_customers", "n_suppliers"], "metric", "n"
    ).orderBy("n_name", "metric")


# --------------------------------------------------------------------------
@query(
    "yoy_sales_growth",
    oracle=f"""
WITH rev AS (
  SELECT n_name, EXTRACT(year FROM o_orderdate) AS yr,
         {sql_dsum("CAST(o_totalprice AS DECIMAL(12,2))")} AS revenue
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  GROUP BY 1, 2
)
SELECT n_name, yr, revenue,
       lag(revenue) OVER w AS prev_revenue,
       (revenue - lag(revenue) OVER w) / lag(revenue) OVER w AS yoy_growth
FROM rev
WINDOW w AS (PARTITION BY n_name ORDER BY yr)
ORDER BY n_name, yr
""",
)
def yoy_sales_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year revenue growth per nation: window-over-aggregate (the
    TPC-DS q-shape Spark analytics lives on — aggregate, then lag() across
    the grouped time axis).

    Two broadcast joins (nation, customer-side key join shuffles on
    o_custkey), one groupBy producing ~|nations x years| rows, then the lag
    window runs on that tiny aggregate — the window never touches fact-table
    cardinality. Growth = one exact double subtraction + division over the
    decimal-contract revenue (deterministic across engines; first year NULL
    in both).
    """
    t = Tables(spark, sf_dir)
    w = Window.partitionBy("n_name").orderBy("yr")
    prev = F.lag("revenue").over(w)
    return (
        t.orders.join(
            t.customer, t.orders.o_custkey == t.customer.c_custkey
        )
        .join(
            F.broadcast(t.nation),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .groupBy("n_name", F.year("o_orderdate").alias("yr"))
        .agg(dsum(dec2("o_totalprice")).alias("revenue"))
        .select(
            "n_name",
            "yr",
            "revenue",
            prev.alias("prev_revenue"),
            ((F.col("revenue") - prev) / prev).alias("yoy_growth"),
        )
        .orderBy("n_name", "yr")
    )


# --------------------------------------------------------------------------
@query(
    "ops_sort_null_order",
    oracle="""
SELECT o_orderkey, nullif(o_orderstatus, 'P') AS status_or_null
FROM orders
WHERE o_orderkey < 2000
ORDER BY status_or_null ASC NULLS FIRST, o_orderkey DESC
LIMIT 50
""",
)
def ops_sort_null_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit null ordering in sorts (the reference sort node's
    nulls_first flag, datafusion.proto sort options): ASC NULLS FIRST
    overriding Spark's ASC default of NULLS FIRST-vs-LAST asymmetry, with a
    descending tie-break so the LIMIT is deterministic."""
    t = Tables(spark, sf_dir)
    return (
        t.orders.where(F.col("o_orderkey") < 2000)
        .select(
            "o_orderkey",
            F.nullif(F.col("o_orderstatus"), F.lit("P")).alias(
                "status_or_null"
            ),
        )
        .orderBy(
            F.col("status_or_null").asc_nulls_first(),
            F.col("o_orderkey").desc(),
        )
        .limit(50)
    )


# --------------------------------------------------------------------------
@query(
    "ops_map_functions",
    oracle="""
WITH hc AS (
  SELECT event_type, EXTRACT(hour FROM CAST(ts AS TIMESTAMP)) AS hr,
         COUNT(*) AS n
  FROM events GROUP BY 1, 2
)
SELECT event_type,
       CAST(COUNT(*) AS INT) AS n_hours,
       MAX(CASE WHEN hr = 12 THEN n END) AS at_noon,
       string_agg(hr, ',' ORDER BY hr) AS hours_csv
FROM hc GROUP BY event_type
ORDER BY event_type
""",
)
def ops_map_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAP type construction + navigation: hour->count maps per event type
    via map_from_entries, probed with element_at / map_keys / size.

    The oracle is deliberately map-free (plain conditional aggregation), so
    it checks the MAP semantics rather than mirroring them. Entries are
    sorted before map construction, making key order deterministic.
    """
    t = Tables(spark, sf_dir)
    hc = (
        t.events.select("event_type", F.hour("ts").alias("hr"))
        .groupBy("event_type", "hr")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    m = hc.groupBy("event_type").agg(
        F.map_from_entries(
            F.array_sort(F.collect_list(F.struct("hr", "n")))
        ).alias("m")
    )
    return m.select(
        "event_type",
        F.size("m").alias("n_hours"),
        F.element_at("m", F.lit(12)).alias("at_noon"),
        F.concat_ws(
            ",", F.transform(F.map_keys("m"), lambda k: k.cast("string"))
        ).alias("hours_csv"),
    ).orderBy("event_type")


# --------------------------------------------------------------------------
@query(
    "ops_bool_predicates",
    oracle="""
SELECT c_mktsegment,
  CAST(COUNT(*) FILTER ((nullif(c_nationkey, 3) > 10) IS TRUE) AS BIGINT)
    AS n_true,
  CAST(COUNT(*) FILTER ((nullif(c_nationkey, 3) > 10) IS FALSE) AS BIGINT)
    AS n_false,
  CAST(COUNT(*) FILTER ((nullif(c_nationkey, 3) > 10) IS NULL) AS BIGINT)
    AS n_unknown,
  CAST(COUNT(*) FILTER ((nullif(c_nationkey, 3) > 10) IS NOT TRUE) AS BIGINT)
    AS n_not_true
FROM customer
GROUP BY c_mktsegment
ORDER BY c_mktsegment
""",
)
def ops_bool_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-valued boolean predicates IS [NOT] TRUE / FALSE / UNKNOWN
    (LogicalExprNode :346-351): a NULL-producing comparison classified into
    all three truth values. IS UNKNOWN ≡ IS NULL on booleans — DuckDB spells
    it IS NULL; Spark accepts both (IS UNKNOWN exercised here)."""
    t = Tables(spark, sf_dir)
    pred = "(nullif(c_nationkey, 3) > 10)"
    return (
        t.customer.groupBy("c_mktsegment")
        .agg(
            F.count(F.when(F.expr(f"{pred} IS TRUE"), 1)).alias("n_true"),
            F.count(F.when(F.expr(f"{pred} IS FALSE"), 1)).alias("n_false"),
            F.count(F.when(F.expr(f"{pred} IS UNKNOWN"), 1)).alias(
                "n_unknown"
            ),
            F.count(F.when(F.expr(f"{pred} IS NOT TRUE"), 1)).alias(
                "n_not_true"
            ),
        )
        .orderBy("c_mktsegment")
    )


# --------------------------------------------------------------------------
@query(
    "ops_array_hof",
    oracle="""
WITH o AS (
  SELECT l_orderkey, list_sort(list(l_quantity)) AS arr
  FROM lineitem GROUP BY l_orderkey HAVING COUNT(*) >= 5
)
SELECT l_orderkey,
  CAST(len(arr) AS BIGINT) AS n_items,
  CAST(len(list_filter(arr, x -> x > 25)) AS BIGINT) AS n_big,
  CAST(list_sum(list_transform(arr, x -> CAST(x * 2 AS DECIMAL(38,2))))
       AS DOUBLE) AS sum_doubled,
  arr[1] AS min_qty,
  arr[-1] AS max_qty,
  len(list_filter(arr, x -> x >= 50)) > 0 AS has_50,
  CAST(len(list_distinct(arr)) AS BIGINT) AS n_uniq
FROM o ORDER BY l_orderkey
""",
)
def ops_array_hof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array functions (ScalarFunction array ops,
    LogicalExprNode lambda variants): per-order sorted quantity arrays
    pushed through filter / transform+aggregate / exists / array_distinct /
    element_at — the full lambda surface, reduced back to scalars.

    sort_array() after collect_list pins element order (collect order is
    partition-dependent; equal elements are interchangeable so the sorted
    array is deterministic). The decimal transform keeps the fold exact;
    only the final projection drops to DOUBLE (value < 2^53, lossless both
    engines). One shuffle: the groupBy; every lambda is per-row after that.
    """
    t = Tables(spark, sf_dir)
    arr = F.col("arr")
    dbl = "CAST(aggregate(arr, CAST(0 AS DECIMAL(38,2)), (acc, x) -> CAST(acc + x * 2 AS DECIMAL(38,2)))  AS DOUBLE)"
    return (
        t.lineitem.groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_list("l_quantity")).alias("arr"),
             F.count(F.lit(1)).alias("__n"))
        .where(F.col("__n") >= 5)
        .select(
            "l_orderkey",
            F.size(arr).cast("long").alias("n_items"),
            F.size(F.filter(arr, lambda x: x > 25)).cast("long").alias(
                "n_big"
            ),
            F.expr(dbl).alias("sum_doubled"),
            F.element_at(arr, 1).alias("min_qty"),
            F.element_at(arr, -1).alias("max_qty"),
            F.exists(arr, lambda x: x >= 50).alias("has_50"),
            F.size(F.array_distinct(arr)).cast("long").alias("n_uniq"),
        )
        .orderBy("l_orderkey")
    )


# --------------------------------------------------------------------------
@query(
    "ops_lateral_explode",
    oracle="""
SELECT p_partkey, CAST(pos AS BIGINT) AS pos, word,
       CAST(length(word) AS BIGINT) AS wlen
FROM (
  SELECT p_partkey,
         generate_subscripts(string_split(p_name, ' '), 1) AS pos,
         unnest(string_split(p_name, ' ')) AS word
  FROM part
)
ORDER BY p_partkey, pos
""",
)
def ops_lateral_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordinal table-function expansion (Unnest plan node): split each part
    name and emit one row per token with its 1-based position — LATERAL
    UNNEST WITH ORDINALITY semantics via posexplode.

    Narrow transform: no shuffle at all (the explode happens in the scan
    stage); output order is pinned by (p_partkey, pos). DuckDB's
    generate_subscripts is 1-based, so the 0-based posexplode ordinal is
    shifted to match.
    """
    t = Tables(spark, sf_dir)
    return (
        t.part.select(
            "p_partkey",
            F.posexplode(F.split("p_name", " ")).alias("pos0", "word"),
        )
        .select(
            "p_partkey",
            (F.col("pos0") + 1).cast("long").alias("pos"),
            "word",
            F.length("word").cast("long").alias("wlen"),
        )
        .orderBy("p_partkey", "pos")
    )


# --------------------------------------------------------------------------
@query(
    "ops_explode_outer",
    oracle="""
SELECT p_partkey,
       unnest(CASE WHEN r IS NULL OR len(r) = 0
                   THEN [NULL]::VARCHAR[] ELSE r END) AS rare_word
FROM (
  SELECT p_partkey,
         list_filter(string_split(p_name, ' '), x -> length(x) >= 5) AS r
  FROM part
)
ORDER BY p_partkey, rare_word
""",
)
def ops_explode_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """explode_outer (outer Unnest): rows whose filtered token list is
    empty survive with a NULL token instead of vanishing — LEFT JOIN
    LATERAL semantics. DuckDB's unnest drops empty lists, so the oracle
    substitutes [NULL] explicitly; Spark's explode_outer does it natively.
    """
    t = Tables(spark, sf_dir)
    rare = F.filter(
        F.split("p_name", " "), lambda x: F.length(x) >= 5
    )
    return (
        t.part.select("p_partkey", F.explode_outer(rare).alias("rare_word"))
        .orderBy("p_partkey", "rare_word")
    )


# --------------------------------------------------------------------------
_LATERAL_SQL = """
SELECT n.n_name, c.c_name, c.c_acctbal
FROM nation n,
LATERAL (SELECT c_name, c_acctbal FROM customer
         WHERE c_nationkey = n.n_nationkey
         ORDER BY c_acctbal DESC, c_name LIMIT 2) c
ORDER BY n.n_name, c.c_acctbal DESC, c.c_name
"""


@query("ops_lateral_join", oracle=_LATERAL_SQL)
def ops_lateral_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery join (top-2 customers per nation by
    balance) — the decorrelation shape the reference's optimizer handles by
    rewriting subqueries to joins before distribution (SURVEY.md §2.2
    absences note, §4.1); Spark's RewriteLateralSubquery does the same.

    The identical SQL text runs on both engines (dual-dialect). Catalyst
    decorrelates the per-row LIMIT into a ranked window over a single
    shuffle keyed by c_nationkey — no nested-loop re-execution per outer
    row, which is what keeps the shape viable when the outer side is large.
    Deterministic: full tie-breaking ORDER BY inside and outside.
    """
    t = Tables(spark, sf_dir)
    return spark.sql(
        "WITH nation AS (SELECT * FROM {n}), customer AS (SELECT * FROM {c}) "
        + _LATERAL_SQL,
        n=t.nation,
        c=t.customer,
    )


# --------------------------------------------------------------------------
# Linear-regression aggregate family (SURVEY §2.5; reference exposes the
# REGR_* family via DataFusion's aggregate registry — datafusion.proto
# AggregateFunction REGR_SLOPE..REGR_SXY)
# --------------------------------------------------------------------------
@query(
    "ops_agg_regr",
    oracle="""
WITH m AS (
  SELECT l_returnflag,
         COUNT(*) AS n,
         SUM(CAST(l_quantity AS BIGINT)) AS sx,
         SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS sy,
         SUM(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)) AS sxx,
         SUM(CAST(CAST(l_quantity AS BIGINT) AS DECIMAL(4,0))
             * CAST(l_extendedprice AS DECIMAL(12,2))) AS sxy,
         SUM(CAST(l_extendedprice AS DECIMAL(12,2))
             * CAST(l_extendedprice AS DECIMAL(12,2))) AS syy
  FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag,
       CAST(n AS BIGINT) AS n_rows,
       CAST(sx AS BIGINT) AS sum_x,
       CAST(round(sy, 4) AS DOUBLE) AS sum_y,
       (CAST(n AS DOUBLE) * CAST(round(sxy, 4) AS DOUBLE)
          - CAST(sx AS DOUBLE) * CAST(round(sy, 4) AS DOUBLE))
         / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
            - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS slope,
       (CAST(round(sy, 4) AS DOUBLE) * CAST(sxx AS DOUBLE)
          - CAST(sx AS DOUBLE) * CAST(round(sxy, 4) AS DOUBLE))
         / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
            - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS intercept,
       ((CAST(n AS DOUBLE) * CAST(round(sxy, 4) AS DOUBLE)
           - CAST(sx AS DOUBLE) * CAST(round(sy, 4) AS DOUBLE))
        * (CAST(n AS DOUBLE) * CAST(round(sxy, 4) AS DOUBLE)
           - CAST(sx AS DOUBLE) * CAST(round(sy, 4) AS DOUBLE)))
         / ((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
             - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
            * (CAST(n AS DOUBLE) * CAST(round(syy, 4) AS DOUBLE)
               - CAST(round(sy, 4) AS DOUBLE) * CAST(round(sy, 4) AS DOUBLE)))
         AS r2,
       TRUE AS builtin_slope_ok,
       TRUE AS builtin_intercept_ok,
       TRUE AS builtin_r2_ok,
       TRUE AS builtin_avg_ok,
       TRUE AS builtin_count_ok
FROM m ORDER BY l_returnflag
""",
)
def ops_agg_regr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REGR_SLOPE / REGR_INTERCEPT / REGR_R2 / REGR_COUNT / REGR_AVGX/Y —
    the SQL:2003 linear-regression aggregate family (y = l_extendedprice
    regressed on x = l_quantity, per returnflag).

    Determinism contract (driver_diff.py rules): the HASHED slope /
    intercept / r2 are derived from EXACT integer/decimal moments (n, Σx,
    Σy, Σxy, Σx², Σy² — bigint/decimal sums are order-independent), each
    moment cast to double ONCE (single correct rounding, identical in
    DuckDB) and combined with the same IEEE expression shape in both
    engines. Spark's native regr_* builtins accumulate in double (their
    result is partition-order-dependent in the last ulps), so they are
    verified within 1e-9 relative tolerance and emitted as stable
    ``builtin_*_ok`` booleans rather than hashed raw.

    Scale: one pass, map-side partial aggregation of 6 moments per group —
    the canonical "moments, not rows" shape that makes regression free at
    100 TB (no second pass, nothing buffered per group).
    """
    t = Tables(spark, sf_dir)
    xq = F.col("l_quantity").cast("bigint")
    y2 = dec2("l_extendedprice")
    m = t.lineitem.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(xq).alias("sx"),
        F.sum(y2).alias("sy"),
        F.sum(xq * xq).alias("sxx"),
        F.sum(xq.cast("decimal(4,0)") * y2).alias("sxy"),
        F.sum(y2 * y2).alias("syy"),
        F.regr_slope(F.col("l_extendedprice"), F.col("l_quantity")).alias("b_slope"),
        F.regr_intercept(F.col("l_extendedprice"), F.col("l_quantity")).alias("b_icpt"),
        F.regr_r2(F.col("l_extendedprice"), F.col("l_quantity")).alias("b_r2"),
        F.regr_avgx(F.col("l_extendedprice"), F.col("l_quantity")).alias("b_avgx"),
        F.regr_avgy(F.col("l_extendedprice"), F.col("l_quantity")).alias("b_avgy"),
        F.regr_count(F.col("l_extendedprice"), F.col("l_quantity")).alias("b_n"),
    )
    # each exact moment -> double via ONE rounding (scale-4 reduction per
    # the dsum contract), then IEEE arithmetic in the same order as the
    # oracle's expression tree
    n_d = F.col("n").cast("double")
    sx_d = F.col("sx").cast("double")
    sy_d = F.col("sy").cast("decimal(38,4)").cast("double")
    sxx_d = F.col("sxx").cast("double")
    sxy_d = F.col("sxy").cast("decimal(38,4)").cast("double")
    syy_d = F.col("syy").cast("decimal(38,4)").cast("double")
    var_x = n_d * sxx_d - sx_d * sx_d
    cov_xy = n_d * sxy_d - sx_d * sy_d
    var_y = n_d * syy_d - sy_d * sy_d
    slope = cov_xy / var_x
    intercept = (sy_d * sxx_d - sx_d * sxy_d) / var_x
    r2 = (cov_xy * cov_xy) / (var_x * var_y)

    def _tol(builtin, derived):
        # builtin regr_* accumulates in double: partition-order-dependent
        # last ulps; 1e-9 relative bound is ~1e7 ulps of slack yet still
        # catches any semantic divergence
        return F.abs(builtin - derived) <= F.lit(1e-9) * F.greatest(
            F.abs(derived), F.lit(1.0)
        )

    return m.select(
        "l_returnflag",
        F.col("n").alias("n_rows"),
        F.col("sx").cast("bigint").alias("sum_x"),
        sy_d.alias("sum_y"),
        slope.alias("slope"),
        intercept.alias("intercept"),
        r2.alias("r2"),
        _tol(F.col("b_slope"), slope).alias("builtin_slope_ok"),
        _tol(F.col("b_icpt"), intercept).alias("builtin_intercept_ok"),
        _tol(F.col("b_r2"), r2).alias("builtin_r2_ok"),
        (
            _tol(F.col("b_avgx"), sx_d / n_d) & _tol(F.col("b_avgy"), sy_d / n_d)
        ).alias("builtin_avg_ok"),
        (F.col("b_n") == F.col("n")).alias("builtin_count_ok"),
    ).orderBy("l_returnflag")


# --------------------------------------------------------------------------
# Boolean / conditional aggregates (SURVEY §2.5; DataFusion BOOL_AND /
# BOOL_OR + FILTERed COUNT — datafusion.proto AggregateFunction)
# --------------------------------------------------------------------------
@query(
    "ops_agg_boolean",
    oracle="""
SELECT l_linestatus,
       COUNT(*) FILTER (WHERE l_discount > 0.05) AS n_discounted,
       bool_and(l_quantity >= 1) AS all_qty_pos,
       bool_or(l_discount > 0.09) AS any_deep_discount,
       bool_and(l_tax <= 0.08) AS all_tax_capped,
       CAST(MIN(l_returnflag) AS VARCHAR) AS any_flag
FROM lineitem
GROUP BY l_linestatus
ORDER BY l_linestatus
""",
)
def ops_agg_boolean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT_IF + BOOL_AND / BOOL_OR (EVERY / SOME) + ANY_VALUE.

    ANY_VALUE is inherently nondeterministic, so the deterministic stand-in
    MIN is emitted under the same contract the reference applies to its
    own FIRST_VALUE aggregate (any row satisfies the contract; the oracle
    must pick the same one, so both engines pick the ordered extreme).

    Scale: all five are single-counter map-side partials — the cheapest
    possible aggregate class (no distinct expansion, no buffering).
    """
    t = Tables(spark, sf_dir)
    return (
        t.lineitem.groupBy("l_linestatus")
        .agg(
            F.count_if(F.col("l_discount") > 0.05).alias("n_discounted"),
            F.every(F.col("l_quantity") >= 1).alias("all_qty_pos"),
            F.some(F.col("l_discount") > 0.09).alias("any_deep_discount"),
            F.bool_and(F.col("l_tax") <= 0.08).alias("all_tax_capped"),
            F.min("l_returnflag").alias("any_flag"),
        )
        .orderBy("l_linestatus")
    )


# --------------------------------------------------------------------------
@query(
    "ops_winsorize",
    oracle=f"""
WITH s AS (
  SELECT o_orderpriority AS g, CAST(o_totalprice AS DECIMAL(12,2)) AS p
  FROM orders
),
r AS (
  SELECT g, p,
         ROW_NUMBER() OVER (PARTITION BY g ORDER BY p) AS rn,
         COUNT(*) OVER (PARTITION BY g) AS n
  FROM s
),
b AS (
  SELECT g,
         MIN(CASE WHEN rn = (n + 19) // 20 THEN p END) AS lo,
         MIN(CASE WHEN rn = (n * 19 + 19) // 20 THEN p END) AS hi
  FROM r GROUP BY g
),
c AS (
  SELECT s.g, s.p, b.lo, b.hi,
         GREATEST(LEAST(s.p, b.hi), b.lo) AS pw
  FROM s JOIN b USING (g)
)
SELECT g AS priority, COUNT(*) AS n,
       CAST(MIN(lo) AS DOUBLE) AS p05, CAST(MIN(hi) AS DOUBLE) AS p95,
       COUNT(CASE WHEN p < lo THEN 1 END) AS n_clipped_lo,
       COUNT(CASE WHEN p > hi THEN 1 END) AS n_clipped_hi,
       {sql_dsum('pw')} AS sum_winsorized
FROM c GROUP BY g ORDER BY priority
""",
)
def ops_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group winsorization: clip order totals to the group's exact
    [p05, p95] order statistics — the standard outlier treatment before
    training-data statistics or loss-weighting.

    Cutoffs are the k-th smallest value with k = ceil(q*n) (quantile_disc
    semantics; exact decimals, no interpolation — engine-portable). They
    come from weighted_quantile's two-phase binned pass, NOT a per-group
    sort window: with 5 priority groups a naive window collapses to 5
    serial sort tasks over the whole table — the few-groups pattern that
    dies at 100 TB. The cutoff table (one row per group) broadcasts back
    and the clip + audit is a single map + partial-agg pass.
    """
    t = Tables(spark, sf_dir)
    staged = t.orders.select(
        F.col("o_orderpriority").alias("g"),
        dec2("o_totalprice").alias("p"),
        F.lit(1).alias("w"),
    )
    bounds = weighted_quantile(
        staged, value="p", weight="w", group_cols=["g"],
        qs={"lo": (1, 20), "hi": (19, 20)},
    )
    pw = F.greatest(F.least(F.col("p"), F.col("hi")), F.col("lo"))
    return (
        staged.drop("w")
        .join(F.broadcast(bounds), "g")
        .groupBy("g")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("lo").cast("double").alias("p05"),
            F.min("hi").cast("double").alias("p95"),
            F.count(F.when(F.col("p") < F.col("lo"), 1)).alias("n_clipped_lo"),
            F.count(F.when(F.col("p") > F.col("hi"), 1)).alias("n_clipped_hi"),
            dsum(pw).alias("sum_winsorized"),
        )
        .withColumnRenamed("g", "priority")
        .orderBy("priority")
    )


# --------------------------------------------------------------------------
@query(
    "ops_mad_outliers",
    oracle="""
WITH s AS (
  SELECT o_orderpriority AS g, CAST(o_totalprice AS DECIMAL(12,2)) AS p
  FROM orders
),
r AS (
  SELECT g, p,
         ROW_NUMBER() OVER (PARTITION BY g ORDER BY p) AS rn,
         COUNT(*) OVER (PARTITION BY g) AS n
  FROM s
),
medt AS (
  SELECT g, MIN(CASE WHEN rn = (n + 1) // 2 THEN p END) AS med
  FROM r GROUP BY g
),
d AS (
  SELECT s.g, s.p, medt.med, abs(s.p - medt.med) AS dev
  FROM s JOIN medt USING (g)
),
r2 AS (
  SELECT g, dev,
         ROW_NUMBER() OVER (PARTITION BY g ORDER BY dev) AS rn,
         COUNT(*) OVER (PARTITION BY g) AS n
  FROM d
),
madt AS (
  SELECT g, MIN(CASE WHEN rn = (n + 1) // 2 THEN dev END) AS mad
  FROM r2 GROUP BY g
)
SELECT d.g AS priority, COUNT(*) AS n,
       CAST(MIN(d.med) AS DOUBLE) AS median,
       CAST(MIN(madt.mad) AS DOUBLE) AS mad,
       COUNT(CASE WHEN d.dev > 3 * madt.mad THEN 1 END) AS n_outliers
FROM d JOIN madt USING (g)
GROUP BY d.g ORDER BY priority
""",
)
def ops_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection per group: median absolute deviation (MAD)
    with a 3-MAD flag — the robust z-score that, unlike mean/stddev, a
    single corrupt value cannot drag.

    Two exact order statistics per group (median of values, then median
    of absolute deviations), BOTH through weighted_quantile's two-phase
    binned pass — at 100 TB neither median triggers a per-group global
    sort, and the broadcast cutoff table keys the final flagging pass
    map-side. All arithmetic is exact decimal until the two output casts.
    """
    t = Tables(spark, sf_dir)
    # staged feeds both weighted_quantile passes of the median (hist +
    # boundary-resolve scans) plus the deviation build; d feeds the MAD's
    # two passes plus the final flagging aggregate — uncached, each
    # consumer re-ran the decimal projection from the (single-split)
    # orders scan serially (guide §5 reuse; measured ~5 serialized
    # 0.4-1.5s one-task stages per run).
    staged = cached(
        t.orders.select(
            F.col("o_orderpriority").alias("g"),
            dec2("o_totalprice").alias("p"),
            F.lit(1).alias("w"),
        )
    )
    medt = weighted_quantile(
        staged, value="p", weight="w", group_cols=["g"], qs={"med": (1, 2)}
    )
    d = cached(
        staged.join(F.broadcast(medt), "g").select(
            "g", "p", "med", F.abs(F.col("p") - F.col("med")).alias("dev"),
            F.lit(1).alias("w"),
        )
    )
    madt = weighted_quantile(
        d, value="dev", weight="w", group_cols=["g"], qs={"mad": (1, 2)}
    )
    return (
        d.join(F.broadcast(madt), "g")
        .groupBy("g")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("med").cast("double").alias("median"),
            F.min("mad").cast("double").alias("mad"),
            F.count(
                F.when(F.col("dev") > 3 * F.col("mad"), 1)
            ).alias("n_outliers"),
        )
        .withColumnRenamed("g", "priority")
        .orderBy("priority")
    )


# --------------------------------------------------------------------------
@query(
    "ops_join_cardinality",
    oracle="""
WITH co AS (SELECT o_orderkey AS k, COUNT(*) AS c FROM orders GROUP BY 1),
cl AS (SELECT l_orderkey AS k, COUNT(*) AS c FROM lineitem GROUP BY 1),
actual AS (
  SELECT CAST(SUM(co.c * cl.c) AS BIGINT) AS n
  FROM co JOIN cl ON co.k = cl.k
),
hb AS (
  SELECT 'orders' AS side, k % 256 AS b, COUNT(*) AS c, COUNT(DISTINCT k) AS d
  FROM (SELECT o_orderkey AS k FROM orders) GROUP BY 2
),
lb AS (
  SELECT k % 256 AS b, COUNT(*) AS c, COUNT(DISTINCT k) AS d
  FROM (SELECT l_orderkey AS k FROM lineitem) GROUP BY 1
),
hist AS (
  SELECT CAST(SUM(hb.c * lb.c // GREATEST(hb.d, lb.d)) AS BIGINT) AS est
  FROM hb JOIN lb ON hb.b = lb.b
)
SELECT 'exact_keycount_sum' AS method,
       (SELECT n FROM actual) AS est,
       (SELECT n FROM actual) AS actual,
       CAST(0 AS BIGINT) AS err_ppm
UNION ALL
SELECT 'histogram_256',
       (SELECT est FROM hist),
       (SELECT n FROM actual),
       abs((SELECT est FROM hist) - (SELECT n FROM actual)) * 1000000
         // (SELECT n FROM actual)
ORDER BY method
""",
)
def ops_join_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-cardinality estimation from table statistics — the optimizer
    input that decides broadcast vs shuffle and join order BEFORE running
    anything (reference analogue: DataFusion's table statistics surface,
    SURVEY §2.2; this extends the stats to join-size estimation).

    Two estimators for |orders JOIN lineitem ON orderkey|:
    - exact per-key count-product sum (the identity Sum_k c1(k)*c2(k) —
      equals the true cardinality; err_ppm 0 by construction, asserted
      through the oracle);
    - 256-bucket histogram with containment+uniformity assumption
      (Sum_b c1*c2/max(d1,d2) — what real optimizers keep, since per-key
      counts don't fit in catalog stats). Its integer-exact error vs
      actual is the query's output.

    Scale: both estimators are partial-agg scans + a 256-row join — the
    join itself is never executed; that is the point.
    """
    t = Tables(spark, sf_dir)
    co = t.orders.groupBy(F.col("o_orderkey").alias("k")).agg(
        F.count(F.lit(1)).alias("c")
    )
    cl = t.lineitem.groupBy(F.col("l_orderkey").alias("k")).agg(
        F.count(F.lit(1)).alias("c")
    )
    actual = (
        co.join(cl, "k")
        .select((co["c"] * cl["c"]).alias("p"))
        .agg(F.sum("p").cast("bigint").alias("n"))
    )
    hb = t.orders.groupBy((F.col("o_orderkey") % 256).alias("b")).agg(
        F.count(F.lit(1)).alias("c"), F.countDistinct("o_orderkey").alias("d")
    )
    lb = t.lineitem.groupBy((F.col("l_orderkey") % 256).alias("b")).agg(
        F.count(F.lit(1)).alias("c2"), F.countDistinct("l_orderkey").alias("d2")
    )
    hist = (
        hb.join(lb, "b")
        .select(
            F.expr("c * c2 div greatest(d, d2)").alias("p")
        )
        .agg(F.sum("p").cast("bigint").alias("est"))
    )
    a = actual.crossJoin(F.broadcast(hist))
    exact_row = a.select(
        F.lit("exact_keycount_sum").alias("method"),
        F.col("n").alias("est"),
        F.col("n").alias("actual"),
        F.lit(0).cast("bigint").alias("err_ppm"),
    )
    hist_row = a.select(
        F.lit("histogram_256").alias("method"),
        F.col("est"),
        F.col("n").alias("actual"),
        F.expr("abs(est - n) * 1000000 div n").alias("err_ppm"),
    )
    return exact_row.unionAll(hist_row).orderBy("method")


# --------------------------------------------------------------------------
#: postgres/DataFusion text, run through rewrite_sql on the Spark side and
#: NATIVELY by the DuckDB oracle (both engines keep-first-per-key).
_DISTINCT_ON_SQL = """
SELECT DISTINCT ON (o_custkey) o_custkey, o_orderkey, o_totalprice
FROM orders
ORDER BY o_custkey, o_orderdate DESC, o_orderkey DESC
"""


@query("ops_distinct_on", oracle=_DISTINCT_ON_SQL)
def ops_distinct_on(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``SELECT DISTINCT ON`` dialect parity (postgres keep-first-per-key,
    supported by DataFusion's sqlparser): the IDENTICAL SQL text runs
    natively in DuckDB and through sql/rewrite.py on Spark, which lowers
    it to a row_number window with rn = 1 — the latest-order-per-customer
    query every CDC/report pipeline writes.

    The ORDER BY carries a full tiebreak (orderdate DESC, orderkey DESC)
    so "first per key" is a total function in both engines. Scale: one
    window shuffle on the DISTINCT ON key; WindowGroupLimit pushes the
    per-partition top-1 below the exchange on Spark >= 3.5.
    """
    from datafusion_ballista_dhruvil_spark.sql.rewrite import rewrite_sql

    t = Tables(spark, sf_dir)
    return spark.sql(
        "WITH orders AS (SELECT * FROM {o}) " + rewrite_sql(_DISTINCT_ON_SQL),
        o=t.orders,
    )


# ---------------------------------------------------------------------------
#: QUALIFY dialect parity: the IDENTICAL text runs natively in DuckDB
#: (which has QUALIFY) and through sql/rewrite.py on Spark (which does not).
_QUALIFY_SQL = """
SELECT o_custkey, o_orderkey, o_totalprice AS price
FROM orders
QUALIFY row_number() OVER (
    PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) <= 2
ORDER BY o_custkey, price DESC, o_orderkey
"""


@query("ops_qualify_rewrite", oracle=_QUALIFY_SQL)
def ops_qualify_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``QUALIFY`` clause parity (DuckDB/Snowflake window filter; accepted
    by DataFusion's sqlparser GenericDialect): rewrite_sql lowers it to a
    subquery computing the window predicate as a boolean column plus an
    outer WHERE — the standard QUALIFY desugaring, since Spark SQL has no
    QUALIFY clause and window functions are illegal in WHERE.

    The tail split is paren-aware: the predicate's own ``ORDER BY`` lives
    inside OVER(...) at depth >= 1 and must not be mistaken for the outer
    ORDER BY. Scale: one window shuffle on o_custkey; the boolean-column
    form forgoes Spark's WindowGroupLimit rank-pushdown (which needs a
    direct rank-vs-literal filter), the documented cost of the general
    desugaring.
    """
    from datafusion_ballista_dhruvil_spark.sql.rewrite import rewrite_sql

    t = Tables(spark, sf_dir)
    return spark.sql(
        "WITH orders AS (SELECT * FROM {o}) " + rewrite_sql(_QUALIFY_SQL),
        o=t.orders,
    )


# ---------------------------------------------------------------------------
#: Recursive CTE — IDENTICAL text in Spark 4 (recursive CTE support is new
#: in Spark 4.0) and DuckDB: an ancestor walk over the synthetic decimal
#: tree parent(doc) = floor(doc/10), i.e. hierarchy rollup without a
#: precomputed closure table. FLOOR(x/10) spelling is shared by both
#: dialects (Spark's `div` and DuckDB's `//` are not).
_RECURSIVE_SQL = """
WITH RECURSIVE anc(node, ancestor, depth) AS (
  SELECT doc_id, CAST(FLOOR(doc_id / 10) AS BIGINT), 1
  FROM documents WHERE doc_id > 0
  UNION ALL
  SELECT a.node, CAST(FLOOR(a.ancestor / 10) AS BIGINT), a.depth + 1
  FROM anc a WHERE a.ancestor > 0
)
SELECT ancestor, COUNT(*) AS n_descendants, MAX(depth) AS max_depth
FROM anc
GROUP BY ancestor
ORDER BY n_descendants DESC, ancestor
LIMIT 20
"""


@query("ops_recursive_cte", oracle=_RECURSIVE_SQL)
def ops_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``WITH RECURSIVE`` parity: the SAME SQL text runs on Spark 4 (which
    added recursive CTEs) and DuckDB — an ancestor-closure walk over a
    derived tree (parent = doc_id/10), rolled up to descendant counts per
    ancestor. This is the hierarchy/BOM-explosion query class that
    previously required the DataFrame Pregel loop (dedup_cluster_cc);
    depth here is logarithmic (~4 levels), so the iterative union
    terminates fast.

    Scale: each recursion step is one projection of the frontier (no
    joins — the parent is computed, not looked up); Spark executes it as
    an iterative UnionLoop with the same per-step shuffle posture as the
    hand-rolled loop, but planned and fused by Catalyst.
    """
    t = Tables(spark, sf_dir)
    return spark.sql(
        _RECURSIVE_SQL.replace(
            "WITH RECURSIVE ", "WITH RECURSIVE documents AS (SELECT * FROM {d}), ", 1
        ),
        d=t.documents,
    )


# ---------------------------------------------------------------------------
@query(
    "ops_quantile_sketch_merge",
    oracle="""
WITH v AS (
  SELECT o_orderpriority AS g,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
),
hist AS (
  SELECT g, cents // 1000000 AS bin, CAST(COUNT(*) AS BIGINT) AS w
  FROM v GROUP BY g, bin
),
merged AS (SELECT bin, CAST(SUM(w) AS BIGINT) AS w FROM hist GROUP BY bin),
tot AS (SELECT CAST(SUM(w) AS BIGINT) AS n FROM merged),
approx AS (
  SELECT MIN(bin) * 1000000 AS approx_c FROM (
    SELECT bin,
           SUM(w) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS cum, n
    FROM merged CROSS JOIN tot
  ) WHERE cum * 2 >= n
),
ex AS (
  SELECT MIN(cents) AS exact_c FROM (
    SELECT cents,
           SUM(1) OVER (ORDER BY cents, rid ROWS UNBOUNDED PRECEDING) AS cum,
           n
    FROM (SELECT cents, row_number() OVER (ORDER BY cents) AS rid FROM v)
    CROSS JOIN tot
  ) WHERE cum * 2 >= n
)
SELECT tot.n AS n_rows,
       (SELECT COUNT(*) FROM merged) AS n_bins,
       approx.approx_c AS approx_p50_cents,
       ex.exact_c AS exact_p50_cents,
       ex.exact_c - approx.approx_c AS diff_cents,
       ex.exact_c - approx.approx_c BETWEEN 0 AND 999999 AS within_bound
FROM tot CROSS JOIN approx CROSS JOIN ex
""",
)
def ops_quantile_sketch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGEABLE quantile summaries (the quantile twin of the HLL
    partition-merge rollup): per-group fixed-width histograms — the
    pre-aggregated artifact a 100 TB deployment stores per partition/day —
    MERGE by bin addition into a corpus histogram whose median answer is
    provably within one bin width of the exact median. The query computes
    BOTH (sketch answer from merged bins; exact answer via the binned
    two-phase order statistic) and emits the checked bound, so the
    mergeability contract itself is hash-verified, not asserted.

    Scale: raw data is touched by two histogram-shaped aggregates only;
    the merge, crossing-bin search, and bound check run on bin-count-sized
    metadata. (The oracle's exact side uses a global ROW_NUMBER for
    clarity; the Spark side uses the same two-phase weighted_quantile
    machinery as every other exact order statistic here.)
    """
    t = Tables(spark, sf_dir)
    v = t.orders.select(
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
        F.col("o_orderpriority").alias("g"),
    )
    hist = v.groupBy("g", F.expr("cents div 1000000").alias("bin")).agg(
        F.count(F.lit(1)).cast("bigint").alias("w")
    )
    merged = hist.groupBy("bin").agg(F.sum("w").cast("bigint").alias("w"))
    tot = merged.agg(F.sum("w").cast("bigint").alias("n"))
    wcum = Window.orderBy("bin").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    approx = (
        merged.crossJoin(F.broadcast(tot))
        .select("bin", (F.sum("w").over(wcum)).alias("cum"), "n")
        .where(F.col("cum") * 2 >= F.col("n"))
        .agg((F.min("bin") * 1000000).alias("approx_c"))
    )
    staged = v.select(F.lit(1).alias("gg"), F.col("cents").alias("val"), F.lit(1).alias("w"))
    ex = (
        weighted_quantile(
            staged, value="val", weight="w", group_cols=["gg"], qs={"exact_c": (1, 2)}
        )
        .drop("gg")
        .select(F.col("exact_c").cast("bigint").alias("exact_c"))
    )
    nbins = merged.agg(F.count(F.lit(1)).alias("n_bins"))
    return (
        tot.crossJoin(nbins)
        .crossJoin(approx)
        .crossJoin(ex)
        .select(
            F.col("n").alias("n_rows"),
            "n_bins",
            F.col("approx_c").alias("approx_p50_cents"),
            F.col("exact_c").alias("exact_p50_cents"),
            (F.col("exact_c") - F.col("approx_c")).alias("diff_cents"),
            ((F.col("exact_c") - F.col("approx_c")).between(0, 999999)).alias(
                "within_bound"
            ),
        )
    )


# ---------------------------------------------------------------------------
@query(
    "ops_mix_rate_decomposition",
    oracle="""
WITH base AS (
  SELECT o_orderpriority AS seg,
         CASE WHEN o_orderdate < DATE '1995-01-01' THEN 1 ELSE 2 END AS period,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
),
s AS (
  SELECT seg, period, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(cents) AS BIGINT) AS sum_c
  FROM base GROUP BY seg, period
),
tot AS (
  SELECT period, CAST(SUM(n) AS BIGINT) AS big_n FROM s GROUP BY period
),
w AS (
  SELECT s.seg,
         MAX(CASE WHEN s.period = 1 THEN s.n * 1000000 // tot.big_n END) AS share1_ppm,
         MAX(CASE WHEN s.period = 2 THEN s.n * 1000000 // tot.big_n END) AS share2_ppm,
         MAX(CASE WHEN s.period = 1 THEN s.sum_c * 1000 // s.n END) AS aov1_mc,
         MAX(CASE WHEN s.period = 2 THEN s.sum_c * 1000 // s.n END) AS aov2_mc
  FROM s JOIN tot ON tot.period = s.period
  GROUP BY s.seg
)
SELECT seg, share1_ppm, share2_ppm, aov1_mc, aov2_mc,
       (share2_ppm - share1_ppm) * aov1_mc // 1000000 AS mix_effect_mc,
       share1_ppm * (aov2_mc - aov1_mc) // 1000000 AS rate_effect_mc,
       (share2_ppm - share1_ppm) * (aov2_mc - aov1_mc) // 1000000
         AS interaction_mc
FROM w ORDER BY seg
""",
)
def ops_mix_rate_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mix/rate decomposition of a metric change between two periods — the
    "why did average order value move" answer every BI review asks:
    per-segment change in the weighted average splits exactly into MIX
    (segment share shifted x old rate), RATE (old share x rate change),
    and the residual interaction term. Summing each column across segments
    reconstructs the overall change.

    All arithmetic is integer (ppm shares, milli-cent rates, identical
    floor divisions in both engines). Scale: one scan into a
    (segment x period) aggregate; everything after is a 5-row pivot.
    """
    t = Tables(spark, sf_dir)
    base = t.orders.select(
        F.col("o_orderpriority").alias("seg"),
        F.when(F.col("o_orderdate") < F.lit("1995-01-01").cast("date"), 1)
        .otherwise(2)
        .alias("period"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    s = base.groupBy("seg", "period").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("cents").cast("bigint").alias("sum_c"),
    )
    tot = s.groupBy("period").agg(F.sum("n").cast("bigint").alias("big_n"))
    w = (
        s.join(F.broadcast(tot), "period")
        .groupBy("seg")
        .agg(
            F.max(
                F.when(F.col("period") == 1, F.expr("n * 1000000 div big_n"))
            ).alias("share1_ppm"),
            F.max(
                F.when(F.col("period") == 2, F.expr("n * 1000000 div big_n"))
            ).alias("share2_ppm"),
            F.max(
                F.when(F.col("period") == 1, F.expr("sum_c * 1000 div n"))
            ).alias("aov1_mc"),
            F.max(
                F.when(F.col("period") == 2, F.expr("sum_c * 1000 div n"))
            ).alias("aov2_mc"),
        )
    )
    return w.select(
        "seg",
        "share1_ppm",
        "share2_ppm",
        "aov1_mc",
        "aov2_mc",
        F.expr("(share2_ppm - share1_ppm) * aov1_mc div 1000000").alias(
            "mix_effect_mc"
        ),
        F.expr("share1_ppm * (aov2_mc - aov1_mc) div 1000000").alias(
            "rate_effect_mc"
        ),
        F.expr(
            "(share2_ppm - share1_ppm) * (aov2_mc - aov1_mc) div 1000000"
        ).alias("interaction_mc"),
    ).orderBy("seg")


# ---------------------------------------------------------------------------
@query(
    "ops_countmin_sketch",
    oracle="""
WITH toks AS (
  SELECT unnest(string_split(text, ' ')) AS tok FROM documents
),
rows_h AS (
  SELECT tok, j,
         CAST(('0x' || substr(md5(CAST(j AS VARCHAR) || ':' || tok), 1, 15))
              AS BIGINT) % 512 AS bucket
  FROM toks, unnest([0, 1, 2, 3]) AS u(j)
),
cms AS (
  SELECT j, bucket, CAST(COUNT(*) AS BIGINT) AS c
  FROM rows_h GROUP BY j, bucket
),
exact AS (
  SELECT tok, CAST(COUNT(*) AS BIGINT) AS n FROM toks GROUP BY tok
  ORDER BY n DESC, tok LIMIT 10
),
probe AS (
  SELECT e.tok, e.n, h.j,
         CAST(('0x' || substr(md5(CAST(h.j AS VARCHAR) || ':' || e.tok), 1, 15))
              AS BIGINT) % 512 AS bucket
  FROM exact e, unnest([0, 1, 2, 3]) AS h(j)
),
est AS (
  SELECT p.tok, p.n, CAST(MIN(cms.c) AS BIGINT) AS estimate
  FROM probe p JOIN cms ON cms.j = p.j AND cms.bucket = p.bucket
  GROUP BY p.tok, p.n
),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS big_n FROM toks)
SELECT tok AS term, n AS exact_tf, estimate,
       estimate - n AS overestimate,
       estimate - n <= big_n // 128 AS within_bound
FROM est CROSS JOIN tot
ORDER BY exact_tf DESC, term
""",
)
def ops_countmin_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch (Cormode & Muthukrishnan 2005, public): a 4x512
    counter matrix — each token increments one md5-derived bucket per row,
    the frequency estimate is the MIN across rows — completing this
    engine's mergeable-sketch trio (HLL distinct rollup, quantile
    histogram merge, CMS frequency). Like those, the sketch MERGES by
    cell-wise addition across partitions/days, which is the whole point
    at 100 TB: store 2k counters per shard, never the key space.

    The CMS guarantee (estimate >= exact; overestimate <= ~N*e/w w.h.p.)
    is computed, not asserted: both engines build the identical sketch
    (md5 buckets, integer counters) so estimate/overestimate/bound-flag
    all hash-match. Scale: one (row, bucket) aggregate with map-side
    partials (4x token fan-out collapses to <= 2048 cells/partition
    before the shuffle); probes join the top-10 terms to the 2048-cell
    table.
    """
    t = Tables(spark, sf_dir)
    toks = t.documents.select(
        F.explode(F.split(F.col("text"), " ")).alias("tok")
    )
    j = F.explode(F.array(*[F.lit(i) for i in range(4)])).alias("j")
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("j").cast("string"), F.lit(":"), F.col("tok"))),
                1,
                15,
            ),
            16,
            10,
        ).cast("long")
        % 512
    )
    rows_h = toks.select("tok", j).select("tok", "j", bucket.alias("bucket"))
    cms = rows_h.groupBy("j", "bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    exact = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .orderBy(F.desc("n"), "tok")
        .limit(10)
    )
    probe = exact.select("tok", "n", j).select(
        "tok", "n", "j", bucket.alias("bucket")
    )
    est = (
        probe.join(F.broadcast(cms), ["j", "bucket"])
        .groupBy("tok", "n")
        .agg(F.min("c").cast("bigint").alias("estimate"))
    )
    tot = toks.agg(F.count(F.lit(1)).cast("bigint").alias("big_n"))
    return (
        est.crossJoin(F.broadcast(tot))
        .select(
            F.col("tok").alias("term"),
            F.col("n").alias("exact_tf"),
            "estimate",
            (F.col("estimate") - F.col("n")).alias("overestimate"),
            (F.col("estimate") - F.col("n") <= F.expr("big_n div 128")).alias(
                "within_bound"
            ),
        )
        .orderBy(F.desc("exact_tf"), "term")
    )


# ---------------------------------------------------------------------------
@query(
    "ops_listagg_within_group",
    oracle="""
WITH d AS (
  SELECT DISTINCT c_mktsegment AS seg, c_nationkey AS nk FROM customer
)
SELECT seg,
       CAST(COUNT(*) AS BIGINT) AS n_nations,
       string_agg(CAST(nk AS VARCHAR), ',' ORDER BY nk) AS nations_csv
FROM d GROUP BY seg ORDER BY seg
""",
)
def ops_listagg_within_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation — ``LISTAGG ... WITHIN GROUP (ORDER BY)``,
    new in Spark 4 (SQL:2016 T625) and spelled string_agg(... ORDER BY) in
    DuckDB/Postgres: the deterministic CSV-per-group rollup report queries
    use. The WITHIN GROUP ordering is what makes the aggregate a pure
    function of the set — without it, concatenation order is partition-
    dependent and the cross-engine hash gate would (rightly) fail.

    Runs as native SQL on Spark (no collect_list + array_sort detour).
    Scale: one distinct + one group aggregate; output strings are bounded
    by group cardinality (25 nations).
    """
    t = Tables(spark, sf_dir)
    return spark.sql(
        """
WITH d AS (
  SELECT DISTINCT c_mktsegment AS seg, c_nationkey AS nk FROM {customer}
)
SELECT seg,
       CAST(COUNT(*) AS BIGINT) AS n_nations,
       listagg(CAST(nk AS STRING), ',') WITHIN GROUP (ORDER BY nk)
         AS nations_csv
FROM d GROUP BY seg ORDER BY seg
""",
        customer=t.customer,
    )


# ---------------------------------------------------------------------------
#: SQL pipe syntax (Spark 4.0, SPARK-49555; the |> operator chain popularized
#: by GoogleSQL). DuckDB has no pipe dialect, so the oracle is the exact
#: ANSI desugaring of the same plan.
_PIPE_SQL = """
FROM {orders}
|> WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
|> AGGREGATE COUNT(*) AS n_orders,
             CAST(SUM(o_custkey) AS BIGINT) AS sum_cust,
             MIN(o_orderkey) AS min_key
   GROUP BY o_orderpriority
|> ORDER BY o_orderpriority
"""


@query(
    "ops_pipe_syntax",
    oracle="""
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(o_custkey) AS BIGINT) AS sum_cust,
       MIN(o_orderkey) AS min_key
FROM orders
WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
)
def ops_pipe_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL pipe-syntax surface (``FROM t |> WHERE |> AGGREGATE |> ORDER
    BY``), new in Spark 4.0: each ``|>`` stage is a linear plan operator,
    the dialect the reference's sqlparser-rs also accepts experimentally.
    The pipe text parses to the IDENTICAL logical plan as the ANSI oracle
    (filter -> partial/final aggregate -> sort), so Catalyst's pushdown and
    two-phase aggregation apply unchanged — the dialect is sugar, not a
    different engine path.

    Scale: one shuffle on the GROUP BY key (5 priorities -> AQE coalesces
    post-shuffle partitions); the WHERE stage sits below the aggregate and
    reaches the parquet scan as a pushed filter.
    """
    t = Tables(spark, sf_dir)
    return spark.sql(_PIPE_SQL, orders=t.orders)


# ---------------------------------------------------------------------------
@query(
    "ops_collation_group",
    oracle="""
WITH v AS (
  SELECT CASE WHEN c_custkey % 2 = 0 THEN upper(c_mktsegment)
              ELSE lower(c_mktsegment) END AS seg_form,
         c_custkey
  FROM customer
)
SELECT lower(seg_form) AS segment,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(DISTINCT seg_form) AS BIGINT) AS n_case_forms,
       MIN(c_custkey) AS min_cust, MAX(c_custkey) AS max_cust
FROM v GROUP BY lower(seg_form) ORDER BY segment
""",
)
def ops_collation_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collation-aware grouping (Spark 4.0 ``COLLATE UTF8_LCASE``): group
    case-variant strings under a case-insensitive collation instead of the
    classic ``GROUP BY lower(col)`` rewrite. The query derives two case
    forms per segment deterministically (even custkey -> UPPER, odd ->
    lower), groups on ``collate(seg, 'UTF8_LCASE')``, and proves the
    collation actually merged the variants by counting the distinct raw
    forms inside each group (= 2). The output key is lowered and cast back
    to a default-collation string so the cross-engine hash sees identical
    bytes and schema; DuckDB expresses the same semantics with its
    canonical lower() grouping.

    Scale: collation comparison happens inside the hash aggregate's key —
    one shuffle on the collated key, same two-phase aggregation as any
    GROUP BY; no extra projection pass over the data.
    """
    t = Tables(spark, sf_dir)
    seg_form = F.when(
        F.col("c_custkey") % 2 == 0, F.upper("c_mktsegment")
    ).otherwise(F.lower("c_mktsegment"))
    v = t.customer.select(
        seg_form.alias("seg_form"), "c_custkey"
    )
    return (
        v.groupBy(F.expr("collate(seg_form, 'UTF8_LCASE')").alias("k"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.countDistinct(F.col("seg_form").cast("string COLLATE UTF8_BINARY"))
            .cast("bigint")
            .alias("n_case_forms"),
            F.min("c_custkey").alias("min_cust"),
            F.max("c_custkey").alias("max_cust"),
        )
        .select(
            F.lower(F.col("k")).cast("string").alias("segment"),
            "n_rows",
            "n_case_forms",
            "min_cust",
            "max_cust",
        )
        .orderBy("segment")
    )


# ---------------------------------------------------------------------------
@query(
    "ops_bitmap_distinct",
    oracle="""
SELECT o_orderpriority,
       CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers,
       CAST(COUNT(DISTINCT CAST(FLOOR(o_custkey / 64) AS BIGINT)) AS BIGINT)
         AS n_buckets
FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
""",
)
def ops_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-bitmap exact distinct count (the ClickHouse groupBitmap /
    Doris BITMAP_UNION pattern): customer ids are packed into 64-bit
    bucket bitmaps (bucket = custkey >> 6, bit = custkey & 63), bitmaps
    union with ``bit_or`` — an associative, commutative, fixed-width
    aggregate — and the distinct count is ``sum(bit_count(bitmap))``.

    Why not COUNT(DISTINCT): at 100 TB a COUNT(DISTINCT) re-shuffles raw
    ids per group; the bitmap form shrinks each (group, bucket) cell to 8
    bytes in the map-side partial, shuffles only the packed bitmaps, and —
    unlike HLL (ops_agg_approx) — stays EXACT and mergeable across
    partitions, days, or rollup levels. The oracle checks both the distinct
    count and the bucket-population invariant.

    Scale: two hash aggregates — (priority, bucket) with map-side bit_or
    combine, then priority with a sum; shuffle volume is bounded by
    |priorities| x |id-space|/64 regardless of row count.
    """
    t = Tables(spark, sf_dir)
    b = t.orders.select(
        "o_orderpriority",
        F.shiftright(F.col("o_custkey"), 6).alias("bucket"),
        # python API requires a literal shift count; the per-row count
        # needs the SQL form
        F.expr(
            "shiftleft(CAST(1 AS BIGINT), CAST(pmod(o_custkey, 64) AS INT))"
        ).alias("bit"),
    )
    bitmaps = b.groupBy("o_orderpriority", "bucket").agg(
        F.expr("bit_or(bit)").alias("bm")
    )
    return (
        bitmaps.groupBy("o_orderpriority")
        .agg(
            F.sum(F.bit_count("bm")).cast("bigint").alias("n_customers"),
            F.count(F.lit(1)).cast("bigint").alias("n_buckets"),
        )
        .orderBy("o_orderpriority")
    )


@query(
    "ops_try_arithmetic",
    oracle="""
SELECT o_orderkey,
  o_orderkey + 1 AS add_ok,
  TRY_CAST(CAST(9223372036854775800 AS HUGEINT) + o_orderkey AS BIGINT)
    AS add_ovf,
  TRY_CAST(CAST(9223372036854775807 AS HUGEINT) * o_orderkey AS BIGINT)
    AS mul_ovf,
  o_totalprice / NULLIF(o_orderkey % 3, 0) AS div_zero,
  o_orderkey % NULLIF(o_orderkey % 5, 0) AS mod_zero,
  list_extract(string_split(o_orderpriority, '-'), 1) AS elem_first,
  list_extract(string_split(o_orderpriority, '-'), 5) AS elem_oob,
  CAST(CAST(NULL AS TIMESTAMP) AS VARCHAR) AS ts_bad
FROM orders WHERE o_orderkey < 200
ORDER BY o_orderkey
""",
)
def ops_try_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI-safe `try_*` arithmetic family: overflow, divide-by-zero,
    mod-by-zero, out-of-range element access, and unparseable timestamps
    all yield NULL instead of a runtime error — DataFusion's default
    (non-ANSI) arithmetic NULL/error contract re-expressed through Spark's
    explicit try_ functions, which keep the safety without globally
    disabling ANSI mode. The oracle reproduces overflow via HUGEINT
    arithmetic + TRY_CAST back to BIGINT (DuckDB errors on BIGINT overflow
    even in non-taken CASE branches — vectorized evaluation is eager) and
    zero-division via NULLIF.

    Scale: pure map-side projection; nothing shuffles but the final sort.
    """
    t = Tables(spark, sf_dir)
    return (
        t.orders.where(F.col("o_orderkey") < 200)
        .select(
            "o_orderkey",
            F.expr("try_add(o_orderkey, CAST(1 AS BIGINT))").alias("add_ok"),
            F.expr(
                "try_add(CAST(9223372036854775800 AS BIGINT), o_orderkey)"
            ).alias("add_ovf"),
            F.expr(
                "try_multiply(CAST(9223372036854775807 AS BIGINT),"
                " o_orderkey)"
            ).alias("mul_ovf"),
            F.expr("try_divide(o_totalprice, o_orderkey % 3)").alias(
                "div_zero"
            ),
            F.expr("try_mod(o_orderkey, o_orderkey % 5)").alias("mod_zero"),
            F.expr(
                "try_element_at(split(o_orderpriority, '-'), 1)"
            ).alias("elem_first"),
            F.expr(
                "try_element_at(split(o_orderpriority, '-'), 5)"
            ).alias("elem_oob"),
            # string-rendered: naked timestamps drift ns-vs-us between the
            # Arrow collections of the two engines (type-sensitive hash)
            F.expr("cast(try_to_timestamp(o_orderpriority) as string)").alias(
                "ts_bad"
            ),
        )
        .orderBy("o_orderkey")
    )


@query(
    "ops_calendar_intervals",
    oracle="""
SELECT o_orderkey,
  CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS d,
  CAST(CAST(CAST(o_orderdate AS DATE) + INTERVAL 3 MONTH AS DATE)
    AS VARCHAR) AS plus_months,
  CAST(last_day(CAST(o_orderdate AS DATE)) AS VARCHAR) AS month_end,
  CAST(CAST(CAST(o_orderdate AS DATE) + to_days(CAST(CASE
        WHEN (8 - isodow(CAST(o_orderdate AS DATE))) % 7 = 0 THEN 7
        ELSE (8 - isodow(CAST(o_orderdate AS DATE))) % 7 END AS INT))
    AS DATE) AS VARCHAR) AS next_monday,
  CAST(week(CAST(o_orderdate AS DATE)) AS INT) AS iso_week,
  CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '1995-06-17')
    AS INT) AS days_to_mid95,
  strftime(o_orderdate + INTERVAL 90 MINUTE, '%Y-%m-%d %H:%M:%S')
    AS ts_plus90m,
  CAST(CAST(date_trunc('quarter', CAST(o_orderdate AS DATE)) AS DATE)
    AS VARCHAR) AS quarter_start,
  CAST(make_date(CAST(year(o_orderdate) AS INT),
            CAST(month(o_orderdate) AS INT), 1) AS VARCHAR) AS month_start
FROM orders WHERE o_orderkey < 300
ORDER BY o_orderkey
""",
)
def ops_calendar_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar interval arithmetic family (DataFusion date_part/interval
    surface, SURVEY §2.4 date/time): month addition with end-of-month
    clamping (Jan 31 + 1 month = Feb 28 in BOTH engines — the classic
    calendar-math divergence point), last_day, next_day (DuckDB lacks it;
    the oracle derives it from isodow, proving Spark's day-name semantics
    are exactly strictly-after-next-ISO-monday), ISO week numbers, day
    diffs, fixed-width timestamp intervals, quarter truncation, and
    make_date construction. Date columns render as ISO strings at the
    boundary (the repo-wide date convention, tests/driver_diff.py).

    Scale: map-only projection; only the sort shuffles.
    """
    t = Tables(spark, sf_dir)
    d = F.col("o_orderdate").cast("date")
    return (
        t.orders.where(F.col("o_orderkey") < 300)
        .select(
            "o_orderkey",
            F.date_format(d, "yyyy-MM-dd").alias("d"),
            F.date_format(F.add_months(d, 3), "yyyy-MM-dd").alias(
                "plus_months"
            ),
            F.date_format(F.last_day(d), "yyyy-MM-dd").alias("month_end"),
            F.date_format(F.next_day(d, "MO"), "yyyy-MM-dd").alias(
                "next_monday"
            ),
            F.weekofyear(d).cast("int").alias("iso_week"),
            F.datediff(F.lit("1995-06-17").cast("date"), d)
            .cast("int")
            .alias("days_to_mid95"),
            # string-rendered (ns-vs-us dtype drift; repo date convention)
            F.date_format(
                F.expr("o_orderdate + INTERVAL 90 MINUTE"),
                "yyyy-MM-dd HH:mm:ss",
            ).alias("ts_plus90m"),
            F.date_format(F.date_trunc("quarter", d), "yyyy-MM-dd").alias(
                "quarter_start"
            ),
            F.date_format(
                F.make_date(F.year(d), F.month(d), F.lit(1)), "yyyy-MM-dd"
            ).alias("month_start"),
        )
        .orderBy("o_orderkey")
    )


# ---------------------------------------------------------------------------
_GROUP_ALL_SQL = """
SELECT l_returnflag, l_linestatus,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(l_quantity) AS BIGINT) AS qty
FROM lineitem
WHERE l_shipdate < TIMESTAMP '1995-06-01 00:00:00'
GROUP BY ALL
ORDER BY ALL
"""


@query("ops_group_order_by_all", oracle=_GROUP_ALL_SQL)
def ops_group_order_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``GROUP BY ALL`` / ``ORDER BY ALL`` (Spark 4 + DuckDB shared
    dialect): grouping keys inferred from the non-aggregate select items,
    ordering over every output column. The SAME SQL text runs on both
    engines — the oracle string is passed to Spark verbatim, proving the
    dialect overlap rather than translating it.

    Scale: resolves to the identical partial/final hash aggregate as an
    explicit GROUP BY — inference happens at analysis time, the physical
    plan is unchanged.
    """
    t = Tables(spark, sf_dir)
    return spark.sql("WITH lineitem AS (SELECT * FROM {l}) " + _GROUP_ALL_SQL, l=t.lineitem)


# ---------------------------------------------------------------------------
@query(
    "ops_session_variables",
    oracle="""
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n
FROM orders
WHERE o_totalprice > 150000.0 AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
)
def ops_session_variables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL session variables (Spark 4 ``DECLARE VARIABLE`` / ``SET VAR``,
    SQL/PSM): parameters held in session state and referenced from query
    text — the reference's prepared-statement/parameterized-SQL surface
    (PREPARE in plans; flight_sql.rs prepared statements) expressed
    through the catalog instead of the wire. The variables fold to
    literals at analysis time, so the filter still pushes down to the
    scan; the oracle is the equivalent constant-folded ANSI SQL.
    """
    t = Tables(spark, sf_dir)
    spark.sql("DECLARE OR REPLACE VARIABLE price_floor DOUBLE DEFAULT 0.0")
    spark.sql("DECLARE OR REPLACE VARIABLE date_floor STRING DEFAULT '1990-01-01'")
    try:
        spark.sql("SET VAR price_floor = 150000.0, date_floor = '1996-01-01 00:00:00'")
        return spark.sql(
            """
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n
FROM {orders}
WHERE o_totalprice > price_floor
  AND o_orderdate >= CAST(date_floor AS TIMESTAMP)
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
            orders=t.orders,
        )
    finally:
        # the values are already bound in the analyzed plan
        spark.sql("DROP TEMPORARY VARIABLE price_floor")
        spark.sql("DROP TEMPORARY VARIABLE date_floor")


# ---------------------------------------------------------------------------
@query(
    "ops_execute_immediate",
    oracle="""
SELECT c_mktsegment,
       CAST(COUNT(*) AS BIGINT) AS n_cust,
       CAST(SUM(c_acctbal * 100) AS BIGINT) AS bal_cents
FROM customer
WHERE c_nationkey = 7
GROUP BY c_mktsegment
ORDER BY c_mktsegment
""",
)
def ops_execute_immediate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``EXECUTE IMMEDIATE`` with a named parameter (Spark 4): SQL text
    built/held as data and executed with bound arguments — the dynamic-SQL
    face of the reference's PREPARE surface. The bound parameter arrives
    as a literal in the resolved plan, so predicate pushdown is intact.
    """
    t = Tables(spark, sf_dir)
    stmt = (
        "SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n_cust, "
        "CAST(SUM(CAST(c_acctbal * 100 AS DECIMAL(18,0))) AS BIGINT) AS bal_cents "
        "FROM IDENTIFIER(:tbl) WHERE c_nationkey = :nk "
        "GROUP BY c_mktsegment ORDER BY c_mktsegment"
    )
    spark.sql("DECLARE OR REPLACE VARIABLE stmt_text STRING DEFAULT ?", args=[stmt])
    try:
        # the formatter writes the frame's view name into the string literal
        return spark.sql(
            "EXECUTE IMMEDIATE stmt_text USING 7 AS nk, '{customer}' AS tbl",
            customer=t.customer,
        )
    finally:
        spark.sql("DROP TEMPORARY VARIABLE stmt_text")


# ---------------------------------------------------------------------------
@query(
    "ops_hll_sketch_union",
    oracle="""
SELECT CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS exact_custs,
       TRUE AS within_bound,
       CAST(COUNT(DISTINCT CASE WHEN o_orderpriority = '1-URGENT'
                                THEN o_custkey END) AS BIGINT)
         AS exact_urgent_custs,
       TRUE AS within_bound_urgent
FROM orders
""",
)
def ops_hll_sketch_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable Apache DataSketches HLL: per-priority partial sketches
    (``hll_sketch_agg``) merged with ``hll_union_agg`` — the rollup
    pattern that makes distinct counts REUSABLE at 100 TB (store one
    sketch per partition/day, answer any union without rescanning). The
    reference's approx_distinct is the same HLL idea but non-mergeable
    across result sets (DataFusion datafusion.proto:529-549); Spark 4's
    sketch functions expose the merge algebra directly.

    Oracle contract (the ops_agg_approx pattern): sketch estimates are
    engine-specific, so the query emits the EXACT distinct counts plus
    booleans asserting the merged-sketch estimate lands within its
    documented bound (lgConfigK=12 -> rsd ~1.6%; asserted at 5%, ~3
    sigma), and the oracle emits the exact counts with literal TRUEs.
    """
    t = Tables(spark, sf_dir)
    parts = t.orders.groupBy("o_orderpriority").agg(
        F.expr("hll_sketch_agg(o_custkey)").alias("sk")
    )
    merged = parts.agg(
        F.expr("hll_sketch_estimate(hll_union_agg(sk))").alias("_est_all"),
        F.expr(
            "hll_sketch_estimate(hll_union_agg("
            "CASE WHEN o_orderpriority = '1-URGENT' THEN sk END))"
        ).alias("_est_urgent"),
    )
    exact = t.orders.agg(
        F.countDistinct("o_custkey").cast("bigint").alias("exact_custs"),
        F.countDistinct(
            F.when(F.col("o_orderpriority") == "1-URGENT", F.col("o_custkey"))
        )
        .cast("bigint")
        .alias("exact_urgent_custs"),
    )
    return merged.crossJoin(F.broadcast(exact)).select(
        "exact_custs",
        (
            F.abs(F.col("_est_all") - F.col("exact_custs"))
            <= 0.05 * F.col("exact_custs")
        ).alias("within_bound"),
        "exact_urgent_custs",
        (
            F.abs(F.col("_est_urgent") - F.col("exact_urgent_custs"))
            <= 0.05 * F.col("exact_urgent_custs")
        ).alias("within_bound_urgent"),
    )


# ---------------------------------------------------------------------------
@query(
    "ops_approx_top_k",
    oracle="""
SELECT l_returnflag AS item, CAST(COUNT(*) AS BIGINT) AS cnt
FROM lineitem GROUP BY l_returnflag
ORDER BY cnt DESC, item
LIMIT 2
""",
)
def ops_approx_top_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``approx_top_k`` (Spark 4 frequent-items sketch): heavy hitters
    without a full group-by — the built-in counterpart of the hand-rolled
    Misra-Gries operator (text_heavy_hitters). With the column's distinct
    cardinality (3 return flags) far below maxItemsTracked, the sketch is
    EXACT by construction, so the exploded (item, count) rows hash-match
    the exact group-by oracle directly — same contract the reference's
    sketch tests use (exactness in the no-eviction regime).
    """
    t = Tables(spark, sf_dir)
    return (
        t.lineitem.agg(
            F.expr("approx_top_k(l_returnflag, 2)").alias("tk")
        )
        .select(F.explode("tk").alias("e"))
        .select(
            F.col("e.item").alias("item"),
            F.col("e.count").cast("bigint").alias("cnt"),
        )
        .orderBy(F.desc("cnt"), "item")
    )


# ---------------------------------------------------------------------------
@query(
    "ops_identifier_clause",
    oracle="""
SELECT n_regionkey, CAST(COUNT(*) AS BIGINT) AS n_nations,
       MIN(n_name) AS first_name
FROM nation
GROUP BY n_regionkey
ORDER BY n_regionkey
""",
)
def ops_identifier_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``IDENTIFIER(:param)`` (Spark 4, SQL:2023-adjacent): table and
    column names supplied as DATA, resolved injection-safely at analysis
    time — the dynamic-catalog face of the parameterized-SQL surface
    (PREPARE / EXECUTE IMMEDIATE family). A templated pipeline selects
    its target table per run without string-splicing SQL.
    """
    t = Tables(spark, sf_dir)
    # a parameter can only name a catalog table, so the frame gets a
    # unique view that lives until the plan is analyzed (views inline there)
    tbl = f"nation_{uuid.uuid4().hex}"
    t.nation.createTempView(tbl)
    try:
        return spark.sql(
            """
SELECT IDENTIFIER(:keycol), CAST(COUNT(*) AS BIGINT) AS n_nations,
       MIN(IDENTIFIER(:namecol)) AS first_name
FROM IDENTIFIER(:tbl)
GROUP BY IDENTIFIER(:keycol)
ORDER BY IDENTIFIER(:keycol)
""",
            args={"tbl": tbl, "keycol": "n_regionkey", "namecol": "n_name"},
        )
    finally:
        spark.catalog.dropTempView(tbl)


# ---------------------------------------------------------------------------
_LCA_SQL = """
SELECT l_quantity + l_linenumber AS adj_qty,
       adj_qty * 2 AS dbl_qty,
       dbl_qty - l_quantity AS spread,
       l_orderkey
FROM lineitem
WHERE l_orderkey < 200
ORDER BY l_orderkey, adj_qty, dbl_qty
"""


@query("ops_lateral_column_alias", oracle=_LCA_SQL)
def ops_lateral_column_alias(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lateral column aliases (Spark 3.4+/DuckDB shared dialect): a select
    item referencing an alias defined EARLIER in the same select list —
    the incremental-expression sugar heavy analytics SQL leans on. The
    identical text runs on both engines; Catalyst inlines the alias
    chain, so the plan is one projection (no self-join, no CTE
    materialization).
    """
    t = Tables(spark, sf_dir)
    return spark.sql("WITH lineitem AS (SELECT * FROM {l}) " + _LCA_SQL, l=t.lineitem)


# ---------------------------------------------------------------------------
@query(
    "ops_agg_mode_deterministic",
    oracle="""
WITH c AS (
  SELECT l_returnflag, l_quantity AS v, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM lineitem GROUP BY l_returnflag, l_quantity
),
m AS (
  SELECT l_returnflag, v, cnt,
         row_number() OVER (PARTITION BY l_returnflag
                            ORDER BY cnt DESC, v ASC) AS rn
  FROM c
)
SELECT l_returnflag, CAST(v AS BIGINT) AS mode_qty, cnt AS mode_count
FROM m WHERE rn = 1
ORDER BY l_returnflag
""",
)
def ops_agg_mode_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``mode(expr, deterministic := true)`` (Spark 4): the most frequent
    value per group with the DOCUMENTED lowest-value tie-break — the form
    that can sit under a hash gate at all (plain ``mode()`` is free to
    return any modal value; DuckDB's returns an arbitrary one, so the
    oracle derives the same deterministic choice from counts +
    row_number). Native sketch-free mode completes the central-tendency
    family next to median/percentile_cont.
    """
    t = Tables(spark, sf_dir)
    modes = t.lineitem.groupBy("l_returnflag").agg(
        F.expr("mode(l_quantity, true)").cast("bigint").alias("mode_qty")
    )
    counts = t.lineitem.groupBy(
        "l_returnflag", F.col("l_quantity").cast("bigint").alias("mode_qty")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("mode_count"))
    return modes.join(counts, ["l_returnflag", "mode_qty"]).orderBy(
        "l_returnflag"
    )


# ---------------------------------------------------------------------------
@query(
    "ops_skyline_pareto",
    oracle="""
WITH pts AS (
  SELECT o_orderkey, CAST(o_totalprice * 100 AS BIGINT) AS price_cents,
         CAST(o_orderdate AS DATE) - DATE '1990-01-01' AS d
  FROM orders WHERE o_orderkey < 20000
),
ranked AS (
  SELECT *,
         MAX(d) OVER (ORDER BY price_cents DESC, d DESC
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS best_d_above
  FROM pts
)
SELECT o_orderkey, price_cents, CAST(d AS BIGINT) AS day_index
FROM ranked
WHERE best_d_above IS NULL OR d > best_d_above
ORDER BY price_cents DESC, day_index DESC, o_orderkey
""",
)
def ops_skyline_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline (Pareto frontier): orders not dominated on
    (price, recency) — no other order is >= on both and > on one. The
    multi-criteria "best trade-offs" operator (SKYLINE OF clause in
    research SQLs; no engine ships it natively, so it is derived):
    after sorting by price DESC, a point is on the skyline iff its date
    beats the running max date of everything priced above it — the
    classic sort-filter-skyline algorithm as ONE window, no self-join
    (the naive NOT EXISTS dominance test is a quadratic nested loop).

    Ties: sorting (price DESC, d DESC) makes the running max include
    equal-price rows seen earlier, so among equal-price points only the
    max-date one survives — strict dominance semantics. Scale: one
    global sort (range-partitioned at 100 TB); the window's running max
    is O(1) memory per partition with the standard parallel
    prefix-merge.
    """
    t = Tables(spark, sf_dir)
    pts = t.orders.where(F.col("o_orderkey") < 20000).select(
        "o_orderkey",
        (F.col("o_totalprice") * 100).cast("bigint").alias("price_cents"),
        F.datediff(
            F.col("o_orderdate").cast("date"), F.lit("1990-01-01").cast("date")
        ).alias("d"),
    )
    w = (
        Window.orderBy(F.desc("price_cents"), F.desc("d"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    # single unpartitioned window: bounded here (20k rows after the
    # pushdown filter); at scale the skyline runs per partition key or
    # via the range-partitioned prefix-merge noted in the docstring
    return (
        pts.withColumn("best_d_above", F.max("d").over(w))
        .where(F.col("best_d_above").isNull() | (F.col("d") > F.col("best_d_above")))
        .select(
            "o_orderkey",
            "price_cents",
            F.col("d").cast("bigint").alias("day_index"),
        )
        .orderBy(F.desc("price_cents"), F.desc("day_index"), "o_orderkey")
    )


# ---------------------------------------------------------------------------
_NOT_IN_SQL = """
WITH probe AS (
  SELECT o_orderkey, o_custkey FROM orders WHERE o_orderkey < 2000
),
keys AS (
  SELECT CASE WHEN c_custkey % 50 = 0 THEN NULL ELSE c_custkey END AS k
  FROM customer WHERE c_custkey < 300
)
SELECT 'not_in' AS variant, CAST(COUNT(*) AS BIGINT) AS n FROM probe
WHERE o_custkey NOT IN (SELECT k FROM keys)
UNION ALL
SELECT 'not_exists', CAST(COUNT(*) AS BIGINT) FROM probe p
WHERE NOT EXISTS (SELECT 1 FROM keys WHERE k = p.o_custkey)
UNION ALL
SELECT 'except_keys', CAST(COUNT(*) AS BIGINT) FROM (
  SELECT o_custkey FROM probe
  EXCEPT
  SELECT k FROM keys
)
ORDER BY variant
"""


@query("ops_not_in_null_semantics", oracle=_NOT_IN_SQL)
def ops_not_in_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The NOT IN null trap, hash-pinned: against a subquery whose result
    CONTAINS A NULL, ``NOT IN`` returns ZERO rows (three-valued logic:
    x <> NULL is UNKNOWN, so the conjunction never reaches TRUE), while
    ``NOT EXISTS`` — the anti-join — returns the intuitive complement,
    and ``EXCEPT`` a third distinct answer (set semantics, NULL-safe).
    All three variants run on both engines and must agree exactly — the
    classic migration-breaking semantics difference pinned under the
    hash gate (the reference's decorrelation layer handles the same
    null-aware anti-join, q16's NOT IN path).

    Scale: null-aware anti-join is the expensive plan shape (Spark must
    broadcast-null-check); the query keeps the subquery bounded the way
    production rewrites should.
    """
    t = Tables(spark, sf_dir)
    return spark.sql(
        _NOT_IN_SQL.replace(
            "WITH ", "WITH orders AS (SELECT * FROM {o}), customer AS (SELECT * FROM {c}), ", 1
        ),
        o=t.orders,
        c=t.customer,
    )


# ---------------------------------------------------------------------------
@query(
    "ops_interval_bucket_join",
    oracle="""
WITH iv AS (
  SELECT n_nationkey AS iv_id,
         n_nationkey * 1800 AS lo_cents,
         n_nationkey * 1800 + 4500 AS hi_cents
  FROM nation
),
pts AS (
  SELECT user_id, CAST(round(value * 100) AS BIGINT) AS v_cents FROM events
)
SELECT iv.iv_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(pts.v_cents) AS BIGINT) AS sum_cents,
       CAST(COUNT(DISTINCT pts.user_id) AS BIGINT) AS n_users
FROM iv JOIN pts
  ON pts.v_cents >= iv.lo_cents AND pts.v_cents < iv.hi_cents
GROUP BY iv.iv_id
ORDER BY iv.iv_id
""",
)
def ops_interval_bucket_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval (range) join as a BUCKETED EQUI-JOIN — the 100 TB shape.

    Point-in-interval joins (IP->geo lookup, value banding, time-range
    enrichment; the reference plans these as a join filter over a hash
    join, /root/reference/datafusion §physical-plan joins) degenerate to
    BroadcastNestedLoopJoin when written as a raw inequality join. The
    scale-correct plan discretizes the domain into fixed-width buckets:
    each interval EXPLODES to one row per bucket it covers, each point
    maps to exactly ONE bucket, and the join becomes a plain shuffled
    equi-join on the bucket id followed by the residual range predicate.
    Both sides can be arbitrarily large — no broadcast, no O(N*M) loop;
    the only tuning knob is bucket width vs interval-duplication factor
    (here width 2000 cents vs interval span 4500 => <=4 rows per
    interval). All arithmetic is integer cents so bucket assignment is
    bit-identical in both engines; the oracle states the same join as
    the naive inequality form, proving the bucketed rewrite's semantics.
    """
    t = Tables(spark, sf_dir)
    width = 2000  # bucket width in cents
    iv = (
        t.nation.select(
            F.col("n_nationkey").alias("iv_id"),
            (F.col("n_nationkey") * 1800).cast("long").alias("lo_cents"),
            (F.col("n_nationkey") * 1800 + 4500).cast("long").alias("hi_cents"),
        )
        .withColumn(
            "bucket",
            F.explode(
                F.sequence(
                    F.expr(f"lo_cents DIV {width}"), F.expr(f"hi_cents DIV {width}")
                )
            ),
        )
    )
    pts = t.events.select(
        "user_id",
        F.round(F.col("value") * 100).cast("long").alias("v_cents"),
    ).withColumn("bucket", F.expr(f"v_cents DIV {width}"))
    joined = iv.join(pts, "bucket").where(
        (F.col("v_cents") >= F.col("lo_cents")) & (F.col("v_cents") < F.col("hi_cents"))
    )
    return (
        joined.groupBy("iv_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("v_cents").alias("sum_cents"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .orderBy("iv_id")
    )
