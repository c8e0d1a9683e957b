"""TPC-DS-shaped decision-support queries — the last open SURVEY.md §5
"optional stretch" item (the reference ships TPC-H + db-benchmark; SSB
landed in r4; this module adds the TPC-DS plan shapes those two suites do
NOT exercise, adapted onto the driver's TPC-H-ish testdata the same way
operators/ssb.py adapts SSB).

Mapping (documented once, used by every query):
  item            -> part       (category = p_type, brand = p_brand)
  store_sales     -> lineitem joined to orders (sale date = o_orderdate)
  returns         -> lineitem rows with l_returnflag = 'R'
  two channels    -> l_linestatus 'O' vs 'F' (the online/offline analog)
  household/cust  -> customer

Each query keeps the canonical TPC-DS query's SIGNATURE SHAPE — that is
what earns it a slot next to TPC-H/SSB in the regression net:
  q3   dim-filtered fact agg by (year, brand)
  q4   year-over-year customer spend ratio vs the global ratio
  q34  group-count HAVING band, joined back to the dimension
  q36  ROLLUP + GROUPING() lochierarchy + rank within parent
  q51  two-channel cumulative series compared after a full outer align
  q59  week-over-week self-join of weekly aggregates across years
  q65  per-brand revenue against the per-category maximum
  q88  multi-band single-scan count pivot (TPC-DS spells this as 8
       scalar subqueries = 8 scans; the Spark-first design collapses it
       to ONE conditional-aggregation pass — same result, 1/8 the I/O)
  q89  monthly deviation from the yearly mean, ranked
  q93  net revenue after subtracting returned lines
r6 widening (shapes the first fifteen still missed):
  q1   agg-of-agg threshold (customer returns vs 1.2x group average)
  q5   multi-channel sales/returns netting rolled up to channel totals
  q6   dimension filtered by its own category average, semijoined to fact
  q23  double derived-set semijoin (frequent items x best customers)
  q31  quarter-over-quarter growth compared BETWEEN channels, self-join
  q38  three-way INTERSECT of behavioral customer sets
  q54  histogram of an aggregate (spend bands of customer totals)
  q66  wide 12-month calendar pivot in one conditional-agg pass
  q67  top-k rank across ALL levels of a deep rollup within category
  q87  EXCEPT chain (open-channel-only, never-returning customers)
r7 widening (the windowed-series shapes the 25 still missed):
  q47  monthly deviation from the multi-month mean with lag/lead
       neighbors resolved over the FULL series, then year-filtered
  q57  same series windows at a different grain + per-group top-k rank
       over the deviation (WindowGroupLimit shape)
r7 session-2 widening:
  q44  best AND worst items: two opposite-direction top-10 rankings of
       one per-item aggregate joined positionally on rank (spelled as
       two TakeOrderedAndProject heaps, not global rank windows)
  q70  rollup restricted to top geographies where "top" is itself a
       windowed rank over an aggregate; SUM decomposability collapses
       TPC-DS's two fact passes to one (plan-gated single scan)
r8 widening (VERDICT r7 #7 — the join-chain families the 29 missed):
  q73  q34's cohort sibling built on the line grain (HAVING band above
       the fact-fact join, not a single-table scan)
  q64  5-join snowflake chain (orders/part/supplier->nation->region)
       aggregated then SELF-JOINED across two years with the spec's
       cnt2 <= cnt1 condition — one persisted fact pass, never two
  q29  bought -> returned -> re-bought fact-to-fact chain on the
       (customer, part) compound key (the q17/q25/q29 family)
  q78  anti-join return exclusion (orders with any returned line drop
       wholesale) + both channels from ONE conditional-agg pass
r9 widening (VERDICT r8 #7 — the EXISTS families the 35 still missed):
  q95  multi-EXISTS same-fact reachability: nested EXISTS correlating
       the fact to ITSELF (order shipped from >1 supplier) AND a second
       EXISTS on the returns channel — both collapse to one order-grain
       aggregation pass (plan-gated single fact scan)
  q10  OR-of-EXISTS customer probe (q10/q69 class; q35 covers the AND
       shape): the OR branches union into one qualifying key set before
       a single semi-join — sequential semi-joins would compute AND
r9 session-2 widening (the four families the 37 still missed):
  q94  q95's anti sibling: nested same-fact EXISTS AND **NOT** EXISTS
       returns — the negated flag rides the same one-pass order-grain
       aggregate, no anti-join
  q92  correlated scalar-aggregate threshold (q92/q32): price > 1.3x
       the part's own window average — decorrelated to a part-grain
       (sum, count) join-back with the 1.3x compare on cleared
       denominators in exact int64
  q99  latency-band pivot (q99/q50): date-diff bucket ladder counted
       per (channel, year) in ONE conditional-agg pass — the
       date-arithmetic band family q88/q66's value bands don't touch
  q13  AND-of-ORs demographic band filter: disjunctions spanning both
       join sides (can't push below the joins), exact-decimal average
  q41  dim-only correlated COUNT(*)>0 (= EXISTS) self-probe on part —
       no fact table; decorrelates to a broadcast brand semi-join
  q76  multi-channel UNION report: three branches filtered on
       DIFFERENT columns, literal channel tags, one grouped agg pair
  q90  am/pm scalar-divide on the EVENTS table (time-of-day axis):
       both scalar subqueries collapse into one conditional-agg pass
  q72  the spec's date-lag trap (d3 > d1 + 5) spelled as a post-equi-
       join filter inside one agg pass — never a range join
  q39  per-(brand, month) quantity coefficient of variation with the
       consecutive-month volatility self-join (exact int64 moments,
       one shared IEEE chain for the CoV)

Exactness contract: every revenue is the scaled-integer
``rev6 = round(l_extendedprice*100) * (10000 - round(l_discount*10000))``
(dollars x 1e6 as BIGINT — both engines round the 2-dp/4-dp doubles to
the same integers), so sums, ratios (x1e6 integer div) and ranks are
bit-identical with no float anywhere. At true 100 TB row counts a
BIGINT x1e6 revenue sum approaches int64 range — production would keep
the same dataflow on DECIMAL(38,6); the testdata stays ~1e15.

Scale posture: part scales linearly with SF (SF*200k rows, same class as
customer) so part-keyed relations carry NO broadcast hint — AQE broadcasts
them at small SF and shuffles at 100 TB (the tpch.py house rule; only
nation, 1-row scalars, and bounded-vocabulary grains like p_type/p_brand/
week profiles keep explicit ``F.broadcast``). Every fact aggregation is a
partial-agg shuffle on its group keys; window partitions are bounded
(years, weeks, categories); no query materializes more than (groups)
rows after its first aggregate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from datafusion_ballista_dhruvil_spark.operators.registry import query
from datafusion_ballista_dhruvil_spark.operators.scale import cached, top_k
from datafusion_ballista_dhruvil_spark.session import Tables

#: scaled-integer revenue: dollars x 1e6 as BIGINT (see module docstring)
_REV6 = (
    "CAST(round(l_extendedprice * 100) AS BIGINT)"
    " * (10000 - CAST(round(l_discount * 10000) AS BIGINT))"
)
#: undiscounted value on the same 1e6 scale (for margins)
_FULL6 = "CAST(round(l_extendedprice * 100) AS BIGINT) * 10000"
_SQL_REV6 = _REV6
_SQL_FULL6 = _FULL6


def _fact(t: Tables) -> DataFrame:
    """lineitem x orders — the store_sales analog (sale date, customer)."""
    return t.lineitem.join(
        t.orders, F.col("l_orderkey") == F.col("o_orderkey")
    )


# --------------------------------------------------------------------------
@query(
    "tpcds_q3",
    oracle=f"""
SELECT CAST(year(o_orderdate) AS INT) AS d_year, p_brand,
       CAST(SUM({_SQL_REV6}) AS BIGINT) AS revenue6
FROM lineitem, orders, part
WHERE l_orderkey = o_orderkey AND l_partkey = p_partkey
  AND p_type = 'PROMO'
GROUP BY d_year, p_brand
ORDER BY d_year, revenue6 DESC, p_brand
""",
)
def tpcds_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q3 shape: date x fact x item with a category filter,
    aggregated by (year, brand), ordered by revenue within year. The
    item filter prunes the fact scan via the join (AQE broadcasts the
    filtered part side at small SF; part scales with SF, so no hint)."""
    t = Tables(spark, sf_dir)
    part = t.part.where(F.col("p_type") == "PROMO").select(
        "p_partkey", "p_brand"
    )
    return (
        _fact(t)
        .join(part, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy(
            F.year("o_orderdate").cast("int").alias("d_year"), "p_brand"
        )
        .agg(F.sum(F.expr(_REV6)).cast("bigint").alias("revenue6"))
        .orderBy("d_year", F.desc("revenue6"), "p_brand")
    )


# --------------------------------------------------------------------------
@query(
    "tpcds_q4",
    oracle="""
WITH spend AS (
  SELECT o_custkey,
         CAST(SUM(CASE WHEN year(o_orderdate) = 1995
              THEN CAST(round(o_totalprice * 100) AS BIGINT) END) AS BIGINT)
           AS s95,
         CAST(SUM(CASE WHEN year(o_orderdate) = 1996
              THEN CAST(round(o_totalprice * 100) AS BIGINT) END) AS BIGINT)
           AS s96
  FROM orders GROUP BY o_custkey
),
g AS (
  SELECT CAST(SUM(s96) AS BIGINT)
           // nullif(CAST(SUM(s95) AS BIGINT) // 1000000, 0) AS gr
  FROM spend WHERE s95 IS NOT NULL AND s96 IS NOT NULL
)
SELECT o_custkey AS custkey, s95 AS spend95_cents, s96 AS spend96_cents,
       s96 * 1000000 // s95 AS ratio_ppm
FROM spend, g
WHERE s95 IS NOT NULL AND s96 IS NOT NULL AND s96 * 1000000 // s95 > gr
ORDER BY ratio_ppm DESC, custkey
LIMIT 20
""",
)
def tpcds_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q4/q11 shape: per-customer year-over-year spend ratio
    compared against the cohort-wide ratio — two-level aggregation with
    a 1-row scalar merge (the house broadcast pattern), then a top-k.
    Conditional aggregation replaces TPC-DS's per-year CTE self-join:
    one fact pass instead of two."""
    t = Tables(spark, sf_dir)
    cents = "CAST(round(o_totalprice * 100) AS BIGINT)"
    spend = (
        t.orders.groupBy("o_custkey")
        .agg(
            F.sum(
                F.expr(
                    f"CASE WHEN year(o_orderdate) = 1995 THEN {cents} END"
                )
            )
            .cast("bigint")
            .alias("s95"),
            F.sum(
                F.expr(
                    f"CASE WHEN year(o_orderdate) = 1996 THEN {cents} END"
                )
            )
            .cast("bigint")
            .alias("s96"),
        )
        .where(F.col("s95").isNotNull() & F.col("s96").isNotNull())
    )
    # divide-first: the cohort-wide cents sum * 1e6 would overflow
    # int64 past ~sf1; per-customer ratios stay in the small range
    # nullif guards the degenerate-corpus zero divisor: ANSI Spark
    # ERRORS on div-by-zero where DuckDB yields NULL — nullif makes both
    # engines yield NULL (values identical at every real scale)
    g = spend.agg(
        F.expr("SUM(s96) div nullif(SUM(s95) div 1000000, 0)").alias("gr")
    )
    return (
        spend.crossJoin(F.broadcast(g))  # 1-row scalar merge
        .withColumn("ratio_ppm", F.expr("s96 * 1000000 div s95"))
        .where(F.col("ratio_ppm") > F.col("gr"))
        .select(
            F.col("o_custkey").alias("custkey"),
            F.col("s95").alias("spend95_cents"),
            F.col("s96").alias("spend96_cents"),
            "ratio_ppm",
        )
        .orderBy(F.desc("ratio_ppm"), "custkey")
        .limit(20)
    )


# --------------------------------------------------------------------------
@query(
    "tpcds_q34",
    oracle="""
WITH cnt AS (
  SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_orders
  FROM orders
  WHERE o_orderpriority IN ('1-URGENT', '2-HIGH', '3-MEDIUM')
    AND o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
    AND o_orderdate <  TIMESTAMP '1999-01-01 00:00:00'
  GROUP BY o_custkey
  HAVING COUNT(*) BETWEEN 8 AND 12
)
SELECT c_custkey, c_name, n_orders
FROM cnt JOIN customer ON o_custkey = c_custkey
ORDER BY n_orders DESC, c_custkey
""",
)
def tpcds_q34(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q34/q73 shape: a group-count HAVING band over the fact
    (households buying 15-20 tickets), joined BACK to the dimension for
    display columns. The band aggregate shrinks the fact to bounded
    customer rows before the dimension join, so the join side that
    broadcasts is the filtered aggregate, not the dimension."""
    t = Tables(spark, sf_dir)
    cnt = (
        t.orders.where(
            F.col("o_orderpriority").isin(
                "1-URGENT", "2-HIGH", "3-MEDIUM"
            )
            & (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1999-01-01").cast("timestamp"))
        )
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_orders"))
        .where(F.col("n_orders").between(8, 12))
    )
    return (
        t.customer.join(cnt, F.col("o_custkey") == F.col("c_custkey"))
        .select("c_custkey", "c_name", "n_orders")
        .orderBy(F.desc("n_orders"), "c_custkey")
    )


# --------------------------------------------------------------------------
@query(
    "tpcds_q36",
    oracle=f"""
WITH agg AS (
  SELECT p_type, p_brand,
         CAST(SUM({_SQL_REV6}) AS BIGINT) AS r6,
         CAST(SUM({_SQL_FULL6}) AS BIGINT) AS f6,
         CAST(grouping(p_type) + grouping(p_brand) AS INT) AS lochierarchy,
         grouping(p_brand) AS gb
  FROM lineitem JOIN part ON l_partkey = p_partkey
  GROUP BY ROLLUP(p_type, p_brand)
)
SELECT p_type, p_brand,
       r6 // nullif(f6 // 1000000, 0) AS margin_ppm,
       lochierarchy,
       CAST(rank() OVER (
         PARTITION BY lochierarchy, CASE WHEN gb = 0 THEN p_type END
         ORDER BY r6 // nullif(f6 // 1000000, 0) NULLS LAST,
                  COALESCE(p_type, ''), COALESCE(p_brand, '')
       ) AS INT) AS rank_within_parent
FROM agg
ORDER BY lochierarchy DESC, p_type NULLS FIRST, rank_within_parent
""",
)
def tpcds_q36(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q36 shape — the one no TPC-H/SSB query has: gross margin
    over ROLLUP(category, brand) with the GROUPING()-derived
    ``lochierarchy`` level indicator and rank() WITHIN PARENT (partition
    by level + parent category). Margin is the exact integer ppm of
    discounted over undiscounted revenue; the rank's ORDER BY carries
    full tiebreaks so both engines assign identical ranks."""
    t = Tables(spark, sf_dir)
    part = t.part.select("p_partkey", "p_type", "p_brand")
    agg = (
        t.lineitem.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .rollup("p_type", "p_brand")
        .agg(
            F.sum(F.expr(_REV6)).alias("r6"),
            F.sum(F.expr(_FULL6)).alias("f6"),
            (F.grouping("p_type") + F.grouping("p_brand"))
            .cast("int")
            .alias("lochierarchy"),
            F.grouping("p_brand").alias("_gb"),
        )
        .select(
            "p_type",
            "p_brand",
            # divide-first ppm: r6 * 1e6 overflows int64 once the fact
            # sum passes ~9e12 micro-dollars; f6 div 1e6 keeps every
            # intermediate in range at any corpus scale (mirrored oracle)
            F.expr("r6 div nullif(f6 div 1000000, 0)").alias(
                "margin_ppm"
            ),
            "lochierarchy",
            F.when(F.col("_gb") == 0, F.col("p_type")).alias("_parent"),
        )
    )
    # NULLS LAST explicitly on BOTH sides: Spark's ASC default ranks NULL
    # margins first while DuckDB's ranks them last, so a partition mixing
    # NULL and non-NULL margins (the degenerate sub-$1-revenue case the
    # nullif guard admits) would otherwise diverge silently.
    w = Window.partitionBy("lochierarchy", "_parent").orderBy(
        F.asc_nulls_last("margin_ppm"),
        F.coalesce(F.col("p_type"), F.lit("")),
        F.coalesce(F.col("p_brand"), F.lit("")),
    )
    return (
        agg.withColumn("rank_within_parent", F.rank().over(w).cast("int"))
        .select(
            "p_type", "p_brand", "margin_ppm", "lochierarchy",
            "rank_within_parent",
        )
        .orderBy(
            F.desc("lochierarchy"),
            F.asc_nulls_first("p_type"),
            "rank_within_parent",
        )
    )


# --------------------------------------------------------------------------
@query(
    "tpcds_q51",
    oracle=f"""
WITH monthly AS (
  SELECT CAST(year(o_orderdate) * 100 + month(o_orderdate) AS INT) AS ym,
         CAST(SUM(CASE WHEN l_linestatus = 'O' THEN {_SQL_REV6} ELSE 0 END)
           AS BIGINT) AS rev_o,
         CAST(SUM(CASE WHEN l_linestatus = 'F' THEN {_SQL_REV6} ELSE 0 END)
           AS BIGINT) AS rev_f
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  GROUP BY ym
),
cum AS (
  SELECT ym,
         CAST(SUM(rev_o) OVER (ORDER BY ym
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum_o,
         CAST(SUM(rev_f) OVER (ORDER BY ym
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum_f
  FROM monthly
)
SELECT ym, cum_o, cum_f FROM cum WHERE cum_o > cum_f ORDER BY ym
""",
)
def tpcds_q51(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q51 shape: two channels' cumulative revenue series aligned
    on the time axis, emitting the periods where one channel's running
    total leads the other. TPC-DS full-outer-joins two windowed CTEs;
    with both channels in one fact a single conditional aggregate feeds
    both windows — one shuffle to month grain (bounded: ~82 months),
    then a single-partition window over months only."""
    t = Tables(spark, sf_dir)
    monthly = (
        _fact(t)
        .groupBy(
            (F.year("o_orderdate") * 100 + F.month("o_orderdate"))
            .cast("int")
            .alias("ym")
        )
        .agg(
            F.sum(
                F.expr(f"CASE WHEN l_linestatus = 'O' THEN {_REV6} ELSE 0 END")
            )
            .cast("bigint")
            .alias("rev_o"),
            F.sum(
                F.expr(f"CASE WHEN l_linestatus = 'F' THEN {_REV6} ELSE 0 END")
            )
            .cast("bigint")
            .alias("rev_f"),
        )
    )
    w = Window.orderBy("ym").rowsBetween(Window.unboundedPreceding, 0)
    return (
        monthly.select(
            "ym",
            F.sum("rev_o").over(w).cast("bigint").alias("cum_o"),
            F.sum("rev_f").over(w).cast("bigint").alias("cum_f"),
        )
        .where(F.col("cum_o") > F.col("cum_f"))
        .orderBy("ym")
    )


# --------------------------------------------------------------------------
@query(
    "tpcds_q59",
    oracle=f"""
WITH weekly AS (
  SELECT CAST(year(o_orderdate) AS INT) AS y,
         CAST(week(o_orderdate) AS INT) AS w,
         CAST(SUM({_SQL_REV6}) AS BIGINT) AS rev6
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE year(o_orderdate) IN (1995, 1996)
  GROUP BY y, w
)
SELECT a.w AS wk, a.rev6 AS rev95_6, b.rev6 AS rev96_6,
       b.rev6 // nullif(a.rev6 // 1000000, 0) AS wow_ratio_ppm
FROM weekly a JOIN weekly b ON a.w = b.w AND a.y = 1995 AND b.y = 1996
ORDER BY wk
""",
)
def tpcds_q59(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q59 shape: weekly revenue aggregated once, then
    self-joined across two years on week number for the week-over-week
    ratio. The self-join input is the bounded weekly aggregate (<= 53
    rows per year), so it broadcasts; week numbers use the ISO week
    both engines share (parity proven in ops_calendar_intervals)."""
    t = Tables(spark, sf_dir)
    weekly = (
        _fact(t)
        .where(F.year("o_orderdate").isin(1995, 1996))
        .groupBy(
            F.year("o_orderdate").cast("int").alias("y"),
            F.weekofyear("o_orderdate").cast("int").alias("w"),
        )
        .agg(F.sum(F.expr(_REV6)).cast("bigint").alias("rev6"))
    )
    a = weekly.where(F.col("y") == 1995).select(
        F.col("w").alias("wk"), F.col("rev6").alias("rev95_6")
    )
    b = weekly.where(F.col("y") == 1996).select(
        F.col("w").alias("wk"), F.col("rev6").alias("rev96_6")
    )
    return (
        a.join(F.broadcast(b), "wk")
        .select(
            "wk",
            "rev95_6",
            "rev96_6",
            # divide-first (overflow-safe at any scale; oracle mirrors)
            F.expr("rev96_6 div nullif(rev95_6 div 1000000, 0)").alias(
                "wow_ratio_ppm"
            ),
        )
        .orderBy("wk")
    )


# --------------------------------------------------------------------------
@query(
    "tpcds_q65",
    oracle=f"""
WITH brand_rev AS (
  SELECT p_type, p_brand, CAST(SUM({_SQL_REV6}) AS BIGINT) AS rev6
  FROM lineitem JOIN part ON l_partkey = p_partkey
  GROUP BY p_type, p_brand
),
cat_max AS (
  SELECT p_type, CAST(MAX(rev6) AS BIGINT) AS max6
  FROM brand_rev GROUP BY p_type
)
SELECT b.p_type, b.p_brand, b.rev6,
       b.rev6 // nullif(m.max6 // 1000000, 0) AS share_of_max_ppm
FROM brand_rev b JOIN cat_max m ON b.p_type = m.p_type
WHERE b.rev6 * 10 <= m.max6 * 9
ORDER BY b.p_type, b.p_brand
""",
)
def tpcds_q65(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q65 shape: per-brand revenue compared against the maximum
    brand revenue within its category (q65 uses 10% of average; here
    <= 90% of the max keeps the testdata's near-uniform brands
    non-vacuous). Aggregate-of-aggregate join: the category max is
    computed from the already-bounded brand aggregate, never from the
    fact — integer cross-multiplication avoids division entirely in
    the filter."""
    t = Tables(spark, sf_dir)
    part = t.part.select("p_partkey", "p_type", "p_brand")
    brand_rev = (
        t.lineitem.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_type", "p_brand")
        .agg(F.sum(F.expr(_REV6)).cast("bigint").alias("rev6"))
    )
    cat_max = brand_rev.groupBy("p_type").agg(
        F.max("rev6").cast("bigint").alias("max6")
    )
    return (
        brand_rev.join(F.broadcast(cat_max), "p_type")
        .where(F.col("rev6") * 10 <= F.col("max6") * 9)
        .select(
            "p_type",
            "p_brand",
            "rev6",
            # divide-first (overflow-safe at any scale; oracle mirrors)
            F.expr("rev6 div nullif(max6 div 1000000, 0)").alias(
                "share_of_max_ppm"
            ),
        )
        .orderBy("p_type", "p_brand")
    )


# --------------------------------------------------------------------------
@query(
    "tpcds_q88",
    oracle="""
SELECT
  CAST(COUNT(*) FILTER (l_quantity < 10 AND l_discount <= 0.05)
    AS BIGINT) AS b1,
  CAST(COUNT(*) FILTER (l_quantity < 10 AND l_discount > 0.05)
    AS BIGINT) AS b2,
  CAST(COUNT(*) FILTER (l_quantity >= 10 AND l_quantity < 20
    AND l_discount <= 0.05) AS BIGINT) AS b3,
  CAST(COUNT(*) FILTER (l_quantity >= 10 AND l_quantity < 20
    AND l_discount > 0.05) AS BIGINT) AS b4,
  CAST(COUNT(*) FILTER (l_quantity >= 20 AND l_quantity < 35
    AND l_discount <= 0.05) AS BIGINT) AS b5,
  CAST(COUNT(*) FILTER (l_quantity >= 20 AND l_quantity < 35
    AND l_discount > 0.05) AS BIGINT) AS b6,
  CAST(COUNT(*) FILTER (l_quantity >= 35 AND l_discount <= 0.05)
    AS BIGINT) AS b7,
  CAST(COUNT(*) FILTER (l_quantity >= 35 AND l_discount > 0.05)
    AS BIGINT) AS b8
FROM lineitem
""",
)
def tpcds_q88(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q88 shape: eight disjoint-band counts of the fact in one
    result row. The spec spells this as eight scalar subqueries — eight
    full scans; the Spark-first design is ONE conditional-aggregation
    pass (map-side partials, a single 8-counter reduce), the canonical
    scan-collapse rewrite and an 8x I/O saving at 100 TB."""
    t = Tables(spark, sf_dir)
    bands = [
        ("b1", "l_quantity < 10 AND l_discount <= 0.05"),
        ("b2", "l_quantity < 10 AND l_discount > 0.05"),
        ("b3", "l_quantity >= 10 AND l_quantity < 20 AND l_discount <= 0.05"),
        ("b4", "l_quantity >= 10 AND l_quantity < 20 AND l_discount > 0.05"),
        ("b5", "l_quantity >= 20 AND l_quantity < 35 AND l_discount <= 0.05"),
        ("b6", "l_quantity >= 20 AND l_quantity < 35 AND l_discount > 0.05"),
        ("b7", "l_quantity >= 35 AND l_discount <= 0.05"),
        ("b8", "l_quantity >= 35 AND l_discount > 0.05"),
    ]
    return t.lineitem.agg(
        *[
            F.count(F.when(F.expr(cond), 1)).cast("bigint").alias(name)
            for name, cond in bands
        ]
    )


# --------------------------------------------------------------------------
@query(
    "tpcds_q89",
    oracle=f"""
WITH monthly AS (
  SELECT p_brand, CAST(year(o_orderdate) AS INT) AS y,
         CAST(month(o_orderdate) AS INT) AS m,
         CAST(SUM({_SQL_REV6}) AS BIGINT) AS rev6
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN part ON l_partkey = p_partkey
  WHERE year(o_orderdate) = 1996
  GROUP BY p_brand, y, m
),
win AS (
  SELECT p_brand, y, m, rev6,
         CAST(SUM(rev6) OVER (PARTITION BY p_brand, y) AS BIGINT) AS year6
  FROM monthly
)
SELECT p_brand, y, m, rev6,
       abs(rev6 * 12 - year6) * 1000 // year6 AS dev_milli
FROM win
ORDER BY dev_milli DESC, p_brand, m
LIMIT 20
""",
)
def tpcds_q89(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q89 shape: monthly sales vs the yearly mean per brand,
    ranked by deviation. The yearly mean is a window sum over the
    bounded (brand, month) aggregate — never a second fact pass; the
    deviation is exact integer milli-units of the yearly total
    (|rev*12 - yearsum| * 1000 div yearsum), and the top-k carries a
    total-order tiebreak so both engines select the same rows."""
    t = Tables(spark, sf_dir)
    part = t.part.select("p_partkey", "p_brand")
    monthly = (
        _fact(t)
        .where(F.year("o_orderdate") == 1996)
        .join(part, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy(
            "p_brand",
            F.year("o_orderdate").cast("int").alias("y"),
            F.month("o_orderdate").cast("int").alias("m"),
        )
        .agg(F.sum(F.expr(_REV6)).cast("bigint").alias("rev6"))
    )
    wy = Window.partitionBy("p_brand", "y")
    return (
        monthly.select(
            "p_brand",
            "y",
            "m",
            "rev6",
            F.sum("rev6").over(wy).cast("bigint").alias("year6"),
        )
        .select(
            "p_brand",
            "y",
            "m",
            "rev6",
            F.expr("abs(rev6 * 12 - year6) * 1000 div year6").alias(
                "dev_milli"
            ),
        )
        .orderBy(F.desc("dev_milli"), "p_brand", "m")
        .limit(20)
    )


# --------------------------------------------------------------------------
@query(
    "tpcds_q93",
    oracle=f"""
SELECT o_custkey AS custkey,
       CAST(SUM({_SQL_REV6}) AS BIGINT) AS gross6,
       CAST(SUM(CASE WHEN l_returnflag = 'R' THEN {_SQL_REV6} ELSE 0 END)
         AS BIGINT) AS returned6,
       CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 0 ELSE {_SQL_REV6} END)
         AS BIGINT) AS net6
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_custkey
ORDER BY net6 DESC, custkey
LIMIT 20
""",
)
def tpcds_q93(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q93 shape: net customer revenue after subtracting returned
    lines. TPC-DS left-joins store_returns to store_sales; with returns
    flagged in-row (l_returnflag = 'R') the netting is a conditional
    aggregate in the SAME pass as the gross — no second fact, no join,
    identical semantics."""
    t = Tables(spark, sf_dir)
    ret6 = f"CASE WHEN l_returnflag = 'R' THEN {_REV6} ELSE 0 END"
    net6 = f"CASE WHEN l_returnflag = 'R' THEN 0 ELSE {_REV6} END"
    return (
        _fact(t)
        .groupBy(F.col("o_custkey").alias("custkey"))
        .agg(
            F.sum(F.expr(_REV6)).cast("bigint").alias("gross6"),
            F.sum(F.expr(ret6)).cast("bigint").alias("returned6"),
            F.sum(F.expr(net6)).cast("bigint").alias("net6"),
        )
        .orderBy(F.desc("net6"), "custkey")
        .limit(20)
    )


# --------------------------------------------------------------------------
@query(
    "tpcds_q14",
    oracle=f"""
WITH common AS (
  SELECT p_brand FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE l_linestatus = 'O'
  INTERSECT
  SELECT p_brand FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE l_linestatus = 'F'
)
SELECT p_brand, CAST(SUM({_SQL_REV6}) AS BIGINT) AS revenue6,
       CAST(COUNT(*) AS BIGINT) AS n_lines
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_brand IN (SELECT p_brand FROM common)
  AND l_quantity >= 25
GROUP BY p_brand
ORDER BY p_brand
""",
)
def tpcds_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q14 shape (cross-channel INTERSECT): items sold through
    EVERY channel (here: both l_linestatus legs), then aggregate sales of
    only those. The INTERSECT runs over the bounded brand dimension —
    each leg reduces the fact to distinct brands BEFORE the set op, so
    the intersect never sees fact cardinality; the surviving brand list
    broadcasts back as a semi-join filter."""
    t = Tables(spark, sf_dir)
    part = t.part.select("p_partkey", "p_brand")
    li = t.lineitem.join(part, F.col("l_partkey") == F.col("p_partkey"))
    common = (
        li.where(F.col("l_linestatus") == "O")
        .select("p_brand")
        .distinct()
        .intersect(
            li.where(F.col("l_linestatus") == "F")
            .select("p_brand")
            .distinct()
        )
    )
    return (
        li.where(F.col("l_quantity") >= 25)
        .join(F.broadcast(common), "p_brand", "semi")
        .groupBy("p_brand")
        .agg(
            F.sum(F.expr(_REV6)).cast("bigint").alias("revenue6"),
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        )
        .orderBy("p_brand")
    )


# --------------------------------------------------------------------------
@query(
    "tpcds_q35",
    oracle="""
SELECT c_mktsegment,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       CAST(SUM(CASE WHEN has_urgent THEN 1 ELSE 0 END) AS BIGINT)
         AS n_also_urgent
FROM (
  SELECT c.c_custkey, c.c_mktsegment,
         EXISTS (SELECT 1 FROM orders u WHERE u.o_custkey = c.c_custkey
                 AND u.o_orderpriority = '1-URGENT') AS has_urgent
  FROM customer c
  WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                AND year(o.o_orderdate) = 1997)
)
GROUP BY c_mktsegment
ORDER BY c_mktsegment
""",
)
def tpcds_q35(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q35 shape: customers qualified by one EXISTS (bought in
    1997) and profiled by a second, independent EXISTS (ever urgent) —
    the multi-channel-presence probe. Both subqueries decorrelate to
    aggregates on the customer key: the qualifier as a semi-join, the
    profile flag as a left join against the DISTINCT urgent-customer
    set (bounded by customers, not orders) — no correlated re-execution
    anywhere."""
    t = Tables(spark, sf_dir)
    bought_97 = (
        t.orders.where(F.year("o_orderdate") == 1997)
        .select("o_custkey")
        .distinct()
    )
    urgent = (
        t.orders.where(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_custkey").alias("u_custkey"))
        .distinct()
        .withColumn("has_urgent", F.lit(True))
    )
    return (
        t.customer.join(
            bought_97, F.col("c_custkey") == F.col("o_custkey"), "semi"
        )
        .join(
            urgent, F.col("c_custkey") == F.col("u_custkey"), "left"
        )
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_customers"),
            F.sum(
                F.when(F.col("has_urgent"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_also_urgent"),
        )
        .orderBy("c_mktsegment")
    )


# --------------------------------------------------------------------------
@query(
    "tpcds_q49",
    oracle=f"""
WITH rates AS (
  SELECT l_linestatus AS channel, p_brand,
         CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
           AS BIGINT) AS n_ret,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) * 1000000
           // COUNT(*) AS BIGINT) AS ret_ppm
  FROM lineitem JOIN part ON l_partkey = p_partkey
  GROUP BY channel, p_brand
),
ranked AS (
  SELECT channel, p_brand, ret_ppm,
         CAST(rank() OVER (PARTITION BY channel
                           ORDER BY ret_ppm DESC, p_brand) AS INT) AS rnk
  FROM rates WHERE n >= 20
)
SELECT channel, p_brand, ret_ppm, rnk
FROM ranked WHERE rnk <= 5
ORDER BY channel, rnk, p_brand
""",
)
def tpcds_q49(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q49 shape: worst return rates ranked WITHIN each channel,
    the per-channel rankings unioned into one report. TPC-DS runs three
    copies of the subquery (web/catalog/store) and UNIONs; with channels
    in-row, one grouped pass computes every channel's rates and a single
    channel-partitioned rank window replaces the union — same rows, one
    fact scan instead of three."""
    t = Tables(spark, sf_dir)
    part = t.part.select("p_partkey", "p_brand")
    rates = (
        t.lineitem.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy(F.col("l_linestatus").alias("channel"), "p_brand")
        .agg(
            F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0))
            .cast("bigint")
            .alias("n_ret"),
            F.count(F.lit(1)).cast("bigint").alias("n"),
        )
        .where(F.col("n") >= 20)
        .select(
            "channel",
            "p_brand",
            F.expr("n_ret * 1000000 div n").alias("ret_ppm"),
        )
    )
    w = Window.partitionBy("channel").orderBy(
        F.desc("ret_ppm"), F.asc("p_brand")
    )
    return (
        rates.withColumn("rnk", F.rank().over(w).cast("int"))
        .where(F.col("rnk") <= 5)
        .orderBy("channel", "rnk", "p_brand")
    )


# --------------------------------------------------------------------------
@query(
    "tpcds_q75",
    oracle=f"""
WITH yearly AS (
  SELECT p_brand, CAST(year(o_orderdate) AS INT) AS y,
         CAST(SUM(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS qty,
         CAST(SUM({_SQL_REV6}) AS BIGINT) AS rev6
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN part ON l_partkey = p_partkey
  WHERE year(o_orderdate) IN (1995, 1996)
  GROUP BY p_brand, y
)
SELECT a.p_brand, a.qty AS qty95, b.qty AS qty96,
       b.qty - a.qty AS qty_delta,
       b.rev6 - a.rev6 AS rev6_delta
FROM yearly a JOIN yearly b ON a.p_brand = b.p_brand
WHERE a.y = 1995 AND b.y = 1996 AND b.qty < a.qty
ORDER BY qty_delta, a.p_brand
""",
)
def tpcds_q75(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q75 shape: brands whose sales DECLINED year over year,
    with quantity and revenue deltas. The decline filter and deltas come
    from a self-join of the bounded (brand, year) aggregate — TPC-DS
    unions three channels first; the single-fact version keeps the
    signature aggregate-then-self-join plan. Both join sides are the
    same tiny aggregate, so the second leg broadcasts."""
    t = Tables(spark, sf_dir)
    part = t.part.select("p_partkey", "p_brand")
    yearly = (
        _fact(t)
        .where(F.year("o_orderdate").isin(1995, 1996))
        .join(part, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy(
            "p_brand", F.year("o_orderdate").cast("int").alias("y")
        )
        .agg(
            F.sum(F.expr("CAST(round(l_quantity) AS BIGINT)"))
            .cast("bigint")
            .alias("qty"),
            F.sum(F.expr(_REV6)).cast("bigint").alias("rev6"),
        )
    )
    a = yearly.where(F.col("y") == 1995).select(
        "p_brand",
        F.col("qty").alias("qty95"),
        F.col("rev6").alias("rev95_6"),
    )
    b = yearly.where(F.col("y") == 1996).select(
        "p_brand",
        F.col("qty").alias("qty96"),
        F.col("rev6").alias("rev96_6"),
    )
    return (
        a.join(F.broadcast(b), "p_brand")
        .where(F.col("qty96") < F.col("qty95"))
        .select(
            "p_brand",
            "qty95",
            "qty96",
            (F.col("qty96") - F.col("qty95")).alias("qty_delta"),
            (F.col("rev96_6") - F.col("rev95_6")).alias("rev6_delta"),
        )
        .orderBy("qty_delta", "p_brand")
    )


# --------------------------------------------------------------------------
@query(
    "tpcds_q97",
    oracle="""
WITH ch_o AS (
  SELECT DISTINCT o_custkey AS ck FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey WHERE l_linestatus = 'O'
),
ch_f AS (
  SELECT DISTINCT o_custkey AS ck FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey WHERE l_linestatus = 'F'
)
SELECT
  CAST(SUM(CASE WHEN o.ck IS NOT NULL AND f.ck IS NOT NULL
       THEN 1 ELSE 0 END) AS BIGINT) AS both_channels,
  CAST(SUM(CASE WHEN o.ck IS NOT NULL AND f.ck IS NULL
       THEN 1 ELSE 0 END) AS BIGINT) AS only_open,
  CAST(SUM(CASE WHEN o.ck IS NULL AND f.ck IS NOT NULL
       THEN 1 ELSE 0 END) AS BIGINT) AS only_finished
FROM ch_o o FULL OUTER JOIN ch_f f ON o.ck = f.ck
""",
)
def tpcds_q97(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q97 shape: customer overlap between two channels via a
    FULL OUTER join of the per-channel distinct-customer sets, counted
    into both/only-left/only-right buckets — the channel-migration
    report. Each set is deduped to customer grain BEFORE the join, so
    the full outer never exceeds customer cardinality; the three counts
    are one conditional aggregate over the joined null pattern."""
    t = Tables(spark, sf_dir)
    base = _fact(t)
    ch_o = (
        base.where(F.col("l_linestatus") == "O")
        .select(F.col("o_custkey").alias("ck_o"))
        .distinct()
    )
    ch_f = (
        base.where(F.col("l_linestatus") == "F")
        .select(F.col("o_custkey").alias("ck_f"))
        .distinct()
    )
    return (
        ch_o.join(ch_f, F.col("ck_o") == F.col("ck_f"), "full_outer")
        .agg(
            F.sum(
                F.when(
                    F.col("ck_o").isNotNull() & F.col("ck_f").isNotNull(), 1
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("both_channels"),
            F.sum(
                F.when(
                    F.col("ck_o").isNotNull() & F.col("ck_f").isNull(), 1
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("only_open"),
            F.sum(
                F.when(
                    F.col("ck_o").isNull() & F.col("ck_f").isNotNull(), 1
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("only_finished"),
        )
    )


# ==========================================================================
# r6 widening: ten more TPC-DS signature shapes the first fifteen (and
# TPC-H/SSB) do not cover — agg-of-agg thresholds, union-grain rollup
# netting, category-average dimension filters, derived-set semijoins,
# quarter-over-quarter share growth, INTERSECT/EXCEPT chains, histograms
# of aggregates, wide month pivots, and top-k rank over rollup output.
# Same mapping table and scaled-integer exactness contract as above.
# --------------------------------------------------------------------------
@query(
    "tpcds_q1",
    oracle=f"""
WITH ctr AS (
  SELECT c_nationkey AS nk, o_custkey AS ck,
         CAST(SUM(CASE WHEN l_returnflag = 'R' THEN {_SQL_REV6} ELSE 0 END)
           AS BIGINT) AS ret6
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  GROUP BY nk, ck
),
nat AS (
  SELECT nk, CAST(SUM(ret6) AS BIGINT) AS nat_ret6,
         CAST(COUNT(*) AS BIGINT) AS n_cust
  FROM ctr GROUP BY nk
)
SELECT ctr.ck AS custkey, n_name AS nation, ctr.ret6
FROM ctr JOIN nat USING (nk) JOIN nation ON n_nationkey = nk
WHERE ctr.ret6 * 5 * nat.n_cust > 6 * nat.nat_ret6
ORDER BY nation, ret6 DESC, custkey
LIMIT 100
""",
)
def tpcds_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q1 shape: customers whose returned revenue exceeds 1.2x
    the average returned revenue of their group (store in TPC-DS ->
    nation here) — the agg-of-agg threshold signature: a per-customer
    aggregate compared against an aggregate OF that aggregate.

    Exactness: 1.2x avg is the integer cross-multiplication
    ret6 * 5 * n_cust > 6 * sum(ret6) — no division, no float. Testdata
    keeps the product well inside int64 (~1e17); at true 100 TB the same
    dataflow runs on DECIMAL(38,6), per the module contract.

    Scale: per-(nation, customer) partial agg first; the nation-level
    reduce is 25 rows, joined back BROADCAST, as is the nation name dim.
    """
    t = Tables(spark, sf_dir)
    ret6 = f"CASE WHEN l_returnflag = 'R' THEN {_REV6} ELSE 0 END"
    ctr = (
        _fact(t)
        .join(
            # customer scales with SF — no hint; AQE broadcasts at small
            # SF and shuffles at 100 TB (the tpch.py house rule)
            t.customer.select("c_custkey", "c_nationkey"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy(
            F.col("c_nationkey").alias("nk"),
            F.col("o_custkey").alias("ck"),
        )
        .agg(F.sum(F.expr(ret6)).cast("bigint").alias("ret6"))
    )
    nat = ctr.groupBy("nk").agg(
        F.sum("ret6").cast("bigint").alias("nat_ret6"),
        F.count(F.lit(1)).cast("bigint").alias("n_cust"),
    )
    return (
        ctr.join(F.broadcast(nat), "nk")
        .where(
            F.col("ret6") * F.lit(5) * F.col("n_cust")
            > F.lit(6) * F.col("nat_ret6")
        )
        .join(
            F.broadcast(t.nation.select("n_nationkey", "n_name")),
            F.col("nk") == F.col("n_nationkey"),
        )
        .select(
            F.col("ck").alias("custkey"),
            F.col("n_name").alias("nation"),
            "ret6",
        )
        .orderBy("nation", F.desc("ret6"), "custkey")
        .limit(100)
    )


# --------------------------------------------------------------------------
@query(
    "tpcds_q5",
    oracle=f"""
WITH per AS (
  SELECT l_linestatus AS channel, p_brand AS brand,
         CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 0 ELSE {_SQL_REV6} END)
           AS BIGINT) AS sales6,
         CAST(SUM(CASE WHEN l_returnflag = 'R' THEN {_SQL_REV6} ELSE 0 END)
           AS BIGINT) AS returns6
  FROM lineitem JOIN part ON l_partkey = p_partkey
  GROUP BY ROLLUP(l_linestatus, p_brand)
)
SELECT channel, brand, sales6, returns6, sales6 - returns6 AS net6
FROM per
ORDER BY channel NULLS FIRST, brand NULLS FIRST
""",
)
def tpcds_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q5 shape: the multi-channel sales/returns netting report
    rolled up from (channel, brand) grain to channel totals and a grand
    total. TPC-DS unions three channel fact tables before aggregating;
    here both channels live in one fact (l_linestatus) and returns are
    flagged in-row, so the union collapses to ONE scan feeding one
    grouping-set aggregate — same report, a third of the I/O.

    NULLS FIRST is explicit on both engines (rollup emits NULL group
    keys; Spark ASC defaults null-first, DuckDB null-last)."""
    t = Tables(spark, sf_dir)
    part = t.part.select("p_partkey", "p_brand")
    sales6 = f"CASE WHEN l_returnflag = 'R' THEN 0 ELSE {_REV6} END"
    ret6 = f"CASE WHEN l_returnflag = 'R' THEN {_REV6} ELSE 0 END"
    return (
        t.lineitem.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .rollup(
            F.col("l_linestatus").alias("channel"),
            F.col("p_brand").alias("brand"),
        )
        .agg(
            F.sum(F.expr(sales6)).cast("bigint").alias("sales6"),
            F.sum(F.expr(ret6)).cast("bigint").alias("returns6"),
        )
        .select(
            "channel",
            "brand",
            "sales6",
            "returns6",
            (F.col("sales6") - F.col("returns6")).alias("net6"),
        )
        .orderBy(
            F.asc_nulls_first("channel"), F.asc_nulls_first("brand")
        )
    )


# --------------------------------------------------------------------------
@query(
    "tpcds_q6",
    oracle="""
WITH pc AS (
  SELECT p_partkey, p_type,
         CAST(round(p_retailprice * 100) AS BIGINT) AS price_c
  FROM part
),
cat AS (
  SELECT p_type, CAST(SUM(price_c) AS BIGINT) AS sum_c,
         CAST(COUNT(*) AS BIGINT) AS n_parts
  FROM pc GROUP BY p_type
),
pricey AS (
  SELECT p_partkey FROM pc JOIN cat USING (p_type)
  WHERE pc.price_c * 20 * cat.n_parts > 21 * cat.sum_c
)
SELECT n_name AS nation, CAST(COUNT(*) AS BIGINT) AS n_lines
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_partkey IN (SELECT p_partkey FROM pricey)
GROUP BY n_name
HAVING COUNT(*) >= 10
ORDER BY n_lines DESC, nation
""",
)
def tpcds_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q6 shape: customer geographies buying items priced above
    1.05x their category's average — a dimension filtered by an
    aggregate OVER the dimension (category-average subquery), semijoined
    into the fact, then a HAVING-banded geo count. (TPC-DS uses 1.2x;
    this corpus's retail prices are uniform on [900, 1000], so 1.2x avg
    selects nothing — 1.05x lands near p95 and exercises both the filter
    and the HAVING band.)

    Exactness: the 1.05x category-average test is the integer
    cross-multiplication price_c * 20 * n_parts > 21 * sum_c on cent
    prices — no division, no float.

    Scale: the category average is dimension-sized work (never touches
    the fact); the pricey-part set is part-derived (scales with SF) so
    it enters the LEFT SEMI un-hinted — AQE broadcasts it at small SF;
    customer/nation joins follow house dim rules. The cat profile IS
    broadcast: p_type is a fixed ~150-value vocabulary at every SF."""
    t = Tables(spark, sf_dir)
    pc = t.part.select(
        "p_partkey",
        "p_type",
        F.round(F.col("p_retailprice") * 100)
        .cast("bigint")
        .alias("price_c"),
    )
    cat = pc.groupBy("p_type").agg(
        F.sum("price_c").cast("bigint").alias("sum_c"),
        F.count(F.lit(1)).cast("bigint").alias("n_parts"),
    )
    pricey = (
        pc.join(F.broadcast(cat), "p_type")
        .where(
            F.col("price_c") * F.lit(20) * F.col("n_parts")
            > F.lit(21) * F.col("sum_c")
        )
        .select("p_partkey")
    )
    return (
        _fact(t)
        .join(
            # pricey is part-derived (scales with SF) — no hint, AQE
            # decides (same treatment as customer-derived sets)
            pricey,
            F.col("l_partkey") == F.col("p_partkey"),
            "left_semi",
        )
        .join(
            # customer scales with SF — no hint; AQE broadcasts at small
            # SF and shuffles at 100 TB (the tpch.py house rule)
            t.customer.select("c_custkey", "c_nationkey"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(t.nation.select("n_nationkey", "n_name")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .groupBy(F.col("n_name").alias("nation"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_lines"))
        .where(F.col("n_lines") >= 10)
        .orderBy(F.desc("n_lines"), "nation")
    )


# --------------------------------------------------------------------------
@query(
    "tpcds_q23",
    oracle=f"""
WITH freq AS (
  SELECT l_partkey FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE year(o_orderdate) = 1995
  GROUP BY l_partkey HAVING COUNT(DISTINCT o_orderkey) >= 5
),
spend AS (
  SELECT o_custkey,
         CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sp
  FROM orders WHERE year(o_orderdate) IN (1995, 1996) GROUP BY o_custkey
),
mx AS (SELECT CAST(MAX(sp) AS BIGINT) AS mx FROM spend),
best AS (SELECT o_custkey FROM spend, mx WHERE sp * 2 > mx)
SELECT CAST(COUNT(*) AS BIGINT) AS n_lines,
       CAST(SUM({_SQL_REV6}) AS BIGINT) AS total6
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE year(o_orderdate) = 1996
  AND l_partkey IN (SELECT l_partkey FROM freq)
  AND o_custkey IN (SELECT o_custkey FROM best)
""",
)
def tpcds_q23(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q23 shape: revenue in a later period restricted to TWO
    derived sets — frequently-sold items (>= 5 distinct orders in the
    base year) and best customers (spend > half the max customer spend
    across the two years). The signature is the double semijoin of a
    fact against sets that are themselves aggregates of the fact.

    Exactness: the best-customer threshold is sp * 2 > max(sp) — integer
    only; the max is a 1-row scalar merge (house broadcast pattern).

    Scale: both derived sets reduce to keys before touching the probe
    fact (freq is part-grain, best is customer-grain); both grains scale
    with SF, so both LEFT SEMI joins are un-hinted (AQE broadcasts at
    small SF, shuffles at 100 TB); one probe pass, one 1-row reduce."""
    t = Tables(spark, sf_dir)
    yr = F.year("o_orderdate")
    freq = (
        _fact(t)
        .where(yr == 1995)
        .groupBy("l_partkey")
        .agg(F.countDistinct("o_orderkey").alias("n_ord"))
        .where(F.col("n_ord") >= 5)
        .select("l_partkey")
    )
    spend = (
        t.orders.where(yr.isin(1995, 1996))
        .groupBy("o_custkey")
        .agg(
            F.sum(F.expr("CAST(round(o_totalprice * 100) AS BIGINT)"))
            .cast("bigint")
            .alias("sp")
        )
    )
    mx = spend.agg(F.max("sp").cast("bigint").alias("mx"))
    best = (
        spend.crossJoin(F.broadcast(mx))  # 1-row scalar merge
        .where(F.col("sp") * 2 > F.col("mx"))
        .select("o_custkey")
    )
    probe = _fact(t).where(yr == 1996)
    return (
        probe.join(
            # freq is part-grain and best is customer-grain — both scale
            # with SF, so neither carries a hint; AQE decides per run
            freq.withColumnRenamed("l_partkey", "fk"),
            F.col("l_partkey") == F.col("fk"),
            "left_semi",
        )
        .join(
            best.withColumnRenamed("o_custkey", "bk"),
            F.col("o_custkey") == F.col("bk"),
            "left_semi",
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
            F.sum(F.expr(_REV6)).cast("bigint").alias("total6"),
        )
    )


# --------------------------------------------------------------------------
@query(
    "tpcds_q31",
    oracle=f"""
WITH q AS (
  SELECT n_name AS nation, CAST(quarter(o_orderdate) AS INT) AS qtr,
         CAST(SUM(CASE WHEN l_linestatus = 'O' THEN {_SQL_REV6} ELSE 0 END)
           AS BIGINT) AS o6,
         CAST(SUM(CASE WHEN l_linestatus = 'F' THEN {_SQL_REV6} ELSE 0 END)
           AS BIGINT) AS f6
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  WHERE year(o_orderdate) = 1995
  GROUP BY n_name, CAST(quarter(o_orderdate) AS INT)
)
SELECT a.nation, a.qtr AS q_from,
       b.o6 // nullif(a.o6 // 1000000, 0) AS o_growth_ppm,
       b.f6 // nullif(a.f6 // 1000000, 0) AS f_growth_ppm
FROM q a JOIN q b ON a.nation = b.nation AND b.qtr = a.qtr + 1
WHERE b.o6 // nullif(a.o6 // 1000000, 0)
      > b.f6 // nullif(a.f6 // 1000000, 0)
ORDER BY a.nation, q_from
""",
)
def tpcds_q31(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q31 shape: quarter-over-quarter growth compared BETWEEN
    channels per geography — one aggregate CTE self-joined on
    (nation, quarter+1), keeping geographies where the online channel
    outgrew the offline one. TPC-DS spells the per-(channel, quarter)
    sums as six CTE instances; the conditional-aggregation pivot
    collapses them to ONE fact pass feeding one self-join.

    Exactness: growth ratios are divide-first integer ppm (house q4
    pattern — next6 div (prev6 div 1e6) keeps every intermediate in
    int64 at any scale); the channel comparison compares those ppm
    integers directly."""
    t = Tables(spark, sf_dir)
    o6 = f"CASE WHEN l_linestatus = 'O' THEN {_REV6} ELSE 0 END"
    f6 = f"CASE WHEN l_linestatus = 'F' THEN {_REV6} ELSE 0 END"
    q = (
        _fact(t)
        .join(
            # customer scales with SF — no hint; AQE broadcasts at small
            # SF and shuffles at 100 TB (the tpch.py house rule)
            t.customer.select("c_custkey", "c_nationkey"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(t.nation.select("n_nationkey", "n_name")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .where(F.year("o_orderdate") == 1995)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.quarter("o_orderdate").cast("int").alias("qtr"),
        )
        .agg(
            F.sum(F.expr(o6)).cast("bigint").alias("o6"),
            F.sum(F.expr(f6)).cast("bigint").alias("f6"),
        )
    )
    a = q.select(
        F.col("nation").alias("nation_a"),
        F.col("qtr").alias("qtr_a"),
        F.col("o6").alias("o6_a"),
        F.col("f6").alias("f6_a"),
    )
    b = q.select(
        F.col("nation").alias("nation_b"),
        F.col("qtr").alias("qtr_b"),
        F.col("o6").alias("o6_b"),
        F.col("f6").alias("f6_b"),
    )
    joined = a.join(
        b,
        (F.col("nation_a") == F.col("nation_b"))
        & (F.col("qtr_b") == F.col("qtr_a") + 1),
    )
    o_growth = F.expr("o6_b div nullif(o6_a div 1000000, 0)")
    f_growth = F.expr("f6_b div nullif(f6_a div 1000000, 0)")
    return (
        joined.select(
            F.col("nation_a").alias("nation"),
            F.col("qtr_a").alias("q_from"),
            o_growth.alias("o_growth_ppm"),
            f_growth.alias("f_growth_ppm"),
        )
        .where(F.col("o_growth_ppm") > F.col("f_growth_ppm"))
        .orderBy("nation", "q_from")
    )


# --------------------------------------------------------------------------
@query(
    "tpcds_q38",
    oracle="""
SELECT CAST(COUNT(*) AS BIGINT) AS n_customers FROM (
  SELECT o_custkey FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE l_linestatus = 'O'
  INTERSECT
  SELECT o_custkey FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE l_linestatus = 'F'
  INTERSECT
  SELECT o_custkey FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE l_returnflag = 'R'
) t
""",
)
def tpcds_q38(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q38 shape: |A INTERSECT B INTERSECT C| — customers present
    in ALL THREE behavioral sets (both channels AND the returners). The
    three-way INTERSECT is the shape q97's two-way full-outer overlap
    does not exercise.

    Scale: each side is EXPLICITLY deduped to customer grain BEFORE the
    set op — Catalyst rewrites Intersect as Distinct(LeftSemi(l, r)) on
    the RAW inputs, so without the pre-distinct the semi joins shuffle
    fact-sized row sets (measured 4.25x at 10x data); with it, the
    distincts reduce map-side and only customer-grain keys ever join
    (re-measured 1.2x)."""
    t = Tables(spark, sf_dir)
    base = _fact(t)

    def ck(cond):
        return base.where(cond).select("o_custkey").distinct()

    three = (
        ck(F.col("l_linestatus") == "O")
        .intersect(ck(F.col("l_linestatus") == "F"))
        .intersect(ck(F.col("l_returnflag") == "R"))
    )
    return three.agg(F.count(F.lit(1)).cast("bigint").alias("n_customers"))


# --------------------------------------------------------------------------
@query(
    "tpcds_q54",
    oracle="""
WITH spend AS (
  SELECT o_custkey,
         CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sp
  FROM orders WHERE year(o_orderdate) = 1995
  GROUP BY o_custkey
)
SELECT sp // 5000000 AS band_50k,
       CAST(COUNT(*) AS BIGINT) AS n_customers
FROM spend
GROUP BY band_50k
ORDER BY band_50k
""",
)
def tpcds_q54(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q54 shape: the revenue-band HISTOGRAM of an aggregate —
    per-customer yearly spend bucketed into $50k bands, then the count
    of customers per band. Aggregate-of-aggregate where the outer group
    key is a FUNCTION of the inner aggregate's value.

    Scale: inner agg is customer-grain partial-first; the outer
    histogram reduce is band-cardinality (tens of rows)."""
    t = Tables(spark, sf_dir)
    spend = (
        t.orders.where(F.year("o_orderdate") == 1995)
        .groupBy("o_custkey")
        .agg(
            F.sum(F.expr("CAST(round(o_totalprice * 100) AS BIGINT)"))
            .cast("bigint")
            .alias("sp")
        )
    )
    return (
        spend.groupBy(F.expr("sp div 5000000").alias("band_50k"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_customers"))
        .orderBy("band_50k")
    )


# --------------------------------------------------------------------------
#: q66's 12-month pivot columns, generated once and shared verbatim by the
#: Spark builder and the oracle string so the two can never drift
_Q66_MONTH_SQL = ",\n       ".join(
    f"CAST(SUM(CASE WHEN month(o_orderdate) = {m} THEN {_SQL_REV6}"
    f" ELSE 0 END) AS BIGINT) AS m{m:02d}_6"
    for m in range(1, 13)
)


@query(
    "tpcds_q66",
    oracle=f"""
SELECT n_name AS nation, l_linestatus AS channel,
       {_Q66_MONTH_SQL}
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE year(o_orderdate) = 1995
GROUP BY n_name, l_linestatus
ORDER BY 1, 2
""",
)
def tpcds_q66(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q66 shape: the wide calendar pivot — per (geography,
    channel), twelve month-revenue columns from ONE conditional-agg pass
    (TPC-DS spells the channels as a UNION of two facts; one in-row
    channel column halves the I/O, same report).

    Scale: 12 conditional sums are map-side partials; output cardinality
    is nations x channels (~50 rows). Nothing wide ever shuffles — the
    pivot happens inside the aggregate, not as 12 self-joins."""
    t = Tables(spark, sf_dir)
    aggs = [
        F.sum(
            F.expr(
                f"CASE WHEN month(o_orderdate) = {m} THEN {_REV6}"
                " ELSE 0 END"
            )
        )
        .cast("bigint")
        .alias(f"m{m:02d}_6")
        for m in range(1, 13)
    ]
    return (
        _fact(t)
        .join(
            # customer scales with SF — no hint; AQE broadcasts at small
            # SF and shuffles at 100 TB (the tpch.py house rule)
            t.customer.select("c_custkey", "c_nationkey"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(t.nation.select("n_nationkey", "n_name")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .where(F.year("o_orderdate") == 1995)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.col("l_linestatus").alias("channel"),
        )
        .agg(*aggs)
        .orderBy("nation", "channel")
    )


# --------------------------------------------------------------------------
@query(
    "tpcds_q67",
    oracle=f"""
WITH agg AS (
  SELECT p_type, p_brand,
         CAST(year(o_orderdate) AS INT) AS d_year,
         CAST(quarter(o_orderdate) AS INT) AS d_qtr,
         CAST(SUM({_SQL_REV6}) AS BIGINT) AS sales6
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN part ON l_partkey = p_partkey
  GROUP BY ROLLUP(p_type, p_brand, d_year, d_qtr)
)
SELECT * FROM (
  SELECT p_type, p_brand, d_year, d_qtr, sales6,
         CAST(rank() OVER (
           PARTITION BY p_type
           ORDER BY sales6 DESC NULLS LAST, COALESCE(p_brand, ''),
                    COALESCE(d_year, 0), COALESCE(d_qtr, 0)
         ) AS INT) AS rk
  FROM agg
) ranked
WHERE rk <= 3
ORDER BY p_type NULLS FIRST, rk
""",
)
def tpcds_q67(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q67 shape: top-k rank ACROSS every level of a deep ROLLUP
    within each category — the category partition mixes its own total,
    per-brand totals, per-year and per-quarter leaves, and rank picks
    the 3 largest aggregates regardless of level. Distinct from q36,
    which ranks siblings WITHIN one parent level at a time.

    NULLS explicit everywhere (rollup emits NULL keys; rank ties break
    on coalesced brand/year/quarter so both engines agree; DESC NULLS
    LAST stated even though both engines default to it)."""
    t = Tables(spark, sf_dir)
    part = t.part.select("p_partkey", "p_type", "p_brand")
    agg = (
        _fact(t)
        .join(part, F.col("l_partkey") == F.col("p_partkey"))
        .rollup(
            "p_type",
            "p_brand",
            F.year("o_orderdate").cast("int").alias("d_year"),
            F.quarter("o_orderdate").cast("int").alias("d_qtr"),
        )
        .agg(F.sum(F.expr(_REV6)).cast("bigint").alias("sales6"))
    )
    w = Window.partitionBy("p_type").orderBy(
        F.desc_nulls_last("sales6"),
        F.coalesce(F.col("p_brand"), F.lit("")),
        F.coalesce(F.col("d_year"), F.lit(0)),
        F.coalesce(F.col("d_qtr"), F.lit(0)),
    )
    return (
        agg.withColumn("rk", F.rank().over(w).cast("int"))
        .where(F.col("rk") <= 3)
        .select("p_type", "p_brand", "d_year", "d_qtr", "sales6", "rk")
        .orderBy(F.asc_nulls_first("p_type"), "rk")
    )


# --------------------------------------------------------------------------
@query(
    "tpcds_q87",
    oracle="""
SELECT CAST(COUNT(*) AS BIGINT) AS n_only_open FROM (
  SELECT o_custkey FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE l_linestatus = 'O'
  EXCEPT
  SELECT o_custkey FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE l_linestatus = 'F'
  EXCEPT
  SELECT o_custkey FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE l_returnflag = 'R'
) t
""",
)
def tpcds_q87(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q87 shape: the EXCEPT chain — customers active in the open
    channel who never appear in the finished channel and never returned
    anything. Complements q38 (3-way INTERSECT) and q97 (full-outer
    overlap).

    Scale: sides pre-deduped to customer grain before the EXCEPT for the
    same reason as q38 — Catalyst's Except rewrite anti-joins the RAW
    inputs; the explicit distincts keep the anti-join chain at customer
    cardinality (10x growth 1.91x -> sublinear after the fix)."""
    t = Tables(spark, sf_dir)
    base = _fact(t)

    def ck(cond):
        return base.where(cond).select("o_custkey").distinct()

    only_open = (
        ck(F.col("l_linestatus") == "O")
        .subtract(ck(F.col("l_linestatus") == "F"))
        .subtract(ck(F.col("l_returnflag") == "R"))
    )
    return only_open.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_only_open")
    )


# --------------------------------------------------------------------------
@query(
    "tpcds_q47",
    oracle=f"""
WITH monthly AS (
  SELECT p_type, p_brand, CAST(year(o_orderdate) AS INT) AS y,
         CAST(month(o_orderdate) AS INT) AS m,
         CAST(SUM({_SQL_REV6}) AS BIGINT) AS rev6
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN part ON l_partkey = p_partkey
  WHERE year(o_orderdate) IN (1995, 1996, 1997)
  GROUP BY p_type, p_brand, y, m
),
win AS (
  SELECT p_type, p_brand, y, m, rev6,
         CAST(SUM(rev6) OVER (PARTITION BY p_type, p_brand, y) AS BIGINT)
           AS year6,
         CAST(COUNT(*) OVER (PARTITION BY p_type, p_brand, y) AS BIGINT)
           AS n_months,
         lag(rev6) OVER (PARTITION BY p_type, p_brand ORDER BY y, m)
           AS psum6,
         lead(rev6) OVER (PARTITION BY p_type, p_brand ORDER BY y, m)
           AS nsum6
  FROM monthly
)
SELECT p_type, p_brand, y, m, rev6, psum6, nsum6,
       CAST(CASE WHEN rev6 * n_months >= year6 THEN 1 ELSE -1 END
            * (abs(rev6 * n_months - year6) * 1000 // year6) AS BIGINT)
         AS dev_milli
FROM win
WHERE y = 1996
  AND abs(rev6 * n_months - year6) * 10 > year6
ORDER BY dev_milli, p_type, p_brand, m
LIMIT 50
""",
)
def tpcds_q47(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q47 shape: monthly sales vs the within-year monthly mean
    per (category, brand), WITH the previous/next month's sales carried
    alongside — the lag/lead neighbors resolve over the FULL three-year
    series BEFORE the output filters to the middle year, so January's
    psum is December of the prior year (the detail that distinguishes
    q47 from a per-year q89). TPC-DS spells the alignment as rank() +
    two self-joins on rn +/- 1; lag/lead over the same order is the
    Spark-first equivalent — one window pass, no self-joins.

    Exactness: the >10% deviation test is the integer cross-
    multiplication |rev6*n - year6|*10 > year6; dev_milli carries an
    explicit sign times an ABS integer division — Spark ``div`` truncates
    toward zero while DuckDB ``//`` floors, so negative deviations must
    never reach the division operand.

    Scale: one fact pass into a (type, brand, y, m)-grain aggregate;
    every window partitions by (type, brand[, y]) over that bounded
    monthly table — never the fact; part joins un-hinted (module rule).
    """
    t = Tables(spark, sf_dir)
    part = t.part.select("p_partkey", "p_type", "p_brand")
    monthly = (
        _fact(t)
        .where(F.year("o_orderdate").isin(1995, 1996, 1997))
        .join(part, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy(
            "p_type",
            "p_brand",
            F.year("o_orderdate").cast("int").alias("y"),
            F.month("o_orderdate").cast("int").alias("m"),
        )
        .agg(F.sum(F.expr(_REV6)).cast("bigint").alias("rev6"))
    )
    wy = Window.partitionBy("p_type", "p_brand", "y")
    ws = Window.partitionBy("p_type", "p_brand").orderBy("y", "m")
    win = monthly.select(
        "p_type",
        "p_brand",
        "y",
        "m",
        "rev6",
        F.sum("rev6").over(wy).cast("bigint").alias("year6"),
        F.count(F.lit(1)).over(wy).cast("bigint").alias("n_months"),
        F.lag("rev6").over(ws).alias("psum6"),
        F.lead("rev6").over(ws).alias("nsum6"),
    )
    dev = (
        F.when(F.col("rev6") * F.col("n_months") >= F.col("year6"), 1)
        .otherwise(-1)
        * F.expr("abs(rev6 * n_months - year6) * 1000 div year6")
    ).cast("bigint")
    return (
        win.where(F.col("y") == 1996)
        .where(
            F.expr("abs(rev6 * n_months - year6) * 10 > year6")
        )
        .select(
            "p_type",
            "p_brand",
            "y",
            "m",
            "rev6",
            "psum6",
            "nsum6",
            dev.alias("dev_milli"),
        )
        .orderBy("dev_milli", "p_type", "p_brand", "m")
        .limit(50)
    )


# --------------------------------------------------------------------------
@query(
    "tpcds_q57",
    oracle=f"""
WITH monthly AS (
  SELECT n_name, CAST(year(o_orderdate) AS INT) AS y,
         CAST(month(o_orderdate) AS INT) AS m,
         CAST(SUM({_SQL_REV6}) AS BIGINT) AS rev6
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  WHERE year(o_orderdate) IN (1995, 1996, 1997)
  GROUP BY n_name, y, m
),
win AS (
  SELECT n_name, y, m, rev6,
         CAST(SUM(rev6) OVER (PARTITION BY n_name, y) AS BIGINT) AS year6,
         CAST(COUNT(*) OVER (PARTITION BY n_name, y) AS BIGINT) AS n_months,
         lag(rev6) OVER (PARTITION BY n_name ORDER BY y, m) AS psum6,
         lead(rev6) OVER (PARTITION BY n_name ORDER BY y, m) AS nsum6
  FROM monthly
),
dev AS (
  SELECT n_name, y, m, rev6, psum6, nsum6,
         CAST(abs(rev6 * n_months - year6) * 1000 // year6 AS BIGINT)
           AS absdev_milli
  FROM win WHERE y = 1996
),
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY n_name ORDER BY absdev_milli DESC, m) AS rn
  FROM dev
)
SELECT n_name, y, m, rev6, psum6, nsum6, absdev_milli
FROM ranked WHERE rn <= 3
ORDER BY n_name, absdev_milli DESC, m
""",
)
def tpcds_q57(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q57 shape: q47's series windows at a different grain (the
    call-center analog is customer nation) plus a per-group TOP-K over
    the deviation — the 3 most anomalous months per nation, with their
    lag/lead neighbors resolved over the full three-year series before
    the year filter.

    Scale: the rank<=3 filter plans as WindowGroupLimit (a per-partition
    top-k heap BELOW the rank's exchange), so even the bounded monthly
    table never fully sorts per group; all windows partition by nation
    (25 groups) over (nation, y, m)-grain rows — never the fact. The
    nation dim broadcasts (constant 25 rows); customer join un-hinted
    (house rule). absdev_milli is non-negative by construction, so the
    integer division is floor/trunc-agnostic across engines.
    """
    t = Tables(spark, sf_dir)
    monthly = (
        _fact(t)
        .where(F.year("o_orderdate").isin(1995, 1996, 1997))
        .join(
            # customer scales with SF — no hint; AQE broadcasts at small
            # SF and shuffles at 100 TB (the tpch.py house rule)
            t.customer.select("c_custkey", "c_nationkey"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(t.nation.select("n_nationkey", "n_name")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .groupBy(
            "n_name",
            F.year("o_orderdate").cast("int").alias("y"),
            F.month("o_orderdate").cast("int").alias("m"),
        )
        .agg(F.sum(F.expr(_REV6)).cast("bigint").alias("rev6"))
    )
    wy = Window.partitionBy("n_name", "y")
    ws = Window.partitionBy("n_name").orderBy("y", "m")
    win = monthly.select(
        "n_name",
        "y",
        "m",
        "rev6",
        F.sum("rev6").over(wy).cast("bigint").alias("year6"),
        F.count(F.lit(1)).over(wy).cast("bigint").alias("n_months"),
        F.lag("rev6").over(ws).alias("psum6"),
        F.lead("rev6").over(ws).alias("nsum6"),
    )
    dev = (
        win.where(F.col("y") == 1996)
        .select(
            "n_name",
            "y",
            "m",
            "rev6",
            "psum6",
            "nsum6",
            F.expr("abs(rev6 * n_months - year6) * 1000 div year6")
            .cast("bigint")
            .alias("absdev_milli"),
        )
    )
    return (
        top_k(dev, ["n_name"], [F.desc("absdev_milli"), F.asc("m")], 3)
        .select("n_name", "y", "m", "rev6", "psum6", "nsum6", "absdev_milli")
        .orderBy("n_name", F.desc("absdev_milli"), "m")
    )


# --------------------------------------------------------------------------
@query(
    "tpcds_q44",
    oracle=f"""
WITH perf AS (
  SELECT l_partkey,
         CAST(SUM({_SQL_REV6}) AS BIGINT) AS sum6,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM lineitem GROUP BY l_partkey
),
av AS (SELECT l_partkey, CAST(sum6 // cnt AS BIGINT) AS avg6 FROM perf),
best AS (
  SELECT l_partkey, avg6, rn FROM (
    SELECT l_partkey, avg6,
           CAST(row_number() OVER (ORDER BY avg6 DESC, l_partkey) AS INT)
             AS rn
    FROM av
  ) WHERE rn <= 10
),
worst AS (
  SELECT l_partkey, avg6, rn FROM (
    SELECT l_partkey, avg6,
           CAST(row_number() OVER (ORDER BY avg6 ASC, l_partkey) AS INT)
             AS rn
    FROM av
  ) WHERE rn <= 10
)
SELECT b.rn AS rn, pb.p_name AS best_name, pw.p_name AS worst_name
FROM best b
JOIN worst w ON b.rn = w.rn
JOIN part pb ON b.l_partkey = pb.p_partkey
JOIN part pw ON w.l_partkey = pw.p_partkey
ORDER BY rn
""",
)
def tpcds_q44(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q44 shape: the best AND worst performing items by average
    net value, two opposite-direction top-10 rankings of the same
    per-item aggregate joined positionally on rank, item names resolved
    in a second join (TPC-DS's i1/i2 double item join).

    Exactness: the per-item average is the truncated integer division
    ``sum6 div cnt`` (both operands non-negative BIGINTs, so Spark
    ``div`` and DuckDB ``//`` agree); rank ties break on l_partkey.

    Scale: TPC-DS spells each direction as a windowed rank over ALL
    items — a global sort of an SF-scaling relation. Here each
    direction is ``ORDER BY ... LIMIT 10`` (TakeOrderedAndProject: per-
    partition top-10 heaps + a 10-row driver merge, no global sort, no
    single-partition window over the item grain — plan-gated); the
    row_number that positions the final join runs over the 10 kept
    rows. The name-resolution joins put a 10-row set against part, so
    AQE broadcasts the rank side — part itself scales with SF and
    carries no hint (module rule)."""
    t = Tables(spark, sf_dir)
    av = (
        t.lineitem.groupBy("l_partkey")
        .agg(
            F.sum(F.expr(_REV6)).cast("bigint").alias("sum6"),
            F.count(F.lit(1)).cast("bigint").alias("cnt"),
        )
        .select("l_partkey", F.expr("sum6 div cnt").cast("bigint").alias("avg6"))
    )

    def top10(direction) -> DataFrame:
        ordered = av.orderBy(direction("avg6"), F.asc("l_partkey")).limit(10)
        w = Window.orderBy(direction("avg6"), F.asc("l_partkey"))
        return ordered.select(
            "l_partkey", F.row_number().over(w).cast("int").alias("rn")
        )

    names = t.part.select("p_partkey", "p_name")
    return (
        top10(F.desc)
        .alias("b")
        .join(top10(F.asc).alias("w"), "rn")
        .join(names.alias("pb"), F.col("b.l_partkey") == F.col("pb.p_partkey"))
        .join(names.alias("pw"), F.col("w.l_partkey") == F.col("pw.p_partkey"))
        .select(
            "rn",
            F.col("pb.p_name").alias("best_name"),
            F.col("pw.p_name").alias("worst_name"),
        )
        .orderBy("rn")
    )


# --------------------------------------------------------------------------
@query(
    "tpcds_q70",
    oracle=f"""
WITH nat AS (
  SELECT r_name, n_name, CAST(SUM({_SQL_REV6}) AS BIGINT) AS rev6
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  GROUP BY r_name, n_name
),
keep AS (
  SELECT r_name, n_name, rev6 FROM (
    SELECT r_name, n_name, rev6,
           rank() OVER (PARTITION BY r_name
                        ORDER BY rev6 DESC, n_name) AS rk
    FROM nat
  ) WHERE rk <= 2
),
roll AS (
  SELECT r_name, n_name, CAST(SUM(rev6) AS BIGINT) AS total6,
         CAST(GROUPING(r_name) + GROUPING(n_name) AS INT) AS lochierarchy
  FROM keep GROUP BY ROLLUP(r_name, n_name)
)
SELECT total6, r_name, n_name, lochierarchy,
       CAST(rank() OVER (
         PARTITION BY lochierarchy,
                      CASE WHEN lochierarchy = 0 THEN r_name END
         ORDER BY total6 DESC, COALESCE(n_name, ''), COALESCE(r_name, '')
       ) AS INT) AS rank_within_parent
FROM roll
ORDER BY lochierarchy DESC, COALESCE(r_name, ''), rank_within_parent,
         COALESCE(n_name, '')
""",
)
def tpcds_q70(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q70 shape: a geography rollup restricted to the TOP
    geographies, where "top" is itself a windowed rank over an
    aggregate — the windowed-restriction-feeding-a-rollup composite
    that q36/q67 (plain rollup+rank) don't cover. Region->nation maps
    TPC-DS state->county.

    Scale — one fact pass, not two: TPC-DS spells the restriction as
    ``s_state IN (windowed-rank subquery)`` over a SECOND scan of the
    fact, then re-aggregates the semijoined fact under ROLLUP. SUM is
    decomposable, so rolling up the already-restricted (region, nation)
    aggregate is value-identical to re-aggregating the restricted fact
    — the rollup's Expand runs over <= 25 rows instead of the fact, and
    the plan reads lineitem exactly ONCE (plan-gated). The restriction
    window partitions by region over the same bounded aggregate.

    Exactness: integer rev6 sums; every rank ties-break on coalesced
    names so rollup NULLs never reach a comparator."""
    t = Tables(spark, sf_dir)
    nat = (
        _fact(t)
        .join(
            t.customer.select("c_custkey", "c_nationkey"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(t.nation.select("n_nationkey", "n_name", "n_regionkey")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .join(
            F.broadcast(t.region.select("r_regionkey", "r_name")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .groupBy("r_name", "n_name")
        .agg(F.sum(F.expr(_REV6)).cast("bigint").alias("rev6"))
    )
    wk = Window.partitionBy("r_name").orderBy(F.desc("rev6"), F.asc("n_name"))
    keep = (
        nat.withColumn("rk", F.rank().over(wk))
        .where(F.col("rk") <= 2)
        .drop("rk")
    )
    roll = keep.rollup("r_name", "n_name").agg(
        F.sum("rev6").cast("bigint").alias("total6"),
        (F.grouping("r_name") + F.grouping("n_name"))
        .cast("int")
        .alias("lochierarchy"),
    )
    wr = Window.partitionBy(
        "lochierarchy",
        F.when(F.col("lochierarchy") == 0, F.col("r_name")),
    ).orderBy(
        F.desc("total6"),
        F.coalesce(F.col("n_name"), F.lit("")),
        F.coalesce(F.col("r_name"), F.lit("")),
    )
    return (
        roll.withColumn(
            "rank_within_parent", F.rank().over(wr).cast("int")
        )
        .select(
            "total6", "r_name", "n_name", "lochierarchy", "rank_within_parent"
        )
        .orderBy(
            F.desc("lochierarchy"),
            F.coalesce(F.col("r_name"), F.lit("")),
            "rank_within_parent",
            F.coalesce(F.col("n_name"), F.lit("")),
        )
    )


# --------------------------------------------------------------------------
@query(
    "tpcds_q73",
    oracle="""
WITH cnt AS (
  SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_lines
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE l_linestatus = 'O'
    AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
  GROUP BY o_custkey
  HAVING COUNT(*) BETWEEN 10 AND 20
)
SELECT c_custkey, c_name, n_lines
FROM cnt JOIN customer ON o_custkey = c_custkey
ORDER BY n_lines DESC, c_custkey
""",
)
def tpcds_q73(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q73 shape: q34's spec sibling (same HAVING COUNT(*) BETWEEN
    cohort, tighter band) — here built on the OTHER grain so it is not a
    constant-swap of q34: the cohort counts open-channel LINE ITEMS
    (lineitem x orders, l_linestatus = 'O'), not order headers, so the
    band aggregate sits above the fact-fact equi-join rather than a
    single-table scan.

    Scale: the orderkey equi-join is the co-partitioned fact join; the
    HAVING band collapses to bounded cohort rows BEFORE the customer
    dimension join (AQE broadcasts the filtered cohort, never customer,
    which scales with SF — no hint, the tpch.py house rule)."""
    t = Tables(spark, sf_dir)
    cnt = (
        t.lineitem.where(F.col("l_linestatus") == "O")
        .join(t.orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .where(
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
        )
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_lines"))
        .where(F.col("n_lines").between(10, 20))
    )
    return (
        t.customer.join(cnt, F.col("o_custkey") == F.col("c_custkey"))
        .select("c_custkey", "c_name", "n_lines")
        .orderBy(F.desc("n_lines"), "c_custkey")
    )


# --------------------------------------------------------------------------
@query(
    "tpcds_q64",
    oracle=f"""
WITH agg AS (
  SELECT p_brand, n_name, CAST(year(o_orderdate) AS INT) AS yr,
         CAST(COUNT(*) AS BIGINT) AS cnt,
         CAST(SUM({_SQL_REV6}) AS BIGINT) AS rev6
  FROM lineitem
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN part     ON l_partkey = p_partkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation   ON s_nationkey = n_nationkey
  JOIN region   ON n_regionkey = r_regionkey
  WHERE r_name IN ('ASIA', 'AMERICA')
    AND year(o_orderdate) IN (1996, 1997)
  GROUP BY 1, 2, 3
)
SELECT a1.p_brand, a1.n_name,
       a1.cnt AS cnt1, a1.rev6 AS rev6_1,
       a2.cnt AS cnt2, a2.rev6 AS rev6_2
FROM agg a1 JOIN agg a2
  ON a1.p_brand = a2.p_brand AND a1.n_name = a2.n_name
WHERE a1.yr = 1996 AND a2.yr = 1997 AND a2.cnt <= a1.cnt
ORDER BY a1.p_brand, a1.n_name
""",
)
def tpcds_q64(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q64 shape: the multi-round snowflake join chain — the fact
    resolved through FIVE joins (orders for the year, part for the brand,
    supplier -> nation -> region for the 3-hop geography snowflake),
    aggregated to (brand, nation, year), then SELF-JOINED across two
    years with q64's signature cnt2 <= cnt1 retention condition.

    Scale: region/nation are bounded dims (5/25 rows) and broadcast
    explicitly; part and supplier scale with SF and carry no hint (AQE
    decides); the orderkey join is the co-partitioned fact join. The
    year self-join runs over the ALREADY-AGGREGATED bounded
    (brand x nation) grain — a tiny broadcast join, never a second fact
    pass: the two year slices come from ONE cached aggregate (the
    fact chain runs once)."""
    t = Tables(spark, sf_dir)
    yr = F.year("o_orderdate")
    agg = cached(
        t.lineitem.join(t.orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .where(yr.isin(1996, 1997))
        .join(t.part, F.col("l_partkey") == F.col("p_partkey"))
        .join(t.supplier, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(
            F.broadcast(t.nation),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .join(
            F.broadcast(t.region.where(F.col("r_name").isin("ASIA", "AMERICA"))),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .groupBy("p_brand", "n_name", yr.cast("int").alias("yr"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("cnt"),
            F.sum(F.expr(_REV6)).cast("bigint").alias("rev6"),
        )
    )
    a1 = agg.where(F.col("yr") == 1996).select(
        "p_brand", "n_name",
        F.col("cnt").alias("cnt1"), F.col("rev6").alias("rev6_1"),
    )
    a2 = agg.where(F.col("yr") == 1997).select(
        F.col("p_brand").alias("pb2"), F.col("n_name").alias("nn2"),
        F.col("cnt").alias("cnt2"), F.col("rev6").alias("rev6_2"),
    )
    return (
        a1.join(
            a2,
            (F.col("p_brand") == F.col("pb2"))
            & (F.col("n_name") == F.col("nn2"))
            & (F.col("cnt2") <= F.col("cnt1")),
        )
        .select("p_brand", "n_name", "cnt1", "rev6_1", "cnt2", "rev6_2")
        .orderBy("p_brand", "n_name")
    )


# --------------------------------------------------------------------------
@query(
    "tpcds_q29",
    oracle="""
WITH ret AS (
  SELECT o_custkey AS cust, l_partkey AS pk, o_orderdate AS d1,
         CAST(round(l_quantity) AS BIGINT) AS q1
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE l_returnflag = 'R'
),
rep AS (
  SELECT o_custkey AS cust, l_partkey AS pk, o_orderdate AS d2,
         CAST(round(l_quantity) AS BIGINT) AS q2
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE l_returnflag <> 'R'
)
SELECT p_brand,
       CAST(COUNT(*) AS BIGINT) AS n_chains,
       CAST(COUNT(DISTINCT cust) AS BIGINT) AS n_customers,
       CAST(SUM(q1) AS BIGINT) AS ret_qty,
       CAST(SUM(q2) AS BIGINT) AS rebuy_qty
FROM ret JOIN rep USING (cust, pk)
JOIN part ON pk = p_partkey
WHERE d2 > d1
GROUP BY p_brand
ORDER BY p_brand
""",
)
def tpcds_q29(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q17/q25/q29 family: the bought -> returned -> re-bought
    FACT-TO-FACT chain. A customer's returned line (l_returnflag = 'R')
    joins to the SAME customer re-purchasing the SAME part later
    (d2 > d1), rolled up per brand — the item-quality signal every
    returns-analysis stack computes. The spec spells this as
    store_sales x store_returns x catalog_sales; on this schema the
    return is an attribute of the sale line, so the chain is two slices
    of the fact joined on the (customer, part) compound key.

    Scale: both fact slices pre-filter on returnflag, then meet in ONE
    co-partitioned equi-join on (cust, pk) — the same compound-key
    shuffle on both sides, date condition applied post-join. Pair fanout
    per (cust, part) is bounded by per-customer repeat-purchase
    multiplicity (single digits in any sales corpus — there is no
    quadratic blowup key). The brand rollup collapses everything to
    bounded dimension grain; part scales with SF, so its join carries
    no broadcast hint."""
    t = Tables(spark, sf_dir)
    fact = t.lineitem.join(
        t.orders, F.col("l_orderkey") == F.col("o_orderkey")
    )
    q = F.round("l_quantity").cast("bigint")
    ret = fact.where(F.col("l_returnflag") == "R").select(
        F.col("o_custkey").alias("cust"),
        F.col("l_partkey").alias("pk"),
        F.col("o_orderdate").alias("d1"),
        q.alias("q1"),
    )
    rep = fact.where(F.col("l_returnflag") != "R").select(
        F.col("o_custkey").alias("cust"),
        F.col("l_partkey").alias("pk"),
        F.col("o_orderdate").alias("d2"),
        q.alias("q2"),
    )
    return (
        ret.join(rep, ["cust", "pk"])
        .where(F.col("d2") > F.col("d1"))
        .join(t.part, F.col("pk") == F.col("p_partkey"))
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_chains"),
            F.countDistinct("cust").cast("bigint").alias("n_customers"),
            F.sum("q1").cast("bigint").alias("ret_qty"),
            F.sum("q2").cast("bigint").alias("rebuy_qty"),
        )
        .orderBy("p_brand")
    )


# --------------------------------------------------------------------------
@query(
    "tpcds_q78",
    oracle=f"""
WITH ret_orders AS (
  SELECT DISTINCT l_orderkey FROM lineitem WHERE l_returnflag = 'R'
),
clean AS (
  SELECT o_custkey, CAST(year(o_orderdate) AS INT) AS yr, l_linestatus,
         {_SQL_REV6} AS rev6
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE l_orderkey NOT IN (SELECT l_orderkey FROM ret_orders)
),
ch AS (
  SELECT o_custkey, yr,
         CAST(SUM(CASE WHEN l_linestatus = 'O' THEN rev6 ELSE 0 END)
              AS BIGINT) AS rev_o,
         CAST(SUM(CASE WHEN l_linestatus = 'F' THEN rev6 ELSE 0 END)
              AS BIGINT) AS rev_f
  FROM clean GROUP BY 1, 2
  HAVING SUM(CASE WHEN l_linestatus = 'O' THEN rev6 ELSE 0 END) > 0
     AND SUM(CASE WHEN l_linestatus = 'F' THEN rev6 ELSE 0 END) > 0
)
SELECT o_custkey, yr, rev_o, rev_f,
       rev_o // nullif(rev_f // 1000000, 0) AS ratio_ppm
FROM ch
WHERE rev_f >= 1000000
ORDER BY ratio_ppm DESC, o_custkey, yr
LIMIT 20
""",
)
def tpcds_q78(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q78 shape: per-(customer, year) cross-channel revenue ratio
    over sales with NO associated return — the spec's left-anti of
    store_sales against store_returns. On this schema the return lives on
    sibling LINES of the same order, so the exclusion is a genuine
    ANTI-JOIN: orders containing any returned line are removed wholesale
    (not a row filter), then both channels ('O'/'F') pivot out of ONE
    conditional-aggregation pass (the spec spells two channel CTEs = two
    fact passes; SUM decomposability collapses them).

    Exactness: scaled-integer rev6 sums; the ratio is the house
    DIVIDE-FIRST integer ppm (rev_o div (rev_f div 1e6)) — the naive
    rev_o * 1e6 overflowed int64 the moment a customer-year's rev6 sum
    passed ~9.2e12 (caught by the 20x copy stress, which multiplies
    per-customer volume; a $10M whale customer at real scale does the
    same). rev_f >= 1e6 (one whole dollar) keeps the reduced divisor
    nonzero; nullif double-guards. Top-20 carries the full
    (ratio, cust, yr) tie-break so the selected set is total-ordered.

    Scale: the anti-join and the orderkey equi-join share one orderkey
    partitioning (the returned-order set derives from the same fact —
    AQE reuses the exchange); everything after the (cust, yr) aggregate
    is bounded; the top-20 is a TakeOrderedAndProject heap."""
    t = Tables(spark, sf_dir)
    ret_orders = (
        t.lineitem.where(F.col("l_returnflag") == "R")
        .select("l_orderkey")
        .distinct()
    )
    clean = (
        t.lineitem.join(ret_orders, "l_orderkey", "left_anti")
        .join(t.orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .select(
            "o_custkey",
            F.year("o_orderdate").cast("int").alias("yr"),
            "l_linestatus",
            F.expr(_REV6).alias("rev6"),
        )
    )
    ch = (
        clean.groupBy("o_custkey", "yr")
        .agg(
            F.sum(F.when(F.col("l_linestatus") == "O", F.col("rev6")).otherwise(0))
            .cast("bigint")
            .alias("rev_o"),
            F.sum(F.when(F.col("l_linestatus") == "F", F.col("rev6")).otherwise(0))
            .cast("bigint")
            .alias("rev_f"),
        )
        .where((F.col("rev_o") > 0) & (F.col("rev_f") > 0))
    )
    return (
        ch.where(F.col("rev_f") >= 1000000)
        .select(
            "o_custkey", "yr", "rev_o", "rev_f",
            F.expr("rev_o div nullif(rev_f div 1000000, 0)").alias("ratio_ppm"),
        )
        .orderBy(F.desc("ratio_ppm"), "o_custkey", "yr")
        .limit(20)
    )


# --------------------------------------------------------------------------
@query(
    "tpcds_q72",
    oracle="""
SELECT n_name, CAST(year(o_orderdate) AS INT) AS yr,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       CAST(COUNT(*) FILTER (WHERE l_shipdate >= o_orderdate
                             + INTERVAL 5 DAY) AS BIGINT) AS n_late,
       COUNT(*) FILTER (WHERE l_shipdate >= o_orderdate
                        + INTERVAL 5 DAY) * 1000000 // COUNT(*) AS late_ppm
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
GROUP BY 1, 2
ORDER BY n_name, yr
""",
)
def tpcds_q72(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q72 shape: the late-fulfilment audit — the spec's
    notoriously slow inventory/date-lag multi-join (catalog_sales x
    inventory x warehouse with d3.d_date > d1.d_date + 5). There is no
    inventory table here, so the DATE-LAG CONDITION (the part that makes
    q72 q72) lands on the fulfilment analog: lines shipped >= 5 days
    after their order date, per supplier nation and year.

    The spec's trap is spelling the lag as a join condition (forcing a
    range join); here it is a post-equi-join FILTER inside one
    conditional-aggregation pass — the fact chain stays all-equi
    (orderkey co-partition + supplier -> nation broadcast snowflake),
    and late/total both come from the same scan (no second pass, no
    range join, no nested loop — plan-gated).

    Exactness: pure counts + divide-last integer ppm; interval
    arithmetic is timestamp + literal INTERVAL in both engines."""
    t = Tables(spark, sf_dir)
    late = F.col("l_shipdate") >= F.col("o_orderdate") + F.expr("INTERVAL 5 DAY")
    return (
        t.lineitem.join(t.orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(t.supplier, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(
            F.broadcast(t.nation),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .groupBy("n_name", F.year("o_orderdate").cast("int").alias("yr"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
            F.count(F.when(late, 1)).cast("bigint").alias("n_late"),
        )
        .select(
            "n_name", "yr", "n_lines", "n_late",
            F.expr("n_late * 1000000 div n_lines").alias("late_ppm"),
        )
        .orderBy("n_name", "yr")
    )


# --------------------------------------------------------------------------
#: q39's coefficient-of-variation in ppm — ONE identical double sequence
#: in both engines (the ev_mann_kendall precedent): exact int64 moments
#: (n, sq, sqq) first, then the same-operation-order IEEE chain, rounded
#: half-away (positive domain, so Spark HALF_UP == DuckDB round()).
_COV_PPM = (
    "CAST(round(sqrt((CAST(n AS DOUBLE) * CAST(sqq AS DOUBLE)"
    " - CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE))"
    " / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)))"
    " / (CAST(sq AS DOUBLE) / CAST(n AS DOUBLE))"
    " * 1000000) AS BIGINT)"
)


@query(
    "tpcds_q39",
    oracle=f"""
WITH inv AS (
  SELECT p_brand, CAST(month(o_orderdate) AS INT) AS mo,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS sq,
         CAST(SUM(CAST(round(l_quantity) AS BIGINT)
                  * CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS sqq
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN part   ON l_partkey = p_partkey
  WHERE year(o_orderdate) = 1996
  GROUP BY 1, 2
),
st AS (
  SELECT p_brand, mo, n, {_COV_PPM} AS cov_ppm
  FROM inv WHERE n > 1 AND sq > 0
)
SELECT a.p_brand, a.mo AS mo1, a.cov_ppm AS cov1,
       b.mo AS mo2, b.cov_ppm AS cov2
FROM st a JOIN st b
  ON a.p_brand = b.p_brand AND b.mo = a.mo + 1
WHERE a.cov_ppm > 500000 AND b.cov_ppm > 500000
ORDER BY a.p_brand, mo1
""",
)
def tpcds_q39(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q39 shape: demand-volatility pairing — per (item-grain,
    month) quantity coefficient of variation, then a CONSECUTIVE-PERIOD
    self-join keeping grains volatile in BOTH adjacent months (the spec's
    inventory stdev over (warehouse, item, month) with the Jan/Feb
    join). The statistical-moment + period-pair family the other 34
    shapes don't cover.

    Exactness: the three moments (n, sq, sqq) are exact int64 sums of
    bounded quantities; the CoV is one identical IEEE sequence in both
    engines (see _COV_PPM) — no int64 product of moments, which WOULD
    overflow at 100 TB group sizes (n^2 * sq^2 blows past 2^63 once a
    brand-month holds ~1e6 lines; the double chain never does).

    Scale: one fact pass into a bounded (brand x 12-month) aggregate —
    map-side partials, part joins un-hinted (AQE) — and the month-pair
    self-join runs over that bounded grain (broadcast-sized both sides).
    """
    t = Tables(spark, sf_dir)
    qv = "CAST(round(l_quantity) AS BIGINT)"
    inv = (
        t.lineitem.join(t.orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .where(F.year("o_orderdate") == 1996)
        .join(t.part, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", F.month("o_orderdate").cast("int").alias("mo"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(F.expr(qv)).cast("bigint").alias("sq"),
            F.sum(F.expr(f"{qv} * {qv}")).cast("bigint").alias("sqq"),
        )
    )
    # both self-join sides read the SAME bounded (brand x month) stats —
    # cache so the fact chain runs once (the q64 pattern)
    st = cached(
        inv.where((F.col("n") > 1) & (F.col("sq") > 0)).select(
            "p_brand", "mo", F.expr(_COV_PPM).alias("cov_ppm")
        )
    )
    a = st.select("p_brand", F.col("mo").alias("mo1"), F.col("cov_ppm").alias("cov1"))
    b = st.select(
        F.col("p_brand").alias("pb2"),
        F.col("mo").alias("mo2"),
        F.col("cov_ppm").alias("cov2"),
    )

    return (
        a.join(
            b,
            (F.col("p_brand") == F.col("pb2"))
            & (F.col("mo2") == F.col("mo1") + 1),
        )
        .where((F.col("cov1") > 500000) & (F.col("cov2") > 500000))
        .select("p_brand", "mo1", "cov1", "mo2", "cov2")
        .orderBy("p_brand", "mo1")
    )


# --------------------------------------------------------------------------
@query(
    "tpcds_q95",
    oracle=f"""
WITH qual AS (
  SELECT o_orderkey FROM orders o
  WHERE year(o.o_orderdate) = 1997
    AND EXISTS (SELECT 1 FROM lineitem l1
                WHERE l1.l_orderkey = o.o_orderkey
                  AND EXISTS (SELECT 1 FROM lineitem l2
                              WHERE l2.l_orderkey = l1.l_orderkey
                                AND l2.l_suppkey <> l1.l_suppkey))
    AND EXISTS (SELECT 1 FROM lineitem l3
                WHERE l3.l_orderkey = o.o_orderkey
                  AND l3.l_returnflag = 'R')
)
SELECT CAST(COUNT(DISTINCT q.o_orderkey) AS BIGINT) AS order_count,
       CAST(SUM({_SQL_REV6}) AS BIGINT) AS total_rev6
FROM qual q JOIN lineitem l ON l.l_orderkey = q.o_orderkey
""",
)
def tpcds_q95(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q95 shape (VERDICT r8 #7): the multi-EXISTS same-fact
    reachability probe — 1997 orders that shipped from MORE THAN ONE
    supplier (spelled in the spec, and the oracle, as an EXISTS whose
    body correlates the fact TO ITSELF on the same order key with a
    different-warehouse inequality) and that also appear in the returns
    channel (second EXISTS over the same fact), counted and revenued.

    Spark-first plan: both correlated EXISTS and the revenue collapse
    into ONE order-grain aggregation pass over lineitem — ">1 distinct
    supplier" is min(suppkey) != max(suppkey) (cheaper than a distinct
    count and equivalent for the >1 test), "ever returned" is a max over
    the flag, revenue is the partial sum. The nested same-alias EXISTS
    never re-executes per row and the fact is never re-scanned for the
    money (plan-gated: exactly one lineitem scan). The order-grain
    aggregate (bounded by |orders|, not |lineitem|) then semi-joins the
    year-filtered orders and reduces to the global pair. Two-level exact
    integer sums are associative, so the per-order partials re-sum to
    the oracle's single-level SUM bit-for-bit.

    Reference analogue: decorrelated EXISTS handling
    (/root/reference/datafusion/optimizer/src/decorrelate_predicate_subquery.rs).
    """
    t = Tables(spark, sf_dir)
    per_order = t.lineitem.groupBy("l_orderkey").agg(
        F.min("l_suppkey").alias("smin"),
        F.max("l_suppkey").alias("smax"),
        F.max(F.col("l_returnflag") == "R").alias("has_ret"),
        F.sum(F.expr(_REV6)).alias("rev6"),
    )
    o97 = t.orders.where(F.year("o_orderdate") == 1997).select("o_orderkey")
    return (
        per_order.where((F.col("smin") != F.col("smax")) & F.col("has_ret"))
        .join(o97, F.col("l_orderkey") == F.col("o_orderkey"), "semi")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("order_count"),
            F.sum("rev6").cast("bigint").alias("total_rev6"),
        )
    )


# --------------------------------------------------------------------------
@query(
    "tpcds_q10",
    oracle="""
SELECT n.n_name, c.c_mktsegment,
       CAST(COUNT(*) AS BIGINT) AS cnt
FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
              AND year(o.o_orderdate) = 1997)
  AND (EXISTS (SELECT 1 FROM orders u WHERE u.o_custkey = c.c_custkey
               AND u.o_orderpriority = '1-URGENT')
       OR EXISTS (SELECT 1 FROM orders r JOIN lineitem l
                    ON l.l_orderkey = r.o_orderkey
                  WHERE r.o_custkey = c.c_custkey
                    AND l.l_returnflag = 'R'))
GROUP BY n.n_name, c.c_mktsegment
ORDER BY n.n_name, c.c_mktsegment
""",
)
def tpcds_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q10/q69 shape (VERDICT r8 #7): the OR-of-EXISTS customer
    probe — customers who bought in the window AND show up in channel A
    OR channel B, profiled by demographics. The existing q35 covers the
    AND-shaped dual EXISTS; the OR shape needs a different decorrelation
    (two semi-joins in sequence would compute AND).

    Spark-first plan: each OR branch reduces to a custkey set — urgent
    orders project straight to o_custkey; the returns branch compresses
    the fact to matching orders FIRST (orders SEMI JOIN returned lines,
    so only order keys shuffle, never line rows) and then projects
    o_custkey. The two sets UNION (dup keys are harmless to a semi
    join — no distinct pass needed) and qualify customers as ONE
    semi-join; the buy-window EXISTS is a second, independent semi-join.
    The nation dim broadcasts. Everything that touches fact grain is
    bounded before any customer-side join.
    """
    t = Tables(spark, sf_dir)
    bought_97 = (
        t.orders.where(F.year("o_orderdate") == 1997)
        .select(F.col("o_custkey").alias("b_custkey"))
    )
    urgent = t.orders.where(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_custkey").alias("or_custkey")
    )
    returned = (
        t.orders.join(
            t.lineitem.where(F.col("l_returnflag") == "R").select("l_orderkey"),
            F.col("o_orderkey") == F.col("l_orderkey"),
            "semi",
        ).select(F.col("o_custkey").alias("or_custkey"))
    )
    or_set = urgent.union(returned)
    return (
        t.customer.join(
            bought_97, F.col("c_custkey") == F.col("b_custkey"), "semi"
        )
        .join(or_set, F.col("c_custkey") == F.col("or_custkey"), "semi")
        .join(F.broadcast(t.nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name", "c_mktsegment")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        .orderBy("n_name", "c_mktsegment")
    )


# --------------------------------------------------------------------------
@query(
    "tpcds_q94",
    oracle=f"""
WITH qual AS (
  SELECT o_orderkey FROM orders o
  WHERE year(o.o_orderdate) = 1996
    AND EXISTS (SELECT 1 FROM lineitem l1
                WHERE l1.l_orderkey = o.o_orderkey
                  AND EXISTS (SELECT 1 FROM lineitem l2
                              WHERE l2.l_orderkey = l1.l_orderkey
                                AND l2.l_suppkey <> l1.l_suppkey))
    AND NOT EXISTS (SELECT 1 FROM lineitem l3
                    WHERE l3.l_orderkey = o.o_orderkey
                      AND l3.l_returnflag = 'R')
)
SELECT CAST(COUNT(DISTINCT q.o_orderkey) AS BIGINT) AS order_count,
       CAST(SUM({_SQL_REV6}) AS BIGINT) AS total_rev6
FROM qual q JOIN lineitem l ON l.l_orderkey = q.o_orderkey
""",
)
def tpcds_q94(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q94 shape (r9 session-2 widening): q95's anti sibling —
    1996 orders shipped from >1 supplier (the same nested same-fact
    EXISTS) that were NEVER returned (NOT EXISTS over the returns
    channel, where q95 demands EXISTS). The spec pair q94/q95 differ in
    exactly this polarity; covering both pins that the decorrelation
    handles the anti case without an anti-join pass.

    Spark-first plan: identical ONE-pass order-grain kernel as q95 —
    NOT EXISTS is just the negated max-flag (``NOT has_ret``), free in
    the same aggregate; no anti-join, no second fact scan (plan-gated
    2 scans like q95)."""
    t = Tables(spark, sf_dir)
    per_order = t.lineitem.groupBy("l_orderkey").agg(
        F.min("l_suppkey").alias("smin"),
        F.max("l_suppkey").alias("smax"),
        F.max(F.col("l_returnflag") == "R").alias("has_ret"),
        F.sum(F.expr(_REV6)).alias("rev6"),
    )
    o96 = t.orders.where(F.year("o_orderdate") == 1996).select("o_orderkey")
    return (
        per_order.where((F.col("smin") != F.col("smax")) & ~F.col("has_ret"))
        .join(o96, F.col("l_orderkey") == F.col("o_orderkey"), "semi")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("order_count"),
            F.sum("rev6").cast("bigint").alias("total_rev6"),
        )
    )


# --------------------------------------------------------------------------
@query(
    "tpcds_q92",
    oracle="""
WITH w AS (
  SELECT l.l_partkey, CAST(round(l.l_extendedprice * 100) AS BIGINT) AS cents
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
  WHERE p.p_brand = 'Brand#4' AND year(l.l_shipdate) = 1997
), pa AS (
  SELECT l_partkey, SUM(cents) AS s, COUNT(*) AS c FROM w GROUP BY l_partkey
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_excess,
       CAST(SUM(w.cents) AS BIGINT) AS excess_cents
FROM w JOIN pa ON w.l_partkey = pa.l_partkey
WHERE w.cents * 10 * pa.c > 13 * pa.s
""",
)
def tpcds_q92(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q92/q32 shape (r9 session-2 widening): the correlated
    scalar-aggregate THRESHOLD — count and sum the lines whose price
    exceeds 1.3x the average price of THEIR OWN part within the window
    (the spec spells it as a correlated scalar subquery with a factor).

    Spark-first plan: the correlated AVG decorrelates to a per-part
    (sum, count) aggregate of the SAME filtered set, joined back on
    partkey (part-grain — bounded by |part|, never line x line). The
    1.3x comparison runs on CLEARED DENOMINATORS in exact int64
    (cents * 10 * count > 13 * sum_cents): no double AVG whose
    summation order could flip an ulp-close comparison between engines.
    The brand dim reaches the fact as a broadcast semi/inner join.
    """
    t = Tables(spark, sf_dir)
    w = (
        t.lineitem.where(F.year("l_shipdate") == 1997)
        .join(
            F.broadcast(
                t.part.where(F.col("p_brand") == "Brand#4").select("p_partkey")
            ),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .select(
            "l_partkey",
            F.expr("CAST(round(l_extendedprice * 100) AS BIGINT)").alias("cents"),
        )
    )
    pa = w.groupBy(F.col("l_partkey").alias("pk")).agg(
        F.sum("cents").alias("s"), F.count(F.lit(1)).alias("c")
    )
    return (
        w.join(pa, F.col("l_partkey") == F.col("pk"))
        .where(F.col("cents") * 10 * F.col("c") > 13 * F.col("s"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_excess"),
            F.sum("cents").cast("bigint").alias("excess_cents"),
        )
    )


# --------------------------------------------------------------------------
@query(
    "tpcds_q99",
    oracle="""
SELECT l.l_linestatus, CAST(year(o.o_orderdate) AS BIGINT) AS yr,
  CAST(SUM(CASE WHEN datediff('day', o.o_orderdate, l.l_shipdate) <= 0
            THEN 1 ELSE 0 END) AS BIGINT) AS d_le0,
  CAST(SUM(CASE WHEN datediff('day', o.o_orderdate, l.l_shipdate)
            BETWEEN 1 AND 60 THEN 1 ELSE 0 END) AS BIGINT) AS d_60,
  CAST(SUM(CASE WHEN datediff('day', o.o_orderdate, l.l_shipdate)
            BETWEEN 61 AND 180 THEN 1 ELSE 0 END) AS BIGINT) AS d_180,
  CAST(SUM(CASE WHEN datediff('day', o.o_orderdate, l.l_shipdate)
            BETWEEN 181 AND 365 THEN 1 ELSE 0 END) AS BIGINT) AS d_365,
  CAST(SUM(CASE WHEN datediff('day', o.o_orderdate, l.l_shipdate) > 365
            THEN 1 ELSE 0 END) AS BIGINT) AS d_over
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
GROUP BY l.l_linestatus, year(o.o_orderdate)
ORDER BY l_linestatus, yr
""",
)
def tpcds_q99(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q99/q50 shape (r9 session-2 widening): the LATENCY-BAND
    pivot — fulfilment lag (order date -> ship date) bucketed into five
    bands and counted per (channel, year) in ONE conditional-agg pass,
    the spec's 30/60/90/120/120+ ladder adapted to this corpus's
    synthetic date spread (<=0 catches the artifact where ship precedes
    order). q88/q66 pivot on value bands; this is the DATE-ARITHMETIC
    band family those don't touch.

    Scale: one fact-fact equi-join (orderkey) and one aggregate pair;
    the five bands are CASE sums inside the same aggregate — never five
    filtered re-scans (the spec's five scalar subqueries collapse the
    q88 way)."""
    t = Tables(spark, sf_dir)
    days = F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))

    def band(cond, name):
        return F.sum(F.when(cond, 1).otherwise(0)).cast("bigint").alias(name)

    return (
        t.lineitem.join(t.orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_linestatus", F.year("o_orderdate").cast("bigint").alias("yr"))
        .agg(
            band(days <= 0, "d_le0"),
            band((days >= 1) & (days <= 60), "d_60"),
            band((days >= 61) & (days <= 180), "d_180"),
            band((days >= 181) & (days <= 365), "d_365"),
            band(days > 365, "d_over"),
        )
        .orderBy("l_linestatus", "yr")
    )


# --------------------------------------------------------------------------
@query(
    "tpcds_q13",
    oracle="""
SELECT CAST(COUNT(*) AS BIGINT) AS cnt,
       CAST(round(SUM(CAST(o_totalprice AS DECIMAL(12,2))), 4) AS DOUBLE)
         / COUNT(*) AS avg_price
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
WHERE ((c.c_mktsegment = 'BUILDING' AND o.o_orderpriority = '1-URGENT'
        AND o.o_totalprice BETWEEN 50000 AND 150000)
    OR (c.c_mktsegment = 'MACHINERY' AND o.o_orderpriority = '2-HIGH'
        AND o.o_totalprice BETWEEN 20000 AND 120000)
    OR (c.c_mktsegment = 'AUTOMOBILE' AND o.o_orderpriority = '3-MEDIUM'
        AND o.o_totalprice BETWEEN 1000 AND 80000))
  AND ((n.n_name IN ('FRANCE', 'GERMANY') AND o.o_orderstatus = 'F')
    OR (n.n_name IN ('CANADA', 'BRAZIL') AND o.o_orderstatus = 'O')
    OR (n.n_name IN ('CHINA', 'JAPAN', 'INDIA')))
""",
)
def tpcds_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q13 shape (r9 session-2 widening): the AND-of-ORs
    demographic band filter — three (segment x priority x price-band)
    OR-blocks ANDed with three (nation-set x status) OR-blocks, averaged.
    The disjunction spans columns of BOTH join sides, so neither block
    can push below its join — the optimizer must carry the filter above
    the joins and still keep the joins hash-based (the spec's point).

    Scale: one orders pass, customer equi-join, broadcast nation; the
    money average is the exact-decimal contract (sum -> scale-4 ->
    double / count), immune to double-summation order."""
    from datafusion_ballista_dhruvil_spark.functions.compat import avg_money, dec2

    t = Tables(spark, sf_dir)
    seg_block = (
        (
            (F.col("c_mktsegment") == "BUILDING")
            & (F.col("o_orderpriority") == "1-URGENT")
            & F.col("o_totalprice").between(50000, 150000)
        )
        | (
            (F.col("c_mktsegment") == "MACHINERY")
            & (F.col("o_orderpriority") == "2-HIGH")
            & F.col("o_totalprice").between(20000, 120000)
        )
        | (
            (F.col("c_mktsegment") == "AUTOMOBILE")
            & (F.col("o_orderpriority") == "3-MEDIUM")
            & F.col("o_totalprice").between(1000, 80000)
        )
    )
    geo_block = (
        (F.col("n_name").isin("FRANCE", "GERMANY") & (F.col("o_orderstatus") == "F"))
        | (F.col("n_name").isin("CANADA", "BRAZIL") & (F.col("o_orderstatus") == "O"))
        | F.col("n_name").isin("CHINA", "JAPAN", "INDIA")
    )
    return (
        t.orders.join(t.customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(t.nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .where(seg_block & geo_block)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("cnt"),
            avg_money(dec2("o_totalprice")).alias("avg_price"),
        )
    )


# --------------------------------------------------------------------------
@query(
    "tpcds_q41",
    oracle="""
SELECT DISTINCT i1.p_name
FROM part i1
WHERE (SELECT COUNT(*) FROM part i2
       WHERE i2.p_brand = i1.p_brand
         AND ((i2.p_type = 'ECONOMY' AND i2.p_size BETWEEN 1 AND 10)
           OR (i2.p_type = 'SMALL' AND i2.p_size BETWEEN 20 AND 30))) > 0
ORDER BY p_name
""",
)
def tpcds_q41(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q41 shape (r9 session-2 widening): the DIM-ONLY correlated
    aggregate — product names whose BRAND carries at least one item
    matching the OR-band spec, spelled as a correlated COUNT(*) > 0 over
    the same dimension table. No fact table anywhere; the spec exercises
    the optimizer's subquery handling on a pure dimension self-probe.

    Spark-first plan: COUNT(*) > 0 is EXISTS, and the correlated EXISTS
    decorrelates to a semi-join against the DISTINCT qualifying-brand
    set (25 brands — broadcast); the dim is scanned twice (the spec's
    two aliases), never joined row-by-row."""
    t = Tables(spark, sf_dir)
    bands = (
        ((F.col("p_type") == "ECONOMY") & F.col("p_size").between(1, 10))
        | ((F.col("p_type") == "SMALL") & F.col("p_size").between(20, 30))
    )
    qual_brands = t.part.where(bands).select(F.col("p_brand").alias("qb")).distinct()
    return (
        t.part.join(F.broadcast(qual_brands), F.col("p_brand") == F.col("qb"), "semi")
        .select("p_name")
        .distinct()
        .orderBy("p_name")
    )


# --------------------------------------------------------------------------
@query(
    "tpcds_q76",
    oracle="""
SELECT channel, col_name, CAST(yr AS BIGINT) AS yr,
       CAST(COUNT(*) AS BIGINT) AS cnt,
       CAST(SUM(cents) AS BIGINT) AS total_cents
FROM (
  SELECT 'orders' AS channel, 'o_orderpriority' AS col_name,
         year(o_orderdate) AS yr,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders WHERE o_orderpriority = '5-LOW'
  UNION ALL
  SELECT 'lineitem_ret', 'l_returnflag', year(l_shipdate),
         CAST(round(l_extendedprice * 100) AS BIGINT)
  FROM lineitem WHERE l_returnflag = 'R'
  UNION ALL
  SELECT 'lineitem_open', 'l_linestatus', year(l_shipdate),
         CAST(round(l_extendedprice * 100) AS BIGINT)
  FROM lineitem WHERE l_linestatus = 'O'
)
GROUP BY channel, col_name, yr
ORDER BY channel, col_name, yr
""",
)
def tpcds_q76(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q76 shape (r9 session-2 widening): the MULTI-CHANNEL UNION
    report — three channel branches, each filtered on a DIFFERENT column
    and tagged with literal channel/column names, unioned and counted per
    (channel, filtered-column, year). The spec's point is heterogeneous
    branches flowing into ONE grouped report without per-channel
    re-aggregation.

    Scale: each branch is a pushed-filter scan projecting only
    (year, cents); the union carries 4 narrow columns into one agg pair.
    No joins at all — the whole report is scan + union + aggregate."""
    t = Tables(spark, sf_dir)
    cents_o = F.expr("CAST(round(o_totalprice * 100) AS BIGINT)")
    cents_l = F.expr("CAST(round(l_extendedprice * 100) AS BIGINT)")
    b1 = t.orders.where(F.col("o_orderpriority") == "5-LOW").select(
        F.lit("orders").alias("channel"),
        F.lit("o_orderpriority").alias("col_name"),
        F.year("o_orderdate").alias("yr"),
        cents_o.alias("cents"),
    )
    b2 = t.lineitem.where(F.col("l_returnflag") == "R").select(
        F.lit("lineitem_ret").alias("channel"),
        F.lit("l_returnflag").alias("col_name"),
        F.year("l_shipdate").alias("yr"),
        cents_l.alias("cents"),
    )
    b3 = t.lineitem.where(F.col("l_linestatus") == "O").select(
        F.lit("lineitem_open").alias("channel"),
        F.lit("l_linestatus").alias("col_name"),
        F.year("l_shipdate").alias("yr"),
        cents_l.alias("cents"),
    )
    return (
        b1.unionAll(b2)
        .unionAll(b3)
        .groupBy("channel", "col_name", F.col("yr").cast("bigint").alias("yr"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("cnt"),
            F.sum("cents").cast("bigint").alias("total_cents"),
        )
        .orderBy("channel", "col_name", "yr")
    )


# --------------------------------------------------------------------------
@query(
    "tpcds_q90",
    oracle="""
SELECT CAST(am_cnt AS BIGINT) AS am_cnt, CAST(pm_cnt AS BIGINT) AS pm_cnt,
       CAST(am_cnt AS DOUBLE) / NULLIF(pm_cnt, 0) AS am_pm_ratio
FROM (
  SELECT SUM(CASE WHEN hour(ts) BETWEEN 7 AND 10 THEN 1 ELSE 0 END) AS am_cnt,
         SUM(CASE WHEN hour(ts) BETWEEN 19 AND 22 THEN 1 ELSE 0 END) AS pm_cnt
  FROM events WHERE event_type = 'click'
)
""",
)
def tpcds_q90(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q90 shape (r9 session-2 widening): the AM/PM ratio — the
    spec divides two scalar subqueries (morning-window count over
    evening-window count). First TPC-DS adaptation on the EVENTS table
    (the time-of-day axis none of the date-grain queries touch).

    Spark-first plan: the two scalar subqueries collapse into ONE
    conditional-aggregation pass (the q88 lesson — 1/2 the I/O), and the
    ratio is exact-int counts divided once at the end (int/int -> the
    same IEEE double in both engines; NULLIF guards the empty evening).
    """
    t = Tables(spark, sf_dir)
    hr = F.hour("ts")
    return (
        t.events.where(F.col("event_type") == "click")
        .agg(
            F.sum(F.when(hr.between(7, 10), 1).otherwise(0)).alias("am0"),
            F.sum(F.when(hr.between(19, 22), 1).otherwise(0)).alias("pm0"),
        )
        .select(
            F.col("am0").cast("bigint").alias("am_cnt"),
            F.col("pm0").cast("bigint").alias("pm_cnt"),
            (
                F.col("am0").cast("double")
                / F.nullif(F.col("pm0"), F.lit(0))
            ).alias("am_pm_ratio"),
        )
    )


# --------------------------------------------------------------------------
@query(
    "tpcds_q14_rollup",
    oracle=f"""
WITH li AS (
  SELECT l_returnflag AS channel, p_brand, {_SQL_REV6} AS rev6
  FROM lineitem JOIN part ON l_partkey = p_partkey
), cross_brands AS (
  SELECT p_brand FROM li WHERE channel = 'A'
  INTERSECT
  SELECT p_brand FROM li WHERE channel = 'N'
  INTERSECT
  SELECT p_brand FROM li WHERE channel = 'R'
), base AS (
  SELECT * FROM li WHERE p_brand IN (SELECT p_brand FROM cross_brands)
), tot AS (
  SELECT CAST(SUM(rev6) AS BIGINT) // CAST(COUNT(*) AS BIGINT) AS global_mean
  FROM base
), per AS (
  SELECT channel, p_brand, CAST(SUM(rev6) AS BIGINT) AS sales6,
         CAST(COUNT(*) AS BIGINT) AS n_lines
  FROM base GROUP BY channel, p_brand
), qual AS (
  SELECT per.* FROM per, tot WHERE sales6 // n_lines > global_mean
)
SELECT channel, p_brand,
  CAST(grouping(channel) + grouping(p_brand) AS INT) AS lochierarchy,
  CAST(SUM(sales6) AS BIGINT) AS sales6,
  CAST(SUM(n_lines) AS BIGINT) AS n_lines,
  CAST(COUNT(DISTINCT p_brand) AS BIGINT) AS n_brands
FROM qual
GROUP BY ROLLUP(channel, p_brand)
ORDER BY lochierarchy DESC, COALESCE(channel, ''), COALESCE(p_brand, '')
""",
)
def tpcds_q14_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q14 FULL three-channel form (VERDICT r9 #5): items present
    in ALL THREE channels (l_returnflag A/N/R standing in for
    store/catalog/web), per-channel groups qualified against the
    cross-channel average, then aggregated at ROLLUP grain with a
    COUNT(DISTINCT) — the multi-fact INTERSECT + rollup shape the r9 q14
    (two-leg INTERSECT core) didn't cover.

    Scale re-expression: ONE fact pass total (plan-gated). The fact
    aggregates to (channel, brand) grain first; cross-channel presence
    (|collect_set(channel)| == 3 per brand — the spec's three-way
    INTERSECT), the global mean (``sum(sales6)/sum(n_lines)`` over the
    qualified grain equals the base-row mean exactly), and the
    qualification filter are all WINDOWS over those 75 rows in one
    linear chain — re-referencing a DataFrame would duplicate its
    subtree and re-scan the fact (Spark has no auto CTE). The oracle
    keeps the spec's literal INTERSECT; results are identical.
    The average-sales filter compares integer FLOOR-DIV means
    (``sales6 // n_lines > total_sum // total_cnt``): exact in both
    engines at any scale, no double rounding at the boundary and no
    bigint overflow (the naive cross-multiply ``sales6 * total_cnt``
    passes int64 at ~sf1). COUNT(DISTINCT p_brand) at rollup grain is
    the two-phase expand aggregate: 1 on detail rows, brands-per-channel
    at level 1, global distinct at the grand total."""
    t = Tables(spark, sf_dir)
    part = t.part.select("p_partkey", "p_brand")
    li = t.lineitem.join(part, F.col("l_partkey") == F.col("p_partkey")).select(
        F.col("l_returnflag").alias("channel"), "p_brand", F.expr(_REV6).alias("rev6")
    )
    # ONE fact pass: aggregate to (channel, brand) grain (75 rows), then
    # derive cross-channel presence, the global mean, and qualification
    # as WINDOWS over that grain in one linear chain — a DataFrame
    # referenced twice gets its subtree duplicated (Spark has no auto
    # CTE), which is a re-scan of the fact; windows keep the lineage
    # single-path. The unpartitioned window is safe: the frame is the
    # bounded |channels| x |brands| grain, never fact rows.
    per_all = li.groupBy("channel", "p_brand").agg(
        F.sum("rev6").cast("bigint").alias("sales6"),
        F.count(F.lit(1)).cast("bigint").alias("n_lines"),
    )
    w_brand = Window.partitionBy("p_brand")
    qual = (
        per_all.withColumn(
            "_nch", F.size(F.collect_set("channel").over(w_brand))
        )
        .where(F.col("_nch") == 3)
        # exact integer floor-div mean (Spark's / on bigints is double)
        .withColumn(
            "global_mean",
            F.expr(
                "sum(sales6) OVER () div sum(n_lines) OVER ()"
            ),
        )
        .where(F.expr("sales6 div n_lines > global_mean"))
    )
    return (
        qual.rollup("channel", "p_brand")
        .agg(
            (F.grouping("channel") + F.grouping("p_brand"))
            .cast("int")
            .alias("lochierarchy"),
            F.sum("sales6").cast("bigint").alias("sales6"),
            F.sum("n_lines").cast("bigint").alias("n_lines"),
            F.countDistinct("p_brand").cast("bigint").alias("n_brands"),
        )
        .select(
            "channel", "p_brand", "lochierarchy", "sales6", "n_lines", "n_brands"
        )
        .orderBy(
            F.desc("lochierarchy"),
            F.coalesce(F.col("channel"), F.lit("")),
            F.coalesce(F.col("p_brand"), F.lit("")),
        )
    )


# --------------------------------------------------------------------------
@query(
    "tpcds_q36_deep",
    oracle=f"""
WITH pt AS (
  SELECT p_partkey, p_type, p_brand,
         'Manufacturer#' || substring(p_brand, 7, 1) AS p_mfgr
  FROM part
), agg AS (
  SELECT p_mfgr, p_type, p_brand,
         CAST(SUM({_SQL_REV6}) AS BIGINT) AS r6,
         CAST(SUM({_SQL_FULL6}) AS BIGINT) AS f6,
         CAST(grouping(p_mfgr) + grouping(p_type) + grouping(p_brand) AS INT)
           AS lochierarchy
  FROM lineitem JOIN pt ON l_partkey = p_partkey
  GROUP BY ROLLUP(p_mfgr, p_type, p_brand)
)
SELECT p_mfgr, p_type, p_brand,
       r6 // nullif(f6 // 1000000, 0) AS margin_ppm,
       lochierarchy,
       CAST(rank() OVER (
         PARTITION BY lochierarchy,
           CASE WHEN lochierarchy = 0
                  THEN COALESCE(p_mfgr, '') || '~' || COALESCE(p_type, '')
                WHEN lochierarchy = 1 THEN p_mfgr END
         ORDER BY r6 // nullif(f6 // 1000000, 0) NULLS LAST,
                  COALESCE(p_mfgr, ''), COALESCE(p_type, ''),
                  COALESCE(p_brand, '')
       ) AS INT) AS rank_within_parent
FROM agg
ORDER BY lochierarchy DESC, p_mfgr NULLS FIRST, p_type NULLS FIRST,
         rank_within_parent, COALESCE(p_brand, '')
""",
)
def tpcds_q36_deep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q36 at a DEEPER hierarchy (VERDICT r9 #5): three-level
    ROLLUP(manufacturer, type, brand) — lochierarchy 0..3 — with rank()
    WITHIN PARENT at every level: detail rows rank inside their
    (mfgr, type) parent, type subtotals inside their mfgr, mfgr
    subtotals against each other, one grand-total row. rank() (not
    row_number) preserves per-parent TIES on equal margins; the window's
    ORDER BY carries full key tiebreaks and the final ORDER BY repeats
    them, so equal-rank rows land deterministically in both engines.
    Margin stays the divide-first integer ppm of the house q36 (no
    doubles anywhere until nothing is left to round).

    The testdata's part table carries no p_mfgr column; per the TPC-H
    spec brands are 'Brand#XY' with X the manufacturer digit, so the
    manufacturer level is DERIVED ('Manufacturer#' || digit) and the
    mfgr ⊃ brand containment is genuine (mirrored in the oracle)."""
    t = Tables(spark, sf_dir)
    part = t.part.select(
        "p_partkey",
        F.concat(F.lit("Manufacturer#"), F.substring("p_brand", 7, 1)).alias(
            "p_mfgr"
        ),
        "p_type",
        "p_brand",
    )
    agg = (
        t.lineitem.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .rollup("p_mfgr", "p_type", "p_brand")
        .agg(
            F.sum(F.expr(_REV6)).alias("r6"),
            F.sum(F.expr(_FULL6)).alias("f6"),
            (F.grouping("p_mfgr") + F.grouping("p_type") + F.grouping("p_brand"))
            .cast("int")
            .alias("lochierarchy"),
        )
        .select(
            "p_mfgr",
            "p_type",
            "p_brand",
            F.expr("r6 div nullif(f6 div 1000000, 0)").alias("margin_ppm"),
            "lochierarchy",
            F.expr(
                "CASE WHEN lochierarchy = 0 THEN"
                " concat(COALESCE(p_mfgr, ''), '~', COALESCE(p_type, ''))"
                " WHEN lochierarchy = 1 THEN p_mfgr END"
            ).alias("_parent"),
        )
    )
    w = Window.partitionBy("lochierarchy", "_parent").orderBy(
        F.asc_nulls_last("margin_ppm"),
        F.coalesce(F.col("p_mfgr"), F.lit("")),
        F.coalesce(F.col("p_type"), F.lit("")),
        F.coalesce(F.col("p_brand"), F.lit("")),
    )
    return (
        agg.withColumn("rank_within_parent", F.rank().over(w).cast("int"))
        .select(
            "p_mfgr", "p_type", "p_brand", "margin_ppm", "lochierarchy",
            "rank_within_parent",
        )
        .orderBy(
            F.desc("lochierarchy"),
            F.asc_nulls_first("p_mfgr"),
            F.asc_nulls_first("p_type"),
            "rank_within_parent",
            F.coalesce(F.col("p_brand"), F.lit("")),
        )
    )
