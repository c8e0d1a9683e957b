"""h2o db-benchmark-style groupby + join queries (reference test surface:
benchmarks/db-benchmark/groupby-datafusion.py:73-226 — 10 groupby shapes —
and join-datafusion.py:89-159 — small/medium/big join shapes on the G1/J1
datasets).

Adapted to the ``events`` table: id1 := event_type (low cardinality),
id2 := user_id % 100 (medium), id3 := user_id (high cardinality),
id4 := user_id % 10, id5 := user_id % 25, id6 := user_id % 300,
v1/v3 := value, v2 := event_id % 100. All 10 groupby + 5 join shapes of
the reference suite are covered. Money-determinism contract applies
(exact decimal sums); the reference's approx_percentile_cont median (q6)
is computed exact here so it oracle-checks.

Scale notes: every query is a single partial-agg + shuffle on its group key;
the high-cardinality variants are the shuffle-heavy stress shapes the h2o
benchmark exists to measure. Top-2-per-group uses a window after one hash
partition by the key — no global sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datafusion_ballista_dhruvil_spark.functions.compat import dsum, sql_dsum
from datafusion_ballista_dhruvil_spark.operators.registry import query
from datafusion_ballista_dhruvil_spark.operators.scale import top_k
from datafusion_ballista_dhruvil_spark.session import Tables

_V = "CAST(value AS DECIMAL(18,6))"


# groupby-datafusion.py:85-95 — q1 "sum v1 by id1" (low-cardinality key)
@query(
    "h2o_sum_lowcard",
    oracle=f"""
SELECT event_type, {sql_dsum(_V)} AS v1_sum
FROM events GROUP BY event_type ORDER BY event_type
""",
)
def h2o_sum_lowcard(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    return (
        t.events.groupBy("event_type")
        .agg(dsum(F.col("value").cast("decimal(18,6)")).alias("v1_sum"))
        .orderBy("event_type")
    )


# groupby-datafusion.py:97-110 — q2 "sum v1 by id1:id2" (composite key)
@query(
    "h2o_sum_composite",
    oracle=f"""
SELECT event_type, user_id % 100 AS id2, {sql_dsum(_V)} AS v1_sum
FROM events GROUP BY event_type, user_id % 100
ORDER BY event_type, id2
""",
)
def h2o_sum_composite(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    return (
        t.events.groupBy("event_type", (F.col("user_id") % 100).alias("id2"))
        .agg(dsum(F.col("value").cast("decimal(18,6)")).alias("v1_sum"))
        .orderBy("event_type", "id2")
    )


# groupby-datafusion.py:112-126 — q3/q5 "sum+mean by id3" (high cardinality)
@query(
    "h2o_sum_hicard",
    oracle=f"""
SELECT user_id, {sql_dsum(_V)} AS v1_sum,
       {sql_dsum(_V)} / COUNT(*) AS v3_mean
FROM events GROUP BY user_id
ORDER BY user_id
LIMIT 500
""",
)
def h2o_sum_hicard(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    v = F.col("value").cast("decimal(18,6)")
    return (
        t.events.groupBy("user_id")
        .agg(
            dsum(v).alias("v1_sum"),
            (F.sum(v).cast("decimal(38,4)").cast("double") / F.count(F.lit(1))).alias(
                "v3_mean"
            ),
        )
        .orderBy("user_id")
        .limit(500)
    )


# groupby-datafusion.py:156-170 — q7 "max(v1) - min(v2) by id3"
@query(
    "h2o_range_by_group",
    oracle="""
SELECT user_id, max(value) - min(value) AS range_v
FROM events GROUP BY user_id
HAVING max(value) - min(value) > 0
ORDER BY user_id
LIMIT 500
""",
)
def h2o_range_by_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    return (
        t.events.groupBy("user_id")
        .agg((F.max("value") - F.min("value")).alias("range_v"))
        .where(F.col("range_v") > 0)
        .orderBy("user_id")
        .limit(500)
    )


# groupby-datafusion.py:172-192 — q8 "top 2 v3 per id6" (window, the query
# the reference runs via row_number() OVER — its only distributed-window use)
@query(
    "h2o_top2_per_group",
    oracle="""
SELECT event_type, value FROM (
  SELECT event_type, value,
         row_number() OVER (PARTITION BY event_type ORDER BY value DESC, event_id) AS rn
  FROM events
) x WHERE rn <= 2
ORDER BY event_type, value DESC
""",
)
def h2o_top2_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    return (
        top_k(t.events, ["event_type"], [F.desc("value"), F.asc("event_id")], 2)
        .select("event_type", "value")
        .orderBy("event_type", F.desc("value"))
    )


# join-datafusion.py:89-112 — "small" join: big table x tiny dim (AQE
# broadcasts the dim; at 100 TB this is the classic fact x dim broadcast)
@query(
    "h2o_join_small",
    oracle=f"""
SELECT n_name, COUNT(*) AS n, {sql_dsum(_V)} AS v_sum
FROM events JOIN nation ON events.user_id % 25 = nation.n_nationkey
GROUP BY n_name ORDER BY n_name
""",
)
def h2o_join_small(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    return (
        t.events.join(
            F.broadcast(t.nation), F.col("user_id") % 25 == F.col("n_nationkey")
        )
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum(F.col("value").cast("decimal(18,6)")).alias("v_sum"),
        )
        .orderBy("n_name")
    )


# join-datafusion.py:114-135 — "medium" join: fact x mid-size dim on a
# shared key domain (shuffle-hash / sort-merge territory at scale)
@query(
    "h2o_join_medium",
    oracle=f"""
SELECT c_mktsegment, COUNT(*) AS n, {sql_dsum(_V)} AS v_sum
FROM events JOIN customer ON events.user_id % 1000 = customer.c_custkey
GROUP BY c_mktsegment ORDER BY c_mktsegment
""",
)
def h2o_join_medium(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    return (
        t.events.join(t.customer, F.col("user_id") % 1000 == F.col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum(F.col("value").cast("decimal(18,6)")).alias("v_sum"),
        )
        .orderBy("c_mktsegment")
    )


# join-datafusion.py:137-159 — "big" join: fact x fact on the full key
# (both sides shuffle on the join key; the stress shape)
@query(
    "h2o_join_big",
    oracle="""
WITH a AS (SELECT user_id, COUNT(*) AS n_events FROM events GROUP BY user_id),
b AS (SELECT user_id, COUNT(DISTINCT event_type) AS n_types FROM events GROUP BY user_id)
SELECT a.user_id, a.n_events, b.n_types
FROM a JOIN b ON a.user_id = b.user_id
ORDER BY a.user_id
LIMIT 1000
""",
)
def h2o_join_big(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    a = t.events.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_events"))
    b = t.events.groupBy(F.col("user_id").alias("uid")).agg(
        F.countDistinct("event_type").alias("n_types")
    )
    return (
        a.join(b, F.col("user_id") == F.col("uid"))
        .select("user_id", "n_events", "n_types")
        .orderBy("user_id")
        .limit(1000)
    )


# NYC-taxi aggregation (reference benchmarks/src/bin/nyctaxi.rs:104:
# passenger_count MIN/MAX/AVG fare grouped query) adapted to events
@query(
    "nyctaxi_agg",
    oracle=f"""
SELECT event_type, COUNT(*) AS n,
       MIN(value) AS min_value, MAX(value) AS max_value,
       {sql_dsum(_V)} / COUNT(*) AS avg_value
FROM events
GROUP BY event_type
ORDER BY event_type
""",
)
def nyctaxi_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    v = F.col("value").cast("decimal(18,6)")
    return (
        t.events.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
            (F.sum(v).cast("decimal(38,4)").cast("double") / F.count(F.lit(1))).alias(
                "avg_value"
            ),
        )
        .orderBy("event_type")
    )


# groupby-datafusion.py:124-138 — q4 "mean v1:v3 by id4"
@query(
    "h2o_mean_multi",
    oracle=f"""
SELECT user_id % 10 AS id4,
       {sql_dsum(_V)} / COUNT(*) AS v1_mean,
       CAST(SUM(event_id % 100) AS DOUBLE) / COUNT(*) AS v2_mean,
       {sql_dsum(_V)} / COUNT(*) AS v3_mean
FROM events GROUP BY user_id % 10 ORDER BY id4
""",
)
def h2o_mean_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    v = F.col("value").cast("decimal(18,6)")
    mean_v = (F.sum(v).cast("decimal(38,4)").cast("double") / F.count(F.lit(1)))
    return (
        t.events.groupBy((F.col("user_id") % 10).alias("id4"))
        .agg(
            mean_v.alias("v1_mean"),
            (F.sum(F.col("event_id") % 100).cast("double") / F.count(F.lit(1))).alias(
                "v2_mean"
            ),
            mean_v.alias("v3_mean"),
        )
        .orderBy("id4")
    )


# groupby-datafusion.py:140-154 — q5 "sum v1:v3 by id6" (medium cardinality)
@query(
    "h2o_sum_multi",
    oracle=f"""
SELECT user_id % 300 AS id6, {sql_dsum(_V)} AS v1_sum,
       CAST(SUM(event_id % 100) AS BIGINT) AS v2_sum, {sql_dsum(_V)} AS v3_sum
FROM events GROUP BY user_id % 300 ORDER BY id6
""",
)
def h2o_sum_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    v = F.col("value").cast("decimal(18,6)")
    return (
        t.events.groupBy((F.col("user_id") % 300).alias("id6"))
        .agg(
            dsum(v).alias("v1_sum"),
            F.sum(F.col("event_id") % 100).alias("v2_sum"),
            dsum(v).alias("v3_sum"),
        )
        .orderBy("id6")
    )


# groupby-datafusion.py:156-170 — q6 "median + sd by id4,id5" (the reference
# uses approx_percentile_cont; here the median is EXACT so it oracle-checks)
@query(
    "h2o_median_sd",
    oracle="""
SELECT user_id % 10 AS id4, user_id % 25 AS id5,
       median(value) AS median_v3, round(stddev(value), 6) AS sd_v3
FROM events GROUP BY user_id % 10, user_id % 25
ORDER BY id4, id5
""",
)
def h2o_median_sd(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    return (
        t.events.groupBy(
            (F.col("user_id") % 10).alias("id4"), (F.col("user_id") % 25).alias("id5")
        )
        .agg(
            F.median("value").alias("median_v3"),
            F.round(F.stddev("value"), 6).alias("sd_v3"),
        )
        .orderBy("id4", "id5")
    )


# groupby-datafusion.py:213-226 — q10 "sum + count by id1:id6" (6-key wide
# group: near-unique groups, the widest-shuffle stress shape)
@query(
    "h2o_sum_count_wide",
    oracle=f"""
SELECT event_type, user_id % 10 AS id4, user_id % 25 AS id5, user_id % 300 AS id6,
       user_id AS id3, event_id % 7 AS id7,
       {sql_dsum(_V)} AS v3_sum, COUNT(*) AS cnt
FROM events
GROUP BY event_type, user_id % 10, user_id % 25, user_id % 300, user_id, event_id % 7
ORDER BY event_type, id3, id7, v3_sum
LIMIT 1000
""",
)
def h2o_sum_count_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    return (
        t.events.groupBy(
            "event_type",
            (F.col("user_id") % 10).alias("id4"),
            (F.col("user_id") % 25).alias("id5"),
            (F.col("user_id") % 300).alias("id6"),
            F.col("user_id").alias("id3"),
            (F.col("event_id") % 7).alias("id7"),
        )
        .agg(
            dsum(F.col("value").cast("decimal(18,6)")).alias("v3_sum"),
            F.count(F.lit(1)).alias("cnt"),
        )
        .orderBy("event_type", "id3", "id7", "v3_sum")
        .limit(1000)
    )


# join-datafusion.py:124-146 — medium LEFT joins (q3 on id2, q4 on a factor
# key): outer semantics — rows without a match survive with NULL dim columns
@query(
    "h2o_join_left_medium",
    oracle=f"""
SELECT c_mktsegment, COUNT(*) AS n, COUNT(c_custkey) AS n_matched,
       {sql_dsum(_V)} AS v_sum
FROM events LEFT JOIN customer ON events.user_id % 3000 = customer.c_custkey
GROUP BY c_mktsegment ORDER BY c_mktsegment NULLS FIRST
""",
)
def h2o_join_left_medium(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    return (
        t.events.join(
            t.customer, F.col("user_id") % 3000 == F.col("c_custkey"), "left"
        )
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count("c_custkey").alias("n_matched"),
            dsum(F.col("value").cast("decimal(18,6)")).alias("v_sum"),
        )
        .orderBy(F.asc_nulls_first("c_mktsegment"))
    )


# join-datafusion.py:148-159 variant — join on a STRING factor key (the h2o
# id5 factor join): dim derived per event_type, joined back on the factor
@query(
    "h2o_join_factor",
    oracle=f"""
WITH dim AS (
  SELECT event_type AS d_type, COUNT(*) AS type_total
  FROM events GROUP BY event_type
)
SELECT event_type, user_id % 25 AS id5, COUNT(*) AS n,
       MIN(type_total) AS type_total, {sql_dsum(_V)} AS v_sum
FROM events JOIN dim ON events.event_type = dim.d_type
GROUP BY event_type, user_id % 25
ORDER BY event_type, id5
""",
)
def h2o_join_factor(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    dim = t.events.groupBy(F.col("event_type").alias("d_type")).agg(
        F.count(F.lit(1)).alias("type_total")
    )
    return (
        t.events.join(F.broadcast(dim), F.col("event_type") == F.col("d_type"))
        .groupBy("event_type", (F.col("user_id") % 25).alias("id5"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("type_total").alias("type_total"),
            dsum(F.col("value").cast("decimal(18,6)")).alias("v_sum"),
        )
        .orderBy("event_type", "id5")
    )


# groupby-datafusion.py:194-211 — q9 "corr(v1,v2)^2 by id2,id4"
@query(
    "h2o_corr_by_group",
    oracle="""
SELECT user_id % 10 AS id4, round(pow(corr(value, epoch_us(CAST(ts AS TIMESTAMP))), 2), 8) AS r2
FROM events GROUP BY user_id % 10
ORDER BY id4
""",
)
def h2o_corr_by_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    return (
        t.events.groupBy((F.col("user_id") % 10).alias("id4"))
        .agg(F.round(F.pow(F.corr("value", F.unix_micros("ts")), 2), 8).alias("r2"))
        .orderBy("id4")
    )
