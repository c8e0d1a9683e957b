"""Corpus-lifecycle operators: snapshot diff, CDC merge, deletion
propagation, split-leakage audit.

A 100 TB training corpus is not static — it is re-crawled, patched,
purged (right-to-be-forgotten), and re-split every few weeks. These
operators are the lifecycle half of the pipeline that the cleaning
operators (text.py / dedup.py) feed. Reference analogue: the engine's
relational surface (joins/aggregates over listing scans,
/root/reference/ballista/core/src/serde/mod.rs) — the lifecycle ops are
pure compositions of those primitives, expressed Spark-first.

Scale posture at 100 TB:
- snapshot diff is ONE key-partitioned full-outer join shuffling only
  (key, 32-byte content hash, tiny metadata) — never document bodies;
  with both snapshots bucketed by key it is exchange-free.
- CDC merge compresses the change batch to ONE op per key (partial agg +
  key shuffle) BEFORE touching the base table — the merge itself is a
  single co-partitioned outer join.
- deletion propagation is a broadcast of the (tiny) tombstone list —
  map-only over the corpus, zero shuffle of event data.
- leakage audit shuffles only (fingerprint, split) pairs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from datafusion_ballista_dhruvil_spark.operators.registry import query
from datafusion_ballista_dhruvil_spark.operators.sampling import _hash_bucket
from datafusion_ballista_dhruvil_spark.operators.scale import top_k
from datafusion_ballista_dhruvil_spark.session import Tables

#: doc_id -> [0,100) bucket, identical text in both engines (see
#: sampling._hash_bucket for the 60-bit safety argument).
_SQL_BUCKET = (
    "CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100"
)


# --------------------------------------------------------------------------
@query(
    "pipeline_version_diff",
    oracle=f"""
WITH b AS (
  SELECT doc_id, source, n_chars, text, {_SQL_BUCKET} AS bucket FROM documents
),
v1 AS (
  SELECT doc_id, source, n_chars, md5(text) AS h FROM b WHERE bucket < 90
),
v2 AS (
  SELECT doc_id, source, n_chars,
         md5(CASE WHEN bucket BETWEEN 40 AND 49 THEN reverse(text) ELSE text END) AS h
  FROM b WHERE bucket < 85 OR bucket >= 90
),
d AS (
  SELECT COALESCE(v1.doc_id, v2.doc_id) AS doc_id,
         COALESCE(v1.source, v2.source) AS source,
         COALESCE(v2.n_chars, v1.n_chars) AS n_chars,
         CASE WHEN v1.doc_id IS NULL THEN 'added'
              WHEN v2.doc_id IS NULL THEN 'removed'
              WHEN v1.h <> v2.h THEN 'changed'
              ELSE 'unchanged' END AS status
  FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id
)
SELECT status, source, COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
FROM d GROUP BY status, source ORDER BY status, source
""",
)
def pipeline_version_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus snapshot diff: classify every document as added / removed /
    changed / unchanged between two corpus versions.

    The two versions are carved deterministically out of `documents` (v2
    drops buckets [85,90), gains [90,100), and rewrites [40,50)), standing
    in for two crawl snapshots. The diff compares 32-byte content hashes
    under a full-outer join on the document key — the incremental-ingest
    primitive every re-crawl pipeline runs first, since downstream work
    (dedup, scoring, embedding) need only touch `added`+`changed` docs.

    Scale: each side reduces to (doc_id, md5, source, n_chars) at the scan
    — document bodies are hashed map-side and never shuffled. The join is
    key-partitioned; with both snapshots stored bucketed by doc_id it runs
    exchange-free. Output is a low-cardinality status x source rollup.
    """
    t = Tables(spark, sf_dir)
    b = t.documents.withColumn("bucket", _hash_bucket(F.col("doc_id"), 100))
    v1 = b.where(F.col("bucket") < 90).select(
        "doc_id", "source", "n_chars", F.md5("text").alias("h")
    )
    v2 = (
        b.where((F.col("bucket") < 85) | (F.col("bucket") >= 90))
        .select(
            "doc_id",
            "source",
            "n_chars",
            F.md5(
                F.when(
                    F.col("bucket").between(40, 49), F.reverse(F.col("text"))
                ).otherwise(F.col("text"))
            ).alias("h"),
        )
    )
    d = v1.alias("v1").join(
        v2.alias("v2"), F.col("v1.doc_id") == F.col("v2.doc_id"), "full_outer"
    )
    status = (
        F.when(F.col("v1.doc_id").isNull(), "added")
        .when(F.col("v2.doc_id").isNull(), "removed")
        .when(F.col("v1.h") != F.col("v2.h"), "changed")
        .otherwise("unchanged")
    )
    return (
        d.select(
            F.coalesce(F.col("v1.doc_id"), F.col("v2.doc_id")).alias("doc_id"),
            F.coalesce(F.col("v1.source"), F.col("v2.source")).alias("source"),
            F.coalesce(F.col("v2.n_chars"), F.col("v1.n_chars")).alias("n_chars"),
            status.alias("status"),
        )
        .groupBy("status", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("sum_chars"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
        .orderBy("status", "source")
    )


# --------------------------------------------------------------------------
@query(
    "pipeline_merge_upsert",
    oracle="""
WITH base AS (
  SELECT DISTINCT user_id, user_id * 10 AS base_value FROM events
),
cdc AS (
  SELECT user_id, event_id,
         CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn,
         COUNT(*) OVER (PARTITION BY user_id) AS n_ops
  FROM events
),
latest AS (SELECT user_id, event_id, op, n_ops FROM cdc WHERE rn = 1)
SELECT b.user_id,
       CASE WHEN l.user_id IS NULL THEN b.base_value ELSE l.event_id END AS final_value,
       CASE WHEN l.user_id IS NULL THEN 'base' ELSE 'cdc' END AS origin,
       COALESCE(l.n_ops, 0) AS n_ops
FROM base b LEFT JOIN latest l ON b.user_id = l.user_id
WHERE l.op IS NULL OR l.op <> 'D'
ORDER BY b.user_id
""",
)
def pipeline_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO (CDC apply): latest-wins upsert of a change batch onto a
    base table, with delete tombstones.

    `events` plays the CDC stream — every non-`error` event upserts the
    user's row (new value = event_id of the winning change), `error`
    events are delete tombstones; the base table is the distinct user set
    with a derived base value. Latest-wins order is (ts, event_id), the
    standard (commit-ts, lsn) CDC tiebreak.

    Scale: the change batch is compressed to ONE winning op per key with a
    key-partitioned window BEFORE the base table is touched — at 100 TB
    the base-side join therefore sees |keys-changed| rows, not |changes|.
    The merge itself is a single co-partitioned left join (base bucketed
    by key -> exchange-free); deletes drop out with a filter, i.e. the
    copy-on-write MERGE plan Delta/Iceberg run.
    """
    t = Tables(spark, sf_dir)
    ev = t.events
    base = ev.select("user_id").distinct().withColumn(
        "base_value", F.col("user_id") * 10
    )
    cdc = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.when(F.col("event_type") == "error", "D").otherwise("U").alias("op"),
        F.count(F.lit(1)).over(Window.partitionBy("user_id")).alias("n_ops"),
    )
    latest = top_k(
        cdc, ["user_id"], [F.col("ts").desc(), F.col("event_id").desc()], 1
    ).select("user_id", "event_id", "op", "n_ops")
    m = base.alias("b").join(
        latest.alias("l"), F.col("b.user_id") == F.col("l.user_id"), "left"
    )
    return (
        m.where(F.col("l.op").isNull() | (F.col("l.op") != "D"))
        .select(
            F.col("b.user_id").alias("user_id"),
            F.when(F.col("l.user_id").isNull(), F.col("b.base_value"))
            .otherwise(F.col("l.event_id"))
            .alias("final_value"),
            F.when(F.col("l.user_id").isNull(), "base")
            .otherwise("cdc")
            .alias("origin"),
            F.coalesce(F.col("l.n_ops"), F.lit(0)).alias("n_ops"),
        )
        .orderBy("user_id")
    )


# --------------------------------------------------------------------------
@query(
    "pipeline_tombstone_purge",
    oracle="""
WITH flagged AS (
  SELECT event_type, user_id, user_id % 30 = 7 AS is_tomb FROM events
)
SELECT event_type,
       COUNT(*) AS n_before,
       COUNT(CASE WHEN NOT is_tomb THEN 1 END) AS n_after,
       COUNT(CASE WHEN is_tomb THEN 1 END) AS n_purged,
       COUNT(DISTINCT CASE WHEN is_tomb THEN user_id END) AS n_users_purged
FROM flagged GROUP BY event_type ORDER BY event_type
""",
)
def pipeline_tombstone_purge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten propagation: purge all records of a tombstone
    user list and emit the compliance audit (before/after/purged counts
    per event type).

    The tombstone set (here `user_id % 30 = 7`, standing in for a deletion
    -request table) is orders of magnitude smaller than the corpus, so it
    broadcasts; membership is then a map-side flag and the audit one
    partial-agg shuffle on the tiny event_type key. The actual purge write
    is `events.join(tombs, 'user_id', 'left_anti')` — the identical
    broadcast plan minus the audit columns; this query keeps both sides of
    the count so the audit is self-contained in one scan.
    """
    t = Tables(spark, sf_dir)
    tombs = (
        t.events.select("user_id")
        .distinct()
        .where(F.col("user_id") % 30 == 7)
        .withColumn("__tomb", F.lit(1))
    )
    flagged = t.events.join(F.broadcast(tombs), "user_id", "left").select(
        "event_type", "user_id", F.col("__tomb").isNotNull().alias("is_tomb")
    )
    return (
        flagged.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_before"),
            F.count(F.when(~F.col("is_tomb"), 1)).alias("n_after"),
            F.count(F.when(F.col("is_tomb"), 1)).alias("n_purged"),
            F.countDistinct(
                F.when(F.col("is_tomb"), F.col("user_id"))
            ).alias("n_users_purged"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
@query(
    "pipeline_split_leakage",
    oracle=f"""
WITH s AS (
  SELECT doc_id, text,
         CASE WHEN {_SQL_BUCKET} < 80 THEN 'train'
              WHEN {_SQL_BUCKET} < 90 THEN 'val'
              ELSE 'test' END AS split
  FROM documents
),
fp AS (
  SELECT doc_id, split,
    md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' '))
      AS fingerprint
  FROM s
),
g AS (
  SELECT fingerprint,
         array_to_string(list_sort(list(DISTINCT split)), '+') AS splits_spanned,
         COUNT(DISTINCT split) AS n_splits,
         COUNT(*) AS n_docs
  FROM fp GROUP BY fingerprint
)
SELECT splits_spanned, n_splits > 1 AS leaky,
       COUNT(*) AS n_groups, CAST(SUM(n_docs) AS BIGINT) AS n_docs
FROM g GROUP BY splits_spanned, leaky ORDER BY splits_spanned
""",
)
def pipeline_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-leakage audit: detect content (token-set fingerprint) groups
    that span train/val/test boundaries — near-duplicates leaking across
    splits silently inflate eval scores, so this check gates every split.

    Composes split_hash_assign's bucketing with text_fingerprint's
    canonical fingerprint: group docs by fingerprint, record the distinct
    splits each group touches, roll up by span combination with a `leaky`
    flag. Scale: shuffles only (fingerprint, split) — 40-odd bytes per doc
    — then a second rollup on the tiny span-combination key. The remedial
    action (re-assign whole fingerprint groups to one split) reuses the
    same first shuffle.
    """
    t = Tables(spark, sf_dir)
    bucket = _hash_bucket(F.col("doc_id"), 100)
    split = (
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    )
    fp = F.md5(
        F.array_join(F.array_sort(F.array_distinct(F.split(F.col("text"), " "))), " ")
    )
    g = (
        t.documents.select(split.alias("split"), fp.alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(
            F.array_join(
                F.array_sort(F.collect_set("split")), "+"
            ).alias("splits_spanned"),
            F.countDistinct("split").alias("n_splits"),
            F.count(F.lit(1)).alias("n_docs"),
        )
    )
    return (
        g.select(
            "splits_spanned",
            (F.col("n_splits") > 1).alias("leaky"),
            "n_docs",
        )
        .groupBy("splits_spanned", "leaky")
        .agg(
            F.count(F.lit(1)).alias("n_groups"),
            F.sum("n_docs").cast("bigint").alias("n_docs"),
        )
        .orderBy("splits_spanned")
    )


# --------------------------------------------------------------------------
@query(
    "pipeline_data_expectations",
    oracle="""
SELECT 'documents' AS tbl, 'doc_id_unique' AS expectation,
       COUNT(*) AS n_rows,
       COUNT(*) - COUNT(DISTINCT doc_id) AS n_violations,
       COUNT(*) - COUNT(DISTINCT doc_id) = 0 AS passed
FROM documents
UNION ALL
SELECT 'documents', 'n_chars_matches_text',
       COUNT(*),
       COUNT(CASE WHEN n_chars <> length(text) THEN 1 END),
       COUNT(CASE WHEN n_chars <> length(text) THEN 1 END) = 0
FROM documents
UNION ALL
SELECT 'documents', 'lang_in_accepted_set',
       COUNT(*),
       COUNT(CASE WHEN lang NOT IN ('en', 'de', 'fr') THEN 1 END),
       COUNT(CASE WHEN lang NOT IN ('en', 'de', 'fr') THEN 1 END) = 0
FROM documents
UNION ALL
SELECT 'orders', 'custkey_ref_integrity',
       (SELECT COUNT(*) FROM orders),
       (SELECT COUNT(*) FROM orders o
        WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)),
       (SELECT COUNT(*) FROM orders o
        WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)) = 0
UNION ALL
SELECT 'lineitem', 'quantity_in_1_40',
       COUNT(*),
       COUNT(CASE WHEN l_quantity < 1 OR l_quantity > 40 THEN 1 END),
       COUNT(CASE WHEN l_quantity < 1 OR l_quantity > 40 THEN 1 END) = 0
FROM lineitem
UNION ALL
SELECT 'events', 'ts_in_expected_window',
       COUNT(*),
       COUNT(CASE WHEN ts < TIMESTAMP '2024-01-01 00:00:00'
                    OR ts >= TIMESTAMP '2024-02-01 00:00:00' THEN 1 END),
       COUNT(CASE WHEN ts < TIMESTAMP '2024-01-01 00:00:00'
                    OR ts >= TIMESTAMP '2024-02-01 00:00:00' THEN 1 END) = 0
FROM events
UNION ALL
SELECT 'events', 'props_has_json_key_k',
       COUNT(*),
       COUNT(CASE WHEN json_extract_string(props, '$.k') IS NULL THEN 1 END),
       COUNT(CASE WHEN json_extract_string(props, '$.k') IS NULL THEN 1 END) = 0
FROM events
ORDER BY tbl, expectation
""",
)
def pipeline_data_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality expectation suite (Deequ/Great-Expectations-style):
    declarative constraints evaluated in bulk, one audit row per
    expectation — uniqueness, field consistency, accepted value sets,
    referential integrity, range and freshness checks, JSON validity.

    The gate every production ingest runs before training data is
    published. Each expectation compiles to a conditional aggregate over
    one scan of its table (violation COUNTing, never row materialization),
    and the referential-integrity check is a null-producing left join
    counted map-side. Scale: per-table costs are one partial-agg pass;
    nothing shuffles more than the 1-row aggregate results; adding an
    expectation adds a column to an existing scan, not a new scan.
    """
    t = Tables(spark, sf_dir)

    def audit(tbl: str, name: str, df: DataFrame, bad) -> DataFrame:
        return df.agg(
            F.lit(tbl).alias("tbl"),
            F.lit(name).alias("expectation"),
            F.count(F.lit(1)).alias("n_rows"),
            F.count(F.when(bad, 1)).alias("n_violations"),
            (F.count(F.when(bad, 1)) == 0).alias("passed"),
        )

    docs = t.documents
    uniq = docs.agg(
        F.lit("documents").alias("tbl"),
        F.lit("doc_id_unique").alias("expectation"),
        F.count(F.lit(1)).alias("n_rows"),
        (F.count(F.lit(1)) - F.countDistinct("doc_id")).alias("n_violations"),
        ((F.count(F.lit(1)) - F.countDistinct("doc_id")) == 0).alias("passed"),
    )
    chars = audit(
        "documents", "n_chars_matches_text", docs,
        F.col("n_chars") != F.length("text"),
    )
    langs = audit(
        "documents", "lang_in_accepted_set", docs,
        ~F.col("lang").isin("en", "de", "fr"),
    )
    ri = audit(
        "orders", "custkey_ref_integrity",
        t.orders.join(
            F.broadcast(
                t.customer.select(F.col("c_custkey").alias("__ck"))
            ),
            F.col("o_custkey") == F.col("__ck"),
            "left",
        ),
        F.col("__ck").isNull(),
    )
    qty = audit(
        "lineitem", "quantity_in_1_40", t.lineitem,
        (F.col("l_quantity") < 1) | (F.col("l_quantity") > 40),
    )
    fresh = audit(
        "events", "ts_in_expected_window", t.events,
        (F.col("ts") < F.lit("2024-01-01 00:00:00").cast("timestamp"))
        | (F.col("ts") >= F.lit("2024-02-01 00:00:00").cast("timestamp")),
    )
    jkey = audit(
        "events", "props_has_json_key_k", t.events,
        F.get_json_object("props", "$.k").isNull(),
    )
    return (
        uniq.unionAll(chars).unionAll(langs).unionAll(ri)
        .unionAll(qty).unionAll(fresh).unionAll(jkey)
        .orderBy("tbl", "expectation")
    )


# --------------------------------------------------------------------------
@query(
    "pipeline_ks_drift",
    oracle="""
WITH h AS (
  SELECT source, n_chars // 16 AS bkt, COUNT(*) AS c
  FROM documents GROUP BY source, bkt
),
cum AS (
  SELECT source, bkt,
         SUM(c) OVER (PARTITION BY source ORDER BY bkt) AS cw,
         SUM(c) OVER (PARTITION BY source) AS n
  FROM h
),
grid AS (SELECT DISTINCT bkt FROM h),
-- step CDF of every source evaluated on the union grid of bucket edges
stepped AS (
  SELECT c.source, g.bkt,
         MAX(c2.cw) AS cw, MAX(c.n0) AS n
  FROM (SELECT DISTINCT source, n AS n0 FROM cum) c
  CROSS JOIN grid g
  LEFT JOIN cum c2 ON c2.source = c.source AND c2.bkt <= g.bkt
  GROUP BY c.source, g.bkt
),
base AS (
  SELECT bkt, COALESCE(cw, 0) AS cw0, n AS n0 FROM stepped WHERE source = 'src0'
),
d AS (
  SELECT s.source, s.n,
         MAX(abs(COALESCE(s.cw, 0) * b.n0 - b.cw0 * s.n)) AS d_q
  FROM stepped s JOIN base b ON s.bkt = b.bkt
  WHERE s.source <> 'src0'
  GROUP BY s.source, s.n
)
SELECT d.source, CAST(n AS BIGINT) AS n_docs, CAST(d_q AS BIGINT) AS d_q,
       CAST(d_q AS DOUBLE) / (n * (SELECT MAX(n0) FROM base)) AS ks_stat
FROM d ORDER BY d_q DESC, source
""",
)
def pipeline_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift audit: two-sample Kolmogorov-Smirnov statistic of
    each source's document-length distribution against the baseline source
    — the ingest gate that catches a crawler change, a new boilerplate
    pattern, or a truncation bug, per source, before training.

    KS = max over thresholds of |CDF_s - CDF_base|, computed EXACTLY in
    cleared-denominator integers: d_q = max |cum_s * n_base - cum_base *
    n_s| (int64; counts bounded far under 2^31 per side), divided once at
    the end. Lengths histogram into 16-char buckets first, so the CDF
    comparison grid is the (tiny) union of occupied buckets, not the raw
    rows.

    Scale: one partial-agg shuffle to the (source, bucket) histogram —
    everything after operates on histogram rows (sources x buckets), so
    the cost is independent of corpus size beyond the first aggregate.
    The per-source window runs over <= |buckets| rows, never raw data.
    (The grid-evaluation step is a bounded inequality join over those
    histogram rows — sources x buckets^2 pairs, corpus-size-independent
    by construction; it would be wrong to read its nested-loop plan as a
    data-volume risk.)
    """
    t = Tables(spark, sf_dir)
    h = (
        t.documents.select(
            "source", F.expr("n_chars div 16").alias("bkt")
        )
        .groupBy("source", "bkt")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    wcum = Window.partitionBy("source").orderBy("bkt")
    wall = Window.partitionBy("source")
    cum = h.select(
        "source",
        "bkt",
        F.sum("c").over(wcum).alias("cw"),
        F.sum("c").over(wall).alias("n"),
    )
    grid = h.select("bkt").distinct()
    srcs = cum.select("source", F.col("n").alias("n0")).distinct()
    # step-function CDF on the union grid: for each (source, grid bucket),
    # the cumulative weight of the last occupied bucket <= it
    stepped = (
        srcs.crossJoin(F.broadcast(grid))
        .join(
            cum.select(
                F.col("source").alias("s2"),
                F.col("bkt").alias("b2"),
                F.col("cw").alias("cw2"),
            ),
            (F.col("source") == F.col("s2")) & (F.col("b2") <= F.col("bkt")),
            "left",
        )
        .groupBy("source", "bkt", "n0")
        .agg(F.max("cw2").alias("cw"))
    )
    base = (
        stepped.where(F.col("source") == "src0")
        .select(
            F.col("bkt").alias("bbkt"),
            F.coalesce(F.col("cw"), F.lit(0)).alias("cw0"),
            F.col("n0").alias("nb"),
        )
    )
    d = (
        stepped.where(F.col("source") != "src0")
        .join(F.broadcast(base), F.col("bkt") == F.col("bbkt"))
        .groupBy("source", "n0")
        .agg(
            F.max(
                F.abs(
                    F.coalesce(F.col("cw"), F.lit(0)) * F.col("nb")
                    - F.col("cw0") * F.col("n0")
                )
            ).alias("d_q")
        )
    )
    nb_max = base.agg(F.max("nb").alias("nbm"))
    return (
        d.crossJoin(F.broadcast(nb_max))
        .select(
            "source",
            F.col("n0").cast("bigint").alias("n_docs"),
            F.col("d_q").cast("bigint").alias("d_q"),
            (
                F.col("d_q").cast("double")
                / (F.col("n0") * F.col("nbm")).cast("double")
            ).alias("ks_stat"),
        )
        .orderBy(F.desc("d_q"), "source")
    )


# --------------------------------------------------------------------------
@query(
    "pipeline_source_balance",
    oracle="""
WITH c AS (SELECT source, COUNT(*) AS n FROM documents GROUP BY source),
r AS (
  SELECT n, ROW_NUMBER() OVER (ORDER BY n, source) AS i,
         COUNT(*) OVER () AS k, CAST(SUM(n) OVER () AS BIGINT) AS tot,
         CAST(MAX(n) OVER () AS BIGINT) AS mx
  FROM c
)
SELECT MAX(k) AS n_sources, MAX(tot) AS total_docs,
       CAST(2 * SUM(i * n) - (MAX(k) + 1) * MAX(tot) AS BIGINT) AS gini_num,
       CAST(MAX(k) * MAX(tot) AS BIGINT) AS gini_den,
       CAST(2 * SUM(i * n) - (MAX(k) + 1) * MAX(tot) AS DOUBLE)
         / (MAX(k) * MAX(tot)) AS gini,
       MAX(mx) * 1000000 // MAX(tot) AS max_share_ppm
FROM r
""",
)
def pipeline_source_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture-balance audit: Gini coefficient + max share of the
    per-source document distribution — the one-row health metric a data
    mixer watches (Gini 0 = perfectly balanced mixture, ->1 = one source
    dominates; the input check before mix_resample_sources rebalances).

    Gini via the exact rank formula (2*Sum(i*c_i) - (k+1)*Sum(c)) /
    (k*Sum(c)) on counts sorted ascending with a total tiebreak — all
    int64 until the single output division. Scale: the corpus collapses
    to k = |sources| rows at the first aggregate; ranking k rows is free.
    """
    t = Tables(spark, sf_dir)
    c = t.documents.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    w = Window.orderBy("n", "source")
    r = c.select(
        "n",
        F.row_number().over(w).alias("i"),
    )
    agg = r.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("n").cast("bigint").alias("tot"),
        F.max("n").cast("bigint").alias("mx"),
        F.sum(F.col("i") * F.col("n")).cast("bigint").alias("sin"),
    )
    num = 2 * F.col("sin") - (F.col("k") + 1) * F.col("tot")
    den = F.col("k") * F.col("tot")
    return agg.select(
        F.col("k").alias("n_sources"),
        F.col("tot").alias("total_docs"),
        num.cast("bigint").alias("gini_num"),
        den.cast("bigint").alias("gini_den"),
        (num.cast("double") / den).alias("gini"),
        F.expr("mx * 1000000 div tot").alias("max_share_ppm"),
    )


# --------------------------------------------------------------------------
@query(
    "pipeline_benford_audit",
    oracle="""
WITH d AS (
  SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1)
              AS INT) AS digit
  FROM orders WHERE o_totalprice >= 1
),
c AS (
  SELECT digit, COUNT(*) AS n FROM d GROUP BY digit
)
SELECT digit, n,
       CAST(n * 1000000 // CAST(SUM(n) OVER () AS BIGINT) AS BIGINT) AS obs_ppm,
       CASE digit WHEN 1 THEN 301030 WHEN 2 THEN 176091 WHEN 3 THEN 124939
                  WHEN 4 THEN 96910 WHEN 5 THEN 79181 WHEN 6 THEN 66947
                  WHEN 7 THEN 57992 WHEN 8 THEN 51153 ELSE 45757 END AS exp_ppm,
       abs(n * 1000000 // CAST(SUM(n) OVER () AS BIGINT)
           - CASE digit WHEN 1 THEN 301030 WHEN 2 THEN 176091 WHEN 3 THEN 124939
                        WHEN 4 THEN 96910 WHEN 5 THEN 79181 WHEN 6 THEN 66947
                        WHEN 7 THEN 57992 WHEN 8 THEN 51153 ELSE 45757 END)
         > 50000 AS flagged
FROM c ORDER BY digit
""",
)
def pipeline_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit over order totals — the classic
    synthetic-data / fraud / unit-mix-up detector for a numeric column:
    a natural multi-scale amount column should put ~30.1% of first digits
    at 1; a uniform generator (like this synthetic corpus) flags hard.

    Everything is integer-exact: the first digit comes from the decimal
    string of floor(x) (no log10 — libm rounding differs across engines),
    shares are ppm integer divisions, and the Benford expectations are
    integer literals (precomputed log10(1+1/d), engine-independent).

    Scale: one scan + a 9-group aggregate; the SUM() OVER () total runs on
    the 9-row aggregate (bounded, single partition is fine).
    """
    t = Tables(spark, sf_dir)
    digit = (
        F.substring(F.floor("o_totalprice").cast("bigint").cast("string"), 1, 1)
        .cast("int")
        .alias("digit")
    )
    c = (
        t.orders.where(F.col("o_totalprice") >= 1)
        .select(digit)
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    exp_ppm = (
        F.when(F.col("digit") == 1, 301030)
        .when(F.col("digit") == 2, 176091)
        .when(F.col("digit") == 3, 124939)
        .when(F.col("digit") == 4, 96910)
        .when(F.col("digit") == 5, 79181)
        .when(F.col("digit") == 6, 66947)
        .when(F.col("digit") == 7, 57992)
        .when(F.col("digit") == 8, 51153)
        .otherwise(45757)
    )
    # 9-row relation: the unpartitioned total is bounded (see docstring)
    obs_ppm = F.expr("n * 1000000 div SUM(n) OVER ()")
    return c.select(
        "digit",
        "n",
        obs_ppm.alias("obs_ppm"),
        exp_ppm.alias("exp_ppm"),
        (F.abs(obs_ppm - exp_ppm) > 50000).alias("flagged"),
    ).orderBy("digit")


# --------------------------------------------------------------------------
@query(
    "pipeline_compaction_plan",
    oracle="""
WITH f AS (
  SELECT substr(CAST(l_shipdate AS VARCHAR), 1, 7) AS file_key,
         COUNT(*) * 128 AS size_bytes
  FROM lineitem GROUP BY 1
),
t AS (SELECT CAST(SUM(size_bytes) AS BIGINT) AS tot FROM f),
c AS (
  SELECT file_key, CAST(size_bytes AS BIGINT) AS size_bytes,
         CAST(SUM(size_bytes) OVER (ORDER BY file_key
                                    ROWS UNBOUNDED PRECEDING) AS BIGINT)
           - CAST(size_bytes AS BIGINT) AS cum_before,
         tot // 8 + 1 AS target
  FROM f CROSS JOIN t
)
SELECT cum_before // target AS bin_id,
       COUNT(*) AS n_files,
       CAST(SUM(size_bytes) AS BIGINT) AS bin_bytes,
       MIN(file_key) AS first_key,
       MAX(file_key) AS last_key
FROM c GROUP BY 1 ORDER BY bin_id
""",
)
def pipeline_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction planner (the OPTIMIZE/rewrite-data-files step
    every table format needs at 100 TB): per-key "file" stats (here one
    file per ship-month, size = rows x 128B) are packed SEQUENTIALLY in
    key order into ~equal target bins via a prefix sum — bin boundaries
    never split the sort order, so compacted files stay range-prunable
    (the same reason Iceberg's binpack keeps sort order within groups).

    bin = cum_bytes_before // target is the standard one-pass packing:
    deterministic, order-preserving, and each bin lands within one file
    size of the target. The prefix sum runs on the FILE SUMMARY (one row
    per month — bounded metadata, like a manifest listing), not on data
    rows; at metadata scale beyond one partition, the two-phase prefix
    sum of sample_pps_systematic applies unchanged.
    """
    t = Tables(spark, sf_dir)
    f = (
        t.lineitem.select(
            F.substring(F.col("l_shipdate").cast("string"), 1, 7).alias("file_key")
        )
        .groupBy("file_key")
        .agg((F.count(F.lit(1)) * 128).alias("size_bytes"))
    )
    tot = f.agg(F.sum("size_bytes").cast("bigint").alias("tot"))
    w = Window.orderBy("file_key").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    c = f.crossJoin(F.broadcast(tot)).select(
        "file_key",
        F.col("size_bytes").cast("bigint").alias("size_bytes"),
        (F.sum("size_bytes").over(w).cast("bigint") - F.col("size_bytes").cast("bigint")).alias(
            "cum_before"
        ),
        F.expr("tot div 8 + 1").alias("target"),
    )
    return (
        c.groupBy(F.expr("cum_before div target").alias("bin_id"))
        .agg(
            F.count(F.lit(1)).alias("n_files"),
            F.sum("size_bytes").cast("bigint").alias("bin_bytes"),
            F.min("file_key").alias("first_key"),
            F.max("file_key").alias("last_key"),
        )
        .orderBy("bin_id")
    )


# --------------------------------------------------------------------------
@query(
    "pipeline_rowcount_anomaly",
    oracle="""
WITH daily AS (
  SELECT event_type,
         CAST(epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS BIGINT)
           AS day_no,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY event_type, day_no
),
w AS (
  SELECT event_type, day_no, n,
         CAST(SUM(n) OVER (PARTITION BY event_type ORDER BY day_no
                           ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
              AS BIGINT) AS s7,
         CAST(SUM(n * n) OVER (PARTITION BY event_type ORDER BY day_no
                               ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
              AS BIGINT) AS ss7,
         COUNT(*) OVER (PARTITION BY event_type ORDER BY day_no
                        ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS k
  FROM daily
),
f AS (
  SELECT event_type, day_no, n,
         7 * (7 * n - s7) * (7 * n - s7)
           > 9 * (7 * ss7 - s7 * s7) AS anomalous
  FROM w WHERE k = 7
)
SELECT event_type,
       COUNT(*) AS n_days_checked,
       CAST(COUNT(CASE WHEN anomalous THEN 1 END) AS BIGINT) AS n_anomalies,
       MIN(CASE WHEN anomalous THEN day_no END) AS first_anomaly_day
FROM f GROUP BY event_type ORDER BY event_type
""",
)
def pipeline_rowcount_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-volume anomaly monitor: each day's row count per event type
    vs its trailing 7-day window — flag when the squared deviation exceeds
    (3 sigma)^2, entirely in cleared-denominator integers:
    7*(7n - s)^2 > 9*(7*ss - s^2). This is the partition-freshness /
    broken-producer alarm every ingestion pipeline runs before training
    jobs consume a day's data (a half-empty day is a silent skew bomb).

    Integer budget: safe to ~1e8 rows/day/type in int64; beyond that,
    monitor counts in thousands (same formula). Scale: the corpus-sized
    work is one (type, day) count aggregate with map-side partials; the
    trailing windows run over the bounded daily summary.
    """
    t = Tables(spark, sf_dir)
    daily = t.events.groupBy(
        "event_type",
        F.expr("unix_micros(ts) div 86400000000").alias("day_no"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    wt = Window.partitionBy("event_type").orderBy("day_no").rowsBetween(-7, -1)
    w = daily.select(
        "event_type",
        "day_no",
        "n",
        F.sum("n").over(wt).cast("bigint").alias("s7"),
        F.sum(F.col("n") * F.col("n")).over(wt).cast("bigint").alias("ss7"),
        F.count(F.lit(1)).over(wt).alias("k"),
    )
    f = w.where(F.col("k") == 7).select(
        "event_type",
        "day_no",
        F.expr(
            "7 * (7 * n - s7) * (7 * n - s7) > 9 * (7 * ss7 - s7 * s7)"
        ).alias("anomalous"),
    )
    return (
        f.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_days_checked"),
            F.count(F.when(F.col("anomalous"), 1))
            .cast("bigint")
            .alias("n_anomalies"),
            F.min(F.when(F.col("anomalous"), F.col("day_no"))).alias(
                "first_anomaly_day"
            ),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
@query(
    "pipeline_incremental_agg",
    oracle="""
WITH base AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS v_cents
  FROM events WHERE ts < TIMESTAMP '1995-07-01 00:00:00'
  GROUP BY event_type
),
delta AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS v_cents
  FROM events WHERE ts >= TIMESTAMP '1995-07-01 00:00:00'
  GROUP BY event_type
),
merged AS (
  SELECT COALESCE(b.event_type, d.event_type) AS event_type,
         COALESCE(b.n, 0) AS base_n,
         COALESCE(d.n, 0) AS delta_n,
         COALESCE(b.n, 0) + COALESCE(d.n, 0) AS merged_n,
         COALESCE(b.v_cents, 0) + COALESCE(d.v_cents, 0) AS merged_cents
  FROM base b FULL OUTER JOIN delta d USING (event_type)
),
full_recompute AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS v_cents
  FROM events GROUP BY event_type
)
SELECT m.event_type, m.base_n, m.delta_n, m.merged_n, m.merged_cents,
       (m.merged_n = f.n AND m.merged_cents = f.v_cents) AS consistent
FROM merged m JOIN full_recompute f USING (event_type)
ORDER BY event_type
""",
)
def pipeline_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance (materialized-view delta update):
    merge a stored BASE aggregate with the aggregate of only the NEW
    batch via the sum/count merge algebra, and assert the merged state
    equals a full recompute — the pattern that turns a 100 TB daily
    rescan into an O(delta) update (counts and exact integer-cent sums
    are commutative monoids, so partial states compose; the same algebra
    the HLL/quantile sketch-merge queries exercise for approximate
    state).

    Scale: base state is (event_type)-sized — tiny; only the delta
    partition is scanned + aggregated (one partial-agg shuffle of k
    rows); the merge is a full-outer join of two k-row relations. The
    full recompute here exists only to PROVE consistency.
    """
    t = Tables(spark, sf_dir)
    cents = F.sum(
        F.round(F.col("value") * 100).cast("bigint")
    ).cast("bigint")
    cut = F.lit("1995-07-01 00:00:00").cast("timestamp")

    def agg_of(df: DataFrame) -> DataFrame:
        return df.groupBy("event_type").agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            cents.alias("v_cents"),
        )

    base = agg_of(t.events.where(F.col("ts") < cut))
    delta = agg_of(t.events.where(F.col("ts") >= cut))
    merged = (
        base.alias("b")
        .join(delta.alias("d"), "event_type", "full_outer")
        .select(
            "event_type",
            F.coalesce(F.col("b.n"), F.lit(0)).alias("base_n"),
            F.coalesce(F.col("d.n"), F.lit(0)).alias("delta_n"),
            (
                F.coalesce(F.col("b.n"), F.lit(0))
                + F.coalesce(F.col("d.n"), F.lit(0))
            ).alias("merged_n"),
            (
                F.coalesce(F.col("b.v_cents"), F.lit(0))
                + F.coalesce(F.col("d.v_cents"), F.lit(0))
            ).alias("merged_cents"),
        )
    )
    full = agg_of(t.events)
    return (
        merged.join(full, "event_type")
        .select(
            "event_type",
            "base_n",
            "delta_n",
            "merged_n",
            "merged_cents",
            (
                (F.col("merged_n") == F.col("n"))
                & (F.col("merged_cents") == F.col("v_cents"))
            ).alias("consistent"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
@query(
    "pipeline_dataset_card",
    oracle="""
WITH per_src AS (
  SELECT source,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(n_chars) AS BIGINT) AS total_chars,
         CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
         CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
         CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS n_unique
  FROM documents GROUP BY source
)
SELECT source, n_docs, total_chars, n_langs, total_tokens,
       n_docs - n_unique AS n_exact_dups,
       total_tokens * 1000 // n_docs AS tokens_per_doc_milli,
       (n_docs - n_unique) * 1000000 // n_docs AS dup_ppm
FROM per_src
ORDER BY source
""",
)
def pipeline_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-card summary (datasheets-for-datasets): one row per source
    with document/char/token volume, language spread, and the exact-dup
    rate — the provenance table a corpus release publishes and a mixing
    job reads to set per-source sampling rates (cf.
    mix_resample_sources). ONE scan, one groupBy(source) with a
    count-distinct on the 32-byte content hash; every figure exact
    integers.
    """
    t = Tables(spark, sf_dir)
    return (
        t.documents.select(
            "source",
            "lang",
            "n_chars",
            F.size(F.split(F.col("text"), " ")).alias("n_toks"),
            F.md5("text").alias("h"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
            F.countDistinct("lang").cast("bigint").alias("n_langs"),
            F.sum("n_toks").cast("bigint").alias("total_tokens"),
            F.countDistinct("h").cast("bigint").alias("n_unique"),
        )
        .select(
            "source",
            "n_docs",
            "total_chars",
            "n_langs",
            "total_tokens",
            (F.col("n_docs") - F.col("n_unique")).alias("n_exact_dups"),
            F.expr("total_tokens * 1000 div n_docs").alias(
                "tokens_per_doc_milli"
            ),
            F.expr("(n_docs - n_unique) * 1000000 div n_docs").alias(
                "dup_ppm"
            ),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
@query(
    "pipeline_k_anonymity",
    oracle="""
WITH qi AS (
  SELECT lang, source, n_chars // 200 AS size_band,
         CAST(COUNT(*) AS BIGINT) AS grp
  FROM documents GROUP BY 1, 2, 3
)
SELECT CAST(LEAST(grp, 5) AS BIGINT) AS k_bucket,
       CAST(COUNT(*) AS BIGINT) AS n_groups,
       CAST(SUM(grp) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN grp < 5 THEN grp ELSE 0 END) AS BIGINT)
         AS reidentifiable_docs
FROM qi
GROUP BY 1 ORDER BY k_bucket
""",
)
def pipeline_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over quasi-identifiers: bucket every
    (lang, source, size-band) equivalence class by its size (capped at
    k=5) and count how many documents sit in classes smaller than k —
    the re-identification risk figure a privacy review asks for before a
    corpus ships, and the gate that decides which quasi-identifier
    columns must be generalized or suppressed.

    One groupBy over the quasi-identifier tuple, then a k-row rollup —
    the audit costs one shuffle of (tuple, count) however large the
    corpus. ``reidentifiable_docs`` in the k_bucket<5 rows is the
    actionable number; k_bucket=5 aggregates all safe classes.
    """
    t = Tables(spark, sf_dir)
    qi = t.documents.groupBy(
        "lang", "source", F.expr("n_chars div 200").alias("size_band")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("grp"))
    return (
        qi.groupBy(F.least(F.col("grp"), F.lit(5)).cast("bigint").alias("k_bucket"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_groups"),
            F.sum("grp").cast("bigint").alias("n_docs"),
            F.sum(F.when(F.col("grp") < 5, F.col("grp")).otherwise(0))
            .cast("bigint")
            .alias("reidentifiable_docs"),
        )
        .orderBy("k_bucket")
    )
