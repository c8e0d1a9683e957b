"""Deterministic sampling / dataset-split operators for training pipelines.

A 100 TB corpus is never split or sampled with ``rand()``: the assignment
must be reproducible across runs, engines, and re-partitions, and must not
require a shuffle. All three operators key on ``md5(doc_id)`` — a pure
per-row map, so the assignment is stable no matter how the data is
partitioned, and identical in any engine (which is what makes the DuckDB
oracles exact; same conv/0x trick as operators/dedup.py minhash).

Scale posture:
- split/stratified sampling are ONE narrow pass: hash + conditional
  aggregate with map-side partials; the shuffle carries one row per group.
- per-group top-k-by-hash ("consistent sample") is a window with a
  rank<=k filter — Spark >= 3.5 plans WindowGroupLimit, a per-partition
  top-k heap, so the shuffle carries at most k rows per (partition, group),
  never the full group.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from datafusion_ballista_dhruvil_spark.operators.registry import query
from datafusion_ballista_dhruvil_spark.operators.scale import top_k
from datafusion_ballista_dhruvil_spark.session import Tables


def _hash_bucket(col, mod: int):
    """Deterministic bucket in [0, mod) from md5 of the (stringified) key.

    15 hex chars = 60 bits, always < 2^62: fits a signed 64-bit int in both
    engines, and md5 output is non-negative so Spark's % and DuckDB's %
    agree (both engines return negative for negative operands, which never
    occur here).
    """
    return (
        F.conv(F.substring(F.md5(col.cast("string")), 1, 15), 16, 10).cast("long")
        % mod
    )


_SQL_BUCKET = "CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100"


# --------------------------------------------------------------------------
@query(
    "split_hash_assign",
    oracle=f"""
WITH b AS (
  SELECT doc_id, source, n_chars, {_SQL_BUCKET} AS bucket
  FROM documents
)
SELECT CASE WHEN bucket < 80 THEN 'train'
            WHEN bucket < 90 THEN 'val'
            ELSE 'test' END AS split,
       COUNT(*) AS n_docs,
       COUNT(DISTINCT source) AS n_sources,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars
FROM b
GROUP BY 1
ORDER BY split
""",
)
def split_hash_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """80/10/10 train/val/test split by hash bucket of the document id.

    The assignment is a pure projection — every executor can compute it
    locally with no shuffle and no coordination, and a re-run (or a
    different engine) assigns every doc to the same split. The summary
    aggregate here verifies the bucketing; a pipeline would instead
    ``write.partitionBy("split")``.
    """
    t = Tables(spark, sf_dir)
    bucket = _hash_bucket(F.col("doc_id"), 100)
    split = (
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    ).alias("split")
    return (
        t.documents.select(split, "source", "n_chars")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("source").alias("n_sources"),
            F.sum("n_chars").alias("sum_chars"),
            (F.sum("n_chars").cast("double") / F.count(F.lit(1))).alias("avg_chars"),
        )
        .orderBy("split")
    )


# --------------------------------------------------------------------------
@query(
    "sample_stratified_hash",
    oracle=f"""
WITH b AS (
  SELECT source, {_SQL_BUCKET} AS bucket FROM documents
)
SELECT source,
       COUNT(*) AS n_total,
       CAST(SUM(CASE WHEN bucket < 10 THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
       CAST(SUM(CASE WHEN bucket < 10 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)
         AS sample_rate
FROM b
GROUP BY source
ORDER BY source
""",
)
def sample_stratified_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 10% stratified sample: keep docs with hash bucket < 10.

    Unlike ``df.sampleBy`` (seeded pseudo-random, partition-order
    sensitive), a hash threshold gives the same sample on every run and
    composes: bucket < 10 is a subset of bucket < 20, so sample growth is
    monotone — the property training-data ablations need. One scan,
    conditional counts with map-side partials.
    """
    t = Tables(spark, sf_dir)
    sampled = (_hash_bucket(F.col("doc_id"), 100) < 10).cast("int")
    return (
        t.documents.select("source", sampled.alias("in_sample"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum("in_sample").alias("n_sampled"),
            (F.sum("in_sample").cast("double") / F.count(F.lit(1))).alias(
                "sample_rate"
            ),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
@query(
    "sample_topk_per_group",
    oracle="""
WITH h AS (
  SELECT source, doc_id, md5(CAST(doc_id AS VARCHAR)) AS hk FROM documents
),
r AS (
  SELECT source, doc_id,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY hk, doc_id) AS rk
  FROM h
)
SELECT source, doc_id, rk FROM r WHERE rk <= 5
ORDER BY source, rk
""",
)
def sample_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consistent per-group sample: the 5 docs with smallest md5(doc_id)
    per source.

    Hash-ordered top-k is a uniform sample that is stable under data growth
    (a doc stays sampled until 5 smaller hashes arrive in its group) —
    bottom-k sketch semantics. Plan: WindowGroupLimit pushes the k=5 limit
    into a per-partition heap before the source shuffle, so at 100 TB the
    exchange carries <= 5 rows per (input partition, source), not the
    whole corpus (asserted in tests/test_plans.py).
    """
    t = Tables(spark, sf_dir)
    hashed = t.documents.select(
        "source", "doc_id", F.md5(F.col("doc_id").cast("string")).alias("hk")
    )
    return (
        top_k(hashed, ["source"], ["hk", "doc_id"], 5, rank="rk")
        .select("source", "doc_id", "rk")
        .orderBy("source", "rk")
    )


# --------------------------------------------------------------------------
@query(
    "pack_token_bins",
    oracle="""
WITH h AS (
  SELECT doc_id,
         len(string_split(text, ' ')) AS n_tokens,
         md5(CAST(doc_id AS VARCHAR)) AS hk,
         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 8
           AS shard
  FROM documents
),
c AS (
  SELECT shard, doc_id, n_tokens,
         SUM(n_tokens) OVER (
           PARTITION BY shard ORDER BY hk, doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) - n_tokens AS start_off
  FROM h
)
SELECT shard,
       CAST(start_off // 512 AS BIGINT) AS pack_id,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS pack_tokens,
       MIN(doc_id) AS first_doc
FROM c
GROUP BY shard, pack_id
ORDER BY shard, pack_id
""",
)
def pack_token_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic sequence packing: assign docs to ~512-token bins.

    The pre-tokenization packing step of an LLM training pipeline: group
    documents into fixed token-budget packs so downstream concatenation
    emits near-full context windows. True first-fit packing is inherently
    sequential; the distributed form used here (and by real pipelines)
    shards the corpus by hash, orders each shard deterministically by
    (md5(doc_id), doc_id), and cuts the running token total every
    ``capacity`` tokens — a doc whose start offset lands in bin *k* joins
    pack *k*. Fully reproducible: re-runs, re-partitions, and other engines
    assign every doc to the same pack (same md5/conv trick as the split
    operators above).

    Scale: ONE shuffle on ``shard``; the per-shard window sort is bounded
    by corpus_size / n_shards, so at 100 TB the shard count dials partition
    memory (set it to a multiple of the cluster's cores — 8 here only so
    sf0.01's 500 docs still make multi-doc packs). The pack summary then
    aggregates on (shard, pack) with map-side partials.
    """
    t = Tables(spark, sf_dir)
    capacity = 512
    n_shards = 8
    h = t.documents.select(
        "doc_id",
        F.array_size(F.split(F.col("text"), " ")).alias("n_tokens"),
        F.md5(F.col("doc_id").cast("string")).alias("hk"),
        _hash_bucket(F.col("doc_id"), n_shards).alias("shard"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("hk", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = h.select(
        "shard",
        "doc_id",
        "n_tokens",
        (F.sum("n_tokens").over(w) - F.col("n_tokens")).alias("start_off"),
    )
    return (
        c.groupBy("shard", F.expr(f"start_off div {capacity}").alias("pack_id"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("pack_tokens"),
            F.min("doc_id").alias("first_doc"),
        )
        .orderBy("shard", "pack_id")
    )


# --------------------------------------------------------------------------
_SQL_MIXBUCKET = (
    "CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)"
    " % 1000000"
)


@query(
    "mix_resample_sources",
    oracle=f"""
WITH c AS (SELECT lang, COUNT(*) AS n_total FROM documents GROUP BY 1),
m AS (SELECT MIN(n_total) AS mn FROM c),
th AS (SELECT lang, n_total, (mn * 1000000) // n_total AS keep_below
       FROM c CROSS JOIN m),
b AS (SELECT lang, {_SQL_MIXBUCKET} AS bucket FROM documents)
SELECT b.lang, th.n_total, th.keep_below,
       CAST(COUNT(*) FILTER (WHERE b.bucket < th.keep_below) AS BIGINT)
         AS n_kept,
       CAST(COUNT(*) FILTER (WHERE b.bucket < th.keep_below) AS DOUBLE)
         / th.n_total AS realized_rate
FROM b JOIN th USING (lang)
GROUP BY b.lang, th.n_total, th.keep_below
ORDER BY lang
""",
)
def mix_resample_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture rebalancing: downsample every language to the smallest
    language's share (uniform target mixture) with deterministic hash
    thresholds — the "data mixing" step of a pre-training pipeline.

    Per-group rate = min_count / n_group, applied as an integer hash
    threshold `bucket < (min*1e6) // n` so the decision is a pure per-row
    map: reproducible across runs/engines/partitionings, monotone under
    quota growth, and requiring NO shuffle of the corpus. Generalizes to
    arbitrary target weights by swapping the numerator.

    Two passes at scale: (1) the group-count aggregate (tiny result —
    one row per language); (2) thresholds BROADCAST back for a map-side
    filter. The final per-group summary shuffles one partial row per
    (map task, lang). The hash realizes ~rate exactly in expectation;
    realized_rate reports the delivered fraction.
    """
    t = Tables(spark, sf_dir)
    counts = t.documents.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_total")
    )
    mn = counts.agg(F.min("n_total").alias("mn"))
    th = counts.crossJoin(F.broadcast(mn)).select(
        "lang",
        "n_total",
        F.expr("(mn * 1000000) div n_total").alias("keep_below"),
    )
    b = t.documents.select(
        "lang", _hash_bucket(F.col("doc_id"), 1000000).alias("bucket")
    )
    kept = F.count(F.when(F.col("bucket") < F.col("keep_below"), 1))
    return (
        b.join(F.broadcast(th), "lang")
        .groupBy("lang", "n_total", "keep_below")
        .agg(
            kept.alias("n_kept"),
            (kept.cast("double") / F.col("n_total")).alias("realized_rate"),
        )
        .orderBy("lang")
    )


# --------------------------------------------------------------------------
@query(
    "sample_negative_pairs",
    oracle="""
WITH anchors AS (
  SELECT doc_id AS anchor_id, lang AS anchor_lang
  FROM documents WHERE doc_id < 100
),
cand AS (
  SELECT anchor_id, anchor_lang, k,
         CAST(('0x' || substr(md5(CAST(anchor_id AS VARCHAR) || ':'
                                  || CAST(k AS VARCHAR)), 1, 15)) AS BIGINT)
           % 500 AS neg_id
  FROM anchors CROSS JOIN (SELECT unnest([1, 2, 3]) AS k)
),
pairs AS (SELECT * FROM cand WHERE neg_id <> anchor_id)
SELECT p.anchor_id, p.k, p.neg_id, p.anchor_lang,
       d.lang AS neg_lang, d.source AS neg_source,
       CAST(p.anchor_lang = d.lang AS BOOLEAN) AS same_lang
FROM pairs p JOIN documents d ON d.doc_id = p.neg_id
ORDER BY p.anchor_id, p.k
""",
)
def sample_negative_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic negative sampling for contrastive training: each anchor
    document gets 3 pseudo-random negatives drawn as md5(anchor_id:k) mod
    pool — a real bit-mixed draw (a multiply-add mod pool degenerates to a
    linear map where an anchor's negatives sit 3 apart and anchors collide
    structurally), still reproducible across engines, partitions and
    re-runs (no rand()), which is what makes eval sets stable.

    Scale posture: the pair-generation is a map-side explode (3 rows per
    anchor, no shuffle); the lookup joins negatives to the corpus on its
    key. At 100 TB the anchor side is the small one — broadcast it the
    other way or co-partition both sides on doc_id; either way no
    all-pairs blowup, candidates are O(anchors x k).
    """
    t = Tables(spark, sf_dir)
    anchors = t.documents.where(F.col("doc_id") < 100).select(
        F.col("doc_id").alias("anchor_id"), F.col("lang").alias("anchor_lang")
    )
    cand = (
        anchors.select(
            "anchor_id", "anchor_lang", F.explode(F.array(*[F.lit(k) for k in (1, 2, 3)])).alias("k")
        )
        .select(
            "anchor_id",
            "anchor_lang",
            "k",
            (
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat_ws(
                                ":",
                                F.col("anchor_id").cast("string"),
                                F.col("k").cast("string"),
                            )
                        ),
                        1,
                        15,
                    ),
                    16,
                    10,
                ).cast("long")
                % 500
            ).alias("neg_id"),
        )
        .where(F.col("neg_id") != F.col("anchor_id"))
    )
    docs = t.documents.select(
        F.col("doc_id").alias("neg_id"),
        F.col("lang").alias("neg_lang"),
        F.col("source").alias("neg_source"),
    )
    return (
        cand.join(docs, "neg_id")
        .select(
            "anchor_id",
            "k",
            "neg_id",
            "anchor_lang",
            "neg_lang",
            "neg_source",
            (F.col("anchor_lang") == F.col("neg_lang")).alias("same_lang"),
        )
        .orderBy("anchor_id", "k")
    )


# --------------------------------------------------------------------------
@query(
    "sample_pps_systematic",
    oracle="""
WITH w AS (
  SELECT doc_id, source, n_chars,
         SUM(n_chars) OVER (ORDER BY doc_id
                            ROWS UNBOUNDED PRECEDING) AS cum
  FROM documents
),
t AS (SELECT CAST(SUM(n_chars) AS BIGINT) AS tot FROM documents),
s AS (
  SELECT source, n_chars, CAST(cum AS BIGINT) AS cum, tot // 100 AS step
  FROM w CROSS JOIN t
)
SELECT source,
       COUNT(*) FILTER (WHERE cum // step > (cum - n_chars) // step)
         AS n_selected,
       CAST(SUM(n_chars) FILTER (WHERE cum // step
                                       > (cum - n_chars) // step) AS BIGINT)
         AS sel_chars,
       COUNT(*) AS n_docs
FROM s GROUP BY source ORDER BY source
""",
)
def sample_pps_systematic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Systematic PPS (probability-proportional-to-size) sampling: walk the
    corpus in doc_id order accumulating n_chars; a document is selected
    whenever the cumulative weight crosses a multiple of step = total/100
    — inclusion probability ~ n_chars/step, the survey-sampling design
    token-budgeted corpus subsetting uses (big docs deterministically in,
    small docs systematically thinned). Exact integers throughout.

    The global running sum is computed DISTRIBUTED, not as one sequential
    window: (1) per-chunk sums (chunk = doc_id div 256) aggregate
    map-side; (2) chunk offsets come from a prefix sum over the BOUNDED
    chunk summary (corpus_size/256 rows — recurse the same two-phase
    construction if that summary itself outgrows one partition); (3)
    offsets broadcast-join back and a chunk-partitioned window finishes
    locally. No unpartitioned window ever touches the full corpus —
    this is the textbook two-level distributed prefix sum.
    """
    t = Tables(spark, sf_dir)
    docs = t.documents.select(
        "doc_id",
        "source",
        "n_chars",
        F.expr("doc_id div 256").alias("chunk"),
    )
    chunks = docs.groupBy("chunk").agg(F.sum("n_chars").alias("cw"))
    # bounded relation (see docstring): prefix-sum the chunk summary
    woff = Window.orderBy("chunk").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    offs = chunks.select(
        "chunk", (F.sum("cw").over(woff) - F.col("cw")).alias("off")
    )
    tot = docs.agg(F.sum("n_chars").cast("bigint").alias("tot"))
    wloc = (
        Window.partitionBy("chunk")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    s = (
        docs.join(F.broadcast(offs), "chunk")
        .crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_chars",
            (F.col("off") + F.sum("n_chars").over(wloc)).cast("bigint").alias("cum"),
            F.expr("tot div 100").alias("step"),
        )
    )
    hit = F.expr("cum div step > (cum - n_chars) div step")
    return (
        s.groupBy("source")
        .agg(
            F.count(F.when(hit, 1)).alias("n_selected"),
            F.sum(F.when(hit, F.col("n_chars"))).cast("bigint").alias("sel_chars"),
            F.count(F.lit(1)).alias("n_docs"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
@query(
    "sample_weighted_expjump",
    oracle="""
WITH keyed AS (
  SELECT doc_id, source, n_chars,
         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
              AS BIGINT) AS h
  FROM documents
),
scored AS (
  SELECT doc_id, source, n_chars,
         (CAST(round(ln(1152921504606846976.0) * 1000000) AS BIGINT)
          - CAST(round(ln(CAST(h + 1 AS DOUBLE)) * 1000000) AS BIGINT))
           * 1000000 // n_chars AS ekey
  FROM keyed
)
SELECT doc_id, source, n_chars, ekey
FROM scored
ORDER BY ekey, doc_id
LIMIT 20
""",
)
def sample_weighted_expjump(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement via exponential keys
    (Efraimidis-Spirakis A-Res, the exp-jump family): each item draws a
    deterministic pseudo-uniform u from its id hash and competes on
    -ln(u)/weight — the global top-k IS a weighted sample without
    replacement, computable as one distributed TakeOrdered with zero
    coordination (the distributed-reservoir answer at 100 TB; heavier
    documents, weight = n_chars, are proportionally likelier).

    Exactness: u = (h+1)/2^60 with h the 60-bit id hash; the key is
    (ln(2^60) - ln(h+1)) quantized to micro-nats as BIGINT, then integer-
    divided by the weight — all-integer ordering, so both engines select
    the identical sample with identical keys, ties broken on doc_id.
    """
    t = Tables(spark, sf_dir)
    h = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10
    ).cast("long")
    ln_max_q6 = F.round(
        F.log(F.lit(1152921504606846976.0)) * 1000000
    ).cast("bigint")
    ln_h_q6 = F.round(
        F.log((h + 1).cast("double")) * 1000000
    ).cast("bigint")
    return (
        t.documents.select(
            "doc_id",
            "source",
            "n_chars",
            ((ln_max_q6 - ln_h_q6) * 1000000)
            .cast("bigint")
            .alias("_num"),
        )
        .select(
            "doc_id",
            "source",
            "n_chars",
            F.expr("_num div n_chars").alias("ekey"),
        )
        .orderBy("ekey", "doc_id")
        .limit(20)
    )


# --------------------------------------------------------------------------
@query(
    "sample_neyman_allocation",
    oracle="""
WITH s AS (
  SELECT source,
         CAST(COUNT(*) AS BIGINT) AS n_h,
         CAST(SUM(n_chars) AS BIGINT) AS sx,
         CAST(SUM(n_chars * n_chars) AS BIGINT) AS sxx
  FROM documents GROUP BY source
),
sd AS (
  SELECT source, n_h,
         sqrt(CAST(n_h * sxx - sx * sx AS DOUBLE)
              / CAST(n_h AS DOUBLE) / CAST(n_h - 1 AS DOUBLE)) AS s_h
  FROM s WHERE n_h > 1
),
tot AS (SELECT SUM(CAST(n_h AS DOUBLE) * s_h) AS denom FROM sd)
SELECT source, n_h,
       CAST(round(s_h * 1000) AS BIGINT) AS s_h_milli,
       CAST(floor(1000.0 * (CAST(n_h AS DOUBLE) * s_h) / denom) AS BIGINT)
         AS alloc
FROM sd, tot
ORDER BY source
""",
)
def sample_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman optimal allocation for stratified sampling: given a total
    budget of 1000 draws, allocate to each stratum (source) in proportion
    to N_h * S_h (size times within-stratum std) — the design that
    minimizes estimator variance for a fixed budget, and the principled
    version of the per-source quotas mix_resample_sources applies.

    Variance comes from the exact integer co-moments (n*sxx - sx^2, the
    cleared-denominator form used across the engine), so the only floats
    are one sqrt and one division chain per stratum — same IEEE ops both
    engines. Scale: one partial-agg shuffle of 3 integers per stratum;
    the allocation math runs on the k-row stratum table.
    """
    t = Tables(spark, sf_dir)
    s = t.documents.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_h"),
        F.sum("n_chars").cast("bigint").alias("sx"),
        F.sum(F.col("n_chars") * F.col("n_chars")).cast("bigint").alias("sxx"),
    )
    sd = s.where(F.col("n_h") > 1).select(
        "source",
        "n_h",
        F.sqrt(
            (F.col("n_h") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
                "double"
            )
            / F.col("n_h").cast("double")
            / (F.col("n_h") - 1).cast("double")
        ).alias("s_h"),
    )
    tot = sd.agg(
        F.sum(F.col("n_h").cast("double") * F.col("s_h")).alias("denom")
    )
    return (
        sd.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_h",
            F.round(F.col("s_h") * 1000).cast("bigint").alias("s_h_milli"),
            F.floor(
                1000.0 * (F.col("n_h").cast("double") * F.col("s_h"))
                / F.col("denom")
            )
            .cast("bigint")
            .alias("alloc"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
@query(
    "mix_temperature_sampling",
    oracle="""
WITH per_src AS (
  SELECT source,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(n_chars) AS BIGINT) AS n_chars
  FROM documents GROUP BY source
),
tot AS (
  SELECT CAST(SUM(n_chars) AS BIGINT) AS total_chars,
         SUM(sqrt(CAST(n_chars AS DOUBLE))) AS denom
  FROM per_src
)
SELECT s.source, s.n_docs, s.n_chars,
       CAST(round(CAST(s.n_chars AS DOUBLE) / t.total_chars, 6) AS DOUBLE)
         AS p_natural,
       CAST(round(sqrt(CAST(s.n_chars AS DOUBLE)) / t.denom, 6) AS DOUBLE)
         AS p_sampled,
       CAST(round(
         (sqrt(CAST(s.n_chars AS DOUBLE)) / t.denom)
           / (CAST(s.n_chars AS DOUBLE) / t.total_chars), 4) AS DOUBLE)
         AS upsample_factor
FROM per_src s CROSS JOIN tot t
ORDER BY s.source
""",
)
def mix_temperature_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled source mixing weights (alpha = 0.5).

    Multilingual / multi-source pretraining corpora are not sampled at
    their natural proportions: big sources drown small ones. The standard
    fix reweights source i from p_i = n_i / N to q_i ~ p_i^alpha
    (XLM-R-style exponential smoothing). alpha = 1/2 is chosen here so
    the power is sqrt — IEEE-exact and bit-identical in every engine,
    unlike pow(x, 0.7). Output is each source's natural share, its
    temperature share, and the implied up/down-sampling factor the data
    loader applies.

    Scale: ONE scan with a map-side-partial groupBy(source) collapses
    100 TB to S rows (S = #sources, tiny); the totals are a 1-row
    aggregate over those S rows cross-joined back — the house
    first-aggregate-collapse shape; nothing after the first shuffle
    exceeds S rows. Shares are rounded (6 dp) AFTER all exact-integer
    aggregation: the only cross-row float sum is the S-term sqrt
    denominator, whose ulp-order noise the rounding absorbs.
    """
    t = Tables(spark, sf_dir)
    per_src = t.documents.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("n_chars"),
    )
    tot = per_src.agg(
        F.sum("n_chars").alias("total_chars"),
        F.sum(F.sqrt(F.col("n_chars").cast("double"))).alias("denom"),
    )
    # 1-row scalar merge: crossJoin with an aggregate result, not a data join
    joined = per_src.crossJoin(F.broadcast(tot))
    p_nat = F.col("n_chars").cast("double") / F.col("total_chars")
    p_smp = F.sqrt(F.col("n_chars").cast("double")) / F.col("denom")
    return joined.select(
        "source",
        "n_docs",
        "n_chars",
        F.round(p_nat, 6).alias("p_natural"),
        F.round(p_smp, 6).alias("p_sampled"),
        F.round(p_smp / p_nat, 4).alias("upsample_factor"),
    ).orderBy("source")


# --------------------------------------------------------------------------
@query(
    "sample_bootstrap_ci",
    oracle="""
WITH reps AS (SELECT unnest(generate_series(0, 31)) AS rep),
draws AS (
  SELECT r.rep, d.n_chars
  FROM documents d CROSS JOIN reps r
  WHERE CAST(('0x' || substr(
          md5(CAST(d.doc_id AS VARCHAR) || ':' || CAST(r.rep AS VARCHAR)),
          1, 15)) AS BIGINT) % 100 < 50
)
SELECT rep,
       CAST(COUNT(*) AS BIGINT) AS n_kept,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS mean_chars
FROM draws GROUP BY rep ORDER BY rep
""",
)
def sample_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-seeded Bernoulli bootstrap: 32 deterministic half-sample
    replicates of mean document length in ONE distributed pass.

    Classic bootstrap resampling does not distribute (sampling WITH
    replacement needs global coordination); the production shape is B
    deterministic subsample replicates — doc d enters replicate r iff
    md5(doc_id:r) lands under the rate — whose spread estimates the
    sampling variability of the corpus statistic (an m-out-of-n /
    subsample bootstrap). Everything is a pure per-row map: no seed
    state, no partition-order sensitivity, identical in any engine —
    the same property split_hash_assign relies on.

    Scale: the B-way explode happens MAP-SIDE and feeds a partial
    aggregate, so the shuffle carries at most B rows per task, never
    B x N rows; driver sees exactly B rows. The CI itself (quantiles of
    the 32 means) is a trivial driver-side step on B rows — kept out of
    the output so the hash gate pins the exact per-replicate statistics.
    """
    t = Tables(spark, sf_dir)
    draws = (
        t.documents.select("doc_id", "n_chars")
        .withColumn("rep", F.explode(F.sequence(F.lit(0), F.lit(31))))
        .withColumn("rep", F.col("rep").cast("long"))
        .where(
            _hash_bucket(
                F.concat_ws(":", F.col("doc_id"), F.col("rep")), 100
            ) < 50
        )
    )
    return (
        draws.groupBy("rep")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("n_chars").alias("sum_chars"),
            (F.sum("n_chars").cast("double") / F.count(F.lit(1))).alias("mean_chars"),
        )
        .orderBy("rep")
    )


# --------------------------------------------------------------------------
@query(
    "mix_source_caps",
    oracle=f"""
WITH per_src AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents GROUP BY source
),
rated AS (
  SELECT source, n_docs,
         CAST(least(1000000, 20 * 1000000 // n_docs) AS BIGINT) AS rate_ppm
  FROM per_src
),
kept AS (
  SELECT d.source, r.n_docs, r.rate_ppm, d.n_chars,
         CASE WHEN CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15))
                    AS BIGINT) % 1000000 < r.rate_ppm
              THEN 1 ELSE 0 END AS keep
  FROM documents d JOIN rated r USING (source)
)
SELECT source, n_docs, rate_ppm,
       CAST(SUM(keep) AS BIGINT) AS n_kept,
       CAST(SUM(keep * n_chars) AS BIGINT) AS kept_chars
FROM kept GROUP BY source, n_docs, rate_ppm ORDER BY source
""",
)
def mix_source_caps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document caps: downsample every over-represented source
    to <= 20 docs with a DETERMINISTIC hash threshold — the discrete
    companion to mix_temperature_sampling (hard ceilings per source/domain
    rather than continuous reweighting; the C4/RefinedWeb-style "no
    source may exceed X" rule).

    Each source's keep-rate is an EXACT integer ppm (integer floor
    division — bit-identical in both engines), computed from a
    first-aggregate collapse (S rows), broadcast back, and applied as a
    pure per-row hash predicate: no shuffle of the corpus, no
    randomness, monotone under re-runs. The expected kept count is
    rate * n (binomial spread, audited here by emitting the actual
    kept counts under the hash gate).

    Scale: aggregate -> S-row broadcast -> map-side filter -> aggregate;
    the corpus never shuffles.
    """
    t = Tables(spark, sf_dir)
    rated = (
        t.documents.groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .withColumn(
            "rate_ppm",
            F.least(F.lit(1000000), F.expr("20 * 1000000 DIV n_docs")).cast("long"),
        )
    )
    keep = (
        _hash_bucket(F.col("doc_id"), 1000000) < F.col("rate_ppm")
    ).cast("int")
    kept = t.documents.join(F.broadcast(rated), "source").withColumn("keep", keep)
    return (
        kept.groupBy("source", "n_docs", "rate_ppm")
        .agg(
            F.sum("keep").cast("long").alias("n_kept"),
            F.sum(F.col("keep") * F.col("n_chars")).cast("long").alias("kept_chars"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
@query(
    "pack_shard_manifest",
    oracle="""
WITH keyed AS (
  SELECT doc_id, n_chars,
         md5(CAST(doc_id AS VARCHAR)) AS skey,
         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
           % 8 AS shard
  FROM documents
)
SELECT shard,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       MIN(skey) AS first_key,
       MAX(skey) AS last_key
FROM keyed GROUP BY shard ORDER BY shard
""",
)
def pack_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle + sharding manifest: every training
    run needs the corpus in a reproducible pseudo-random order, split
    into fixed shards — md5(doc_id) IS the shuffle (a random-looking but
    stable total order), its low bits the shard assignment, so any
    engine / any re-run produces byte-identical shards with no seed
    state and no global sort coordination (each shard sorts its own
    slice by the hash key; writers emit one file per shard).

    The manifest row per shard — count, byte load, first/last sort key —
    is what the loader checks before streaming; balanced sum_chars
    across shards here demonstrates the hash's load-balancing. Scale:
    ONE hash-partitioned write (repartition(shard) + in-partition sort),
    manifest via map-side-partial min/max/sum — no second pass.
    """
    t = Tables(spark, sf_dir)
    keyed = t.documents.select(
        "doc_id",
        "n_chars",
        F.md5(F.col("doc_id").cast("string")).alias("skey"),
        _hash_bucket(F.col("doc_id"), 8).alias("shard"),
    )
    return (
        keyed.groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
            F.min("skey").alias("first_key"),
            F.max("skey").alias("last_key"),
        )
        .orderBy("shard")
    )


# --------------------------------------------------------------------------
@query(
    "mix_token_apportionment",
    oracle="""
WITH tok AS (
  SELECT source, CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS tokens
  FROM documents GROUP BY source
),
tot AS (SELECT CAST(SUM(tokens) AS BIGINT) AS total FROM tok),
quotas AS (
  SELECT t.source, t.tokens,
         (t.tokens * 1000000) // x.total AS base_quota,
         (t.tokens * 1000000) % x.total AS rem_num
  FROM tok t CROSS JOIN tot x
),
short AS (
  SELECT CAST(1000000 - SUM(base_quota) AS BIGINT) AS shortfall FROM quotas
),
ranked AS (
  SELECT *, row_number() OVER (ORDER BY rem_num DESC, source) AS rk
  FROM quotas
)
SELECT r.source, r.tokens, CAST(r.base_quota AS BIGINT) AS base_quota,
       CAST(r.base_quota + CASE WHEN r.rk <= s.shortfall THEN 1 ELSE 0 END
            AS BIGINT) AS final_quota,
       CAST(CASE WHEN r.rk <= s.shortfall THEN 1 ELSE 0 END AS BIGINT)
         AS got_remainder
FROM ranked r CROSS JOIN short s
ORDER BY r.source
""",
)
def mix_token_apportionment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget apportionment by largest remainder (Hamilton's
    method) — the concrete mixing-plan artifact a training run emits:
    split a 1M-token epoch budget across sources EXACTLY proportional
    to their token mass, with the integer shortfall from flooring
    handed to the largest fractional remainders. Quotas sum to the
    budget EXACTLY (floats would drift and rounding would over/under
    allocate — this is the apportionment algorithm elections use).
    Composes upstream of pack_token_bins (which packs whatever quota
    this op grants) and alongside mix_temperature_sampling /
    sample_neyman_allocation (alternative weighting policies).

    Exactness: everything is int64 — floor quota via `div`, remainder
    NUMERATOR (tokens*B mod total) compared instead of any fractional
    part, rank ties broken on source. Scale posture at 100 TB: one
    map-side token count + partial-agg collapse to a row per source;
    the apportionment itself is a rank window over |sources| rows of
    metadata; two 1-row broadcast scalar merges.
    """
    t = Tables(spark, sf_dir)
    tok = t.documents.groupBy("source").agg(
        F.sum(F.size(F.split(F.col("text"), " ")))
        .cast("bigint")
        .alias("tokens")
    )
    tot = tok.agg(F.sum("tokens").cast("bigint").alias("total"))
    quotas = tok.crossJoin(F.broadcast(tot)).select(  # 1-row scalar merge
        "source",
        "tokens",
        F.expr("(tokens * 1000000) div total").alias("base_quota"),
        F.expr("(tokens * 1000000) % total").alias("rem_num"),
    )
    short = quotas.agg(
        (F.lit(1000000) - F.sum("base_quota")).cast("bigint").alias("shortfall")
    )
    # bounded window: one row per source (metadata-sized)
    ranked = quotas.withColumn(
        "rk",
        F.row_number().over(Window.orderBy(F.desc("rem_num"), F.asc("source"))),
    )
    return (
        ranked.crossJoin(F.broadcast(short))  # 1-row scalar merge
        .select(
            "source",
            "tokens",
            F.col("base_quota").cast("bigint").alias("base_quota"),
            (
                F.col("base_quota")
                + F.when(F.col("rk") <= F.col("shortfall"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("final_quota"),
            F.when(F.col("rk") <= F.col("shortfall"), 1)
            .otherwise(0)
            .cast("bigint")
            .alias("got_remainder"),
        )
        .orderBy("source")
    )
