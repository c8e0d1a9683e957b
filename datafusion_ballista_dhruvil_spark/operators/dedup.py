"""Deduplication operators for LLM training-data pipelines (north-star
extensions; BASELINE.json): exact, MinHash+LSH, SimHash, n-gram Jaccard.

Every variant is expressed with DataFrame operations only — hashing via
md5 (identical bytes in any engine, which is what makes the DuckDB oracles
exact), set ops via array functions, candidate generation via equi-joins that
Catalyst executes as shuffle-hash joins on the band/bucket key.

Scale posture at 100 TB:
- exact + fingerprint dedup: shuffle 32-byte keys only (map-side partial agg).
- MinHash LSH: the candidate join is on (band, signature) — cardinality is
  bounded by bucket collisions, never all-pairs. Skewed buckets (boilerplate
  docs) are handled by AQE skew-join splitting.
- n-gram Jaccard all-pairs verification is intentionally scoped to candidate
  pairs (or a bounded partition) — the all-pairs form is the correctness
  oracle, LSH is the scale path.
"""

from __future__ import annotations

import os
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from datafusion_ballista_dhruvil_spark.operators.registry import query
from datafusion_ballista_dhruvil_spark.operators.scale import (
    after_action,
    cached,
    release_cached,
    top_k,
)
from datafusion_ballista_dhruvil_spark.session import Tables, table_path

#: MinHash parameters: k = BANDS * ROWS_PER_BAND signatures.
BANDS = 4
ROWS_PER_BAND = 4
K = BANDS * ROWS_PER_BAND

#: Mega-bucket guard for LSH/SimHash candidate generation. In-bucket pair
#: explosion is O(bucket²); LSH's guarantee is that buckets stay SMALL, but
#: a degenerate corpus (boilerplate/template pages sharing one signature)
#: produces a bucket with millions of members, and one task then owns a
#: quadratic blowup for hours. Buckets beyond this cap are truncated to
#: their MAX_BUCKET_DOCS smallest doc_ids (a deterministic sample — the
#: low-id docs are also the canonical dedup survivors); every pair among
#: the kept members still emits, so normal-path results are bit-identical
#: whenever no bucket exceeds the cap (the oracle-checked scale). The
#: exact-duplicate mass a mega-bucket represents is already fully handled
#: by dedup_exact's hash-collapse upstream.
MAX_BUCKET_DOCS = 1024


def observe_bucket_cap(df: DataFrame, ids_col: str, tag: str, cap: int = None):
    """Make MAX_BUCKET_DOCS truncation detectable instead of silent.

    Attaches a row-transparent ``observe`` node counting buckets whose
    member array exceeds ``cap`` (plus the max bucket size seen), and,
    inside a query build, a ``scale.after_action`` check that logs a
    WARNING after the query's action if any bucket was truncated (a
    plan-only build drops it unrun). Truncation drops every pair
    involving a doc outside a degenerate bucket's ``cap`` smallest ids —
    recall loss that must be visible at runtime, not discovered
    downstream. ``bucket_pairs`` attaches it to every capped explode.
    Returns ``(df, observation)``; tests and pipeline health checks read
    ``observation.get`` after an action.
    """
    import logging

    from pyspark.sql import Observation

    cap = MAX_BUCKET_DOCS if cap is None else cap
    obs = Observation()
    out = df.observe(
        obs,
        F.sum(
            F.when(F.array_size(F.col(ids_col)) > cap, 1).otherwise(0)
        ).alias("n_truncated"),
        F.max(F.array_size(F.col(ids_col))).alias("max_bucket"),
    )

    def _warn() -> None:
        log = logging.getLogger(__name__)
        try:
            # the listener bus completes the observation just after the
            # action returns; each read waits at most 100 ms
            if not any(obs._jo.getRowOrEmpty().isDefined() for _ in range(20)):
                return
            m = obs.get
            if (m.get("n_truncated") or 0) > 0:
                log.warning(
                    "%s: %d bucket(s) exceeded MAX_BUCKET_DOCS=%d "
                    "(largest=%d); pairs beyond the %d smallest doc_ids per "
                    "bucket were dropped — degenerate corpus, run exact "
                    "dedup first or raise the cap",
                    tag, m["n_truncated"], cap, m["max_bucket"], cap,
                )
        except Exception:  # noqa: BLE001 — the check must never take down the query's result
            log.debug("%s: bucket-cap check failed", tag, exc_info=True)

    after_action(_warn)
    return out, obs


def bucket_pairs(
    buckets: DataFrame, members: str, tag: str, keys: Sequence[str] = ()
) -> DataFrame:
    """(*keys, d1, d2): each unordered pair of a bucket's members once,
    d1 < d2 — the in-bucket pair explode of every banded candidate
    generator. ``members`` holds doc ids, or structs whose first field is
    the doc id (d1 and d2 are then the structs); a doc appears at most
    once per bucket. ``keys`` are bucket columns carried onto each pair.
    Members sort and only the MAX_BUCKET_DOCS smallest pair (read at
    call time), under ``observe_bucket_cap``'s counter; each member pairs
    with the members after it, so no pair is built twice."""
    buckets, _ = observe_bucket_cap(buckets.where(F.array_size(members) >= 2), members, tag)
    ids = F.slice(F.array_sort(members), 1, MAX_BUCKET_DOCS).alias("__ids")
    pair = F.expr(
        "flatten(transform(__ids, (x, i) -> transform("
        "slice(__ids, i + 2, size(__ids) - i - 1), y -> struct(x AS d1, y AS d2))))"
    )
    return (
        buckets.select(*keys, ids)
        .select(*keys, F.explode(pair).alias("__p"))
        .select(*keys, "__p.d1", "__p.d2")
    )


def set_overlap(
    pairs: DataFrame, arrs: DataFrame, left: str = "d1", right: str = "d2"
) -> DataFrame:
    """``pairs`` with the shingle-set overlap of the docs in its ``left``
    and ``right`` columns, read from the (doc_id, ss) relation ``arrs``:
    bigint ``common``, ``n1``, ``n2`` and double ``jaccard`` = common /
    (n1 + n2 - common), NULL when both sets are empty — the one
    verification step of every candidate-then-verify builder."""
    s1 = arrs.select(F.col("doc_id").alias(left), F.col("ss").alias("__ss1"))
    s2 = arrs.select(F.col("doc_id").alias(right), F.col("ss").alias("__ss2"))
    common = F.array_size(F.array_intersect("__ss1", "__ss2")).cast("bigint")
    n1 = F.array_size("__ss1").cast("bigint")
    n2 = F.array_size("__ss2").cast("bigint")
    return (
        pairs.join(s1, left)
        .join(s2, right)
        .select(*pairs.columns, common.alias("common"), n1.alias("n1"), n2.alias("n2"))
        .withColumn(
            "jaccard",
            F.try_divide(F.col("common").cast("double"), F.expr("n1 + n2 - common")),
        )
    )


def _tokens(col: str = "text"):
    return F.split(F.col(col), " ")


def shingle_arrays_of(documents: DataFrame, n: int = 3) -> DataFrame:
    """(doc_id, ss): the distinct word n-gram shingle SET per document, as
    one array row — no explode, no shuffle; the whole set stays map-side.
    Works on batch AND streaming DataFrames (map-only expressions).

    The token array is materialized as its own projection BEFORE the
    higher-order transform: lambdas don't participate in common-
    subexpression elimination, so referencing the split expression inside
    them re-runs the split per element — O(L^2) splits per document
    (measured 8x on the bigram profile; PERF.md #9). A column reference is
    computed once per row.

    Short documents (< n tokens) produce no shingles: the slice length
    clamps to 0 (Spark's sequence(1, stop) DESCENDS when stop < 1, so the
    sequence+element_at formulation would go out of bounds instead).
    """
    tk = F.col("__tk")
    n_sh = F.greatest(F.array_size(tk) - (n - 1), F.lit(0))
    slices = [F.slice(tk, j + 1, n_sh) for j in range(n)]
    shingles = slices[0]
    for s in slices[1:]:
        shingles = F.zip_with(shingles, s, lambda a, b: F.concat_ws(" ", a, b))
    return documents.select("doc_id", _tokens().alias("__tk")).select(
        "doc_id", F.array_distinct(shingles).alias("ss")
    )


#: Scale-adaptive spread for the CPU-heavy shingle kernel (r11, VERDICT r10
#: #3). The split+zip_with+array_distinct kernel costs far more CPU per byte
#: than the scan, so a documents file too small to split (one scan task
#: below spark.sql.files.maxPartitionBytes) serializes it on one core. The
#: r10 A/B measured an UNCONDITIONAL repartition(32) a 4x CPU loss at sf0.1
#: (0.6 MB: 32 concurrent tasks interpreting cold codegen, sub-second
#: kernel) — so spreading is gated on input size:
#:   - below _SPREAD_MIN_BYTES: no-op (the kernel is sub-second
#:     single-threaded; shuffle + per-task JIT overhead dominates — the
#:     measured r10 regime, with ~25x headroom above sf0.1's 0.6 MB);
#:   - when the scan already yields >= cpus natural splits: no-op (the 100
#:     TB regime — repartitioning there would add a full shuffle of the
#:     raw text payload for nothing, guide §8);
#:   - between: round-robin to ~_SPREAD_TARGET_BYTES of text per task,
#:     capped at the core budget — e.g. a 64 MB corpus on 32 cores goes
#:     from 1 task x ~90 s of kernel CPU to 16 tasks x ~6 s.
_SPREAD_MIN_BYTES = 16 * 2**20
_SPREAD_TARGET_BYTES = 4 * 2**20


def shingle_spread_partitions(
    input_bytes: int, cpus: int, max_split_bytes: int = 128 * 2**20
) -> int:
    """Partition count for spreading the shingle kernel, or 0 for no-op.
    Pure sizing rule (unit-tested); thresholds documented above."""
    if input_bytes < _SPREAD_MIN_BYTES or cpus <= 1:
        return 0
    natural_splits = -(-input_bytes // max_split_bytes)
    if natural_splits >= cpus:
        return 0
    return min(cpus, -(-input_bytes // _SPREAD_TARGET_BYTES))


def _input_bytes(path: str) -> int:
    """On-disk footprint of a table path (file or directory); 0 when
    unreadable — sizing must never fail a query."""
    try:
        if os.path.isdir(path):
            return sum(
                os.path.getsize(os.path.join(dp, fn))
                for dp, _, fns in os.walk(path)
                for fn in fns
            )
        return os.path.getsize(path)
    except OSError:
        return 0


def _shingle_arrays(spark: SparkSession, sf_dir: str, n: int = 3) -> DataFrame:
    docs = Tables(spark, sf_dir).documents
    parts = shingle_spread_partitions(
        _input_bytes(table_path(sf_dir, "documents")),
        spark.sparkContext.defaultParallelism,
        spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes(),
    )
    if parts:
        docs = docs.repartition(parts)
    return shingle_arrays_of(docs, n)


def _shingle_df(spark: SparkSession, sf_dir: str, n: int = 3) -> DataFrame:
    """(doc_id, s): distinct word n-gram shingles per document, exploded."""
    return _shingle_arrays(spark, sf_dir, n).select(
        "doc_id", F.explode("ss").alias("s")
    )


# word TRIGRAM shingles: with a small vocabulary, bigrams have enormous
# document frequency and the candidate join degenerates to near-all-pairs
# (O(df^2) per shingle); trigrams are ~vocab x rarer with the same near-dup
# signal, keeping the join bounded. Same reasoning applies at 100 TB: pick
# the shingle width so per-shingle df stays small.
_SQL_SHINGLES = """
  SELECT DISTINCT doc_id, s
  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents) d,
       unnest(list_transform(range(1, len(d.toks) - 1),
                             i -> d.toks[i] || ' ' || d.toks[i+1] || ' ' || d.toks[i+2]))
         AS u(s)
"""


# --------------------------------------------------------------------------
@query(
    "dedup_exact",
    oracle="""
SELECT text_hash, COUNT(*) AS n_copies, MIN(doc_id) AS keep_doc
FROM (SELECT doc_id, md5(text) AS text_hash FROM documents) h
GROUP BY text_hash
ORDER BY n_copies DESC, text_hash
LIMIT 100
""",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on md5(text), keep min doc_id per group.
    Only the hash shuffles; survivors = one row per group."""
    t = Tables(spark, sf_dir)
    return (
        t.documents.select("doc_id", F.md5("text").alias("text_hash"))
        .groupBy("text_hash")
        .agg(F.count(F.lit(1)).alias("n_copies"), F.min("doc_id").alias("keep_doc"))
        .orderBy(F.desc("n_copies"), "text_hash")
        .limit(100)
    )


# --------------------------------------------------------------------------
@query(
    "dedup_ngram_jaccard",
    oracle=f"""
WITH sh AS ({_SQL_SHINGLES}),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS common
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT d1, d2, common, s1.n AS n1, s2.n AS n2,
       CAST(common AS DOUBLE) / (s1.n + s2.n - common) AS jaccard
FROM pairs JOIN sizes s1 ON s1.doc_id = d1 JOIN sizes s2 ON s2.doc_id = d2
WHERE CAST(common AS DOUBLE) / (s1.n + s2.n - common) >= 0.5
ORDER BY jaccard DESC, d1, d2
LIMIT 100
""",
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs (trigram shingles, J >= 0.5).

    Shingle-explode -> self equi-join on shingle -> count common -> Jaccard.
    This is the exact verifier; at scale the same verification runs only on
    LSH candidates (dedup_minhash_lsh), never all pairs.
    """
    arrs = cached(_shingle_arrays(spark, sf_dir))
    sh = arrs.select("doc_id", F.explode("ss").alias("s"))
    # one groupBy(shingle) + in-bucket pair explode, not a shingle self-join:
    # same O(df^2) pair cardinality (the algorithm's cost model), but one
    # shuffle of the shingle table instead of two plus a join. Not
    # bucket_pairs: this is the exact verifier, and its MAX_BUCKET_DOCS cap
    # would change the answer.
    pairs = (
        sh.groupBy("s")
        .agg(F.collect_list("doc_id").alias("ids"))
        .where(F.array_size("ids") >= 2)
        .select(
            F.explode(
                F.expr(
                    "filter(flatten(transform(ids, x -> transform(ids, y -> "
                    "struct(x AS d1, y AS d2)))), p -> p.d1 < p.d2)"
                )
            ).alias("p")
        )
        .groupBy("p.d1", "p.d2")
        .agg(F.count(F.lit(1)).alias("common"))
        .select(F.col("d1"), F.col("d2"), "common")
    )
    s1 = arrs.select(F.col("doc_id").alias("d1"), F.array_size("ss").alias("n1"))
    s2 = arrs.select(F.col("doc_id").alias("d2"), F.array_size("ss").alias("n2"))
    jac = F.col("common").cast("double") / (F.col("n1") + F.col("n2") - F.col("common"))
    return (
        pairs.join(s1, "d1")
        .join(s2, "d2")
        .withColumn("jaccard", jac)
        .where(F.col("jaccard") >= 0.5)
        .select("d1", "d2", "common", "n1", "n2", "jaccard")
        .orderBy(F.desc("jaccard"), "d1", "d2")
        .limit(100)
    )


# --------------------------------------------------------------------------
# Shared CTE chain producing the verified near-dup pairs (J >= 0.5, d1 < d2);
# composed by the pair oracle (ORDER/LIMIT on top) and the clustering oracle
# (recursive closure on top).
_SQL_PAIR_CTES = f"""
sh AS ({_SQL_SHINGLES}),
seeds AS (SELECT unnest(range(0, {K})) AS j),
hashed AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT) % 2147483647 AS h0
  FROM sh
),
mh AS (
  SELECT doc_id, j,
         MIN(((2 * j + 3) * h0 + (104729 * j + 12345)) % 2147483647) AS m
  FROM hashed, seeds GROUP BY doc_id, j
),
bands AS (
  SELECT doc_id, j // {ROWS_PER_BAND} AS band, string_agg(m, '|' ORDER BY j) AS sig
  FROM mh GROUP BY doc_id, j // {ROWS_PER_BAND}
),
cand AS (
  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
  FROM bands a JOIN bands b ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
ver AS (
  SELECT c.d1, c.d2, COUNT(*) AS common
  FROM cand c JOIN sh s1 ON s1.doc_id = c.d1 JOIN sh s2 ON s2.doc_id = c.d2 AND s2.s = s1.s
  GROUP BY c.d1, c.d2
),
pairs AS (
  SELECT v.d1, v.d2,
         CAST(v.common AS DOUBLE) / (z1.n + z2.n - v.common) AS jaccard
  FROM ver v JOIN sizes z1 ON z1.doc_id = v.d1 JOIN sizes z2 ON z2.doc_id = v.d2
  WHERE CAST(v.common AS DOUBLE) / (z1.n + z2.n - v.common) >= 0.5
)"""


@query(
    "dedup_minhash_lsh",
    oracle=f"""
WITH {_SQL_PAIR_CTES}
SELECT d1, d2, jaccard FROM pairs
ORDER BY jaccard DESC, d1, d2
LIMIT 100
""",
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + banded LSH near-dup detection, exactly reproducible.

    shingle -> ONE md5 -> K universal-hash derivations
    ``(a_j*h0 + b_j) mod (2^31-1)`` (a permutation family identical in any
    engine; operands stay under 2^62 so 64-bit arithmetic never wraps)
    -> K min-aggregates -> {BANDS} bands of {ROWS_PER_BAND} -> bucket join
    on (band, signature) -> exact Jaccard verification of candidates.

    Scale: the only join is on band signatures (bounded buckets); minhash
    computation is a groupBy over the shingle explode — partial min()
    map-side, one shuffle carrying K ints per doc. One md5 per shingle
    (not per (seed, shingle)): the affine re-mix costs a codegen'd
    multiply-add instead of K-1 additional digests — measured 2.5x on the
    signature stage (PERF.md #9). h0 is materialized as a projection so
    the K aggregate expressions share it instead of re-hashing.
    """
    return (
        _verified_pairs(spark, sf_dir)
        .select("d1", "d2", "jaccard")
        .orderBy(F.desc("jaccard"), "d1", "d2")
        .limit(100)
    )


def minhash_wide(arrs: DataFrame) -> DataFrame:
    """(doc_id, m0..m{K-1}): the K-column MinHash signature table.

    One md5 per shingle -> K universal-hash derivations
    ``(a_j*h0 + b_j) mod (2^31-1)`` -> K min-aggregates (map-side partial,
    one shuffle of K ints per doc). Shared by the banded LSH path and the
    estimator-accuracy audit (dedup_minhash_accuracy)."""
    sh = arrs.select("doc_id", F.explode("ss").alias("s"))
    P = 2_147_483_647
    h0 = (
        F.conv(F.substring(F.md5(F.col("s")), 1, 15), 16, 10).cast("long") % P
    ).alias("h0")
    hashed = sh.select("doc_id", h0)
    return hashed.groupBy("doc_id").agg(
        *[
            F.min(
                (F.lit(2 * j + 3) * F.col("h0") + F.lit(104729 * j + 12345)) % P
            ).alias(f"m{j}")
            for j in range(K)
        ]
    )


def _band_signatures(arrs: DataFrame) -> DataFrame:
    """(doc_id, band, sig): banded MinHash signatures from the per-doc
    shingle-set arrays — shared by within-corpus LSH (_verified_pairs) and
    incremental cross-corpus LSH (dedup_incremental_lsh)."""
    mh = minhash_wide(arrs)
    band_sigs = [
        F.concat_ws(
            "|", *[F.col(f"m{b * ROWS_PER_BAND + r}") for r in range(ROWS_PER_BAND)]
        ).alias(f"sig{b}")
        for b in range(BANDS)
    ]
    stack_args = ", ".join(f"{b}, sig{b}" for b in range(BANDS))
    return mh.select("doc_id", *band_sigs).select(
        "doc_id", F.expr(f"stack({BANDS}, {stack_args}) AS (band, sig)")
    )


def _verified_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(d1, d2, jaccard): LSH candidate pairs verified at J >= 0.5, d1 < d2.

    The full MinHash->bands->bucket-group->exact-verify pipeline shared by
    the pair query (dedup_minhash_lsh) and the clustering stage
    (dedup_cluster_cc).

    Shape choices (each replaces a join with something cheaper):
    - candidates come from ONE groupBy(band, sig) + ``bucket_pairs``, not
      a bands-self-join: the self-join shuffled (and under a cold cache
      computed) the signature table twice. The kernel caps degenerate
      mega-buckets at MAX_BUCKET_DOCS (deterministic smallest-doc_id
      sample), so no task ever owns an unbounded quadratic explode.
    - verification is digest-representative (see verified_pairs_of): one
      ``set_overlap`` per DISTINCT canonical-digest pair, joined back to
      all candidate pairs by digest — pair-grain shuffles carry 16-byte
      digests, shingle arrays ship only at rep grain. (The earlier direct
      form attached both arrays to every pair; before that, two exploded
      shingle self-joins — each step removed a corpus-sized shuffle.)
    """
    # NOT prepared (materialized before the action): the five consumer
    # subtrees (bands, dg1, dg2, set_overlap's two sides) race to build
    # the cold cache in concurrent stages, but those redundant builds
    # overlap on otherwise-idle cores; serializing the build through a
    # count() job was MEASURED slower end-to-end (r10: minhash_lsh warm
    # 2.43s -> 2.87s, cluster_cc 4.7s -> 5.7s) — wall time beats CPU
    # thrift here.
    return verified_pairs_of(cached(_shingle_arrays(spark, sf_dir)))


def lsh_candidates(arrs: DataFrame) -> DataFrame:
    """(d1, d2): distinct LSH candidate pairs — docs sharing any band
    bucket, d1 < d2, from ``bucket_pairs`` (mega-buckets capped at
    MAX_BUCKET_DOCS, a deterministic smallest-doc_id sample)."""
    buckets = (
        _band_signatures(arrs)
        .groupBy("band", "sig")
        .agg(F.collect_list("doc_id").alias("ids"))
    )
    return bucket_pairs(buckets, "ids", "minhash_lsh").distinct()


def verified_pairs_of(arrs: DataFrame) -> DataFrame:
    """_verified_pairs over an explicit (doc_id, ss) shingle-set relation —
    lets pipeline compositions run near-dup detection on an already
    filtered/exact-deduped corpus (see pipeline_clean_corpus).
    Candidates are ``lsh_candidates`` (``bucket_pairs`` over the band
    buckets); each representative pair is scored by ``set_overlap``.

    Digest-representative verification (r7, from the Zipf-skew stress):
    Jaccard is a function of the two shingle SETS only, so docs with
    identical canonical digests (xxhash64 of the sorted set) contribute
    identical scores against any fixed partner set. Candidates therefore
    verify ONE representative pair per (dg1, dg2) and the verdict joins
    back to every pair by digest. On a template-heavy corpus (the
    realistic web shape — the skew stress's 3.7k-doc shared-text cluster)
    this collapses the capped mega-bucket's ~524k array-intersections to
    a handful, and the pair-grain shuffles carry 16-byte digests instead
    of full shingle arrays (arrays ship only at rep grain <= pair grain).
    On a corpus with no exact-set duplicates, reps == pairs: the same
    number of intersections as the direct spelling, plus two narrow
    digest shuffles. Results are bit-identical under the same digest
    semantics dedup_exact/CDC already rely on (a 64-bit same-bucket
    collision is the accepted failure model of every digest-keyed kernel
    in this module).

    The digest-annotated pair set feeds BOTH the rep groupBy and the
    verdict back-join; it is cached (pair-grain, four longs a row —
    bounded by the capped candidate count) so the bucket explode runs
    once. Outside a query build (tests, ad-hoc) ``cached`` leaves it
    unpersisted and the explode recomputes once more.

    The canonical key is (xxhash64 of the sorted set, set size) — the
    size rider costs nothing (array_size of an already-built array) and
    shrinks the digest-collision surface to same-cardinality sets; a
    residual collision still assigns one representative's jaccard to the
    whole collided class, the accepted 64-bit failure model shared with
    dedup_exact/CDC keying (ADVICE r7 #3)."""
    cand = lsh_candidates(arrs)
    dg = arrs.select(
        "doc_id",
        F.struct(
            F.xxhash64(F.array_sort("ss")).alias("h"),
            F.array_size("ss").alias("n"),
        ).alias("dg"),
    )
    cd = cached(
        cand.join(
            dg.select(F.col("doc_id").alias("d1"), F.col("dg").alias("dg1")),
            "d1",
        ).join(
            dg.select(F.col("doc_id").alias("d2"), F.col("dg").alias("dg2")),
            "d2",
        )
    )
    reps = top_k(cd, ["dg1", "dg2"], ["d1", "d2"], 1).select("dg1", "dg2", "d1", "d2")
    verdicts = (
        set_overlap(reps, arrs)
        .where(F.col("jaccard") >= 0.5)
        .select("dg1", "dg2", "jaccard")
    )
    return cd.join(verdicts, ["dg1", "dg2"]).select("d1", "d2", "jaccard")


# --------------------------------------------------------------------------
@query(
    "dedup_simhash",
    oracle="""
WITH toks AS (
  SELECT DISTINCT doc_id, t
  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents WHERE doc_id < 200) d,
       unnest(d.toks) AS u(t)
),
bits AS (
  SELECT doc_id,
    {bit_exprs}
  FROM toks GROUP BY doc_id
)
SELECT doc_id, {concat_expr} AS simhash
FROM bits
ORDER BY doc_id
""".format(
        bit_exprs=",\n    ".join(
            f"CASE WHEN SUM(CASE WHEN substring(h, {j + 1}, 1) "
            f"IN ('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END) > 0 "
            f"THEN '1' ELSE '0' END AS b{j}"
            for j in range(16)
        ),
        concat_expr=" || ".join(f"b{j}" for j in range(16)),
    ).replace(
        "FROM toks GROUP BY doc_id",
        "FROM (SELECT doc_id, md5(t) AS h FROM toks) GROUP BY doc_id",
    ),
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash (16-bit) document signatures.

    Bit j of a token's hash = top bit of hex nibble j+1 of ONE md5(token)
    (engine-portable; r4 rewrite — the old form hashed each token 16
    times, md5(j:token) per bit, the exact anti-pattern PERF.md #9
    measured at 2.5x; dedup_simhash_pairs already derived all 60 bits
    from a single digest). The document bit is the sign of the +/-1 sum
    over distinct tokens. Near-dup candidates are then signatures within
    small Hamming distance — at scale, bucketed by bit-segments (same
    banding trick as LSH). Map-explode + one md5 per distinct token + one
    groupBy(doc) with 16 conditional sums.
    """
    t = Tables(spark, sf_dir)
    toks = (
        t.documents.where(F.col("doc_id") < 200)
        .select("doc_id", F.explode(F.array_distinct(_tokens())).alias("t"))
        .select("doc_id", F.md5(F.col("t")).alias("h"))
    )
    top_hex = ["8", "9", "a", "b", "c", "d", "e", "f"]
    aggs = []
    for j in range(16):
        bit_on = F.substring(F.col("h"), j + 1, 1).isin(top_hex)
        aggs.append(
            F.when(F.sum(F.when(bit_on, 1).otherwise(-1)) > 0, "1")
            .otherwise("0")
            .alias(f"b{j}")
        )
    bits = toks.groupBy("doc_id").agg(*aggs)
    return bits.select(
        "doc_id", F.concat(*[F.col(f"b{j}") for j in range(16)]).alias("simhash")
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
_TOP_HEX = "('8','9','a','b','c','d','e','f')"


@query(
    "dedup_simhash_pairs",
    oracle=f"""
WITH toks AS (
  SELECT DISTINCT doc_id, t
  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents) d,
       unnest(d.toks) AS u(t)
),
bitsum AS (
  SELECT doc_id, j,
    SUM(CASE
      WHEN j < 30 THEN CASE WHEN substring(md5(t), j + 1, 1) IN {_TOP_HEX}
                            THEN 1 ELSE -1 END
      ELSE CASE WHEN substring(md5(t), j - 29, 1)
                     IN ('4','5','6','7','c','d','e','f')
                THEN 1 ELSE -1 END
    END) AS v
  FROM toks, (SELECT unnest(range(60)) AS j) js
  GROUP BY doc_id, j
),
sig AS (
  SELECT doc_id,
         SUM(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END) AS sig
  FROM bitsum GROUP BY doc_id
)
SELECT a.doc_id AS d1, b.doc_id AS d2,
       bit_count(CAST(xor(a.sig, b.sig) AS BIGINT)) AS hamming
FROM sig a JOIN sig b ON a.doc_id < b.doc_id
WHERE bit_count(CAST(xor(a.sig, b.sig) AS BIGINT)) <= 1
ORDER BY hamming, d1, d2
""",
)
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup PAIRS: 60-bit signatures, Hamming distance <= 1.

    Completes the SimHash pipeline (dedup_simhash stops at signatures).
    One md5 per distinct token yields all 60 bits — bits 0-29 are the top
    bit of hex nibbles 1-30, bits 30-59 the second bit of the same nibbles
    (independent bits of the same digest; the minhash one-digest lesson,
    PERF.md #9). The document bit is the sign of the +/-1 sum over its
    distinct tokens; the signature packs the bits into one BIGINT (60 bits
    keeps well clear of the sign bit in both engines).

    Width and threshold are data-informed: at 32 bits this synthetic corpus
    (shared small vocabulary, similar lengths) put 28% of ALL pairs within
    Hamming 3 — an undiscriminative sketch, and the mega-bucket it induced
    OOMed the pair explode. At 60 bits with threshold 1 the pair set is the
    exact-dup clusters plus single-bit drift.

    Candidate generation is segment banding: split the signature into two
    30-bit halves; by pigeonhole a pair within Hamming distance 1 agrees on
    at least one whole half, so bucketing by (half_index, half_value) finds
    EVERY qualifying pair — lossless at this threshold, which is why the
    oracle can be the plain all-pairs spec. Verification is one
    bit_count(xor) per candidate.

    Scale: one row per doc, each doc in exactly 2 buckets, bucket size =
    docs sharing an entire signature half (≈ dup clusters); O(N^2)
    all-pairs (the oracle's formulation) never runs on the cluster.
    """
    t = Tables(spark, sf_dir)
    # The 60 bit tests run on TWO integer masks converted once per token
    # (nibbles 1-15 and 16-30 of the digest as 60-bit longs) instead of 60
    # substring+set-membership ops per row — bit j<30 is (nibble_{j+1} & 8)
    # != 0, bit j>=30 is (nibble_{j-29} & 4) != 0, the exact predicates the
    # hex form tested, so signatures (and the oracle hash) are unchanged.
    # Measured 3.9s -> see PERF.md #11.
    toks = (
        t.documents.select(
            "doc_id", F.explode(F.array_distinct(_tokens())).alias("t")
        )
        .select("doc_id", F.md5("t").alias("h"))
        .select(
            "doc_id",
            F.conv(F.substring("h", 1, 15), 16, 10).cast("long").alias("m1"),
            F.conv(F.substring("h", 16, 15), 16, 10).cast("long").alias("m2"),
        )
    )

    def _nibble(i: int):  # 1-based nibble index within the first 30
        if i <= 15:
            return F.shiftright(F.col("m1"), 4 * (15 - i))
        return F.shiftright(F.col("m2"), 4 * (30 - i))

    aggs = []
    for j in range(60):
        i = (j + 1) if j < 30 else (j - 29)
        mask = 8 if j < 30 else 4
        on = _nibble(i).bitwiseAND(F.lit(mask)) != 0
        aggs.append(F.sum(F.when(on, 1).otherwise(-1)).alias(f"v{j}"))
    bits = toks.groupBy("doc_id").agg(*aggs)
    sig_col = None
    for j in range(60):
        term = F.when(F.col(f"v{j}") > 0, F.lit(1 << j)).otherwise(0)
        sig_col = term if sig_col is None else sig_col + term
    sigs = bits.select("doc_id", sig_col.cast("long").alias("sig"))
    segs = sigs.select(
        "doc_id",
        "sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(k).alias("k"),
                        F.expr(f"shiftright(sig, {30 * k}) & 1073741823").alias(
                            "seg"
                        ),
                    )
                    for k in range(2)
                ]
            )
        ).alias("b"),
    ).select("doc_id", "sig", "b.k", "b.seg")
    buckets = segs.groupBy("k", "seg").agg(
        F.collect_list(F.struct("doc_id", "sig")).alias("ids")
    )
    # keep a pair only from the FIRST band where the halves agree (band 1
    # additionally requires differing low halves): no pair is produced twice,
    # so no distinct — that was a second full shuffle of the candidate set
    # (324k structs at sf0.1; 5.5s -> see PERF.md). Hamming filters inline
    # before the only remaining exchange (the output sort).
    low = 1073741823
    first_band = (F.col("k") == 0) | (
        F.col("d1.sig").bitwiseAND(low) != F.col("d2.sig").bitwiseAND(low)
    )
    hamming = F.bit_count(F.col("d1.sig").bitwiseXOR(F.col("d2.sig")))
    return (
        bucket_pairs(buckets, "ids", "simhash_bands", keys=["k"])
        .where(first_band)
        .select(
            F.col("d1.doc_id").alias("d1"),
            F.col("d2.doc_id").alias("d2"),
            hamming.alias("hamming"),
        )
        .where(F.col("hamming") <= 1)
        .orderBy("hamming", "d1", "d2")
    )


# --------------------------------------------------------------------------
def min_label_components(pairs: DataFrame, after_edges=None, max_rounds: int = 25) -> DataFrame:
    """(doc_id, label): connected components of the undirected pair graph
    by iterative min-label propagation — the reusable Pregel-style kernel
    behind dedup_cluster_cc (and fuzzed against a union-find oracle in
    tests/test_property_cc.py).

    ``pairs``: a (d1, d2) relation; edges are symmetrized internally.
    ``after_edges``: optional callback invoked once the edge set has
    EAGERLY materialized (localCheckpoint) — callers use it to release
    upstream caches that are dead weight for the propagation rounds.
    Each round is one equi-join + map-side-partial min; ONE scalar
    (sum of labels, strictly decreasing until fixpoint) is collected per
    round for convergence; localCheckpoint keeps the plan O(1) deep.
    """
    d1, d2 = pairs.columns[:2]
    # r10: the static edge relation is pre-partitioned ONCE by the
    # per-round join key (dst); localCheckpoint preserves the hash
    # partitioning through LogicalRDD, so every round's edges-vs-labels
    # equi-join is co-partitioned on the edge side (guide §2.4 "two
    # operations keyed the same way share one exchange"). Labels
    # checkpoints are LAZY: the per-round convergence-sum collect is the
    # job that materializes them, halving the round's job count (the
    # eager form ran one checkpoint job plus one sum job per round).
    edges = (
        pairs.union(pairs.select(F.col(d2), F.col(d1)))
        .toDF("src", "dst")
        .repartition(F.col("dst"))
        .localCheckpoint()
    )
    if after_edges is not None:
        after_edges()
    labels = (
        edges.select(F.col("src").alias("doc_id"))
        .distinct()
        .select("doc_id", F.col("doc_id").alias("label"))
        .localCheckpoint(eager=False)
    )
    prev_sum = labels.agg(F.sum("label")).collect()[0][0]
    for _ in range(max_rounds):
        nbr_min = (
            edges.join(labels, edges["dst"] == labels["doc_id"])
            .groupBy("src")
            .agg(F.min("label").alias("nbr"))
        )
        labels = (
            labels.join(nbr_min, labels["doc_id"] == nbr_min["src"], "left")
            .select(
                "doc_id",
                F.least(F.col("label"), F.coalesce(F.col("nbr"), F.col("label"))).alias(
                    "label"
                ),
            )
            .localCheckpoint(eager=False)
        )
        cur_sum = labels.agg(F.sum("label")).collect()[0][0]
        if cur_sum == prev_sum:
            return labels
        prev_sum = cur_sum
    raise RuntimeError(f"min_label_components: no fixpoint after {max_rounds} rounds")



@query(
    "dedup_cluster_cc",
    oracle=f"""
WITH RECURSIVE {_SQL_PAIR_CTES},
edges AS (
  SELECT d1 AS src, d2 AS dst FROM pairs
  UNION ALL
  SELECT d2, d1 FROM pairs
),
walk(doc_id, label) AS (
  SELECT DISTINCT src, src FROM edges
  UNION
  SELECT e.src, w.label FROM edges e JOIN walk w ON w.doc_id = e.dst
),
labels AS (SELECT doc_id, MIN(label) AS cluster_id FROM walk GROUP BY doc_id)
SELECT l.cluster_id, l.doc_id, c.n_docs
FROM labels l
JOIN (SELECT cluster_id, COUNT(*) AS n_docs FROM labels GROUP BY cluster_id) c
  USING (cluster_id)
ORDER BY cluster_id, doc_id
""",
)
def dedup_cluster_cc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over near-dup pairs: the dedup CLUSTERING stage.

    Pair detection (dedup_minhash_lsh) only says "A~B, B~C"; a real pipeline
    must then pick one survivor per transitive group {A,B,C}. This computes
    the components of the J>=0.5 pair graph by iterative min-label
    propagation (Pregel-style, cf. the reference's lack of any iterative
    operator — SURVEY.md §2.2): every doc starts labeled with its own id;
    each round replaces a doc's label with the min over itself and its
    neighbors; at fixpoint the label is the min doc_id of the component,
    which is the canonical "keep" doc.

    Scale posture: each round is one equi-join (edges x labels, both
    partitioned on the join key) + a map-side-partial min aggregate —
    no all-pairs work, no driver-side data. The driver only inspects ONE
    scalar per round (sum of labels, which strictly decreases until
    fixpoint) for convergence, exactly how GraphX/Pregel superstep
    termination works. ``localCheckpoint`` truncates lineage each round so
    the plan stays O(1) deep instead of O(rounds); near-dup components are
    shallow (dups of a common ancestor), so rounds ~ component diameter,
    typically <= 3.

    Output: (cluster_id = min doc_id, doc_id, n_docs) per clustered doc.
    Oracle: DuckDB recursive CTE computing min reachable label — same
    fixpoint, declaratively.
    """
    pairs = _verified_pairs(spark, sf_dir).select("d1", "d2")
    # the pair-stage caches are dead weight once the edge set materializes
    # (min_label_components' eager localCheckpoint) — release them then,
    # before the propagation rounds
    labels = min_label_components(pairs, after_edges=release_cached)
    labels = labels.withColumnRenamed("label", "cluster_id")
    csize = labels.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("n_docs"))
    return (
        labels.join(csize, "cluster_id")
        .select("cluster_id", "doc_id", "n_docs")
        .orderBy("cluster_id", "doc_id")
    )


# --------------------------------------------------------------------------
# one chunking contract with text_chunk_crossdup — the pair graph here IS
# that query's candidate relation (see text.py::chunk_hashes/SQL_CHUNK_CTES)
from datafusion_ballista_dhruvil_spark.operators.text import (  # noqa: E402
    SQL_CHUNK_CTES as _SQL_CHUNK_CTES,
    chunk_hashes,
)


def chunk_pair_edges(documents: DataFrame) -> DataFrame:
    """Distinct directed (d1, d2) pairs of documents sharing a chunk hash.
    A chunk held by more than 64 documents adds no pairs (the
    MAX_BUCKET_DOCS rationale: a universal-boilerplate chunk must not
    explode the pair count). Not bucket_pairs: an oversize chunk drops
    out whole instead of pairing its smallest ids, and pairs are
    directed."""
    grp = (
        chunk_hashes(documents)
        .groupBy("h")
        .agg(F.array_sort(F.collect_set("doc_id")).alias("ids"))
        .where(F.array_size("ids").between(2, 64))
    )
    return (
        grp.select(
            F.explode(
                F.expr(
                    "filter(flatten(transform(ids, x -> transform(ids, y -> "
                    "struct(x AS d1, y AS d2)))), p -> p.d1 != p.d2)"
                )
            ).alias("p")
        )
        .select("p.d1", "p.d2")
        .distinct()
    )


def _sql_pr_iter(prev: str, out: str) -> str:
    """One PageRank iteration CTE (integer fixed-point, see below)."""
    return f"""
{out} AS (
  SELECT p.d2 AS doc,
         CAST(150000 + SUM((850000 * ({prev}.s // deg.deg)) // 1000000)
              AS BIGINT) AS s
  FROM prpairs p
  JOIN {prev} ON {prev}.doc = p.d1
  JOIN deg ON deg.u = p.d1
  GROUP BY p.d2
)"""


@query(
    "dedup_chunk_pagerank",
    oracle=f"""
WITH {_SQL_CHUNK_CTES},
grp AS (
  SELECT h, list_sort(list(DISTINCT doc_id)) AS ids
  FROM chunks GROUP BY h
  HAVING COUNT(DISTINCT doc_id) BETWEEN 2 AND 64
),
prpairs AS (
  SELECT DISTINCT a.d1, b.d2
  FROM grp, unnest(ids) a(d1), unnest(ids) b(d2)
  WHERE a.d1 <> b.d2
),
deg AS (SELECT d1 AS u, CAST(COUNT(DISTINCT d2) AS BIGINT) AS deg
        FROM prpairs GROUP BY 1),
pr0 AS (SELECT u AS doc, CAST(1000000 AS BIGINT) AS s FROM deg),
{_sql_pr_iter('pr0', 'pr1')},
{_sql_pr_iter('pr1', 'pr2')},
{_sql_pr_iter('pr2', 'pr3')},
{_sql_pr_iter('pr3', 'pr4')},
{_sql_pr_iter('pr4', 'pr5')}
SELECT pr5.doc AS doc_id, pr5.s AS pr_micro, deg.deg AS degree
FROM pr5 JOIN deg ON deg.u = pr5.doc
ORDER BY pr_micro DESC, doc_id
LIMIT 100
""",
)
def dedup_chunk_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the shared-boilerplate graph: docs are linked when
    they share a 200-char chunk (the text_chunk_crossdup candidate
    relation); 5 damped iterations rank the template/boilerplate HUBS —
    the docs whose content is most structurally entangled with the rest
    of the corpus, which a dedup pipeline reviews (or strips) first.
    Second iterative-graph operator beside dedup_cluster_cc
    (min-label components); the reference has no iterative operators at
    all (SURVEY.md §2.2).

    Determinism — integer fixed-point PageRank: scores live in micro-units
    (init 1,000,000 per node, unnormalized; PR is scale-invariant), and
    one iteration is s'(v) = 150000 + SUM over in-neighbors u of
    (850000 * (s(u) div deg(u))) div 1000000 — every op is int64 floor
    arithmetic, so all engines/partitionings produce identical scores
    (no float accumulation anywhere). Per-term rescaling keeps each
    addend < 2^20, so the sum stays in int64 up to ~1e13 edges.

    Scale: chunk-group pair generation is capped at 64 docs/group (the
    MAX_BUCKET_DOCS rationale: a universal-boilerplate chunk must not
    explode); each iteration is one equi-join on the edge key + one
    aggregate — both partition on doc ids, AQE reuses the layout. Five
    fixed iterations = five stages, no driver-side convergence loop.
    """
    pairs = chunk_pair_edges(Tables(spark, sf_dir).documents)
    # NOT cached (r10 A/B): persisting deg/contrib_src here flipped the
    # initial plan's broadcasts to sort-merge (InMemoryRelation size
    # estimates exceed the broadcast bar pre-materialization) and added
    # cache-build jobs — measured slower (warm iters 3.0-4.9s -> 3.3-7.0s,
    # 72 -> 100 jobs). The duplicated chunk-pair subtrees recompute on
    # otherwise-idle cores; per-round lineage is linear (pr appears once
    # per round), so the kcore-style exponential blowup does not arise.
    deg = pairs.groupBy(F.col("d1").alias("u")).agg(
        F.countDistinct("d2").cast("long").alias("deg")
    )
    pr = deg.select(F.col("u").alias("doc"), F.lit(1_000_000).cast("long").alias("s"))
    contrib_src = pairs.join(deg, pairs["d1"] == deg["u"]).select(
        "d1", "d2", "deg"
    )
    for _ in range(5):
        pr = (
            contrib_src.join(pr, contrib_src["d1"] == pr["doc"])
            .select(
                F.col("d2").alias("doc"),
                F.expr("(850000 * (s div deg)) div 1000000").alias("c"),
            )
            .groupBy("doc")
            .agg((F.lit(150_000) + F.sum("c")).cast("long").alias("s"))
        )
    return (
        pr.join(deg, pr["doc"] == deg["u"])
        .select(F.col("doc").alias("doc_id"), F.col("s").alias("pr_micro"),
                F.col("deg").alias("degree"))
        .orderBy(F.desc("pr_micro"), "doc_id")
        .limit(100)
    )


# --------------------------------------------------------------------------
@query(
    "dedup_editdist_verify",
    oracle=f"""
WITH {_SQL_PAIR_CTES},
docs AS (SELECT doc_id, text FROM documents)
SELECT p.d1, p.d2, p.jaccard,
       CAST(levenshtein(a.text, b.text) AS BIGINT) AS edit_dist,
       1.0 - CAST(levenshtein(a.text, b.text) AS DOUBLE)
             / GREATEST(length(a.text), length(b.text), 1) AS edit_sim
FROM pairs p
JOIN docs a ON a.doc_id = p.d1
JOIN docs b ON b.doc_id = p.d2
ORDER BY p.jaccard DESC, p.d1, p.d2
LIMIT 100
""",
)
def dedup_editdist_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level edit-distance verification of the LSH candidate
    pairs: Levenshtein distance + normalized similarity per near-dup pair.
    Shingle Jaccard measures TOKEN-set overlap; edit distance catches the
    complementary failure modes (reordered passages score high on Jaccard
    but far on edit distance; dense small in-place edits the reverse), so
    production pipelines gate on both before dropping a document.

    Levenshtein is exact integer dynamic programming, built into both
    engines (Spark `levenshtein`, DuckDB `levenshtein`) — identical
    values, so the operator is hash-checked, not tolerance-checked.

    Scale: edit distance is O(len_a * len_b) per pair — the expensive
    verifier — which is exactly why it runs on the LSH candidate set
    (bounded, bucketed upstream) and never all-pairs. The join fetches
    each side's text by doc_id equi-join; only candidate-pair texts are
    ever paired.
    """
    t = Tables(spark, sf_dir)
    pairs = _verified_pairs(spark, sf_dir)
    a = t.documents.select(F.col("doc_id").alias("d1"), F.col("text").alias("ta"))
    b = t.documents.select(F.col("doc_id").alias("d2"), F.col("text").alias("tb"))
    ed = F.levenshtein("ta", "tb")
    return (
        pairs.join(a, "d1")
        .join(b, "d2")
        .select(
            "d1",
            "d2",
            "jaccard",
            ed.cast("bigint").alias("edit_dist"),
            (
                F.lit(1.0)
                - ed.cast("double")
                / F.greatest(F.length("ta"), F.length("tb"), F.lit(1))
            ).alias("edit_sim"),
        )
        .orderBy(F.desc("jaccard"), "d1", "d2")
        .limit(100)
    )


# --------------------------------------------------------------------------
@query(
    "dedup_incremental_lsh",
    oracle=f"""
WITH {_SQL_PAIR_CTES}
SELECT d1 AS new_doc, d2 AS old_doc, jaccard
FROM pairs WHERE d1 < 250 AND d2 >= 250
ORDER BY jaccard DESC, new_doc, old_doc
LIMIT 100
""",
)
def dedup_incremental_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental (cross-corpus) near-dup detection: which INCOMING docs
    (doc_id < 250, the new ingest batch) duplicate an EXISTING doc
    (doc_id >= 250, the already-deduped corpus)? This is the production
    incremental-ingest shape: a new crawl batch is checked against the
    corpus WITHOUT re-pairing the corpus against itself.

    Scale: band signatures are computed for both sides with the shared
    MinHash pipeline, but pair emission is restricted to NEW x OLD within
    each (band, signature) bucket — per-bucket work is |new|*|old|, never
    |bucket|^2, and an all-old bucket (the overwhelming majority at steady
    state, where the corpus dwarfs each batch) emits NOTHING. Both sides
    of a bucket are capped at MAX_BUCKET_DOCS with the same observable
    truncation guard. Candidates are then exact-Jaccard-verified against
    the per-doc shingle sets, J >= 0.5.

    The oracle computes all within-threshold pairs and filters to the
    cross split (d1 < d2 makes d1 the incoming side) — same answer, so the
    restricted emission is machine-checked equivalent.
    """
    SPLIT = 250
    arrs = cached(_shingle_arrays(spark, sf_dir))
    bands = _band_signatures(arrs)
    buckets = (
        bands.withColumn("is_new", F.col("doc_id") < SPLIT)
        .groupBy("band", "sig")
        .agg(
            F.collect_list(F.when(F.col("is_new"), F.col("doc_id"))).alias("new0"),
            F.collect_list(F.when(~F.col("is_new"), F.col("doc_id"))).alias("old0"),
        )
        # all-old (or all-new) buckets emit nothing and drop immediately
        .where((F.array_size("new0") >= 1) & (F.array_size("old0") >= 1))
    )
    buckets, _ = observe_bucket_cap(buckets, "old0", "incremental_lsh")
    # not bucket_pairs: the explode is bipartite (new x old, each side
    # capped on its own), |new|*|old| per bucket instead of |bucket|^2
    cand = (
        buckets.select(
            F.slice(F.array_sort("new0"), 1, MAX_BUCKET_DOCS).alias("nids"),
            F.slice(F.array_sort("old0"), 1, MAX_BUCKET_DOCS).alias("oids"),
        )
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(nids, x -> transform(oids, y -> "
                    "struct(x AS new_doc, y AS old_doc))))"
                )
            ).alias("p")
        )
        .select("p.new_doc", "p.old_doc")
        .distinct()
    )
    return (
        set_overlap(cand, arrs, "new_doc", "old_doc")
        .where(F.col("jaccard") >= 0.5)
        .select("new_doc", "old_doc", "jaccard")
        .orderBy(F.desc("jaccard"), "new_doc", "old_doc")
        .limit(100)
    )


# --------------------------------------------------------------------------
#: rolling-window width (tokens) for exact substring-span dedup
SPAN_W = 8


@query(
    "dedup_substring_spans",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS tk FROM documents
),
wins AS (
  SELECT doc_id, CAST(i AS INTEGER) AS s,
         md5(array_to_string(tk[i:i+{SPAN_W - 1}], ' ')) AS h
  FROM toks, LATERAL (
    SELECT unnest(range(1, len(tk) - {SPAN_W - 2})) AS i
  ) g
  WHERE len(tk) >= {SPAN_W}
),
shared AS (
  SELECT h, COUNT(DISTINCT doc_id) AS nd FROM wins
  GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2
),
hits AS (
  SELECT w.doc_id, w.s, sh.nd FROM wins w JOIN shared sh USING (h)
),
islands AS (
  SELECT doc_id, s, nd,
         SUM(CASE WHEN prev_s IS NULL OR s - prev_s > {SPAN_W}
                  THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY s
                 ROWS UNBOUNDED PRECEDING) AS island
  FROM (
    SELECT doc_id, s, nd,
           LAG(s) OVER (PARTITION BY doc_id ORDER BY s) AS prev_s
    FROM hits
  )
)
SELECT doc_id,
       CAST(MIN(s) AS INTEGER) AS span_start,
       CAST(MAX(s) + {SPAN_W - 1} AS INTEGER) AS span_end,
       CAST(MAX(s) - MIN(s) + {SPAN_W} AS INTEGER) AS span_tokens,
       CAST(COUNT(*) AS BIGINT) AS n_windows,
       CAST(MAX(nd) AS BIGINT) AS max_docs_sharing
FROM islands
GROUP BY doc_id, island
ORDER BY doc_id, span_start
""",
)
def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicated-SUBSTRING detection with span merging — the
    token-window rolling-hash dedup of Lee et al.'s "Deduplicating
    Training Data Makes Language Models Better" (remove exact duplicate
    passages >= W tokens even when the surrounding documents differ),
    re-expressed as three shuffle-bounded DataFrame stages:

    1. **Window fingerprints** (map-only): per doc, md5 of every
       overlapping W=8-token window via transform(sequence)+posexplode —
       O(tokens) windows, no pairs.
    2. **Shared-window filter**: groupBy(hash) keeps hashes seen in >= 2
       distinct docs (count aggregate, never pair emission — the hottest
       boilerplate window is one counter), then an equi-join marks the
       surviving (doc, position) hits; only 16-byte digests + ints
       shuffle.
    3. **Span merge** (gaps-and-islands): per doc, consecutive hit
       positions <= W apart merge into maximal spans via one lag +
       running-sum window over the hit sliver (hits only, not all
       windows), yielding [span_start, span_end] token ranges a cleaning
       pass would cut.

    Differs from text_chunk_crossdup (fixed non-overlapping 200-char
    chunks: cheap, alignment-sensitive) by catching duplicated passages
    at ANY token offset — the rolling-window granularity that chunk
    alignment misses — at W× the window count, still linear in corpus
    size.

    Scale: stage-2's per-hash distinct-doc count is the only global
    aggregate; window df is bounded by real duplication (random text
    collides nowhere at W=8 over any real vocabulary), so no key grows
    with corpus size except true boilerplate, which is exactly the
    signal. The span-merge window partitions by doc_id — millions of
    independent small partitions, the shape AQE parallelizes freely.
    """
    t = Tables(spark, sf_dir)
    tk = F.col("__tk")
    nw = F.array_size(tk) - (SPAN_W - 1)
    hashes = F.transform(
        F.sequence(F.lit(1), nw),
        lambda i: F.md5(F.array_join(F.slice(tk, i, SPAN_W), " ")),
    )
    wins = (
        t.documents.select("doc_id", F.split(F.col("text"), " ").alias("__tk"))
        .where(F.array_size(tk) >= SPAN_W)
        .select("doc_id", F.posexplode(hashes).alias("p0", "h"))
        .select("doc_id", (F.col("p0") + 1).alias("s"), "h")
    )
    shared = (
        wins.groupBy("h")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .where(F.col("nd") >= 2)
    )
    # the shared-digest set is DATA-DEPENDENT (boilerplate-heavy corpora
    # make it huge): hint a shuffle-hash join so Spark never tries to
    # broadcast it — the salted 10x stress corpus OOM'd the driver when
    # AQE's post-agg size estimate undershot (PERF.md r4)
    hits = wins.join(shared.hint("shuffle_hash"), "h").select(
        "doc_id", "s", "nd"
    )
    w_doc = Window.partitionBy("doc_id").orderBy("s")
    run = (
        Window.partitionBy("doc_id")
        .orderBy("s")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    islands = hits.withColumn(
        "brk",
        F.when(
            F.lag("s").over(w_doc).isNull()
            | (F.col("s") - F.lag("s").over(w_doc) > SPAN_W),
            1,
        ).otherwise(0),
    ).withColumn("island", F.sum("brk").over(run))
    return (
        islands.groupBy("doc_id", "island")
        .agg(
            F.min("s").alias("span_start"),
            (F.max("s") + (SPAN_W - 1)).alias("span_end"),
            (F.max("s") - F.min("s") + SPAN_W).alias("span_tokens"),
            F.count(F.lit(1)).alias("n_windows"),
            F.max("nd").alias("max_docs_sharing"),
        )
        .drop("island")
        .orderBy("doc_id", "span_start")
    )


def row_band_signatures(arrs: DataFrame) -> DataFrame:
    """(doc_id, band, sig): banded MinHash signatures computed ENTIRELY
    map-side — transform + array_min over the per-doc shingle array instead
    of _band_signatures' explode + groupBy(min).

    Identical output (same h0, same universal-hash family, min over the
    same set); the explode+groupBy form is preferred for BATCH because the
    shuffle carries K ints/doc with map-side partial mins, while this form
    is required for STREAMING inputs, where an aggregate before a stateful
    operator would chain two stateful stages. Docs with no shingles
    (< n tokens) drop, matching the batch form (they never enter the
    groupBy).
    """
    P = 2_147_483_647
    h0s = F.transform(
        F.col("ss"),
        lambda s: F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long") % P,
    )
    # materialize h0 once per row (lambda CSE rule, PERF.md #9)
    with_h0 = arrs.where(F.array_size("ss") >= 1).select(
        "doc_id", h0s.alias("__h0")
    )
    def _perm(j: int):
        # NOTE: must be a ONE-arg lambda. `lambda h, j=j: ...` would have
        # arity 2, and PySpark's transform() treats a second parameter as
        # the ELEMENT INDEX — silently replacing the captured j.
        return lambda h: (F.lit(2 * j + 3) * h + F.lit(104729 * j + 12345)) % P

    mins = [
        F.array_min(F.transform(F.col("__h0"), _perm(j))).alias(f"m{j}")
        for j in range(K)
    ]
    band_sigs = [
        F.concat_ws(
            "|", *[F.col(f"m{b * ROWS_PER_BAND + r}") for r in range(ROWS_PER_BAND)]
        ).alias(f"sig{b}")
        for b in range(BANDS)
    ]
    stack_args = ", ".join(f"{b}, sig{b}" for b in range(BANDS))
    return with_h0.select("doc_id", *mins).select(
        "doc_id", *band_sigs
    ).select("doc_id", F.expr(f"stack({BANDS}, {stack_args}) AS (band, sig)"))


# --------------------------------------------------------------------------
#: quality gate shared by pipeline_clean_corpus (Spark + SQL forms must
#: stay in lockstep): enough tokens, sane chars-per-token ratio. Integer
#: arithmetic only, so both engines agree exactly.
_MIN_TOKS = 20
_SQL_QUALITY = (
    f"len(string_split(text, ' ')) >= {_MIN_TOKS}"
    " AND 3 * len(string_split(text, ' ')) <= length(text) + 1"
    " AND length(text) + 1 <= 9 * len(string_split(text, ' '))"
)


@query(
    "pipeline_clean_corpus",
    oracle=f"""
WITH clean0 AS (
  SELECT doc_id, text, source FROM documents WHERE {_SQL_QUALITY}
),
exact_keep AS (
  SELECT MIN(doc_id) AS doc_id FROM clean0 GROUP BY md5(text)
),
clean1 AS (SELECT c.* FROM clean0 c JOIN exact_keep k USING (doc_id)),
{_SQL_PAIR_CTES.replace("FROM documents", "FROM clean1")},
near_drop AS (SELECT DISTINCT d2 AS doc_id FROM pairs),
clean2 AS (
  SELECT c.* FROM clean1 c LEFT JOIN near_drop d USING (doc_id)
  WHERE d.doc_id IS NULL
),
raw_s AS (SELECT source, COUNT(*) AS n_raw FROM documents GROUP BY source),
q_s AS (SELECT source, COUNT(*) AS n_quality FROM clean0 GROUP BY source),
e_s AS (SELECT source, COUNT(*) AS n_exact FROM clean1 GROUP BY source),
f_s AS (SELECT source, COUNT(*) AS n_final FROM clean2 GROUP BY source)
SELECT r.source,
       r.n_raw,
       COALESCE(q.n_quality, 0) AS n_quality,
       COALESCE(e.n_exact, 0) AS n_exact,
       COALESCE(f.n_final, 0) AS n_final,
       CAST(COALESCE(f.n_final, 0) AS DOUBLE) / r.n_raw AS keep_rate
FROM raw_s r
LEFT JOIN q_s q USING (source)
LEFT JOIN e_s e USING (source)
LEFT JOIN f_s f USING (source)
ORDER BY r.source
""",
)
def pipeline_clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus-cleaning funnel — the composed shape of a real
    LLM ingest pipeline, in one lazy plan:

        raw --quality filter--> clean0 --exact dedup--> clean1
            --near-dup (MinHash LSH, keep-lowest)--> clean2

    with per-source survival counts at every stage (the funnel report a
    data team watches to see WHICH source is losing mass and WHERE).

    Stage policies:
    - quality: integer-exact token/char-ratio gate (_SQL_QUALITY) — the
      cheap map-only filter runs FIRST so later (quadratic-leaning)
      stages see less data; this ordering is the production default.
    - exact: keep the smallest doc_id per md5(text) group.
    - near-dup: verified-Jaccard >= 0.5 pairs over the SURVIVORS only
      (verified_pairs_of on the filtered shingle sets); a doc is dropped
      if it is the LARGER member of any verified pair (keep-lowest — the
      policy form that needs no transitive closure; dedup_cluster_cc is
      the clustering variant).

    Scale: every stage composes lazily into one DAG — Catalyst pushes the
    quality predicate into the parquet scan, the exact-dedup shuffle
    carries 16-byte digests, and LSH bounds candidate pairs; the funnel
    counts are four tiny per-source aggregates reusing the same lineage.
    """
    t = Tables(spark, sf_dir)
    n_toks = F.size(F.split(F.col("text"), " "))
    n_chars = F.length("text")
    quality = (
        (n_toks >= _MIN_TOKS)
        & (3 * n_toks <= n_chars + 1)
        & (n_chars + 1 <= 9 * n_toks)
    )
    # clean0/clean1 are each consumed by THREE downstream subplans (the
    # next stage's build, the near-dup shingle pass, and their own funnel
    # count) — uncached, every consumer re-ran the quality split and the
    # md5 semi-join from the parquet scan (the r10-before plan re-scans
    # documents ~10x). Caching each stage once makes the funnel compute
    # every stage exactly once (guide §5: reuse beats recompute when the
    # recompute is a corpus pass).
    clean0 = cached(t.documents.select("doc_id", "text", "source").where(quality))
    exact_keep = (
        clean0.groupBy(F.md5("text"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    clean1 = cached(clean0.join(exact_keep, "doc_id", "left_semi"))
    arrs = cached(shingle_arrays_of(clean1.select("doc_id", "text")))
    near_drop = (
        verified_pairs_of(arrs)
        .select(F.col("d2").alias("doc_id"))
        .distinct()
    )
    clean2 = clean1.join(near_drop, "doc_id", "left_anti")

    def _stage(df: DataFrame, name: str) -> DataFrame:
        return df.groupBy("source").agg(F.count(F.lit(1)).alias(name))

    raw_s = _stage(t.documents, "n_raw")
    return (
        raw_s.join(_stage(clean0, "n_quality"), "source", "left")
        .join(_stage(clean1, "n_exact"), "source", "left")
        .join(_stage(clean2, "n_final"), "source", "left")
        .select(
            "source",
            "n_raw",
            F.coalesce("n_quality", F.lit(0)).alias("n_quality"),
            F.coalesce("n_exact", F.lit(0)).alias("n_exact"),
            F.coalesce("n_final", F.lit(0)).alias("n_final"),
            (
                F.coalesce("n_final", F.lit(0)).cast("double") / F.col("n_raw")
            ).alias("keep_rate"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
@query(
    "dedup_minhash_accuracy",
    oracle=f"""
WITH {_SQL_PAIR_CTES},
est AS (
  SELECT c.d1, c.d2, COUNT(CASE WHEN a.m = b.m THEN 1 END) AS est_num
  FROM cand c
  JOIN mh a ON a.doc_id = c.d1
  JOIN mh b ON b.doc_id = c.d2 AND b.j = a.j
  GROUP BY c.d1, c.d2
),
x AS (
  SELECT e.d1, e.d2, e.est_num,
         COALESCE(v.common, 0) AS common, z1.n AS n1, z2.n AS n2,
         z1.n + z2.n - COALESCE(v.common, 0) AS u
  FROM est e
  LEFT JOIN ver v ON v.d1 = e.d1 AND v.d2 = e.d2
  JOIN sizes z1 ON z1.doc_id = e.d1
  JOIN sizes z2 ON z2.doc_id = e.d2
)
SELECT d1, d2, est_num, common, n1, n2,
       est_num / {K}.0 AS est_jaccard,
       CAST(common AS DOUBLE) / u AS jaccard,
       abs(est_num * u - common * {K}) * 1000000 // ({K} * u) AS err_ppm
FROM x
ORDER BY err_ppm DESC, d1, d2
LIMIT 100
""",
)
def dedup_minhash_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash estimator-accuracy audit: for every LSH candidate pair,
    compare the signature-agreement Jaccard estimate (#agreeing minima /
    K) against the exact shingle-set Jaccard, and rank pairs by estimator
    error — the eval harness a sketch-based dedup ships with (the analogue
    of sim_ann_recall for the ANN side).

    err_ppm is |est - exact| in exact cleared-denominator integer ppm
    (est/K - common/union over denominator K*union), so the ranking never
    touches float subtraction. Scale: reuses the LSH candidate generation
    (bounded buckets, never all-pairs) and joins the K-int signature rows
    for candidates only; the exact side reuses the per-doc shingle-set
    arrays — both join build sides are doc-count-sized.
    """
    arrs = cached(_shingle_arrays(spark, sf_dir))
    cand = lsh_candidates(arrs)
    mh = minhash_wide(arrs)
    m1 = mh.select(
        F.col("doc_id").alias("d1"), *[F.col(f"m{j}").alias(f"a{j}") for j in range(K)]
    )
    m2 = mh.select(
        F.col("doc_id").alias("d2"), *[F.col(f"m{j}").alias(f"b{j}") for j in range(K)]
    )
    est_num = sum(
        F.when(F.col(f"a{j}") == F.col(f"b{j}"), 1).otherwise(0) for j in range(K)
    ).cast("bigint")
    x = set_overlap(
        cand.join(m1, "d1").join(m2, "d2").select("d1", "d2", est_num.alias("est_num")),
        arrs,
    ).withColumn("u", F.col("n1") + F.col("n2") - F.col("common"))
    return (
        x.select(
            "d1",
            "d2",
            "est_num",
            "common",
            "n1",
            "n2",
            (F.col("est_num") / F.lit(float(K))).alias("est_jaccard"),
            "jaccard",
            F.expr(
                f"abs(est_num * u - common * {K}) * 1000000 div ({K} * u)"
            ).alias("err_ppm"),
        )
        .orderBy(F.desc("err_ppm"), "d1", "d2")
        .limit(100)
    )


# --------------------------------------------------------------------------
@query(
    "dedup_graph_triangles",
    oracle=f"""
WITH {_SQL_PAIR_CTES},
e AS (SELECT d1, d2 FROM pairs),
tri AS (
  SELECT COUNT(*) AS t
  FROM e ab JOIN e bc ON ab.d2 = bc.d1
  JOIN e ac ON ac.d1 = ab.d1 AND ac.d2 = bc.d2
),
deg AS (
  SELECT v, COUNT(*) AS d
  FROM (SELECT d1 AS v FROM e UNION ALL SELECT d2 FROM e) GROUP BY v
),
w AS (
  SELECT COALESCE(CAST(SUM(d * (d - 1) // 2) AS BIGINT), 0) AS wedges,
         COUNT(*) AS n_nodes
  FROM deg
)
SELECT (SELECT COUNT(*) FROM e) AS n_edges,
       (SELECT n_nodes FROM w) AS n_nodes,
       (SELECT t FROM tri) AS n_triangles,
       (SELECT wedges FROM w) AS n_wedges,
       CAST(CASE WHEN (SELECT wedges FROM w) > 0
                 THEN 3 * (SELECT t FROM tri) * 1000000 // (SELECT wedges FROM w)
                 ELSE 0 END AS BIGINT) AS clustering_ppm
""",
)
def dedup_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup graph structure audit: triangle count + global clustering
    coefficient over the verified (J >= 0.5) pair graph — distinguishes
    tight duplicate CLIQUES (template families, high clustering; safe to
    collapse to one representative) from long weak CHAINS (low clustering;
    collapsing them over-merges distinct documents through transitivity).
    The metric that decides between keep-one-per-cluster and
    pairwise-only removal before dedup_cluster_cc is applied.

    Triangles close over the d1<d2-oriented edge list (each triangle
    counted once); wedges come from the degree aggregate, so the
    clustering coefficient 3T/W is exact integer ppm. Scale: the edge
    list is the LSH-verified pair set (bounded by true duplication, never
    all-pairs); the triangle join's fan-out is bounded by per-node degree
    — dup-cluster degrees, already capped upstream by MAX_BUCKET_DOCS.
    """
    e = cached(_verified_pairs(spark, sf_dir).select("d1", "d2"))
    tri = (
        e.alias("ab")
        .join(e.alias("bc"), F.col("ab.d2") == F.col("bc.d1"))
        .join(
            e.alias("ac"),
            (F.col("ac.d1") == F.col("ab.d1"))
            & (F.col("ac.d2") == F.col("bc.d2")),
        )
        .agg(F.count(F.lit(1)).alias("t"))
    )
    deg = (
        e.select(F.col("d1").alias("v"))
        .unionAll(e.select("d2"))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    w = deg.agg(
        F.coalesce(
            F.sum(F.expr("d * (d - 1) div 2")), F.lit(0)
        ).cast("bigint").alias("wedges"),
        F.count(F.lit(1)).alias("n_nodes"),
    )
    ne = e.agg(F.count(F.lit(1)).alias("n_edges"))
    return (
        ne.crossJoin(F.broadcast(w))
        .crossJoin(F.broadcast(tri))
        .select(
            "n_edges",
            "n_nodes",
            F.col("t").alias("n_triangles"),
            F.col("wedges").alias("n_wedges"),
            F.when(
                F.col("wedges") > 0,
                F.expr("3 * t * 1000000 div wedges"),
            )
            .otherwise(F.lit(0))
            .cast("bigint")
            .alias("clustering_ppm"),
        )
    )


# --------------------------------------------------------------------------
@query(
    "dedup_entity_blocking",
    oracle="""
WITH b AS (
  SELECT c_custkey, c_nationkey, c_mktsegment,
         CAST(round(c_acctbal * 100) AS BIGINT) AS bal_c,
         CAST(round(c_acctbal * 100) AS BIGINT) // 50000 AS band
  FROM customer
),
y AS (
  SELECT c_custkey, c_nationkey, c_mktsegment, bal_c,
         unnest([band - 1, band, band + 1]) AS k
  FROM b
),
p AS (
  SELECT x.c_nationkey AS nat, x.c_mktsegment AS seg,
         abs(x.bal_c - y.bal_c) AS d
  FROM b x JOIN y
    ON x.c_nationkey = y.c_nationkey
   AND x.c_mktsegment = y.c_mktsegment
   AND x.band = y.k
   AND x.c_custkey < y.c_custkey
  WHERE abs(x.bal_c - y.bal_c) <= 1000
)
SELECT nat, seg, COUNT(*) AS n_pairs,
       CAST(SUM(d) AS BIGINT) AS sum_diff_cents,
       MIN(d) AS min_diff_cents
FROM p GROUP BY nat, seg ORDER BY nat, seg
""",
)
def dedup_entity_blocking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-resolution blocking for STRUCTURED records (the record-linkage
    twin of the text-side MinHash/SimHash family): candidate duplicate
    accounts are pairs in the same (nation, segment, $500 balance band)
    block whose balances differ by <= $10.

    The classic ER recall fix for banding is applied: the right side is
    exploded to keys {band-1, band, band+1} before the equi-join, so a
    near-pair straddling a band boundary is still found, and each unordered
    pair matches exactly once (the left row's band is fixed; the right row
    contributes each key once; custkey < orders the pair). Balances compare
    in exact integer cents.

    Scale: pair generation is an EQUI-join on the block key — cardinality
    is bounded by block sizes (the whole point of blocking), never
    all-pairs; the 3x explode is the only fan-out. Skewed blocks fall to
    AQE skew-join splitting, same as the LSH buckets.
    """
    t = Tables(spark, sf_dir)
    bal_c = F.round(F.col("c_acctbal") * 100).cast("bigint")
    b = t.customer.select(
        "c_custkey",
        "c_nationkey",
        "c_mktsegment",
        bal_c.alias("bal_c"),
        F.expr("CAST(round(c_acctbal * 100) AS BIGINT) div 50000").alias("band"),
    )
    y = b.select(
        F.col("c_custkey").alias("y_key"),
        F.col("c_nationkey").alias("y_nat"),
        F.col("c_mktsegment").alias("y_seg"),
        F.col("bal_c").alias("y_bal"),
        F.explode(
            F.array(F.col("band") - 1, F.col("band"), F.col("band") + 1)
        ).alias("k"),
    )
    d = F.abs(F.col("bal_c") - F.col("y_bal"))
    pairs = (
        b.join(
            y,
            (F.col("c_nationkey") == F.col("y_nat"))
            & (F.col("c_mktsegment") == F.col("y_seg"))
            & (F.col("band") == F.col("k"))
            & (F.col("c_custkey") < F.col("y_key")),
        )
        .where(d <= 1000)
        .select(
            F.col("c_nationkey").alias("nat"),
            F.col("c_mktsegment").alias("seg"),
            d.alias("d"),
        )
    )
    return (
        pairs.groupBy("nat", "seg")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum("d").cast("bigint").alias("sum_diff_cents"),
            F.min("d").alias("min_diff_cents"),
        )
        .orderBy("nat", "seg")
    )


# --------------------------------------------------------------------------
@query(
    "dedup_containment",
    oracle="""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS tk FROM documents
),
probe AS (
  SELECT DISTINCT doc_id, s
  FROM (SELECT doc_id,
               list_transform(range(1, least(len(tk), 42) - 1),
                              i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])
                 AS ss
        FROM toks WHERE doc_id < 500) p,
       unnest(ss) AS u(s)
),
corp AS (
  SELECT DISTINCT doc_id, s
  FROM toks,
       unnest(list_transform(range(1, len(tk) - 1),
                             i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))
         AS u(s)
),
psize AS (SELECT doc_id, COUNT(*) AS np FROM probe GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id AS probe_doc, b.doc_id AS host_doc, COUNT(*) AS common
  FROM probe a JOIN corp b ON a.s = b.s AND a.doc_id <> b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT probe_doc, host_doc, common, CAST(np AS BIGINT) AS n_probe,
       CAST(common AS DOUBLE) / np AS containment
FROM pairs JOIN psize ON psize.doc_id = probe_doc
WHERE CAST(common AS DOUBLE) / np >= 0.8
ORDER BY containment DESC, probe_doc, host_doc
LIMIT 100
""",
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASYMMETRIC near-dup detection: containment C = |chunk∩doc| /
    |chunk| of a probe chunk (each document's first ~40 tokens) inside
    OTHER full documents — the "quoted article / boilerplate-wrapped
    repost" case that symmetric Jaccard misses because the host's union
    term dwarfs the intersection. A hit (C >= 0.8) says the probe's
    opening is reproduced nearly verbatim inside another document.

    Same bounded join shape as dedup_ngram_jaccard: probe and corpus
    shingle tables equi-join on the shingle (cardinality bounded by
    per-shingle df, trigram-sized); the probe side is 40 shingles/doc.
    At 100 TB the probe set is whatever chunk sample you audit, and the
    equi-join stays the only shuffle.
    """
    t = Tables(spark, sf_dir)
    toks = t.documents.select("doc_id", F.split(F.col("text"), " ").alias("tk"))
    shingle = (
        "array_distinct(transform(sequence(1, greatest(least({lim}, size(tk)) - 2, 0)), "
        "i -> concat(tk[i - 1], ' ', tk[i], ' ', tk[i + 1])))"
    )
    probe = (
        toks.where(F.col("doc_id") < 500)
        .select("doc_id", F.explode(F.expr(shingle.format(lim=42))).alias("s"))
        .distinct()
    )
    corp = toks.select(
        F.col("doc_id").alias("host_doc"),
        F.explode(F.expr(shingle.format(lim="size(tk)"))).alias("s"),
    ).distinct()
    psize = probe.groupBy("doc_id").agg(F.count(F.lit(1)).cast("bigint").alias("np"))
    pairs = (
        probe.join(corp, "s")
        .where(F.col("doc_id") != F.col("host_doc"))
        .groupBy("doc_id", "host_doc")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    return (
        pairs.join(F.broadcast(psize), "doc_id")
        .select(
            F.col("doc_id").alias("probe_doc"),
            "host_doc",
            "common",
            F.col("np").alias("n_probe"),
            (F.col("common").cast("double") / F.col("np")).alias("containment"),
        )
        .where(F.col("containment") >= 0.8)
        .orderBy(F.desc("containment"), "probe_doc", "host_doc")
        .limit(100)
    )


# --------------------------------------------------------------------------
def _sql_kcore_round(edges_in: str, alive_out: str, edges_out: str) -> str:
    """One k=2 peeling round as CTEs: degree over surviving edges, keep
    nodes with degree >= 2, keep edges whose BOTH endpoints survive."""
    return f"""
{alive_out} AS (
  SELECT d1 AS u FROM {edges_in} GROUP BY d1 HAVING COUNT(*) >= 2
),
{edges_out} AS (
  SELECT e.d1, e.d2 FROM {edges_in} e
  JOIN {alive_out} x ON x.u = e.d1
  JOIN {alive_out} y ON y.u = e.d2
)"""


@query(
    "dedup_kcore_peel",
    oracle=f"""
WITH {_SQL_CHUNK_CTES},
grp AS (
  SELECT h, list_sort(list(DISTINCT doc_id)) AS ids
  FROM chunks GROUP BY h
  HAVING COUNT(DISTINCT doc_id) BETWEEN 2 AND 64
),
prpairs AS (
  SELECT DISTINCT a.d1, b.d2
  FROM grp, unnest(ids) a(d1), unnest(ids) b(d2)
  WHERE a.d1 <> b.d2
),
d0 AS (SELECT d1 AS u, CAST(COUNT(*) AS BIGINT) AS deg
       FROM prpairs GROUP BY 1),
{_sql_kcore_round('prpairs', 'a1', 'e1')},
{_sql_kcore_round('e1', 'a2', 'e2')},
{_sql_kcore_round('e2', 'a3', 'e3')},
dcore AS (SELECT d1 AS u, CAST(COUNT(*) AS BIGINT) AS deg_core
          FROM e3 GROUP BY 1 HAVING COUNT(*) >= 2)
SELECT dcore.u AS doc_id, d0.deg AS deg_initial, dcore.deg_core
FROM dcore JOIN d0 ON d0.u = dcore.u
ORDER BY doc_id
""",
)
def dedup_kcore_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-core of the shared-chunk graph by 3 unrolled peeling rounds —
    the graph-density complement to dedup_chunk_pagerank on the SAME edge
    relation: peeling strips docs that hang off the template web by a
    single shared chunk (pairwise accidents), and what survives is the
    densely mutually-duplicated CORE a dedup pipeline should cluster
    first. Classic k-core semantics: iteratively delete nodes of degree
    < k; 3 rounds is the unrolled fixed-depth variant (same contract as
    the 5-iteration PageRank — a fingerprint, not a full fixpoint; deep
    peel chains longer than 3 rounds survive with deg_core < 2 absent).

    Exactness: pure integer degrees over a DISTINCT edge set — nothing to
    quantize; the hash gate pins the surviving node set and both degree
    columns.

    Scale: each round is one partial-agg degree count + one semi-join-
    shaped edge filter on the SAME d1/d2 partitioning (AQE reuses the
    exchange); the 64-doc group cap bounds edge fanout exactly as in
    PageRank. No driver-side convergence loop — fixed 3 stages.
    """
    pairs = chunk_pair_edges(Tables(spark, sf_dir).documents)
    deg0 = pairs.groupBy(F.col("d1").alias("u")).agg(
        F.count(F.lit(1)).cast("long").alias("deg")
    )
    # Lineage hygiene (guide §3.3): each round references `edges` three
    # times (the degree count + both semi-join sides), so uncached the
    # final plan held 3^3 = 27 copies of the chunk-hash pair generation —
    # 224 Exchange nodes in the r10-before plan, all recomputed. Caching
    # the edge set per round makes each peel compute its input once.
    edges = pairs
    for _ in range(3):
        edges = cached(edges)
        alive = (
            edges.groupBy(F.col("d1").alias("u"))
            .agg(F.count(F.lit(1)).alias("deg"))
            .where(F.col("deg") >= 2)
            .select("u")
        )
        edges = (
            edges.join(alive.withColumnRenamed("u", "d1"), "d1")
            .join(alive.withColumnRenamed("u", "d2"), "d2")
            .select("d1", "d2")
        )
    dcore = (
        edges.groupBy(F.col("d1").alias("u"))
        .agg(F.count(F.lit(1)).cast("long").alias("deg_core"))
        .where(F.col("deg_core") >= 2)
    )
    return (
        dcore.join(deg0, "u")
        .select(
            F.col("u").alias("doc_id"),
            F.col("deg").alias("deg_initial"),
            "deg_core",
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
@query(
    "dedup_cdc_chunks",
    oracle="""
WITH toks AS (
  SELECT doc_id, CAST(i AS INTEGER) AS pos, tk[CAST(i AS INTEGER) + 1] AS t
  FROM (SELECT doc_id, string_split(text, ' ') AS tk FROM documents) d,
       LATERAL (SELECT unnest(range(0, len(tk))) AS i) g
),
marked AS (
  SELECT doc_id, pos, t,
         CASE WHEN substring(md5(t), 1, 1) IN ('0', '8') THEN 1 ELSE 0 END AS b
  FROM toks
),
chunked AS (
  SELECT doc_id, pos, t,
         COALESCE(SUM(b) OVER (PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS chunk_id
  FROM marked
),
chunks AS (
  SELECT doc_id, chunk_id, md5(string_agg(t, ' ' ORDER BY pos)) AS h
  FROM chunked GROUP BY doc_id, chunk_id
),
shared AS (
  SELECT h FROM chunks GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2
)
SELECT c.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_chunks,
       CAST(COUNT(s.h) AS BIGINT) AS n_shared,
       COUNT(s.h) * 1000000 // COUNT(*) AS shared_ppm
FROM chunks c LEFT JOIN shared s USING (h)
GROUP BY c.doc_id
ORDER BY doc_id
""",
)
def dedup_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking (CDC) dedup: split every document into
    variable-size chunks at CONTENT-determined boundaries (a token ends a
    chunk when its hash falls in 2 of 16 nibble values, p=1/8, ~8-token
    average chunks), hash each chunk, and report per-document how many of
    its chunks also appear in other documents.

    Why content-defined beats fixed-size chunking for dedup: inserting one
    token shifts every downstream FIXED chunk boundary (no chunk after the
    edit ever matches again), while CDC boundaries re-synchronize at the
    next boundary token — the rsync/LBFS/backup-dedup insight, applied to
    near-identical training documents.

    Scale: boundary marking is map-only (one md5 per token); chunk_id is a
    per-doc running sum (doc-bounded window); chunk assembly is one
    groupBy(doc, chunk) with an ordered listagg; the shared-chunk test
    shuffles ONLY 32-byte chunk digests (groupBy h + equi-join back), the
    exact-dedup posture. No pair is ever materialized.
    """
    t = Tables(spark, sf_dir)
    toks = t.documents.select(
        "doc_id", F.posexplode(F.split(F.col("text"), " ")).alias("pos", "t")
    )
    b = F.when(F.substring(F.md5("t"), 1, 1).isin("0", "8"), 1).otherwise(0)
    w = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    chunked = toks.withColumn(
        "chunk_id", F.coalesce(F.sum(b).over(w), F.lit(0))
    )
    chunks = chunked.groupBy("doc_id", "chunk_id").agg(
        F.md5(F.expr("listagg(t, ' ') WITHIN GROUP (ORDER BY pos)")).alias("h")
    )
    shared = (
        chunks.groupBy("h")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .where(F.col("nd") >= 2)
        .select("h", F.lit(1).alias("is_shared"))
    )
    return (
        # same data-dependent-size reasoning as dedup_substring_spans:
        # never broadcast the shared-chunk set
        chunks.join(shared.hint("shuffle_hash"), "h", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_chunks"),
            F.count("is_shared").cast("bigint").alias("n_shared"),
        )
        .select(
            "doc_id",
            "n_chunks",
            "n_shared",
            F.expr("n_shared * 1000000 div n_chunks").alias("shared_ppm"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
#: sorted-neighborhood window width: compare each doc to the next w-1 docs
SNM_W = 3


@query(
    "dedup_sorted_neighborhood",
    oracle=f"""
WITH keyed AS (
  SELECT doc_id, lang,
         array_to_string(string_split(text, ' ')[1:4], ' ') AS sk
  FROM documents
),
nbr AS (
  SELECT doc_id AS d1, lang,
         LEAD(doc_id, 1) OVER w AS n1,
         LEAD(doc_id, 2) OVER w AS n2
  FROM keyed
  WINDOW w AS (PARTITION BY lang ORDER BY sk, doc_id)
),
cand AS (
  SELECT d1, n1 AS d2 FROM nbr WHERE n1 IS NOT NULL
  UNION ALL
  SELECT d1, n2 FROM nbr WHERE n2 IS NOT NULL
),
sh AS ({_SQL_SHINGLES}),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
verified AS (
  SELECT c.d1, c.d2, COUNT(*) AS common
  FROM cand c JOIN sh a ON a.doc_id = c.d1 JOIN sh b ON b.doc_id = c.d2
                       AND a.s = b.s
  GROUP BY c.d1, c.d2
)
SELECT d1, d2, common, s1.n AS n1, s2.n AS n2,
       CAST(common AS DOUBLE) / (s1.n + s2.n - common) AS jaccard
FROM verified JOIN sizes s1 ON s1.doc_id = d1 JOIN sizes s2 ON s2.doc_id = d2
ORDER BY jaccard DESC, d1, d2
LIMIT 100
""",
)
def dedup_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood entity resolution: sort documents by a cheap
    blocking key (first-3-token prefix), compare each document ONLY to its
    next ``SNM_W - 1`` neighbors in sort order, then exact-verify the
    candidates with trigram-shingle Jaccard.

    The classic alternative to hash blocking (dedup_entity_blocking) and
    LSH (dedup_minhash_lsh): candidate count is exactly (W-1) * N —
    LINEAR, no bucket-skew failure mode at all; the trade-off is that
    near-dups must sort adjacently. At 100 TB the sort is
    repartitionByRange on the key (Spark's sort machinery, no single-node
    sort); the window is partitioned by lang here and by (lang,
    range-bucket) at scale — neighborhoods crossing partition edges lose
    at most W-2 pairs per boundary, the documented SNM property.

    Verification is ``set_overlap`` on the shared shingle-set arrays (one
    intersection per candidate, no shingle re-explode).
    """
    t = Tables(spark, sf_dir)
    keyed = t.documents.select(
        "doc_id",
        "lang",
        F.array_join(F.slice(F.split(F.col("text"), " "), 1, 4), " ").alias(
            "sk"
        ),
    )
    w = Window.partitionBy("lang").orderBy("sk", "doc_id")
    nbr = keyed.select(
        F.col("doc_id").alias("d1"),
        F.lead("doc_id", 1).over(w).alias("n1"),
        F.lead("doc_id", 2).over(w).alias("n2"),
    )
    cand = (
        nbr.where(F.col("n1").isNotNull())
        .select("d1", F.col("n1").alias("d2"))
        .unionAll(
            nbr.where(F.col("n2").isNotNull()).select(
                "d1", F.col("n2").alias("d2")
            )
        )
    )
    return (
        set_overlap(cand, shingle_arrays_of(t.documents))
        .where(F.col("common") > 0)
        .orderBy(F.desc("jaccard"), "d1", "d2")
        .limit(100)
    )


# --------------------------------------------------------------------------
@query(
    "dedup_keep_best",
    oracle="""
WITH scored AS (
  SELECT doc_id, n_chars,
         md5(array_to_string(list_sort(list_distinct(
           string_split(text, ' '))), ' ')) AS fp,
         CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) * 1000000
           + CAST(len(string_split(text, ' ')) AS BIGINT) AS quality
  FROM documents
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY fp
                               ORDER BY quality DESC, doc_id) AS rn,
         CAST(COUNT(*) OVER (PARTITION BY fp) AS BIGINT) AS n_members
  FROM scored
)
SELECT fp, n_members, doc_id AS keep_doc, quality AS keep_quality
FROM ranked WHERE rn = 1 AND n_members >= 2
ORDER BY n_members DESC, fp
LIMIT 100
""",
)
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware survivor selection: within each near-dup cluster
    (bag-of-words fingerprint — catches token-order shuffles exact
    hashing misses), keep the HIGHEST-QUALITY member (vocabulary
    richness, then length; doc_id only as the final tie-break) instead
    of the arbitrary min-id — the curation policy that decides which
    copy of a boilerplate page survives into training, where the "best"
    copy can differ meaningfully in truncation/extraction quality.

    One map-side fingerprint+score projection, one fingerprint-keyed
    exchange for the member count, then top_k's rank-1 WindowGroupLimit
    on that same partitioning — the exact-dedup shuffle shape with a
    policy column instead of min().
    """
    t = Tables(spark, sf_dir)
    toks = F.split(F.col("text"), " ")
    scored = t.documents.select(
        "doc_id",
        F.md5(
            F.array_join(F.array_sort(F.array_distinct(toks)), " ")
        ).alias("fp"),
        (
            F.array_size(F.array_distinct(toks)).cast("bigint") * 1000000
            + F.array_size(toks).cast("bigint")
        ).alias("quality"),
    )
    counted = scored.withColumn(
        "n_members", F.count(F.lit(1)).over(Window.partitionBy("fp")).cast("bigint")
    )
    return (
        top_k(counted, ["fp"], [F.desc("quality"), "doc_id"], 1)
        .where(F.col("n_members") >= 2)
        .select(
            "fp",
            "n_members",
            F.col("doc_id").alias("keep_doc"),
            F.col("quality").alias("keep_quality"),
        )
        .orderBy(F.desc("n_members"), "fp")
        .limit(100)
    )


# --------------------------------------------------------------------------
@query(
    "dedup_url_canonical",
    oracle=r"""
WITH urls AS (
  SELECT doc_id, n_chars,
         (CASE WHEN doc_id % 2 = 0 THEN 'HTTPS://WWW.' ELSE 'https://www.' END)
         || source || '.Example.COM:443/articles/' || CAST(doc_id % 7 AS VARCHAR)
         || '/?utm_source=feed&id=' || CAST(doc_id % 5 AS VARCHAR)
         || '&ref=' || CAST(doc_id AS VARCHAR)
         || '#section-' || CAST(doc_id % 3 AS VARCHAR) AS url
  FROM documents
),
canon AS (
  SELECT doc_id, n_chars,
         'https://'
         || regexp_replace(lower(regexp_extract(url, '^[a-zA-Z]+://([^/:?#]+)', 1)),
                           '^www\.', '')
         || regexp_replace(regexp_extract(url, '^[a-zA-Z]+://[^/?#]+(/[^?#]*)', 1),
                           '/+$', '')
         || '?id=' || regexp_extract(url, '[?&]id=([0-9]+)', 1) AS canonical_url
  FROM urls
)
SELECT canonical_url, CAST(COUNT(*) AS BIGINT) AS n_dups,
       MIN(doc_id) AS keep_doc, CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM canon GROUP BY canonical_url HAVING COUNT(*) >= 2
ORDER BY n_dups DESC, canonical_url
LIMIT 100
""",
)
def dedup_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-canonicalization dedup — the first dedup key of every web
    corpus (CommonCrawl keeps one capture per canonical URL before any
    content hashing runs). Raw URLs vary in scheme/host case, www
    prefix, default port, tracking parameters (utm_*, ref), trailing
    slash, and fragment while naming the SAME resource; canonicalizing
    then grouping collapses them without touching document bytes.

    The testdata documents table carries no URL column, so a raw URL is
    synthesized per doc (deterministically, in BOTH engines) with every
    artifact class above baked in: mixed-case scheme+host, www., :443,
    utm_source/ref noise around a meaningful id param, and a fragment.
    The operator under test is the canonicalization itself, which runs
    on Spark's real URL parser (`parse_url` HOST/PATH/QUERY-key
    extraction — JVM expression, not a UDF) + lower/regexp cleanup:
      scheme+host lowercased, www. stripped, default port dropped
      (parse_url HOST already excludes it), path trailing-slash
      trimmed, query reduced to the canonical id param, fragment
      dropped.

    Scale posture at 100 TB: canonicalization is pure map-side
    expression work inside whole-stage codegen; the only shuffle is the
    groupBy on the canonical-URL string with map-side partial
    aggregation — identical shape to dedup_exact, shuffling one short
    key + three numeric partials per row. Survivor policy is min
    doc_id (first capture); swap in dedup_keep_best's quality argmax
    for curation-grade selection.
    """
    t = Tables(spark, sf_dir)
    url = F.concat(
        F.when(F.col("doc_id") % 2 == 0, F.lit("HTTPS://WWW.")).otherwise(
            F.lit("https://www.")
        ),
        F.col("source"),
        F.lit(".Example.COM:443/articles/"),
        (F.col("doc_id") % 7).cast("string"),
        F.lit("/?utm_source=feed&id="),
        (F.col("doc_id") % 5).cast("string"),
        F.lit("&ref="),
        F.col("doc_id").cast("string"),
        F.lit("#section-"),
        (F.col("doc_id") % 3).cast("string"),
    )
    with_url = t.documents.select("doc_id", "n_chars", url.alias("url"))
    canonical = F.concat(
        F.lit("https://"),
        F.regexp_replace(
            F.lower(F.parse_url(F.col("url"), F.lit("HOST"))), r"^www\.", ""
        ),
        F.regexp_replace(
            F.parse_url(F.col("url"), F.lit("PATH")), r"/+$", ""
        ),
        F.lit("?id="),
        F.parse_url(F.col("url"), F.lit("QUERY"), F.lit("id")),
    )
    return (
        with_url.select(
            "doc_id", "n_chars", canonical.alias("canonical_url")
        )
        .groupBy("canonical_url")
        .agg(
            F.count(F.lit(1)).alias("n_dups"),
            F.min("doc_id").alias("keep_doc"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
        )
        .where(F.col("n_dups") >= 2)
        .orderBy(F.desc("n_dups"), "canonical_url")
        .limit(100)
    )


# --------------------------------------------------------------------------
#: (bands, rows-per-band) configurations sweepable from the SAME K=16
#: signature table: b*r = K for all, so no extra hashing per config.
_TUNE_CONFIGS = [(16, 1), (8, 2), (4, 4), (2, 8)]

#: target sample size (docs) for the tuning sweep. The sample predicate is
#: doc_id % P == 0 with P = max(1, n_docs // TARGET), so the sweep input is
#: a FIXED ~TARGET docs however large the corpus — O(1) in corpus scale —
#: where the previous doc_id % 2 "sample" was a fixed FRACTION whose
#: capped-but-quadratic r=1 row still grew linearly (VERDICT r5 #3 / its
#: own docstring protocol). Mirrored exactly in the oracle's scalar
#: subquery; deterministic (no RNG) so the driver hash holds. 2048 docs
#: is a production-adequate tuning sample (the sweep only needs stable
#: candidate/precision ratios) and keeps the sf0.1 sample at the size
#: the r5 half-corpus protocol measured (5000 docs -> P=2 -> 2500).
_TUNE_SAMPLE_TARGET = 2048


@query(
    "dedup_lsh_tuning_curve",
    oracle=f"""
WITH sh_all AS ({_SQL_SHINGLES}),
p AS (SELECT GREATEST(1, COUNT(*) // {_TUNE_SAMPLE_TARGET}) AS p FROM documents),
sh AS (SELECT sh_all.* FROM sh_all, p WHERE doc_id % p.p = 0),
seeds AS (SELECT unnest(range(0, {K})) AS j),
hashed AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT) % 2147483647 AS h0
  FROM sh
),
mh AS (
  SELECT doc_id, j,
         MIN(((2 * j + 3) * h0 + (104729 * j + 12345)) % 2147483647) AS m
  FROM hashed, seeds GROUP BY doc_id, j
),
configs AS (SELECT * FROM (VALUES {", ".join(f"({b}, {r})" for b, r in _TUNE_CONFIGS)}) c(b, r)),
bands AS (
  SELECT c.b, c.r, doc_id, j // c.r AS band,
         string_agg(m, '|' ORDER BY j) AS sig
  FROM mh, configs c GROUP BY c.b, c.r, doc_id, j // c.r
),
cand AS (
  SELECT DISTINCT a.b, a.r, a.doc_id AS d1, x.doc_id AS d2
  FROM bands a JOIN bands x
    ON a.b = x.b AND a.r = x.r AND a.band = x.band AND a.sig = x.sig
   AND a.doc_id < x.doc_id
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
ver AS (
  SELECT c.b, c.r, c.d1, c.d2, COUNT(*) AS common
  FROM cand c JOIN sh s1 ON s1.doc_id = c.d1
              JOIN sh s2 ON s2.doc_id = c.d2 AND s2.s = s1.s
  GROUP BY c.b, c.r, c.d1, c.d2
),
truth AS (
  SELECT v.b, v.r, CAST(COUNT(*) AS BIGINT) AS n_true
  FROM ver v JOIN sizes z1 ON z1.doc_id = v.d1
             JOIN sizes z2 ON z2.doc_id = v.d2
  WHERE CAST(v.common AS DOUBLE) / (z1.n + z2.n - v.common) >= 0.5
  GROUP BY v.b, v.r
),
counts AS (
  SELECT b, r, CAST(COUNT(*) AS BIGINT) AS n_candidates
  FROM cand GROUP BY b, r
)
SELECT c.b AS bands, c.r AS rows_per_band, n.n_candidates,
       COALESCE(t.n_true, 0) AS n_true,
       CASE WHEN n.n_candidates > 0
            THEN COALESCE(t.n_true, 0) * 1000000 // n.n_candidates
            END AS precision_ppm,
       round(pow(1.0 / c.b, 1.0 / c.r), 6) AS s_threshold
FROM configs c
JOIN counts n ON n.b = c.b AND n.r = c.r
LEFT JOIN truth t ON t.b = c.b AND t.r = c.r
ORDER BY c.r
""",
)
def dedup_lsh_tuning_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH parameter sweep — the S-curve table that PICKS (bands, rows):
    for every (b, r) banding of the SAME K=16 MinHash signatures, report
    measured candidate volume, how many candidates verify as true
    near-dups (exact Jaccard >= 0.5), the resulting precision, and the
    theoretical S-curve threshold (1/b)^(1/r) where collision probability
    hits 50%. r=1 recalls everything and drowns in false candidates;
    r=8 is near-exact matching; the table shows where the corpus' own
    dup distribution puts the sweet spot — measured on the same engine-
    exact md5 signature family as dedup_minhash_lsh, so the chosen
    config transfers 1:1 to the production pipeline.

    Scale posture at 100 TB: no extra hashing per config (b*r = K
    always — bands re-group existing signature columns map-side); the
    4-config band table unions before ONE groupBy(b, r, band, sig), so
    the sweep shuffles 4x the signature rows of a single-config run,
    never 4x the corpus; the in-bucket pair explode is ``bucket_pairs``,
    capped at MAX_BUCKET_DOCS. Production tunes on a sampled
    corpus slice — made mechanical here: a deterministic fixed-SIZE
    sample of ~_TUNE_SAMPLE_TARGET docs (doc_id % P with P derived from
    the corpus count, mirrored in the oracle), so the sweep is O(1) in
    corpus scale end to end. The lone double `pow`
    is rounded to 1e-6 so Java/libm ulp differences cannot leak into
    the hash.
    """
    # Tune on a deterministic FIXED-SIZE sample (~_TUNE_SAMPLE_TARGET
    # docs): P = max(1, n_docs // TARGET), keep doc_id % P == 0 — the
    # documented production protocol made mechanical. The r=1 row's
    # candidate count is quadratic in SAMPLE size by construction (that
    # is what the row demonstrates), and the sample no longer grows with
    # the corpus, so the whole sweep is O(1) in corpus scale (the n_docs
    # count is a parquet-footer metadata read, not a data scan).
    n_docs = Tables(spark, sf_dir).documents.count()
    p = max(1, n_docs // _TUNE_SAMPLE_TARGET)
    arrs = cached(_shingle_arrays(spark, sf_dir).where(F.col("doc_id") % p == 0))
    # cache the signature table too: the 4 config bandings union as
    # INDEPENDENT subplans, so without this each branch re-hashes all K
    # signatures over arrs (4x the md5 work — the sweep's dominant cost).
    # Materialized EAGERLY (one count() job): the 4 branches execute
    # concurrently in one plan and race the COLD cache, each paying the
    # full shingle+md5 build with all cores busy — unlike the light
    # 1-task caches (see _verified_pairs), this build saturates the core
    # budget, so the redundant rebuilds cost real wall time (guide §5).
    # The count() runs right before the query's first ACTION (``prepare``),
    # not at plan build, so explain/fingerprint tooling can construct the
    # plan without executing the corpus job or pinning a materialized cache.
    mh = cached(minhash_wide(arrs), prepare=True)
    per_config = []
    for b, r in _TUNE_CONFIGS:
        band_sigs = [
            F.concat_ws(
                "|", *[F.col(f"m{i * r + k}") for k in range(r)]
            ).alias(f"sig{i}")
            for i in range(b)
        ]
        stack_args = ", ".join(f"{i}, sig{i}" for i in range(b))
        per_config.append(
            mh.select("doc_id", *band_sigs).select(
                F.lit(b).alias("b"),
                F.lit(r).alias("r"),
                "doc_id",
                F.expr(f"stack({b}, {stack_args}) AS (band, sig)"),
            )
        )
    bands = per_config[0]
    for p in per_config[1:]:
        bands = bands.unionAll(p)
    buckets = bands.groupBy("b", "r", "band", "sig").agg(
        F.collect_list("doc_id").alias("ds")
    )
    # the r=1 configs bucket on a single minhash value and are the
    # likeliest to exceed the cap at scale — truncation understates
    # n_candidates/precision_ppm, the very numbers the tuning decision
    # reads, so bucket_pairs' loud counter matters most here.
    pairs = bucket_pairs(
        buckets, "ds", "lsh_tuning_curve", keys=["b", "r"]
    ).distinct()
    verified = set_overlap(pairs, arrs)
    counts = pairs.groupBy("b", "r").agg(
        F.count(F.lit(1)).alias("n_candidates")
    )
    truth = (
        verified.where(F.col("jaccard") >= 0.5)
        .groupBy("b", "r")
        .agg(F.count(F.lit(1)).alias("n_true"))
    )
    return (
        counts.join(truth, ["b", "r"], "left")
        .select(
            F.col("b").alias("bands"),
            F.col("r").alias("rows_per_band"),
            "n_candidates",
            F.coalesce(F.col("n_true"), F.lit(0)).cast("bigint").alias("n_true"),
            F.when(
                F.col("n_candidates") > 0,
                F.expr("coalesce(n_true, 0) * 1000000 div n_candidates"),
            ).alias("precision_ppm"),
            F.round(
                F.pow(F.lit(1.0) / F.col("b"), F.lit(1.0) / F.col("r")), 6
            ).alias("s_threshold"),
        )
        .orderBy("rows_per_band")
    )


# --------------------------------------------------------------------------
@query(
    "dedup_bucket_skew_audit",
    oracle=f"""
WITH sh AS ({_SQL_SHINGLES}),
seeds AS (SELECT unnest(range(0, {K})) AS j),
hashed AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT) % 2147483647 AS h0
  FROM sh
),
mh AS (
  SELECT doc_id, j,
         MIN(((2 * j + 3) * h0 + (104729 * j + 12345)) % 2147483647) AS m
  FROM hashed, seeds GROUP BY doc_id, j
),
bands AS (
  SELECT doc_id, j // {ROWS_PER_BAND} AS band,
         string_agg(m, '|' ORDER BY j) AS sig
  FROM mh GROUP BY doc_id, j // {ROWS_PER_BAND}
),
buckets AS (
  SELECT band, sig, CAST(COUNT(*) AS BIGINT) AS sz FROM bands
  GROUP BY band, sig
),
ranked AS (
  SELECT band, sz,
         row_number() OVER (PARTITION BY band ORDER BY sz, sig) AS rn,
         COUNT(*) OVER (PARTITION BY band) AS nb
  FROM buckets
)
SELECT band,
       CAST(MAX(nb) AS BIGINT) AS n_buckets,
       CAST(SUM(sz) AS BIGINT) AS n_docs,
       CAST(MAX(CASE WHEN rn = (nb + 1) // 2 THEN sz END) AS BIGINT)
         AS p50_size,
       CAST(MAX(CASE WHEN rn = (nb * 99 + 99) // 100 THEN sz END) AS BIGINT)
         AS p99_size,
       CAST(MAX(sz) AS BIGINT) AS max_size,
       CAST(SUM(CASE WHEN sz * sz > 64 THEN 1 ELSE 0 END) AS BIGINT)
         AS hot_buckets,
       CAST(SUM(sz * (sz - 1) // 2) AS BIGINT) AS pair_mass
FROM ranked GROUP BY band ORDER BY band
""",
)
def dedup_bucket_skew_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH bucket-size skew audit — the index-health table for the
    PRODUCTION banding (the sibling of sim_ivf_balance_audit for the
    learned index, and of dedup_lsh_tuning_curve which compares
    candidate configs): per band, bucket-count, size order statistics
    (p50/p99/max via rank selection — exact integers, no quantile
    interpolation), the hot-bucket count (size > 8, the boilerplate
    mega-bucket early warning MAX_BUCKET_DOCS exists for), and the
    exact candidate PAIR MASS sum(C(size, 2)) — the number a capacity
    plan multiplies by verify-cost per pair. This is the table that
    says whether in-bucket pair explosion is about to stop being
    'LSH's guarantee' and start being a task-skew incident.

    Scale posture at 100 TB: signatures shuffle once (the minhash
    partial-min agg), bucket sizes are one (band, sig)-keyed partial
    count, and the per-band rank window runs over BUCKET rows (already
    collapsed, ~|corpus|/dup-rate), not docs; output is |bands| rows.
    All arithmetic exact int64 (`div`-safe nonnegative).
    """
    arrs = _shingle_arrays(spark, sf_dir)
    buckets = (
        _band_signatures(arrs)
        .groupBy("band", "sig")
        .agg(F.count(F.lit(1)).cast("bigint").alias("sz"))
    )
    wr = Window.partitionBy("band").orderBy("sz", "sig")
    wb = Window.partitionBy("band")
    ranked = buckets.select(
        "band",
        "sz",
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1)).over(wb).alias("nb"),
    )
    return (
        ranked.groupBy(F.col("band").cast("bigint").alias("band"))
        .agg(
            F.max("nb").cast("bigint").alias("n_buckets"),
            F.sum("sz").cast("bigint").alias("n_docs"),
            F.max(
                F.when(F.col("rn") == F.expr("(nb + 1) div 2"), F.col("sz"))
            )
            .cast("bigint")
            .alias("p50_size"),
            F.max(
                F.when(
                    F.col("rn") == F.expr("(nb * 99 + 99) div 100"),
                    F.col("sz"),
                )
            )
            .cast("bigint")
            .alias("p99_size"),
            F.max("sz").cast("bigint").alias("max_size"),
            F.sum(F.when(F.col("sz") * F.col("sz") > 64, 1).otherwise(0))
            .cast("bigint")
            .alias("hot_buckets"),
            F.sum(F.expr("sz * (sz - 1) div 2")).cast("bigint").alias(
                "pair_mass"
            ),
        )
        .orderBy("band")
    )
