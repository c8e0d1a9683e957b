"""Similarity search over embedding columns (north-star extensions;
BASELINE.json): brute-force cosine top-k baseline, bucketed-ANN + IVF scale
paths, and embedding-cosine near-duplicate detection.

Vectors are ``array<float>`` columns. Dot products quantize each element to
a scale-7 integer (~float32's own resolution) and accumulate in int64 via an
Arrow-vectorized pandas UDF (numpy einsum): integer sums are exact and
order-independent, so both engines produce the same integer, and every
downstream scalar op (long->double, /1e14, sqrt, divide) is a
correctly-rounded IEEE-754 op — bit-identical across engines. This replaced
an exact-DECIMAL ``zip_with``+``aggregate`` fold: per-element lambda
evaluation in Spark's higher-order functions is interpreted, and the Arrow
batch path measured 5.3x faster on the same 40k-pair workload (PERF.md).

Shared kernels — each shape has one definition, which every builder calls:
- ``_quantize`` / ``_norms``: scale-7 int64 rows and their norms
  sqrt(<q,q>/1e14); ``_collect_quantized`` does both for a bounded
  driver-side collect sorted by id;
- ``_cosines``: the exact cosine matrix. Its operation order — int64 dot,
  ->double /1e14, then /(norm_a*norm_b) — is the oracles' order, and is
  what keeps every cosine bit-identical to the SQL; never reassociate it;
- ``_probe_top_k``: a closure-shipped probe matrix against the streamed
  corpus, one per-batch partial top-k finished by ``scale.top_k``;
- ``_centroid_sq_dists``: exact integer squared L2 of every vector to K=8
  broadcast centroids, ranked by each caller;
- ``_pq_encode``: per-subspace PQ argmin codes.

Scale posture at 100 TB:
- norms are precomputed ONCE per row before any join (norm work is O(N),
  pair work is O(pairs) x one dot product — recomputing norms per pair
  costs more than every dot product combined);
- brute-force top-k: O(|Q| x |corpus|) — correct baseline, used with small
  query sets or as the per-bucket kernel;
- bucketed ANN (sim_ann_bucketed): rank-LSH code computed map-side; the join
  is an equi-join on the bucket code, so each query only scans its bucket.
  Swap-in point for IVF centroids: replace the code expression with
  argmin-centroid assignment, same join shape;
- near-dup: blocked all-pairs inside a partition key (label here; any
  clustering key in production) — never global all-pairs.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import LongType
from pyspark.sql.window import Window

from datafusion_ballista_dhruvil_spark.operators.registry import query
from datafusion_ballista_dhruvil_spark.operators.scale import cached, top_k
from datafusion_ballista_dhruvil_spark.session import Tables, local_frame

# elements quantize to round(x * 1e7) (away-from-zero, matching Spark's
# HALF_UP and DuckDB's round()); a 64-dim dot of |x| < 10 values stays
# under 64 * (1e8)^2 ~ 6.4e17 < 2^63, and < 2^53 for exact long->double
_SCALE = 1e7
_SCALE_SQ = 1e14


# return type as a DataType object: a DDL string would be parsed at import
# time, which requires an active SparkSession this module must not assume
def _round_half_away(x: np.ndarray) -> np.ndarray:
    """round() with half-away-from-zero ties, bit-matching DuckDB/Spark:
    np.round is half-to-even, and trunc(x + copysign(0.5, x)) over-rounds
    when |x| sits within half an ulp below k+0.5 (the +0.5 addition itself
    rounds across the boundary) — compare the exactly-representable
    fraction against 0.5 instead."""
    ax = np.abs(x)
    fl = np.floor(ax)
    mag = fl + (ax - fl >= 0.5)
    return (np.sign(x) * mag).astype(np.int64)


def _quantize(vectors) -> np.ndarray:
    """Scale-7 int64 matrix of a sequence of float vectors, one row each
    (collected Python lists or an Arrow batch's float32 arrays alike)."""
    return _round_half_away(np.stack(vectors).astype(np.float64) * _SCALE)


def _norms(q: np.ndarray) -> np.ndarray:
    """Row norms sqrt(<q,q> / 1e14) of a quantized matrix."""
    return np.sqrt(np.einsum("ij,ij->i", q, q) / _SCALE_SQ)


def _cosines(
    a: np.ndarray, an: np.ndarray, b: np.ndarray, bn: np.ndarray
) -> np.ndarray:
    """|a| x |b| cosine matrix of quantized rows and their norms. The op
    order IS the oracles' — exact int64 dot, ->double /1e14, then
    /(an*bn) — so every cosine is bit-identical to the SQL's."""
    return (a @ b.T) / _SCALE_SQ / (an[:, None] * bn[None, :])


def _collect_quantized(rows: DataFrame) -> tuple[np.ndarray, np.ndarray]:
    """Collect a bounded (id, embedding) frame to the driver, sorted by id:
    (ids, quantized matrix) for shipping in a map-side closure."""
    got = sorted(rows.collect(), key=lambda r: r[0])
    ids = np.array([r[0] for r in got], dtype=np.int64)
    return ids, _quantize([r[1] for r in got])


@pandas_udf(LongType())
def _dot7(a: pd.Series, b: pd.Series) -> pd.Series:
    if len(a) == 0:
        return pd.Series([], dtype="int64")
    ai, bi = _quantize(a.to_numpy()), _quantize(b.to_numpy())
    return pd.Series(np.einsum("ij,ij->i", ai, bi))


def dot(a: Column, b: Column) -> Column:
    """Exact scaled-integer dot product of two float arrays, as DOUBLE."""
    return _dot7(a, b).cast("double") / F.lit(_SCALE_SQ)


def norm(a: Column) -> Column:
    """sqrt(<a,a>) — precompute per row, never per pair."""
    return F.sqrt(dot(a, a))


def _by_cosine() -> list[Column]:
    """Nearest-first neighbor order: cosine DESC, neighbor_id as the
    total tie-break."""
    return [F.desc("cosine"), F.asc("neighbor_id")]


def _first_vectors(t: Tables, n: int) -> tuple[np.ndarray, np.ndarray]:
    """The vectors vec_id < n (a probe set, a seed codebook), collected
    once: (ids, quantized matrix)."""
    return _collect_quantized(
        t.embeddings.where(F.col("vec_id") < n).select("vec_id", "embedding")
    )


def _probe_top_k(
    corpus: DataFrame,
    probes: tuple[np.ndarray, np.ndarray],
    k: int,
    dims: int | None = None,
) -> DataFrame:
    """Exact cosine top-``k`` corpus neighbors of every probe, nearest
    first by (cosine DESC, neighbor_id ASC), a probe never its own
    neighbor: (query_id, neighbor_id, cosine). ``probes`` is (ids,
    quantized matrix); ``dims`` keeps a leading prefix of every vector.

    The probe matrix ships in the closure and ONE mapInPandas pass over
    the corpus quantizes each row once, scores every probe with one
    int64 matmul per Arrow batch and emits each probe's batch-local
    top-k. Any global top-k row is in its batch's top-k under the same
    total order, so scale.top_k over O(batches x probes x k) rows
    finishes exactly; the corpus never shuffles."""
    q_ids, q_int = probes
    q_int = q_int[:, :dims]
    q_nrm = _norms(q_int)

    def part(it):
        for pdf in it:
            if len(pdf) == 0:
                continue
            ai = _quantize(pdf["embedding"].to_numpy())[:, :dims]
            cos = _cosines(ai, _norms(ai), q_int, q_nrm)
            ids = pdf["vec_id"].to_numpy()
            out_q, out_n, out_c = [], [], []
            for j, qid in enumerate(q_ids):
                mask = ids != qid
                mids, mcos = ids[mask], cos[mask, j]
                pick = np.lexsort((mids, -mcos))[:k]
                out_q.extend([qid] * len(pick))
                out_n.extend(mids[pick])
                out_c.extend(mcos[pick])
            yield pd.DataFrame(
                {
                    "query_id": pd.Series(out_q, dtype="int64"),
                    "neighbor_id": pd.Series(out_n, dtype="int64"),
                    "cosine": pd.Series(out_c, dtype="float64"),
                }
            )

    partial = corpus.select("vec_id", "embedding").mapInPandas(
        part, schema="query_id long, neighbor_id long, cosine double"
    )
    return top_k(partial, ["query_id"], _by_cosine(), k)


_SQL_DOT = (
    "(CAST(list_sum(list_transform(list_zip({a}, {b}), "
    "x -> CAST(round(CAST(x[1] AS DOUBLE) * 10000000) AS BIGINT)"
    " * CAST(round(CAST(x[2] AS DOUBLE) * 10000000) AS BIGINT))) AS DOUBLE)"
    " / 1e14)"
)


def _sql_dot(a: str, b: str) -> str:
    return _SQL_DOT.format(a=a, b=b)


_SQL_NORM = f"sqrt({_SQL_DOT.format(a='{e}', b='{e}')})"


def _sql_norm(e: str) -> str:
    return _SQL_NORM.format(e=e)


# --------------------------------------------------------------------------
@query(
    "sim_cosine_topk",
    oracle=f"""
WITH c AS (SELECT vec_id, embedding, {_sql_norm('embedding')} AS nrm FROM embeddings),
q AS (SELECT vec_id, embedding, nrm FROM c WHERE vec_id < 10),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         {_sql_dot('q.embedding', 'c.embedding')} / (q.nrm * c.nrm) AS cosine
  FROM q, c
  WHERE q.vec_id <> c.vec_id
)
SELECT query_id, neighbor_id, cosine FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id)
    AS rn
  FROM scored
) r WHERE rn <= 5
ORDER BY query_id, cosine DESC, neighbor_id
""",
)
def sim_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 neighbors for a query set (ANN baseline).

    Single-kernel design (r3, after the r2 bench regression): the 10
    query rows are collected once and scored by ``_probe_top_k``, whose
    map-side partial top-5 per batch replaced a per-pair pandas_udf that
    re-quantized every corpus row |Q| times and shuffled N*|Q| scored
    rows into the window. At scale the corpus stays partitioned, the
    queries ship to every executor, and the candidate set entering the
    global top-k is O(partitions * |Q| * k).
    """
    t = Tables(spark, sf_dir)
    return (
        _probe_top_k(t.embeddings, _first_vectors(t, 10), 5)
        .select("query_id", "neighbor_id", "cosine")
        .orderBy("query_id", F.desc("cosine"), "neighbor_id")
    )


# --------------------------------------------------------------------------
_SQL_CODE = (
    "CAST(CASE WHEN {e}[1] > {e}[2] THEN 8 ELSE 0 END"
    " + CASE WHEN {e}[3] > {e}[4] THEN 4 ELSE 0 END"
    " + CASE WHEN {e}[5] > {e}[6] THEN 2 ELSE 0 END"
    " + CASE WHEN {e}[7] > {e}[8] THEN 1 ELSE 0 END AS INT)"
)


def _code(e: Column) -> Column:
    bits = [
        F.when(F.element_at(e, 2 * k + 1) > F.element_at(e, 2 * k + 2), 1 << (3 - k)).otherwise(0)
        for k in range(4)
    ]
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out.cast("int")


@query(
    "sim_ann_bucketed",
    oracle=f"""
WITH coded AS (
  SELECT vec_id, embedding, {_SQL_CODE.format(e='embedding')} AS bucket,
         {_sql_norm('embedding')} AS nrm
  FROM embeddings
),
q AS (SELECT * FROM coded WHERE vec_id < 20),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, q.bucket,
         {_sql_dot('q.embedding', 'c.embedding')} / (q.nrm * c.nrm) AS cosine
  FROM q JOIN coded c ON q.bucket = c.bucket AND q.vec_id <> c.vec_id
)
SELECT query_id, bucket, neighbor_id, cosine FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id)
    AS rn
  FROM scored
) r WHERE rn <= 3
ORDER BY query_id, cosine DESC, neighbor_id
""",
)
def sim_ann_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate NN via rank-LSH bucketing (the scale path).

    A 4-bit code from pairwise dimension comparisons partitions the corpus;
    each query joins only its bucket (equi-join -> shuffle-hash join on the
    code). IVF drop-in: replace the code with nearest-centroid id.
    """
    t = Tables(spark, sf_dir)
    coded = t.embeddings.select(
        "vec_id",
        "embedding",
        _code(F.col("embedding")).alias("bucket"),
        norm(F.col("embedding")).alias("nrm"),
    )
    q = coded.where(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        F.col("bucket"),
        F.col("nrm").alias("qn"),
    )
    c = coded.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("ce"),
        F.col("bucket").alias("cbucket"),
        F.col("nrm").alias("cn"),
    )
    scored = (
        q.join(
            c,
            (F.col("bucket") == F.col("cbucket"))
            & (F.col("query_id") != F.col("neighbor_id")),
        )
        .select(
            "query_id",
            "bucket",
            "neighbor_id",
            (dot(F.col("qe"), F.col("ce")) / (F.col("qn") * F.col("cn"))).alias("cosine"),
        )
    )
    return (
        top_k(scored, ["query_id"], _by_cosine(), 3)
        .select("query_id", "bucket", "neighbor_id", "cosine")
        .orderBy("query_id", F.desc("cosine"), "neighbor_id")
    )


# --------------------------------------------------------------------------
_IVF_STRIDE = 97  # centroid seeds: vec_id % stride == 0 (K grows ~N/stride)
_IVF_NPROBE = 2
#: Hard driver-boundedness cap on the collected codebook (VERDICT r4
#: note 3): the stride-97 seeding grows K linearly with the corpus, so
#: the documented "production swaps in k-means with fixed K ~ sqrt(N)"
#: posture must be MECHANICAL, not aspirational — past this size the
#: collect refuses loudly instead of silently ballooning every map-side
#: closure (and, eventually, the driver heap). 65536 x 128-dim int64
#: centroids ~ 67 MB shipped per executor — the practical ceiling.
_IVF_MAX_CODEBOOK = 65536


def _ivf_codebook(t: Tables, max_k: int | None = None):
    """Collect the IVF centroid codebook (bounded: K ~ sqrt(N) in
    production k-means; N/stride deterministic seeds here) as quantized
    int64 matrix + norms, for shipping in a map-side closure. Raises if
    the collected codebook exceeds ``max_k`` (default _IVF_MAX_CODEBOOK)
    — the loud guard that keeps the broadcast-closure posture honest."""
    cap = _IVF_MAX_CODEBOOK if max_k is None else max_k
    cent_ids, cent_int = _collect_quantized(
        t.embeddings.where(F.col("vec_id") % _IVF_STRIDE == 0)
        .select("vec_id", "embedding")
        .limit(cap + 1)
    )
    if len(cent_ids) > cap:
        raise ValueError(
            f"IVF codebook exceeds the driver-boundedness cap ({cap}): "
            "stride seeding grows K ~ N/97 — swap in fixed-K k-means "
            "centroids (K ~ sqrt(N)) before running at this corpus scale"
        )
    return cent_ids, cent_int, _norms(cent_int)


def _ivf_assigned(
    side: DataFrame,
    codebook,
    max_rank: int,
    carry: tuple[str, ...] = (),
    emit_rank: bool = False,
) -> DataFrame:
    """Map-side IVF cell assignment (r4, VERDICT r3 item 2): ONE
    mapInPandas pass quantizes each row once, scores all K centroids with
    one int64 matmul per Arrow batch, and emits each vector's
    top-``max_rank`` centroids directly — zero shuffle, no N*K rows ever
    materialized (the old crossJoin + row_number window shape is gone).
    Cosines come from ``_cosines``, bit-identical to the SQL oracle's
    assign CTE. ``carry`` columns (e.g. label) pass through untouched.
    """
    cent_ids, cent_int, cent_nrm = codebook

    def assign_part(it):
        for pdf in it:
            if len(pdf) == 0:
                continue
            ai = _quantize(pdf["embedding"].to_numpy())
            nrm = _norms(ai)
            ccos = _cosines(ai, nrm, cent_int, cent_nrm)
            # top-max_rank centroids per vector, ties by centroid_id asc
            order = np.lexsort(
                (np.broadcast_to(cent_ids, ccos.shape), -ccos), axis=1
            )[:, :max_rank]
            n, k = order.shape
            rep = np.repeat(np.arange(n), k)
            out = {
                "vec_id": pdf["vec_id"].to_numpy()[rep],
                "embedding": pdf["embedding"].to_numpy()[rep],
                "nrm": nrm[rep],
                "centroid_id": cent_ids[order.ravel()],
            }
            if emit_rank:
                out["arn"] = np.tile(np.arange(1, k + 1), n)
            for c in carry:
                out[c] = pdf[c].to_numpy()[rep]
            yield pd.DataFrame(out)

    schema = "vec_id long, embedding array<float>, nrm double, centroid_id long"
    if emit_rank:
        schema += ", arn long"
    for c in carry:
        schema += f", {c} long"
    return side.select("vec_id", "embedding", *carry).mapInPandas(
        assign_part, schema=schema
    )


@query(
    "sim_ivf_topk",
    oracle=f"""
WITH base AS (
  SELECT vec_id, embedding, {_sql_norm('embedding')} AS nrm FROM embeddings
),
cent AS (
  SELECT vec_id AS centroid_id, embedding AS cemb, nrm AS cnrm
  FROM base WHERE vec_id % {_IVF_STRIDE} = 0
),
assign AS (
  SELECT b.vec_id, b.embedding, b.nrm, c.centroid_id,
         row_number() OVER (
           PARTITION BY b.vec_id
           ORDER BY {_sql_dot('b.embedding', 'c.cemb')} / (b.nrm * c.cnrm) DESC,
                    c.centroid_id) AS arn
  FROM base b, cent c
),
corpus AS (SELECT vec_id, embedding, nrm, centroid_id FROM assign WHERE arn = 1),
probes AS (SELECT vec_id, embedding, nrm, centroid_id FROM assign
           WHERE arn <= {_IVF_NPROBE} AND vec_id < 20),
scored AS (
  SELECT p.vec_id AS query_id, s.vec_id AS neighbor_id, s.centroid_id,
         {_sql_dot('p.embedding', 's.embedding')} / (p.nrm * s.nrm) AS cosine
  FROM probes p JOIN corpus s
    ON p.centroid_id = s.centroid_id AND p.vec_id <> s.vec_id
)
SELECT query_id, neighbor_id, centroid_id, cosine FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id)
    AS rn
  FROM scored
) r WHERE rn <= 3
ORDER BY query_id, cosine DESC, neighbor_id
""",
)
def sim_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (inverted-file) ANN: coarse-quantize the corpus to its nearest
    centroid, probe each query's ``nprobe`` nearest cells only.

    Deterministic "training": every ``vec_id % stride == 0`` vector seeds a
    centroid (K ~ N/stride here so the oracle is reproducible; production
    swaps in k-means centroids with fixed K ~ sqrt(N) — the dataflow is
    identical). Assignment (r4 rewrite, VERDICT r3 item 2): the centroid
    codebook is collected once (bounded, same posture as the PQ codebooks)
    and shipped in the closure; ONE mapInPandas pass over the corpus
    quantizes each row once, scores all K centroids with one int64 matmul
    per Arrow batch, and emits each vector's top-``max_rank`` centroids
    directly — the corpus is never shuffled to be assigned, and the old
    N*K crossJoin + row_number window (which materialized and shuffled
    N*K rows) is gone. The probe is an equi-join on centroid_id, exactly
    the sim_ann_bucketed join shape with a learned code instead of an LSH
    code. Arithmetic is bit-identical to the oracle: exact int64 dot,
    ->double /1e14, then /(nrm*cnrm), the same op order as the SQL.
    """
    t = Tables(spark, sf_dir)
    codebook = _ivf_codebook(t)
    base = t.embeddings
    # corpus assignment (the O(N*K) flops pass, zero-shuffle) is one branch;
    # probe assignment re-derives only the |Q| query vectors — recomputing
    # 20 rows is far cheaper than materializing/recomputing the corpus
    # lineage for a second consumer
    corpus = _ivf_assigned(base, codebook, 1).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("ce"),
        F.col("nrm").alias("cn"),
        "centroid_id",
    )
    probes = _ivf_assigned(
        base.where(F.col("vec_id") < 20), codebook, _IVF_NPROBE
    ).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        F.col("nrm").alias("qn"),
        F.col("centroid_id").alias("pcent"),
    )
    scored = probes.join(
        corpus,
        (F.col("pcent") == F.col("centroid_id"))
        & (F.col("query_id") != F.col("neighbor_id")),
    ).select(
        "query_id",
        "neighbor_id",
        "centroid_id",
        (dot(F.col("qe"), F.col("ce")) / (F.col("qn") * F.col("cn"))).alias("cosine"),
    )
    return (
        top_k(scored, ["query_id"], _by_cosine(), 3)
        .select("query_id", "neighbor_id", "centroid_id", "cosine")
        .orderBy("query_id", F.desc("cosine"), "neighbor_id")
    )


# --------------------------------------------------------------------------
@query(
    "sim_embedding_neardup",
    oracle=f"""
WITH lbl AS (
  SELECT vec_id, embedding, {_sql_norm('embedding')} AS nrm
  FROM embeddings WHERE label = 0
)
SELECT d1, d2, cosine FROM (
  SELECT a.vec_id AS d1, b.vec_id AS d2,
         {_sql_dot('a.embedding', 'b.embedding')} / (a.nrm * b.nrm) AS cosine
  FROM lbl a JOIN lbl b ON a.vec_id < b.vec_id
) p
WHERE cosine >= 0.25
ORDER BY cosine DESC, d1, d2
LIMIT 100
""",
)
def sim_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, blocked by a partition key.

    All-pairs comparison runs only inside each block (label here; in a real
    pipeline the block key is an LSH bucket or cluster id), which is what
    keeps the quadratic term bounded at 100 TB.
    """
    t = Tables(spark, sf_dir)
    lbl = t.embeddings.where(F.col("label") == 0).select(
        "vec_id", "embedding", norm(F.col("embedding")).alias("nrm")
    )
    a = lbl.select(
        F.col("vec_id").alias("d1"), F.col("embedding").alias("ea"), F.col("nrm").alias("na")
    )
    b = lbl.select(
        F.col("vec_id").alias("d2"), F.col("embedding").alias("eb"), F.col("nrm").alias("nb")
    )
    pairs = a.join(b, F.col("d1") < F.col("d2")).select(
        "d1",
        "d2",
        (dot(F.col("ea"), F.col("eb")) / (F.col("na") * F.col("nb"))).alias("cosine"),
    )
    return (
        pairs.where(F.col("cosine") >= 0.25)
        .orderBy(F.desc("cosine"), "d1", "d2")
        .limit(100)
    )


# --------------------------------------------------------------------------
@query(
    "sim_centroid_by_label",
    oracle="""
WITH e AS (
  SELECT label, r.pos - 1 AS pos,
         CAST(round(CAST(embedding[r.pos] AS DOUBLE) * 10000000) AS BIGINT)
           AS qi
  FROM embeddings, unnest(range(1, len(embedding) + 1)) r(pos)
),
g AS (SELECT label, pos, SUM(qi) AS s, COUNT(*) AS n FROM e GROUP BY 1, 2)
SELECT label, pos, CAST(n AS BIGINT) AS n_vecs,
       CAST(s AS DOUBLE) / (10000000.0 * n) AS component
FROM g ORDER BY label, pos
""",
)
def sim_centroid_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label mean embedding — the reduce step of distributed k-means
    (and the training pass of IVF coarse quantizers).

    Exactness via the module's quantization contract: components scale to
    round(x * 1e7) int64 (HALF_UP in both engines), per-(label, dim) sums
    are integer-exact, and the final divide is one double op — so the
    centroid is bit-identical however Spark partitions the sum. Shuffle
    carries (label, dim) partial sums only: 64 longs per label per map
    task, independent of corpus size.

    Output is LONG form — one (label, pos, component) row per dimension —
    not an array column: scalar cells are what the correctness harness can
    sort/hash (an array column is unhashable in its canonicalizer), and
    the long form re-assembles into vectors with one collect_list when a
    consumer needs it.
    """
    t = Tables(spark, sf_dir)
    e = t.embeddings.select("label", F.posexplode("embedding").alias("pos", "c"))
    qi = F.round(F.col("c").cast("double") * 10000000).cast("long")
    g = e.groupBy("label", "pos").agg(
        F.sum(qi).alias("s"), F.count(F.lit(1)).alias("n")
    )
    comp = F.col("s").cast("double") / (F.lit(10000000.0) * F.col("n"))
    return (
        g.select("label", "pos", F.col("n").alias("n_vecs"), comp.alias("component"))
        .orderBy("label", "pos")
    )


# --------------------------------------------------------------------------
# raw scale-7 integer dot, the _dot7 kernel's SQL twin (no /1e14
# descale): exact int64 in both engines, so squared L2 distances composed
# from it compare exactly
_SQL_QDOT = (
    "CAST(list_sum(list_transform(list_zip({a}, {b}), "
    "x -> CAST(round(CAST(x[1] AS DOUBLE) * 10000000) AS BIGINT)"
    " * CAST(round(CAST(x[2] AS DOUBLE) * 10000000) AS BIGINT))) AS BIGINT)"
)


def _centroid_sq_dists(embeddings: DataFrame, *carry: str) -> DataFrame:
    """(vec_id, *carry, cid, d): the squared L2 distance of every vector
    to each of K=8 deterministic centroids (vec_id < 8), as exact
    scale-14 integers d = <a,a> + <c,c> - 2<a,c> over quantized int64
    dots. Self-dots are computed once per row, never per pair, and the K
    centroid rows broadcast, so the corpus never shuffles to be scored.
    Each caller ranks ``d`` its own way."""
    e = embeddings.select(
        "vec_id", "embedding", *carry, _dot7("embedding", "embedding").alias("selfq")
    )
    c = e.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cid"),
        F.col("embedding").alias("cv"),
        F.col("selfq").alias("cselfq"),
    )
    d = F.col("selfq") + F.col("cselfq") - F.lit(2) * _dot7("embedding", "cv")
    return e.crossJoin(F.broadcast(c)).select("vec_id", *carry, "cid", d.alias("d"))


@query(
    "sim_kmeans_assign",
    oracle=f"""
WITH e AS (
  SELECT vec_id, embedding,
         {_SQL_QDOT.format(a='embedding', b='embedding')} AS selfq
  FROM embeddings
),
c AS (SELECT vec_id AS cid, embedding AS cv, selfq AS cselfq
      FROM e WHERE vec_id < 8),
p AS (
  SELECT e.vec_id, c.cid,
         e.selfq + c.cselfq - 2 * {_SQL_QDOT.format(a='e.embedding', b='c.cv')}
           AS d
  FROM e CROSS JOIN c
),
r AS (SELECT vec_id, cid, d,
             row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
      FROM p)
SELECT vec_id, cid AS cluster, d AS dist2_q FROM r WHERE rn = 1
ORDER BY vec_id
""",
)
def sim_kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-means assignment step (Lloyd iteration half #1): every vector to
    its nearest of K=8 centroids (deterministic init: vec_id < 8), by
    squared L2 distance with smaller-cid tie-break.

    Composes with sim_centroid_by_label (the update/reduce half) into a full
    distributed Lloyd iteration: assign -> re-centroid -> repeat, which is
    also how IVF coarse quantizers train.

    Exactness: ||a-c||^2 = <a,a> + <c,c> - 2<a,c> over scale-7 quantized
    int64 dots — all three terms exact integers (bounded by 64*(1e8)^2 so
    the combination stays far from int64 overflow), making the argmin
    engine-portable with no float comparison.

    Scale: self-dots precomputed ONCE per row (never per pair); the K
    centroids BROADCAST so assignment is map-side (corpus never shuffles);
    the argmin is scale.top_k with k=1, whose WindowGroupLimit heap runs
    before the exchange — it carries one (vec_id, best) row per vector
    and map partition, and in a real iteration loop only the K centroid
    rows move between steps.
    """
    t = Tables(spark, sf_dir)
    return (
        top_k(_centroid_sq_dists(t.embeddings), ["vec_id"], ["d", "cid"], 1)
        .select("vec_id", F.col("cid").alias("cluster"), F.col("d").alias("dist2_q"))
        .orderBy("vec_id")
    )


# --------------------------------------------------------------------------
@query(
    "sim_embedding_quantize",
    oracle="""
WITH e AS (
  SELECT vec_id,
         list_max(list_transform(embedding,
                  x -> abs(CAST(x AS DOUBLE)))) AS max_abs
  FROM embeddings WHERE vec_id < 300
),
s AS (
  SELECT e.vec_id, e.max_abs,
         CASE WHEN e.max_abs = 0 THEN 0.0 ELSE 127.0 / e.max_abs END AS qscale,
         emb.embedding
  FROM e JOIN embeddings emb USING (vec_id)
),
q AS (
  SELECT vec_id, max_abs, qscale, embedding,
         list_transform(embedding,
           x -> CAST(round(CAST(x AS DOUBLE) * qscale) AS BIGINT)) AS qv
  FROM s
)
SELECT vec_id, max_abs, qscale,
       CAST(list_sum(list_transform(qv, v -> abs(v))) AS BIGINT) AS sum_absq,
       CAST(len(list_filter(qv, v -> abs(v) >= 127)) AS BIGINT) AS n_saturated,
       CAST(list_sum(list_transform(list_zip(embedding, qv),
            p -> (CAST(round(CAST(p[1] AS DOUBLE) * 10000000) AS BIGINT)
                  - CAST(round(CASE WHEN qscale = 0 THEN 0.0
                               ELSE CAST(p[2] AS DOUBLE) / qscale END
                               * 10000000) AS BIGINT))
                 * (CAST(round(CAST(p[1] AS DOUBLE) * 10000000) AS BIGINT)
                    - CAST(round(CASE WHEN qscale = 0 THEN 0.0
                                 ELSE CAST(p[2] AS DOUBLE) / qscale END
                                 * 10000000) AS BIGINT))))
         AS BIGINT) AS err2_q
FROM q
ORDER BY vec_id
""",
)
def sim_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector int8 quantization (the storage/bandwidth step before ANN
    at scale): symmetric max-abs scaling to [-127, 127], with
    reconstruction-error accounting.

    Map-only (zero shuffles): every output is a per-row higher-order
    expression over the embedding array. Exactness contract: quantized
    codes are integers (argmax-abs scaling and round are deterministic
    IEEE ops), and the reconstruction error is accumulated in the same
    scale-7 integer domain as the similarity kernels — int64 sums are
    exact and order-independent, so both engines produce identical longs
    where a float sum could differ by accumulation order.

    At 100 TB the qv array (not shown; shown aggregates prove it) is what
    you'd write back to parquet — 4x smaller than float32, and the int8
    dot-product kernel in _dot7 consumes it unchanged.
    """
    t = Tables(spark, sf_dir)
    emb = t.embeddings.where(F.col("vec_id") < 300)
    max_abs = F.array_max(
        F.transform("embedding", lambda x: F.abs(x.cast("double")))
    ).alias("max_abs")
    e = emb.select("vec_id", "embedding", max_abs)
    qscale = (
        F.when(F.col("max_abs") == 0, F.lit(0.0))
        .otherwise(F.lit(127.0) / F.col("max_abs"))
        .alias("qscale")
    )
    s = e.select("vec_id", "embedding", "max_abs", qscale)
    qv = F.transform(
        "embedding", lambda x: F.round(x.cast("double") * F.col("qscale")).cast("long")
    ).alias("qv")
    qq = s.select("vec_id", "embedding", "max_abs", "qscale", qv)
    # reconstruction error in the scale-7 integer domain (exact int64 sum)
    q7 = lambda c: F.round(c * F.lit(1e7)).cast("long")  # noqa: E731
    deq = lambda v: F.when(  # noqa: E731
        F.col("qscale") == 0, F.lit(0.0)
    ).otherwise(v.cast("double") / F.col("qscale"))
    err = F.aggregate(
        F.zip_with(
            "embedding",
            "qv",
            lambda x, v: (q7(x.cast("double")) - q7(deq(v)))
            * (q7(x.cast("double")) - q7(deq(v))),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    ).alias("err2_q")
    return qq.select(
        "vec_id",
        "max_abs",
        "qscale",
        F.aggregate(
            F.transform("qv", F.abs), F.lit(0).cast("long"), lambda a, x: a + x
        ).alias("sum_absq"),
        F.size(F.filter("qv", lambda v: F.abs(v) >= 127)).cast("long").alias(
            "n_saturated"
        ),
        err,
    ).orderBy("vec_id")


# --------------------------------------------------------------------------
@query(
    "dedup_semantic_keep",
    oracle=f"""
WITH e AS (
  SELECT vec_id, embedding,
         {_SQL_QDOT.format(a='embedding', b='embedding')} AS selfq
  FROM embeddings
),
c AS (SELECT vec_id AS cid, embedding AS cv, selfq AS cselfq
      FROM e WHERE vec_id < 8),
p AS (
  SELECT e.vec_id, c.cid,
         e.selfq + c.cselfq - 2 * {_SQL_QDOT.format(a='e.embedding', b='c.cv')}
           AS d
  FROM e CROSS JOIN c
),
a AS (SELECT vec_id, cid, d,
             row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
      FROM p),
asg AS (SELECT vec_id, cid AS cluster, d FROM a WHERE rn = 1),
k AS (SELECT cluster, vec_id, d,
             row_number() OVER (PARTITION BY cluster ORDER BY d, vec_id) AS krn
      FROM asg)
SELECT cluster,
       min(CASE WHEN krn = 1 THEN vec_id END) AS kept_vec_id,
       min(CASE WHEN krn = 1 THEN d END) AS kept_dist2_q,
       count(*) AS cluster_size
FROM k
GROUP BY cluster
ORDER BY cluster
""",
)
def dedup_semantic_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic deduplication (SemDeDup-style): cluster embeddings around
    K=8 deterministic centroids (same assignment as sim_kmeans_assign),
    then keep ONE representative per cluster — the vector closest to its
    centroid (vec_id tie-break) — reporting how many near-semantic
    duplicates each kept item stands for.

    Composition: the k-means assign step's argmin (scale.top_k over
    ``_centroid_sq_dists``), then a per-cluster lexicographic
    min(struct) beside the cluster-size count in one aggregate — K
    output rows, so the second aggregation is trivially small. At
    100 TB the cluster count scales with corpus diversity (K ~ N/dup_rate)
    and the keep-step remains one partial-agg shuffle keyed by cluster;
    an anti-join of the corpus against kept_vec_id materializes the
    deduplicated corpus without re-scoring.
    """
    t = Tables(spark, sf_dir)
    assigned = top_k(
        _centroid_sq_dists(t.embeddings), ["vec_id"], ["d", "cid"], 1
    ).select("vec_id", F.col("cid").alias("cluster"), "d")
    return (
        assigned.select(
            "cluster",
            F.struct(F.col("d"), F.col("vec_id")).alias("dv"),
        )
        .groupBy("cluster")
        .agg(
            F.min("dv").alias("best"),
            F.count(F.lit(1)).alias("cluster_size"),
        )
        .select(
            "cluster",
            F.col("best.vec_id").alias("kept_vec_id"),
            F.col("best.d").alias("kept_dist2_q"),
            "cluster_size",
        )
        .orderBy("cluster")
    )


# --------------------------------------------------------------------------
@query(
    "sim_random_projection",
    oracle="""
WITH e AS (
  SELECT vec_id, r.pos - 1 AS d,
         CAST(round(CAST(embedding[r.pos] AS DOUBLE) * 10000000) AS BIGINT) AS q
  FROM embeddings, unnest(range(1, len(embedding) + 1)) r(pos)
  WHERE vec_id < 200
),
signs AS (
  SELECT k, d,
         CASE WHEN substr(md5(CAST(k AS VARCHAR) || ':' || CAST(d AS VARCHAR)), 1, 1)
                   IN ('8','9','a','b','c','d','e','f')
              THEN 1 ELSE -1 END AS sgn
  FROM (SELECT unnest(range(16)) AS k), (SELECT unnest(range(64)) AS d)
),
proj AS (
  SELECT e.vec_id, s.k, CAST(SUM(e.q * s.sgn) AS BIGINT) AS comp_q
  FROM e JOIN signs s ON s.d = e.d
  GROUP BY e.vec_id, s.k
)
SELECT vec_id, k, comp_q,
       CAST(comp_q AS DOUBLE) / (10000000.0 * 4.0) AS comp
FROM proj
ORDER BY vec_id, k
""",
)
def sim_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss random projection 64 -> 16 dims with a
    Rademacher (+/-1) matrix — the dimensionality-reduction stage in front
    of ANN indexing (project, then bucket/index the short vectors; JL
    bounds the distance distortion).

    The projection matrix is never materialized outside a 16x64 sign table
    derived from md5(k:d) (deterministic in any engine, any partitioning);
    components quantize to scale-7 int64 first (the module's quantization
    contract), so each projected component is an EXACT integer sum —
    hash-stable however Spark schedules it. Normalization is the standard
    1/sqrt(K) (= /4 for K=16), one IEEE divide.

    Scale: the sign table is 1,024 rows however big the corpus — broadcast
    join; the per-(vec, k) aggregate is map-side partial over the exploded
    components. Output stays long-form (vec_id, k, comp) — same contract
    as sim_centroid_by_label.
    """
    t = Tables(spark, sf_dir)
    e = (
        t.embeddings.where(F.col("vec_id") < 200)
        .select("vec_id", F.posexplode("embedding").alias("d", "x"))
        .select(
            "vec_id",
            "d",
            F.round(F.col("x").cast("double") * 10000000).cast("long").alias("q"),
        )
    )
    top_hex = list("89abcdef")
    signs = (
        spark.range(16)
        .select(F.col("id").cast("int").alias("k"))
        .crossJoin(spark.range(64).select(F.col("id").cast("int").alias("d")))
        .select(
            "k",
            "d",
            F.when(
                F.substring(
                    F.md5(
                        F.concat_ws(
                            ":", F.col("k").cast("string"), F.col("d").cast("string")
                        )
                    ),
                    1,
                    1,
                ).isin(top_hex),
                1,
            )
            .otherwise(-1)
            .alias("sgn"),
        )
    )
    proj = (
        e.join(F.broadcast(signs), "d")
        .groupBy("vec_id", "k")
        .agg(F.sum(F.col("q") * F.col("sgn")).cast("bigint").alias("comp_q"))
    )
    return proj.select(
        "vec_id",
        "k",
        "comp_q",
        (F.col("comp_q").cast("double") / F.lit(10000000.0 * 4.0)).alias("comp"),
    ).orderBy("vec_id", "k")


# --------------------------------------------------------------------------
def _sql_bm25_rank_cte() -> str:
    """BM25 ranking CTEs for the 2-term query {spark, stream} (shared spec
    with text_bm25_topk — see text._bm25_score for the determinism
    argument)."""
    from datafusion_ballista_dhruvil_spark.operators.text import _bm25_score

    return f"""
s AS (
  SELECT doc_id,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS dl,
         CAST(len(list_filter(string_split(text, ' '), x -> x = 'spark'))
              AS BIGINT) AS tf_spark,
         CAST(len(list_filter(string_split(text, ' '), x -> x = 'stream'))
              AS BIGINT) AS tf_stream
  FROM documents
),
g AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(dl) AS BIGINT) AS sum_dl,
         CAST(COUNT(*) FILTER (tf_spark > 0) AS BIGINT) AS df_spark,
         CAST(COUNT(*) FILTER (tf_stream > 0) AS BIGINT) AS df_stream
  FROM s
),
lex AS (
  SELECT doc_id,
         row_number() OVER (
           ORDER BY ({_bm25_score('tf_spark', 'df_spark')}
                     + {_bm25_score('tf_stream', 'df_stream')}) DESC, doc_id
         ) AS lex_rank
  FROM s, g
)"""


@query(
    "hybrid_search_rrf",
    oracle=f"""
WITH {_sql_bm25_rank_cte()},
c AS (SELECT vec_id, embedding, {_sql_norm('embedding')} AS nrm FROM embeddings),
q AS (SELECT embedding, nrm FROM c WHERE vec_id = 0),
sem AS (
  SELECT c.vec_id AS doc_id,
         row_number() OVER (
           ORDER BY ({_sql_dot('q.embedding', 'c.embedding')} / (q.nrm * c.nrm))
             DESC, c.vec_id
         ) AS sem_rank
  FROM c, q
)
SELECT l.doc_id, lex_rank, sem_rank,
       1.0 / (60.0 + lex_rank) + 1.0 / (60.0 + sem_rank) AS rrf
FROM lex l JOIN sem USING (doc_id)
ORDER BY rrf DESC, doc_id
LIMIT 20
""",
)
def hybrid_search_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: BM25 lexical ranking fused with embedding-cosine
    semantic ranking by Reciprocal Rank Fusion — the standard two-tower
    retrieval pattern (score = sum over systems of 1/(60 + rank)).

    Documents and embeddings join on doc_id = vec_id (the corpus's
    1:1 text/vector pairing). Determinism: both ranks are integers from
    fully tie-broken sorts, and the RRF score is two exact-argument IEEE
    divisions + one add — identical in any engine, no tolerance needed.

    Scale: the lexical side is the text_bm25_topk shape (narrow scan +
    1-row broadcast stats); the semantic side scores the corpus against a
    broadcast single query vector; the fusion is a co-partitioned
    equi-join of two (id, rank) tables. Ranks beyond a cutoff contribute
    < 1/60 of a top hit — production caps each side's list (top-1000) so
    the rank windows are per-shard TakeOrdered, not global sorts.
    """
    from datafusion_ballista_dhruvil_spark.operators.text import _bm25_score, _toks

    t = Tables(spark, sf_dir)
    toks = _toks()
    s = t.documents.select(
        "doc_id",
        F.size(toks).cast("long").alias("dl"),
        F.size(F.filter(toks, lambda x: x == "spark")).cast("long").alias("tf_spark"),
        F.size(F.filter(toks, lambda x: x == "stream")).cast("long").alias("tf_stream"),
    )
    g = s.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").alias("sum_dl"),
        F.count(F.when(F.col("tf_spark") > 0, 1)).alias("df_spark"),
        F.count(F.when(F.col("tf_stream") > 0, 1)).alias("df_stream"),
    )
    score = (
        f"{_bm25_score('tf_spark', 'df_spark')}"
        f" + {_bm25_score('tf_stream', 'df_stream')}"
    )
    # unpartitioned windows (wl/ws below): a GLOBAL exact rank is the RRF
    # operator's semantics; input is one pre-aggregated row per doc/vector
    # (tens of k at sf0.1). At larger corpora swap row_number for a
    # two-phase top-k (per-partition rank + merge) before fusion.
    wl = Window.orderBy(F.expr(score).desc(), F.col("doc_id"))
    lex = (
        s.crossJoin(F.broadcast(g))
        .select("doc_id", F.row_number().over(wl).alias("lex_rank"))
    )
    c = t.embeddings.select(
        "vec_id", "embedding", norm(F.col("embedding")).alias("nrm")
    )
    q = c.where(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qe"), F.col("nrm").alias("qn")
    )
    ws = Window.orderBy(
        (dot(F.col("embedding"), F.col("qe")) / (F.col("qn") * F.col("nrm"))).desc(),
        F.col("vec_id"),
    )
    sem = (
        c.crossJoin(F.broadcast(q))
        .select(F.col("vec_id").alias("doc_id"), F.row_number().over(ws).alias("sem_rank"))
    )
    rrf = (
        F.lit(1.0) / (F.lit(60.0) + F.col("lex_rank"))
        + F.lit(1.0) / (F.lit(60.0) + F.col("sem_rank"))
    )
    return (
        lex.join(sem, "doc_id")
        .select("doc_id", "lex_rank", "sem_rank", rrf.alias("rrf"))
        .orderBy(F.desc("rrf"), "doc_id")
        .limit(20)
    )


# --------------------------------------------------------------------------
def _sql_kmeans_iter(cent_in: str, assign_out: str, cent_out: str) -> str:
    """One unrolled Lloyd iteration over quantized components:
    assignment by exact integer squared-L2 argmin (ties to smaller cid),
    then re-centroid as round(mean) per (cluster, dim)."""
    return f"""
{assign_out} AS (
  SELECT vec_id, cid, d FROM (
    SELECT e.vec_id, c.cid,
           e.selfq + c.selfq - 2 * dotq.s AS d,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY e.selfq + c.selfq - 2 * dotq.s, c.cid
           ) AS rn
    FROM eself e
    JOIN (
      SELECT ec.vec_id, cc.cid, CAST(SUM(ec.qi * cc.cq) AS BIGINT) AS s
      FROM ecomp ec JOIN {cent_in} cc ON cc.pos = ec.pos
      GROUP BY ec.vec_id, cc.cid
    ) dotq ON dotq.vec_id = e.vec_id
    JOIN (
      SELECT cid, CAST(SUM(cq * cq) AS BIGINT) AS selfq
      FROM {cent_in} GROUP BY cid
    ) c ON c.cid = dotq.cid
  ) r WHERE rn = 1
),
{cent_out} AS (
  SELECT a.cid, ec.pos,
         CAST(round(CAST(SUM(ec.qi) AS DOUBLE) / COUNT(*)) AS BIGINT) AS cq
  FROM {assign_out} a JOIN ecomp ec ON ec.vec_id = a.vec_id
  GROUP BY a.cid, ec.pos
)"""


@query(
    "sim_kmeans_iterate",
    oracle=f"""
WITH ecomp AS (
  SELECT vec_id, r.pos - 1 AS pos,
         CAST(round(CAST(embedding[r.pos] AS DOUBLE) * 10000000) AS BIGINT) AS qi
  FROM embeddings, unnest(range(1, len(embedding) + 1)) r(pos)
),
eself AS (
  SELECT vec_id, CAST(SUM(qi * qi) AS BIGINT) AS selfq
  FROM ecomp GROUP BY vec_id
),
cent0 AS (
  SELECT vec_id AS cid, pos, qi AS cq FROM ecomp WHERE vec_id < 8
),
{_sql_kmeans_iter('cent0', 'a1', 'cent1')},
{_sql_kmeans_iter('cent1', 'a2', 'cent2')},
{_sql_kmeans_iter('cent2', 'a3', 'cent3')}
SELECT cid AS cluster, CAST(COUNT(*) AS BIGINT) AS n_vecs,
       CAST(SUM(d) AS BIGINT) AS inertia_q,
       MIN(vec_id) AS min_vec
FROM a3 GROUP BY cid ORDER BY cid
""",
)
def sim_kmeans_iterate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full distributed k-means: THREE unrolled Lloyd iterations
    (assign -> re-centroid -> repeat), K=8, deterministic init (vectors
    0..7) — composing the two halves shipped separately as
    sim_kmeans_assign and sim_centroid_by_label into the actual training
    loop (also how IVF coarse quantizers train). Output: per-cluster
    size, exact quantized inertia, min member id.

    Exactness: components quantize once to scale-7 int64; distances are
    exact integer <a,a>+<c,c>-2<a,c>; argmin ties break to the smaller
    centroid id; the re-centroid rounds the exact integer sum with ONE
    double divide + round (identical in both engines — integer `div`
    would differ between Spark's truncation and DuckDB's floor on
    NEGATIVE sums, so the rounding goes through IEEE, not integer
    division). Every iteration is therefore bit-stable across engines
    and partitionings.

    Scale: per-iteration work is one (vec x K) distance aggregate over
    the exploded components — the K=8 centroid table joins map-side
    (broadcast) — and one (cluster, dim) re-centroid aggregate with
    map-side partials. Iterations are data-independent stages; nothing
    ever pairs vectors with each other.
    """
    t = Tables(spark, sf_dir)
    # Lineage hygiene (guide §3.3 "materialise intermediates to truncate
    # the plan"): uncached, `cent` is referenced twice per round (cself +
    # the broadcast dot join) and `ecomp` three times, so round 3's tree
    # held ~27 copies of round 1's work — 126 Exchange nodes in the
    # r10-before plan, recomputed because Catalyst has no common-subplan
    # elimination between exchanges. Caching ecomp/eself once and cent
    # per round keeps each iteration's work computed exactly once.
    ecomp = cached(
        t.embeddings.select("vec_id", F.posexplode("embedding").alias("pos", "x"))
        .select(
            "vec_id",
            "pos",
            F.round(F.col("x").cast("double") * 10000000).cast("long").alias("qi"),
        )
    )
    eself = cached(
        ecomp.groupBy("vec_id").agg(
            F.sum(F.col("qi") * F.col("qi")).cast("long").alias("selfq")
        )
    )
    cent = ecomp.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cid"), "pos", F.col("qi").alias("cq")
    )
    assign = None
    for _ in range(3):
        cent = cached(cent)
        cself = cent.groupBy("cid").agg(
            F.sum(F.col("cq") * F.col("cq")).cast("long").alias("cselfq")
        )
        dotq = (
            ecomp.join(F.broadcast(cent), "pos")
            .groupBy("vec_id", "cid")
            .agg(F.sum(F.col("qi") * F.col("cq")).cast("long").alias("s"))
        )
        d = F.col("selfq") + F.col("cselfq") - 2 * F.col("s")
        assign = top_k(
            dotq.join(eself, "vec_id").join(F.broadcast(cself), "cid"),
            ["vec_id"],
            [d.asc(), F.col("cid").asc()],
            1,
        ).select("vec_id", "cid", d.alias("d"))
        cent = (
            assign.join(ecomp, "vec_id")
            .groupBy("cid", "pos")
            .agg(
                F.round(F.sum("qi").cast("double") / F.count(F.lit(1)))
                .cast("long")
                .alias("cq")
            )
        )
    return (
        assign.groupBy(F.col("cid").alias("cluster"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vecs"),
            F.sum("d").cast("long").alias("inertia_q"),
            F.min("vec_id").alias("min_vec"),
        )
        .orderBy("cluster")
    )


# --------------------------------------------------------------------------
# Product Quantization (Jégou et al., "Product Quantization for Nearest
# Neighbor Search", TPAMI 2011 — public paper): split each 64-dim vector
# into M=8 subvectors of 8 dims; quantize each subvector to the nearest of
# K=16 per-subspace centroids (here: the subvectors of the 16 seed rows
# vec_id < 16, a deterministic codebook); a vector compresses to 8 codes.
# Query scan is ADC (asymmetric distance): one 8x16 lookup table of
# query-subvector-to-centroid distances, then each database vector's
# distance is 8 table lookups + adds — no float math per vector at scan
# time. THE standard memory-compression scale path for 100 TB vector
# corpora (beyond-reference north star, BASELINE.json).

_SQL_PQ_SUBDIST = (
    "list_sum(list_transform(list_zip("
    "{a}[CAST(m.m*8+1 AS INT):CAST(m.m*8+8 AS INT)], "
    "{b}[CAST(m.m*8+1 AS INT):CAST(m.m*8+8 AS INT)]), p -> "
    "(CAST(round(CAST(p[1] AS DOUBLE) * 10000000) AS BIGINT)"
    " - CAST(round(CAST(p[2] AS DOUBLE) * 10000000) AS BIGINT))"
    " * (CAST(round(CAST(p[1] AS DOUBLE) * 10000000) AS BIGINT)"
    " - CAST(round(CAST(p[2] AS DOUBLE) * 10000000) AS BIGINT))))"
)


def _pq_encode(X: np.ndarray, S: np.ndarray) -> np.ndarray:
    """(B, 8) PQ codes of quantized (B, 8, 8) subvectors against a (K, 8,
    8) codebook: per subspace, the argmin of exact int64 squared
    distances, whose FIRST minimum is the smallest centroid id."""
    codes = np.empty((len(X), 8), dtype=np.int64)
    for m in range(8):
        dm = X[:, None, m, :] - S[None, :, m, :]  # (B, K, 8)
        codes[:, m] = np.einsum("bkd,bkd->bk", dm, dm).argmin(axis=1)
    return codes


@query(
    "sim_pq_adc",
    oracle=f"""
WITH seeds AS (
  SELECT vec_id AS k, embedding AS se FROM embeddings WHERE vec_id < 16
),
dists AS (
  SELECT e.vec_id, m.m, s.k,
         {_SQL_PQ_SUBDIST.format(a='e.embedding', b='s.se')} AS d
  FROM embeddings e
  CROSS JOIN range(0, 8) m(m)
  CROSS JOIN seeds s
),
coded AS (
  SELECT vec_id, m, k AS code FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id, m ORDER BY d, k) AS rn
    FROM dists
  ) WHERE rn = 1
),
lut AS (SELECT m, k, d AS dq FROM dists WHERE vec_id = 0),
adc AS (
  SELECT c.vec_id,
         string_agg(CAST(c.code AS VARCHAR), '-' ORDER BY c.m) AS codes,
         SUM(l.dq) AS di
  FROM coded c JOIN lut l ON c.m = l.m AND c.code = l.k
  WHERE c.vec_id <> 0
  GROUP BY c.vec_id
)
SELECT vec_id AS neighbor_id, codes, CAST(di AS DOUBLE) / 1e14 AS pq_dist
FROM adc
ORDER BY pq_dist, neighbor_id
LIMIT 20
""",
)
def sim_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ encode + ADC top-20 scan for query vec_id=0.

    Scale posture: the 16-row codebook and the 8x16 ADC lookup table ship
    in the closure (broadcast); encode + table-lookup scan is one map-only
    mapInPandas pass over the partitioned corpus — integer math throughout,
    no per-pair float work, no corpus shuffle. Each batch emits only its
    partial top-20 (total order: pq_dist asc, neighbor_id asc), so the
    global exact top-20 sorts O(batches * 20) rows. Codes are emitted so
    the oracle verifies the ENCODING, not just the distances.

    Determinism: subspace distances are exact int64 (scale-7 quantization,
    diff^2 <= 8*(2e8)^2 ~ 3.2e17 < 2^63); argmin tie-breaks on smallest
    centroid id in both engines; the ADC sum converts int->double
    identically everywhere.
    """
    import numpy as _np

    t = Tables(spark, sf_dir)
    S = _first_vectors(t, 16)[1].reshape(16, 8, 8)  # [centroid k, subspace m, dim d]
    Q = S[0]  # query vec_id=0 is seed 0: its quantized subvectors
    # ADC lookup table: lut[m, k] = ||Q_m - S_k,m||^2 (exact int64)
    diffq = Q[None, :, :] - S  # (16, 8, 8)
    lut = _np.einsum("kmd,kmd->km", diffq, diffq).T.copy()  # (8, 16)

    def pq_scan(it):
        import pandas as _pd

        for pdf in it:
            if len(pdf) == 0:
                continue
            ids = pdf["vec_id"].to_numpy()
            codes = _pq_encode(
                _quantize(pdf["embedding"].to_numpy()).reshape(len(pdf), 8, 8), S
            )
            adc = lut[_np.arange(8)[None, :], codes].sum(axis=1)  # int64
            keep = ids != 0
            ids, codes, adc = ids[keep], codes[keep], adc[keep]
            pick = _np.lexsort((ids, adc))[:20]  # partial top-20 per batch
            yield _pd.DataFrame(
                {
                    "neighbor_id": _pd.Series(ids[pick], dtype="int64"),
                    "codes": ["-".join(map(str, codes[i])) for i in pick],
                    "pq_dist": _pd.Series(adc[pick] / _SCALE_SQ, dtype="float64"),
                }
            )

    return (
        t.embeddings.select("vec_id", "embedding")
        .mapInPandas(pq_scan, schema="neighbor_id long, codes string, pq_dist double")
        .orderBy("pq_dist", "neighbor_id")
        .limit(20)
    )


# --------------------------------------------------------------------------
@query(
    "sim_ann_recall",
    oracle=f"""
WITH coded AS (
  SELECT vec_id, embedding, {_SQL_CODE.format(e='embedding')} AS bucket,
         {_sql_norm('embedding')} AS nrm
  FROM embeddings
),
q AS (SELECT * FROM coded WHERE vec_id < 20),
exact_top AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           row_number() OVER (
             PARTITION BY q.vec_id
             ORDER BY {_sql_dot('q.embedding', 'c.embedding')} / (q.nrm * c.nrm)
                      DESC, c.vec_id
           ) AS rn
    FROM q, coded c WHERE q.vec_id <> c.vec_id
  ) WHERE rn <= 3
),
ann_top AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           row_number() OVER (
             PARTITION BY q.vec_id
             ORDER BY {_sql_dot('q.embedding', 'c.embedding')} / (q.nrm * c.nrm)
                      DESC, c.vec_id
           ) AS rn
    FROM q JOIN coded c ON q.bucket = c.bucket AND q.vec_id <> c.vec_id
  ) WHERE rn <= 3
),
hits AS (
  SELECT e.query_id, COUNT(a.neighbor_id) AS n_hits
  FROM exact_top e
  LEFT JOIN ann_top a
    ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
  GROUP BY e.query_id
)
SELECT query_id, CAST(n_hits AS BIGINT) AS n_hits,
       CAST(n_hits AS DOUBLE) / 3.0 AS recall_at_3
FROM hits ORDER BY query_id
""",
)
def sim_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@3 of the bucketed ANN index against exact brute force — the
    quality measurement every ANN deployment runs before trusting the
    index (an unmeasured ANN is a silent-correctness bug at scale).

    Ground truth: exact cosine top-3 per query from ``_probe_top_k``
    (corpus partitioned, 20-query matrix in the closure, per-batch
    partial top-3, one tiny global window). Candidate:
    the sim_ann_bucketed rank-LSH bucket join. Recall = |ANN ∩ exact| / 3
    per query — integer counts, so the result is hash-exact even where
    cosine values live in the last ulp.

    Scale: the ground-truth pass is O(corpus × |probe queries|) BY DESIGN
    — production measures recall on a small probe set against the full
    corpus exactly this way (the probe set is the only thing that must
    stay small; 100 TB of corpus streams through the einsum kernel
    map-side, k rows per batch survive). The ANN side scans one bucket
    per query.
    """
    t = Tables(spark, sf_dir)
    exact_top = _probe_top_k(t.embeddings, _first_vectors(t, 20), 3).select(
        "query_id", "neighbor_id"
    )
    coded = t.embeddings.select(
        "vec_id",
        "embedding",
        _code(F.col("embedding")).alias("bucket"),
        norm(F.col("embedding")).alias("nrm"),
    )
    qdf = coded.where(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        "bucket",
        F.col("nrm").alias("qn"),
    )
    ann_scored = (
        qdf.join(coded, "bucket")
        .where(F.col("query_id") != F.col("vec_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            (dot(F.col("qe"), F.col("embedding")) / (F.col("qn") * F.col("nrm"))).alias(
                "cosine"
            ),
        )
    )
    ann_top = top_k(ann_scored, ["query_id"], _by_cosine(), 3).select(
        "query_id", "neighbor_id"
    )
    hit = ann_top.withColumnRenamed("neighbor_id", "nid")
    return (
        exact_top.join(
            hit,
            (exact_top["query_id"] == hit["query_id"])
            & (exact_top["neighbor_id"] == hit["nid"]),
            "left",
        )
        .groupBy(exact_top["query_id"])
        .agg(F.count(hit["nid"]).alias("n_hits"))
        .select(
            "query_id",
            F.col("n_hits").cast("bigint").alias("n_hits"),
            (F.col("n_hits").cast("double") / 3.0).alias("recall_at_3"),
        )
        .orderBy("query_id")
    )


# --------------------------------------------------------------------------
@query(
    "sim_centroid_drift",
    oracle="""
WITH e AS (
  SELECT label, r.pos - 1 AS pos,
         CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15)) AS BIGINT)
           % 100 < 50 AS in_a,
         CAST(round(CAST(embedding[r.pos] AS DOUBLE) * 10000000) AS BIGINT)
           AS qi
  FROM embeddings, unnest(range(1, len(embedding) + 1)) r(pos)
),
g AS (
  SELECT label, pos,
         CAST(SUM(CASE WHEN in_a THEN qi ELSE 0 END) AS BIGINT) AS sa,
         COUNT(CASE WHEN in_a THEN 1 END) AS na,
         CAST(SUM(CASE WHEN NOT in_a THEN qi ELSE 0 END) AS BIGINT) AS sb,
         COUNT(CASE WHEN NOT in_a THEN 1 END) AS nb
  FROM e GROUP BY label, pos
)
SELECT label, pos, na, nb,
       CAST(sa AS DOUBLE) / (10000000.0 * na) AS mean_a,
       CAST(sb AS DOUBLE) / (10000000.0 * nb) AS mean_b,
       abs(sa * nb - sb * na) AS drift_q
FROM g WHERE na > 0 AND nb > 0
ORDER BY drift_q DESC, label, pos
LIMIT 50
""",
)
def sim_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-distribution drift detection: compare per-label centroids
    between two deterministic halves of the corpus and surface the most
    drifted (label, dimension) pairs — the monitoring pass that catches a
    changed embedding model or a shifted data mix before training on it.

    Exactness: the per-half mean difference is compared in cleared-
    denominator integer form — drift_q = |sa*nb - sb*na| is exact int64
    (|qi| <= 1e7, so the products stay < 2^63 up to ~1e5 vectors/label/
    dim at scale 7) and orders identically to |mean_a - mean_b| for fixed
    (na, nb); the means themselves are single exact double divisions.

    Scale: one partial-agg shuffle keyed by (label, pos) — 64 x n_labels
    keys, each carrying two int64 sums; corpus vectors never pairwise
    compare and never leave their partitions unaggregated. This is
    sim_centroid_by_label run twice in one pass (conditional aggregates),
    not two scans.
    """
    from datafusion_ballista_dhruvil_spark.operators.sampling import _hash_bucket

    t = Tables(spark, sf_dir)
    e = t.embeddings.select(
        "label",
        (_hash_bucket(F.col("vec_id"), 100) < 50).alias("in_a"),
        F.posexplode("embedding").alias("pos", "c"),
    )
    qi = F.round(F.col("c").cast("double") * 10000000).cast("long")
    g = e.select("label", "pos", "in_a", qi.alias("qi")).groupBy(
        "label", "pos"
    ).agg(
        F.sum(F.when(F.col("in_a"), F.col("qi")).otherwise(0))
        .cast("bigint")
        .alias("sa"),
        F.count(F.when(F.col("in_a"), 1)).alias("na"),
        F.sum(F.when(~F.col("in_a"), F.col("qi")).otherwise(0))
        .cast("bigint")
        .alias("sb"),
        F.count(F.when(~F.col("in_a"), 1)).alias("nb"),
    )
    return (
        g.where((F.col("na") > 0) & (F.col("nb") > 0))
        .select(
            "label",
            F.col("pos").cast("long").alias("pos"),
            "na",
            "nb",
            (F.col("sa").cast("double") / (F.lit(10000000.0) * F.col("na"))).alias(
                "mean_a"
            ),
            (F.col("sb").cast("double") / (F.lit(10000000.0) * F.col("nb"))).alias(
                "mean_b"
            ),
            F.abs(F.col("sa") * F.col("nb") - F.col("sb") * F.col("na")).alias(
                "drift_q"
            ),
        )
        .orderBy(F.desc("drift_q"), "label", "pos")
        .limit(50)
    )


def pq_coded(embeddings: DataFrame, C, Spq) -> DataFrame:
    """(vec_id, cid, codes array<long>, codes_str): one map-only mapInPandas
    pass assigning each vector to its coarse list and PQ-encoding it —
    shared by the IVF-PQ scan (sim_ivf_pq) and PQ-code dedup
    (sim_pq_code_dedup). Centroids/codebook ship in the closure."""
    import numpy as _np
    import pandas as _pd

    def encode(it):
        for pdf in it:
            if len(pdf) == 0:
                continue
            X = _quantize(pdf["embedding"].to_numpy())
            d = X[:, None, :] - C[None, :, :]
            cid = _np.einsum("bcd,bcd->bc", d, d).argmin(axis=1)
            codes = _pq_encode(X.reshape(len(pdf), 8, 8), Spq)
            yield _pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].astype("int64"),
                    "cid": _pd.Series(cid, dtype="int64"),
                    "codes": list(codes),
                    "codes_str": ["-".join(map(str, c)) for c in codes],
                }
            )

    return embeddings.select("vec_id", "embedding").mapInPandas(
        encode, schema="vec_id long, cid long, codes array<long>, codes_str string"
    )


# --------------------------------------------------------------------------
@query(
    "sim_ivf_pq",
    oracle=f"""
WITH e AS (
  SELECT vec_id, embedding,
         {_SQL_QDOT.format(a='embedding', b='embedding')} AS selfq
  FROM embeddings
),
cb AS (SELECT vec_id AS k, embedding AS se FROM embeddings WHERE vec_id < 16),
co AS (SELECT vec_id AS cid, embedding AS cv, selfq AS cselfq
       FROM e WHERE vec_id < 8),
cass AS (
  SELECT vec_id, cid FROM (
    SELECT e.vec_id, co.cid,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY e.selfq + co.cselfq
                      - 2 * {_SQL_QDOT.format(a='e.embedding', b='co.cv')},
                      co.cid
           ) AS rn
    FROM e CROSS JOIN co
  ) WHERE rn = 1
),
dists AS (
  SELECT e.vec_id, m.m, s.k,
         {_SQL_PQ_SUBDIST.format(a='e.embedding', b='s.se')} AS d
  FROM embeddings e
  CROSS JOIN range(0, 8) m(m)
  CROSS JOIN cb s
),
coded AS (
  SELECT vec_id, m, k AS code FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id, m ORDER BY d, k) AS rn
    FROM dists
  ) WHERE rn = 1
),
q AS (SELECT vec_id AS qid FROM embeddings WHERE vec_id >= 100 AND vec_id < 105),
probe AS (
  SELECT qid, cid FROM (
    SELECT q.qid, co.cid,
           row_number() OVER (
             PARTITION BY q.qid
             ORDER BY eq.selfq + co.cselfq
                      - 2 * {_SQL_QDOT.format(a='eq.embedding', b='co.cv')},
                      co.cid
           ) AS rn
    FROM q JOIN e eq ON eq.vec_id = q.qid CROSS JOIN co
  ) WHERE rn <= 2
),
lut AS (
  SELECT d.vec_id AS qid, d.m, d.k, d.d AS dq
  FROM dists d JOIN q ON d.vec_id = q.qid
),
adc AS (
  SELECT p.qid, ca.vec_id,
         string_agg(CAST(c.code AS VARCHAR), '-' ORDER BY c.m) AS codes,
         SUM(l.dq) AS di
  FROM probe p
  JOIN cass ca ON ca.cid = p.cid
  JOIN coded c ON c.vec_id = ca.vec_id
  JOIN lut l ON l.qid = p.qid AND l.m = c.m AND l.k = c.code
  WHERE ca.vec_id <> p.qid
  GROUP BY p.qid, ca.vec_id
)
SELECT qid AS query_id, vec_id AS neighbor_id, codes,
       CAST(di AS DOUBLE) / 1e14 AS pq_dist
FROM (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY di, vec_id) AS rn
      FROM adc)
WHERE rn <= 5
ORDER BY query_id, pq_dist, neighbor_id
""",
)
def sim_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ (FAISS IndexIVFPQ, by_residual=False variant — Jégou et al.
    2011, public paper): coarse quantizer routes each vector to one of 8
    inverted lists; vectors compress to 8 PQ codes; a query probes its
    nprobe=2 nearest lists and scans ONLY those codes with an 8x16 ADC
    lookup table. Returns per-query top-5 with the codes themselves, so
    the oracle verifies routing + encoding + scan, not just distances.

    Scale posture — the canonical billion-vector serving shape:
    - encode is ONE map-only mapInPandas pass (coarse assign + PQ encode
      per batch; centroids + codebook ship in the closure). At 100 TB the
      corpus persists in this coded form: 8 bytes/vector + list id.
    - the probe is an equi-join of the coded corpus against a broadcast
      (query, list) pair table — each query touches nprobe/8 of the data,
      and with the corpus repartitioned by list id the probe is
      exchange-free.
    - ADC scoring is an Arrow-vectorized int64 lookup-sum; top-5 per query
      is a window over the tiny probed candidate set.

    Determinism: same contracts as sim_pq_adc (scale-7 quantization,
    first-minimum argmin == smallest centroid id, int64 ADC sums).
    """
    import numpy as _np

    t = Tables(spark, sf_dir)
    seeds = {
        r.vec_id: _np.asarray(r.embedding, dtype=_np.float64)
        for r in t.embeddings.where(
            (F.col("vec_id") < 16)
            | ((F.col("vec_id") >= 100) & (F.col("vec_id") < 105))
        )
        .select("vec_id", "embedding")
        .collect()
    }
    S = _quantize([seeds[k] for k in range(16)])  # (16, 64) int codebook rows
    Spq = S.reshape(16, 8, 8)  # [k, m, d]
    C = S[:8]  # coarse centroids (8, 64)
    qids = list(range(100, 105))
    Q = _quantize([seeds[k] for k in qids])  # (5, 64)
    Qpq = Q.reshape(5, 8, 8)

    # per-query ADC LUTs: lut[q][m, k] = ||Q_q,m - S_k,m||^2
    dq = Qpq[:, None, :, :] - Spq[None, :, :, :]  # (5, 16, 8, 8)
    LUT = _np.einsum("qkmd,qkmd->qkm", dq, dq).transpose(0, 2, 1)  # (5, 8, 16)
    # per-query probe lists: 2 nearest coarse centroids (ties: smallest cid)
    dc = Q[:, None, :] - C[None, :, :]  # (5, 8, 64)
    cd = _np.einsum("qcd,qcd->qc", dc, dc)
    probe_rows = [
        (int(qids[qi]), int(cid))
        for qi in range(5)
        for cid in _np.lexsort((_np.arange(8), cd[qi]))[:2]
    ]
    probe = local_frame(spark, probe_rows, "query_id long, cid long")

    coded = pq_coded(t.embeddings, C, Spq)

    lut_by_q = {int(qids[i]): LUT[i] for i in range(5)}

    @F.pandas_udf(LongType())
    def adc(qid: pd.Series, codes: pd.Series) -> pd.Series:
        if len(qid) == 0:
            return pd.Series([], dtype="int64")
        cm = np.stack(codes.to_numpy()).astype(np.int64)  # (B, 8)
        out = np.zeros(len(qid), dtype=np.int64)
        qv = qid.to_numpy()
        for k, lut in lut_by_q.items():
            mask = qv == k
            if mask.any():
                out[mask] = lut[np.arange(8)[None, :], cm[mask]].sum(axis=1)
        return pd.Series(out, dtype="int64")

    cand = (
        coded.join(F.broadcast(probe), "cid")
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            "codes_str",
            adc(F.col("query_id"), F.col("codes")).alias("di"),
        )
    )
    return (
        top_k(cand, ["query_id"], ["di", "vec_id"], 5)
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.col("codes_str").alias("codes"),
            (F.col("di").cast("double") / F.lit(1e14)).alias("pq_dist"),
        )
        .orderBy("query_id", "pq_dist", "neighbor_id")
    )


# --------------------------------------------------------------------------
@query(
    "sim_pq_code_dedup",
    oracle=f"""
WITH e AS (
  SELECT vec_id, embedding,
         {_SQL_QDOT.format(a='embedding', b='embedding')} AS selfq
  FROM embeddings
),
cb AS (SELECT vec_id AS k, embedding AS se FROM embeddings WHERE vec_id < 16),
co AS (SELECT vec_id AS cid, embedding AS cv, selfq AS cselfq
       FROM e WHERE vec_id < 8),
cass AS (
  SELECT vec_id, cid FROM (
    SELECT e.vec_id, co.cid,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY e.selfq + co.cselfq
                      - 2 * {_SQL_QDOT.format(a='e.embedding', b='co.cv')},
                      co.cid
           ) AS rn
    FROM e CROSS JOIN co
  ) WHERE rn = 1
),
dists AS (
  SELECT e.vec_id, m.m, s.k,
         {_SQL_PQ_SUBDIST.format(a='e.embedding', b='s.se')} AS d
  FROM embeddings e
  CROSS JOIN range(0, 8) m(m)
  CROSS JOIN cb s
),
coded AS (
  SELECT vec_id, string_agg(CAST(code AS VARCHAR), '-' ORDER BY m) AS codes
  FROM (
    SELECT vec_id, m, k AS code FROM (
      SELECT *, row_number() OVER (PARTITION BY vec_id, m ORDER BY d, k) AS rn
      FROM dists
    ) WHERE rn = 1
  ) GROUP BY vec_id
)
SELECT ca.cid, c.codes, COUNT(*) AS n_vecs, MIN(c.vec_id) AS rep_vec
FROM coded c JOIN cass ca ON ca.vec_id = c.vec_id
GROUP BY ca.cid, c.codes
ORDER BY n_vecs DESC, ca.cid, c.codes
LIMIT 20
""",
)
def sim_pq_code_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector dedup by PQ code identity: vectors landing in the same
    coarse list with the SAME 8-byte PQ code are quantization-level
    near-duplicates — dedup of a billion-vector corpus as one groupBy on
    8 bytes + a list id, zero float math past encoding.

    This is the coarse tier of embedding dedup: PQ-code collision groups
    feed the exact verifier (sim_embedding_neardup's cosine) the same way
    LSH buckets feed the shingle verifier — candidates from hash
    structure, never all-pairs. Scale: one mapInPandas encode pass
    (shared with sim_ivf_pq via pq_coded), one partial-agg shuffle of
    (cid, 8-byte code) keys; groups >= 2 are the dedup candidates, and
    the top-20 output works even on corpora with no collisions (the
    count column shows the collision structure either way).
    """
    t = Tables(spark, sf_dir)
    S = _first_vectors(t, 16)[1]
    coded = pq_coded(t.embeddings, S[:8], S.reshape(16, 8, 8))
    return (
        coded.groupBy("cid", F.col("codes_str").alias("codes"))
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.min("vec_id").alias("rep_vec"),
        )
        .orderBy(F.desc("n_vecs"), "cid", "codes")
        .limit(20)
    )


# --------------------------------------------------------------------------
@query(
    "sim_matryoshka_recall",
    oracle=f"""
WITH c AS (
  SELECT vec_id, embedding,
         {_sql_norm('embedding')} AS nrm,
         embedding[1:16] AS emb16,
         {_sql_norm('embedding[1:16]')} AS nrm16
  FROM embeddings
),
q AS (SELECT * FROM c WHERE vec_id < 20),
full_top AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           row_number() OVER (
             PARTITION BY q.vec_id
             ORDER BY {_sql_dot('q.embedding', 'c.embedding')} / (q.nrm * c.nrm)
                      DESC, c.vec_id
           ) AS rn
    FROM q, c WHERE q.vec_id <> c.vec_id
  ) WHERE rn <= 3
),
pfx_top AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           row_number() OVER (
             PARTITION BY q.vec_id
             ORDER BY {_sql_dot('q.emb16', 'c.emb16')} / (q.nrm16 * c.nrm16)
                      DESC, c.vec_id
           ) AS rn
    FROM q, c WHERE q.vec_id <> c.vec_id
  ) WHERE rn <= 3
),
hits AS (
  SELECT f.query_id, COUNT(p.neighbor_id) AS n_hits
  FROM full_top f
  LEFT JOIN pfx_top p
    ON p.query_id = f.query_id AND p.neighbor_id = f.neighbor_id
  GROUP BY f.query_id
)
SELECT query_id, CAST(n_hits AS BIGINT) AS n_hits,
       CAST(n_hits AS DOUBLE) / 3.0 AS recall_at_3
FROM hits ORDER BY query_id
""",
)
def sim_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka/prefix-truncation evaluation: recall@3 of 16-dim-prefix
    cosine search against full 64-dim ground truth — the measurement that
    decides how far an embedding column can be truncated (4x less memory
    and bandwidth) before retrieval quality drops. The modern counterpart
    of PQ compression: prefix dims instead of codebooks.

    Both sides run ``_probe_top_k`` over the 20 probes, collected once,
    at different widths (corpus streams map-side, probe queries in the
    closure); recall is integer overlap counts, hash-exact across
    engines.
    """
    t = Tables(spark, sf_dir)
    probes = _first_vectors(t, 20)
    full_top = _probe_top_k(t.embeddings, probes, 3).select(
        "query_id", "neighbor_id"
    )
    pfx_top = _probe_top_k(t.embeddings, probes, 3, dims=16).select(
        "query_id", F.col("neighbor_id").alias("pn")
    )
    return (
        full_top.join(
            pfx_top,
            (full_top["query_id"] == pfx_top["query_id"])
            & (full_top["neighbor_id"] == pfx_top["pn"]),
            "left",
        )
        .groupBy(full_top["query_id"].alias("query_id"))
        .agg(F.count("pn").cast("bigint").alias("n_hits"))
        .select(
            "query_id",
            "n_hits",
            (F.col("n_hits").cast("double") / 3.0).alias("recall_at_3"),
        )
        .orderBy("query_id")
    )


# --------------------------------------------------------------------------
@query(
    "sim_knn_label_agreement",
    oracle=f"""
WITH base AS (
  SELECT vec_id, label, embedding, {_sql_norm('embedding')} AS nrm
  FROM embeddings
),
cent AS (
  SELECT vec_id AS centroid_id, embedding AS cemb, nrm AS cnrm
  FROM base WHERE vec_id % {_IVF_STRIDE} = 0
),
assign AS (
  SELECT b.vec_id, b.label, b.embedding, b.nrm, c.centroid_id,
         row_number() OVER (
           PARTITION BY b.vec_id
           ORDER BY {_sql_dot('b.embedding', 'c.cemb')} / (b.nrm * c.cnrm) DESC,
                    c.centroid_id) AS arn
  FROM base b, cent c
),
corpus AS (SELECT vec_id, label, embedding, nrm, centroid_id
           FROM assign WHERE arn = 1),
probes AS (SELECT vec_id, label, embedding, nrm, centroid_id
           FROM assign WHERE arn <= {_IVF_NPROBE}),
nn AS (
  SELECT a_id, a_label, b_label FROM (
    SELECT p.vec_id AS a_id, p.label AS a_label, s.label AS b_label,
           row_number() OVER (
             PARTITION BY p.vec_id
             ORDER BY {_sql_dot('p.embedding', 's.embedding')} / (p.nrm * s.nrm)
                      DESC, s.vec_id
           ) AS rn
    FROM probes p JOIN corpus s
      ON p.centroid_id = s.centroid_id AND p.vec_id <> s.vec_id
  ) WHERE rn <= 3
)
SELECT CAST(a_label AS BIGINT) AS label,
       COUNT(DISTINCT a_id) AS n_vecs,
       COUNT(CASE WHEN a_label = b_label THEN 1 END) AS n_agree,
       COUNT(CASE WHEN a_label = b_label THEN 1 END) * 1000000
         // (3 * COUNT(DISTINCT a_id)) AS agree_ppm
FROM nn GROUP BY a_label ORDER BY label
""",
)
def sim_knn_label_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-noise audit (confident-learning style): for every vector,
    check whether its 3 nearest neighbors share its label, and roll
    agreement up per label — labels whose neighborhoods disagree are the
    mislabeled/ambiguous classes to re-annotate before training a
    classifier head on the embeddings.

    r4 rewrite (VERDICT r3 item 3): the old form collected the FULL corpus
    matrix to the driver and shipped it in the closure — exact at the
    500-vector testdata, a driver OOM at 1e9 vectors. Neighbors now come
    from the IVF candidate join: every vector probes its nprobe nearest
    cells (map-side codebook kernel, zero shuffle — shared with
    sim_ivf_topk) and takes its exact top-3 within the probed cells via a
    bounded equi-join on centroid_id. The oracle mirrors the identical
    candidate semantics, so the check is exact-within-cells on both
    sides. The only collect is the bounded centroid codebook.
    """
    t = Tables(spark, sf_dir)
    codebook = _ivf_codebook(t)
    base = t.embeddings
    # EVERY vector is both corpus member and probe here, so run the
    # assignment kernel ONCE at rank<=nprobe and persist: corpus = rank-1
    # rows, probes = all rows — halves the O(N*K) matmul work vs two
    # independent passes (bench_gate r4)
    assigned = _ivf_assigned(
        base, codebook, _IVF_NPROBE, carry=("label",), emit_rank=True
    )

    # cell-local matmul (bench_gate r4): score each cell's probes against
    # its corpus members with ONE int64 matmul inside applyInPandas and
    # emit only per-(probe, cell) top-3 — pair rows are never
    # materialized or shuffled; the only shuffle is the groupBy(cell) of
    # the assigned rows themselves, and cell size is bounded by
    # construction (balanced k-means at scale)
    def cell_topk(pdf):
        is_cor = (pdf["arn"] == 1).to_numpy()
        cor = pdf[is_cor]
        if len(cor) == 0 or len(pdf) == 0:
            return pd.DataFrame(
                {"a_id": [], "a_label": [], "b_id": [], "b_label": [],
                 "cosine": []}
            )
        pi = _quantize(pdf["embedding"].to_numpy())
        ci = pi[is_cor]
        cn = cor["nrm"].to_numpy()
        c_ids = cor["vec_id"].to_numpy()
        c_lbl = cor["label"].to_numpy()
        pn = pdf["nrm"].to_numpy()
        p_ids = pdf["vec_id"].to_numpy()
        p_lbl = pdf["label"].to_numpy()
        cos = _cosines(pi, pn, ci, cn)
        out_a, out_al, out_b, out_bl, out_c = [], [], [], [], []
        for i in range(len(pdf)):
            mask = c_ids != p_ids[i]
            pick = np.lexsort((c_ids[mask], -cos[i, mask]))[:3]
            mids, mlbl, mcos = c_ids[mask], c_lbl[mask], cos[i, mask]
            out_a.extend([p_ids[i]] * len(pick))
            out_al.extend([p_lbl[i]] * len(pick))
            out_b.extend(mids[pick])
            out_bl.extend(mlbl[pick])
            out_c.extend(mcos[pick])
        return pd.DataFrame(
            {
                "a_id": pd.Series(out_a, dtype="int64"),
                "a_label": pd.Series(out_al, dtype="int64"),
                "b_id": pd.Series(out_b, dtype="int64"),
                "b_label": pd.Series(out_bl, dtype="int64"),
                "cosine": pd.Series(out_c, dtype="float64"),
            }
        )

    scored = assigned.groupBy("centroid_id").applyInPandas(
        cell_topk,
        schema="a_id long, a_label long, b_id long, b_label long, "
        "cosine double",
    )
    # global top-3 per probe over its <= nprobe*3 surviving candidates
    nn = top_k(scored, ["a_id"], [F.desc("cosine"), F.asc("b_id")], 3)
    return (
        nn.groupBy(F.col("a_label").alias("label"))
        .agg(
            F.countDistinct("a_id").alias("n_vecs"),
            F.sum(
                F.when(F.col("a_label") == F.col("b_label"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_agree"),
        )
        .select(
            "label",
            "n_vecs",
            "n_agree",
            F.expr("n_agree * 1000000 div (3 * n_vecs)").alias("agree_ppm"),
        )
        .orderBy("label")
    )


# --------------------------------------------------------------------------
@query(
    "sim_covariance_matrix",
    oracle="""
WITH q AS (
  SELECT list_transform(embedding[1:16],
                        x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT))
           AS qv
  FROM embeddings
),
p AS (
  SELECT CAST(ti.i AS INT) AS i, CAST(tj.j AS INT) AS j,
         qv[ti.i + 1] AS qi, qv[tj.j + 1] AS qj
  FROM q, range(0, 16) ti(i), range(0, 16) tj(j)
  WHERE tj.j >= ti.i
),
g AS (
  SELECT i, j, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(qi) AS BIGINT) AS sx,
         CAST(SUM(qj) AS BIGINT) AS sy,
         CAST(SUM(qi * qj) AS BIGINT) AS sxy
  FROM p GROUP BY i, j
)
SELECT i, j, n, sx, sy, sxy,
       (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
         / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) / 1000000000000.0 AS cov
FROM g ORDER BY i, j
""",
)
def sim_covariance_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding covariance matrix (upper triangle, dims 0..15) — the
    distributed co-moment pass that whitening / PCA / ZCA preprocessing
    runs before an eigendecomposition on the driver: cov(i,j) =
    (n*Sxy - Sx*Sy) / n^2 from one scan.

    Exactness: elements quantize to round(x*1e6) BIGINTs, so Sx/Sy/Sxy are
    exact integers in both engines; cov is a FIXED left-to-right double
    chain over them (the chi-square determinism argument). The 1e6 scale
    (not the module's 1e7 dot-product scale) keeps SUM(qi*qj) under int64
    through ~5e6 rows; beyond that, shard the sum or drop to 1e5.

    Scale: the 136x pair explode is followed IMMEDIATELY by a (i,j)
    aggregate, so map-side partial aggregation reduces every partition to
    <= 136 rows before the only shuffle — the shuffle moves 136 rows per
    partition regardless of corpus size. Never materializes pairs.
    """
    t = Tables(spark, sf_dir)
    pairs = t.embeddings.select(
        F.expr(
            "explode(flatten(transform(sequence(0, 15), i ->"
            " transform(sequence(i, 15), j -> named_struct("
            "  'i', i, 'j', j,"
            "  'qi', CAST(round(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT),"
            "  'qj', CAST(round(CAST(embedding[j] AS DOUBLE) * 1000000) AS BIGINT)"
            "))))) AS p"
        )
    ).select("p.i", "p.j", "p.qi", "p.qj")
    g = pairs.groupBy("i", "j").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("qi").cast("bigint").alias("sx"),
        F.sum("qj").cast("bigint").alias("sy"),
        F.sum(F.col("qi") * F.col("qj")).cast("bigint").alias("sxy"),
    )
    cov = F.expr(
        "(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)"
        " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
        " / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) / 1000000000000.0"
    )
    return g.select("i", "j", "n", "sx", "sy", "sxy", cov.alias("cov")).orderBy(
        "i", "j"
    )


# --------------------------------------------------------------------------
#: nDCG@10 rank discounts: round(1e6 / log2(r+1)) as integer LITERALS —
#: precomputed once here, never via runtime log2 (libm rounding is not
#: engine-portable). _NDCG_PREFIX[k] = sum of the first k discounts = the
#: ideal DCG when k results are relevant.
_NDCG_W = [1000000, 630930, 500000, 430677, 386853,
           356207, 333333, 315465, 301030, 289065]
_NDCG_PREFIX = [sum(_NDCG_W[: k + 1]) for k in range(10)]

_SQL_NDCG_W = (
    "CASE rn " + " ".join(
        f"WHEN {r + 1} THEN {w}" for r, w in enumerate(_NDCG_W)
    ) + " END"
)
_SQL_IDCG = (
    "CASE LEAST(n_rel, 10) " + " ".join(
        f"WHEN {k + 1} THEN {p}" for k, p in enumerate(_NDCG_PREFIX)
    ) + " ELSE 0 END"
)


@query(
    "sim_ndcg_eval",
    oracle=f"""
WITH coded AS (
  SELECT vec_id, embedding, label, {_SQL_CODE.format(e='embedding')} AS bucket,
         {_sql_norm('embedding')} AS nrm
  FROM embeddings
),
q AS (SELECT * FROM coded WHERE vec_id < 20),
ranked AS (
  SELECT query_id, rn, rel FROM (
    SELECT q.vec_id AS query_id,
           CASE WHEN q.label = c.label THEN 1 ELSE 0 END AS rel,
           row_number() OVER (
             PARTITION BY q.vec_id
             ORDER BY {_sql_dot('q.embedding', 'c.embedding')} / (q.nrm * c.nrm)
                      DESC, c.vec_id
           ) AS rn
    FROM q JOIN coded c ON q.bucket = c.bucket AND q.vec_id <> c.vec_id
  ) WHERE rn <= 10
),
g AS (
  SELECT query_id,
         CAST(SUM(rel) AS BIGINT) AS n_rel,
         CAST(SUM(rel * ({_SQL_NDCG_W})) AS BIGINT) AS dcg
  FROM ranked GROUP BY query_id
)
SELECT query_id, n_rel, dcg,
       CASE WHEN n_rel = 0 THEN 0.0
            ELSE CAST(dcg AS DOUBLE) / ({_SQL_IDCG}) END AS ndcg
FROM g ORDER BY query_id
""",
)
def sim_ndcg_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nDCG@10 of the bucketed ANN retrieval with label-match relevance —
    the GRADED retrieval-quality metric alongside sim_ann_recall's set
    recall (position matters: a relevant hit at rank 1 is worth 3.5x one
    at rank 10).

    Rank discounts 1/log2(r+1) are integer literals quantized at 1e6 and
    the ideal DCG is their prefix-sum table indexed by the query's
    relevant-hit count (ideal ranking puts all hits first) — so DCG is an
    exact BIGINT and only the final normalization divides. No runtime
    log2 anywhere (libm is not cross-engine exact).

    Scale: retrieval is the sim_ann_bucketed equi-join (each query scans
    one bucket); the per-query top-10 window partitions by query_id.
    """
    t = Tables(spark, sf_dir)
    coded = t.embeddings.select(
        "vec_id",
        "embedding",
        "label",
        _code(F.col("embedding")).alias("bucket"),
        norm(F.col("embedding")).alias("nrm"),
    )
    q = coded.where(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        F.col("label").alias("qlabel"),
        F.col("bucket"),
        F.col("nrm").alias("qn"),
    )
    c = coded.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("ce"),
        F.col("label").alias("clabel"),
        F.col("bucket").alias("cbucket"),
        F.col("nrm").alias("cn"),
    )
    scored = (
        q.join(
            c,
            (F.col("bucket") == F.col("cbucket"))
            & (F.col("query_id") != F.col("neighbor_id")),
        )
        .select(
            "query_id",
            F.when(F.col("qlabel") == F.col("clabel"), 1).otherwise(0).alias("rel"),
            (dot(F.col("qe"), F.col("ce")) / (F.col("qn") * F.col("cn"))).alias("cosine"),
            "neighbor_id",
        )
    )
    ranked = top_k(scored, ["query_id"], _by_cosine(), 10, rank="rn")
    g = ranked.groupBy("query_id").agg(
        F.sum("rel").cast("bigint").alias("n_rel"),
        F.sum(F.col("rel") * F.expr(_SQL_NDCG_W)).cast("bigint").alias("dcg"),
    )
    ndcg = F.when(F.col("n_rel") == 0, F.lit(0.0)).otherwise(
        F.col("dcg").cast("double") / F.expr(_SQL_IDCG)
    )
    return g.select("query_id", "n_rel", "dcg", ndcg.alias("ndcg")).orderBy(
        "query_id"
    )


# --------------------------------------------------------------------------
@query(
    "sim_triplet_margin",
    oracle=f"""
WITH c AS (SELECT label, COUNT(*) AS cnt FROM embeddings GROUP BY label),
k AS (SELECT COUNT(*) AS nk FROM c),
r AS (
  SELECT vec_id, label, embedding,
         ROW_NUMBER() OVER (PARTITION BY label ORDER BY vec_id) - 1 AS r,
         {_sql_norm('embedding')} AS nrm
  FROM embeddings
),
a AS (SELECT r.*, c.cnt FROM r JOIN c USING (label)),
trip AS (
  SELECT a.label,
         CAST(round({_sql_dot('a.embedding', 'p.embedding')}
                    / (a.nrm * p.nrm) * 10000000) AS BIGINT)
         - CAST(round({_sql_dot('a.embedding', 'n.embedding')}
                      / (a.nrm * n.nrm) * 10000000) AS BIGINT) AS margin_q7
  FROM a
  JOIN k ON TRUE
  JOIN c cn ON cn.label = (a.label + 1) % k.nk
  JOIN r p ON p.label = a.label AND p.r = (a.r + 1) % a.cnt
  JOIN r n ON n.label = cn.label AND n.r = a.r % cn.cnt
  WHERE p.vec_id <> a.vec_id
)
SELECT label, COUNT(*) AS n_triplets,
       CAST(SUM(margin_q7) AS BIGINT) AS sum_margin_q7,
       COUNT(CASE WHEN margin_q7 > 0 THEN 1 END) AS n_pos_wins,
       MIN(margin_q7) AS min_margin_q7,
       MAX(margin_q7) AS max_margin_q7
FROM trip GROUP BY label ORDER BY label
""",
)
def sim_triplet_margin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic triplet mining for contrastive training: every vector
    anchors one (anchor, positive, negative) triplet — positive = the
    NEXT same-label vector in vec_id order (cyclic), negative = the
    rank-aligned vector of the NEXT label (cyclic over labels) — and the
    readout is the per-label margin profile cos(a,p) - cos(a,n) (how
    separable the label structure already is; the metric-learning
    curriculum signal).

    Unlike random triplet samplers, every choice is a pure function of
    (label, rank), so re-runs and other engines mine identical triplets.
    Margins quantize per-triplet to 1e-7 BIGINTs BEFORE aggregation —
    summing raw doubles would hit addition-order nondeterminism.

    Scale: ranks come from label-partitioned windows; the positive and
    negative matches are EQUI-joins on (label, rank) — never a pair
    explosion; label counts and the label-count scalar broadcast.
    """
    t = Tables(spark, sf_dir)
    c = t.embeddings.groupBy("label").agg(F.count(F.lit(1)).alias("cnt"))
    k = c.agg(F.count(F.lit(1)).alias("nk"))
    w = Window.partitionBy("label").orderBy("vec_id")
    r = t.embeddings.select(
        "vec_id",
        "label",
        "embedding",
        (F.row_number().over(w) - 1).alias("r"),
        norm(F.col("embedding")).alias("nrm"),
    )
    a = (
        r.join(F.broadcast(c), "label")
        .crossJoin(F.broadcast(k))
        .join(
            F.broadcast(
                c.select(F.col("label").alias("nlabel"), F.col("cnt").alias("ncnt"))
            ),
            F.col("nlabel") == (F.col("label") + 1) % F.col("nk"),
        )
    )
    p = r.select(
        F.col("vec_id").alias("p_id"),
        F.col("label").alias("p_label"),
        F.col("embedding").alias("pe"),
        F.col("r").alias("p_r"),
        F.col("nrm").alias("p_nrm"),
    )
    n = r.select(
        F.col("label").alias("n_label"),
        F.col("embedding").alias("ne"),
        F.col("r").alias("n_r"),
        F.col("nrm").alias("n_nrm"),
    )
    trip = (
        a.join(
            p,
            (F.col("p_label") == F.col("label"))
            & (F.col("p_r") == (F.col("r") + 1) % F.col("cnt")),
        )
        .join(
            n,
            (F.col("n_label") == F.col("nlabel"))
            & (F.col("n_r") == F.col("r") % F.col("ncnt")),
        )
        .where(F.col("p_id") != F.col("vec_id"))
        .select(
            "label",
            (
                F.round(
                    dot(F.col("embedding"), F.col("pe"))
                    / (F.col("nrm") * F.col("p_nrm"))
                    * 10000000
                ).cast("bigint")
                - F.round(
                    dot(F.col("embedding"), F.col("ne"))
                    / (F.col("nrm") * F.col("n_nrm"))
                    * 10000000
                ).cast("bigint")
            ).alias("margin_q7"),
        )
    )
    return (
        trip.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_triplets"),
            F.sum("margin_q7").cast("bigint").alias("sum_margin_q7"),
            F.count(F.when(F.col("margin_q7") > 0, 1)).alias("n_pos_wins"),
            F.min("margin_q7").alias("min_margin_q7"),
            F.max("margin_q7").alias("max_margin_q7"),
        )
        .orderBy("label")
    )


# --------------------------------------------------------------------------
@query(
    "sim_hard_negatives",
    oracle=f"""
WITH coded AS (
  SELECT vec_id, label, embedding, {_SQL_CODE.format(e='embedding')} AS bucket,
         {_sql_norm('embedding')} AS nrm
  FROM embeddings
),
q AS (SELECT * FROM coded WHERE vec_id < 50),
cand AS (
  SELECT q.vec_id AS anchor, q.label AS anchor_label,
         c.vec_id AS neg_id,
         {_sql_dot('q.embedding', 'c.embedding')} / (q.nrm * c.nrm) AS cosine
  FROM q JOIN coded c ON q.bucket = c.bucket AND q.label <> c.label
),
r AS (
  SELECT anchor, anchor_label, neg_id,
         CAST(round(cosine * 10000000) AS BIGINT) AS cos_q7,
         row_number() OVER (PARTITION BY anchor
                            ORDER BY cosine DESC, neg_id) AS rn,
         COUNT(*) OVER (PARTITION BY anchor) AS n_candidates
  FROM cand
)
SELECT anchor, anchor_label, neg_id, cos_q7,
       CAST(n_candidates AS BIGINT) AS n_candidates
FROM r WHERE rn = 1 ORDER BY anchor
""",
)
def sim_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining: for each anchor, the MOST SIMILAR vector with
    a DIFFERENT label — the negatives that actually move a contrastive
    loss (random negatives are trivially separable; hard ones are not).
    Candidates come from the anchor's LSH bucket, which is precisely where
    hard negatives live (similar enough to collide), so the search is the
    same bounded equi-join as sim_ann_bucketed — never corpus x corpus.

    Determinism: the argmax orders by the cosine double (one fixed
    division chain over exact integer dots) with neg_id tiebreak; the
    reported score quantizes to 1e-7. Scale: bucket equi-join, one
    anchor-keyed exchange for the candidate count, then top_k's rank-1
    WindowGroupLimit on that same partitioning.
    """
    t = Tables(spark, sf_dir)
    coded = t.embeddings.select(
        "vec_id",
        "embedding",
        "label",
        _code(F.col("embedding")).alias("bucket"),
        norm(F.col("embedding")).alias("nrm"),
    )
    q = coded.where(F.col("vec_id") < 50).select(
        F.col("vec_id").alias("anchor"),
        F.col("embedding").alias("qe"),
        F.col("label").alias("anchor_label"),
        F.col("bucket"),
        F.col("nrm").alias("qn"),
    )
    c = coded.select(
        F.col("vec_id").alias("neg_id"),
        F.col("embedding").alias("ce"),
        F.col("label").alias("clabel"),
        F.col("bucket").alias("cbucket"),
        F.col("nrm").alias("cn"),
    )
    cand = q.join(
        c,
        (F.col("bucket") == F.col("cbucket"))
        & (F.col("anchor_label") != F.col("clabel")),
    ).select(
        "anchor",
        "anchor_label",
        "neg_id",
        (dot(F.col("qe"), F.col("ce")) / (F.col("qn") * F.col("cn"))).alias(
            "cosine"
        ),
    )
    counted = cand.withColumn(
        "n_candidates",
        F.count(F.lit(1)).over(Window.partitionBy("anchor")).cast("bigint"),
    )
    return (
        top_k(counted, ["anchor"], [F.desc("cosine"), F.asc("neg_id")], 1)
        .select(
            "anchor",
            "anchor_label",
            "neg_id",
            F.round(F.col("cosine") * 10000000).cast("bigint").alias("cos_q7"),
            "n_candidates",
        )
        .orderBy("anchor")
    )


# --------------------------------------------------------------------------
@query(
    "sim_mmr_rerank",
    oracle=f"""
WITH coded AS (
  SELECT vec_id, embedding, {_SQL_CODE.format(e='embedding')} AS bucket,
         {_sql_norm('embedding')} AS nrm FROM embeddings
),
q AS (SELECT * FROM coded WHERE vec_id < 20),
scored AS (
  SELECT q.vec_id AS a, c.vec_id AS id, c.embedding AS e, c.nrm AS cn,
         CAST(round({_sql_dot('q.embedding', 'c.embedding')}
                    / (q.nrm * c.nrm) * 10000000) AS BIGINT) AS rel
  FROM q JOIN coded c ON q.bucket = c.bucket AND c.vec_id <> q.vec_id
),
cand AS (
  SELECT a, id, e, cn, rel FROM (
    SELECT *, row_number() OVER (PARTITION BY a ORDER BY rel DESC, id) AS rn
    FROM scored
  ) WHERE rn <= 5
),
sims AS (
  SELECT x.a, x.id AS i, y.id AS j,
         CAST(round({_sql_dot('x.e', 'y.e')} / (x.cn * y.cn) * 10000000)
              AS BIGINT) AS sim
  FROM cand x JOIN cand y ON x.a = y.a AND x.id <> y.id
),
p1 AS (
  SELECT a, id AS pick1, rel AS rel1 FROM (
    SELECT a, id, rel,
           row_number() OVER (PARTITION BY a ORDER BY rel DESC, id) AS rn
    FROM cand
  ) WHERE rn = 1
),
s2 AS (
  SELECT c.a, c.id, c.rel, c.rel - s.sim AS score
  FROM cand c
  JOIN p1 ON c.a = p1.a AND c.id <> p1.pick1
  JOIN sims s ON s.a = c.a AND s.i = c.id AND s.j = p1.pick1
),
p2 AS (
  SELECT a, id AS pick2, rel AS rel2 FROM (
    SELECT a, id, rel,
           row_number() OVER (PARTITION BY a ORDER BY score DESC, id) AS rn
    FROM s2
  ) WHERE rn = 1
),
s3 AS (
  SELECT c.a, c.id, c.rel,
         c.rel - GREATEST(sa.sim, sb.sim) AS score
  FROM cand c
  JOIN p1 ON c.a = p1.a
  JOIN p2 ON c.a = p2.a
  JOIN sims sa ON sa.a = c.a AND sa.i = c.id AND sa.j = p1.pick1
  JOIN sims sb ON sb.a = c.a AND sb.i = c.id AND sb.j = p2.pick2
  WHERE c.id <> p1.pick1 AND c.id <> p2.pick2
),
p3 AS (
  SELECT a, id AS pick3, rel AS rel3 FROM (
    SELECT a, id, rel,
           row_number() OVER (PARTITION BY a ORDER BY score DESC, id) AS rn
    FROM s3
  ) WHERE rn = 1
)
SELECT p1.a AS query_id, p1.pick1, p1.rel1, p2.pick2, p2.rel2,
       p3.pick3, p3.rel3
FROM p1 JOIN p2 ON p1.a = p2.a JOIN p3 ON p1.a = p3.a
ORDER BY query_id
""",
)
def sim_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR (Maximal Marginal Relevance) diversified re-ranking — the
    search/RAG post-processor that trades raw relevance against
    redundancy: greedily pick argmax[rel - max sim-to-already-picked]
    (lambda = 0.5, which cancels into plain subtraction after
    quantization). Three greedy rounds UNROLLED as dataframe stages —
    each round is an equi-join of the bounded candidate set (top-5 per
    query) to the picks so far plus a per-query argmax window; no
    iterative driver loop, no UDF.

    Exactness: relevance and pairwise sims quantize to 1e-7 BIGINTs
    BEFORE any ranking, so every argmax and subtraction is integer-exact.
    Scale (r7, VERDICT r6 #2): candidate generation rides the repo's
    rank-LSH bucket kernel (the sim_ann_bucketed path) — corpus and
    queries each compute a 4-bit rank code map-side, candidates come
    from the bucket EQUI-join (no corpus-wide crossJoin; only same-bucket
    pairs pay the exact quantized dot, ~1/16 of the brute-force flops and
    Arrow transfer). AQE broadcasts the 20-row query side on size; the
    oracle mirrors the bucket restriction, so both engines rank the same
    candidate sets. Everything after operates on <= 5 rows x queries —
    re-ranking cost is independent of corpus size, which is the whole
    point of candidate-then-rerank. At production scale the code widens
    (more bits/bands) without changing the join shape.
    """
    t = Tables(spark, sf_dir)
    c0 = t.embeddings.select(
        "vec_id",
        "embedding",
        _code(F.col("embedding")).alias("bucket"),
        norm(F.col("embedding")).alias("nrm"),
    )
    q = c0.where(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("a"),
        F.col("embedding").alias("qe"),
        F.col("bucket").alias("qbucket"),
        F.col("nrm").alias("qn"),
    )
    scored = (
        c0.join(
            q,
            (F.col("bucket") == F.col("qbucket"))
            & (F.col("vec_id") != F.col("a")),
        )
        .select(
            "a",
            F.col("vec_id").alias("id"),
            F.col("embedding").alias("e"),
            F.col("nrm").alias("cn"),
            F.round(
                dot(F.col("qe"), F.col("embedding"))
                / (F.col("qn") * F.col("nrm"))
                * 10000000
            )
            .cast("bigint")
            .alias("rel"),
        )
    )
    by_rel = [F.desc("rel"), F.asc("id")]
    by_score = [F.desc("score"), F.asc("id")]
    # <= 5 rows x queries, consumed by FIVE downstream subplans (sims x2,
    # p1, s2, s3); NOT cached — measured A/B at sf0.1: AQE's exchange
    # reuse already dedupes the identical scoring subplan across the
    # consumers — cached read 3.7-3.9s solo vs 2.9-3.5s uncached (the
    # InMemoryRelation breaks exchange reuse and adds store overhead)
    cand = top_k(scored, ["a"], by_rel, 5)
    x = cand.select("a", F.col("id").alias("i"), F.col("e").alias("xe"), F.col("cn").alias("xn"))
    y = cand.select(F.col("a").alias("ya"), F.col("id").alias("j"), F.col("e").alias("ye"), F.col("cn").alias("yn"))
    sims = (
        x.join(y, (F.col("a") == F.col("ya")) & (F.col("i") != F.col("j")))
        .select(
            "a",
            "i",
            "j",
            F.round(
                dot(F.col("xe"), F.col("ye")) / (F.col("xn") * F.col("yn")) * 10000000
            )
            .cast("bigint")
            .alias("sim"),
        )
    )
    p1 = top_k(cand, ["a"], by_rel, 1).select(
        "a", F.col("id").alias("pick1"), F.col("rel").alias("rel1")
    )
    s2 = (
        cand.join(p1, "a")
        .where(F.col("id") != F.col("pick1"))
        .join(
            sims.select(F.col("a").alias("sa"), "i", "j", "sim"),
            (F.col("sa") == F.col("a"))
            & (F.col("i") == F.col("id"))
            & (F.col("j") == F.col("pick1")),
        )
        .select("a", "id", "rel", (F.col("rel") - F.col("sim")).alias("score"))
    )
    p2 = top_k(s2, ["a"], by_score, 1).select(
        "a", F.col("id").alias("pick2"), F.col("rel").alias("rel2")
    )
    sa = sims.select(F.col("a").alias("saa"), F.col("i").alias("sai"), F.col("j").alias("saj"), F.col("sim").alias("sim1"))
    sb = sims.select(F.col("a").alias("sba"), F.col("i").alias("sbi"), F.col("j").alias("sbj"), F.col("sim").alias("sim2"))
    s3 = (
        cand.join(p1, "a")
        .join(p2, "a")
        .where((F.col("id") != F.col("pick1")) & (F.col("id") != F.col("pick2")))
        .join(
            sa,
            (F.col("saa") == F.col("a"))
            & (F.col("sai") == F.col("id"))
            & (F.col("saj") == F.col("pick1")),
        )
        .join(
            sb,
            (F.col("sba") == F.col("a"))
            & (F.col("sbi") == F.col("id"))
            & (F.col("sbj") == F.col("pick2")),
        )
        .select(
            "a",
            "id",
            "rel",
            (F.col("rel") - F.greatest(F.col("sim1"), F.col("sim2"))).alias("score"),
        )
    )
    p3 = top_k(s3, ["a"], by_score, 1).select(
        "a", F.col("id").alias("pick3"), F.col("rel").alias("rel3")
    )
    return (
        p1.join(p2, "a")
        .join(p3, "a")
        .select(
            F.col("a").alias("query_id"),
            "pick1",
            "rel1",
            "pick2",
            "rel2",
            "pick3",
            "rel3",
        )
        .orderBy("query_id")
    )


# --------------------------------------------------------------------------
@query(
    "sample_kcenter_coreset",
    oracle=f"""
WITH e AS (
  SELECT vec_id, embedding,
         {_SQL_QDOT.format(a='embedding', b='embedding')} AS nn
  FROM embeddings
),
p1 AS (SELECT vec_id AS c1, embedding AS e1, nn AS n1 FROM e
       ORDER BY vec_id LIMIT 1),
d1 AS (
  SELECT e.vec_id, e.embedding, e.nn,
         e.nn + p1.n1 - 2 * {_SQL_QDOT.format(a='e.embedding', b='p1.e1')}
           AS dist1
  FROM e CROSS JOIN p1
),
p2 AS (SELECT vec_id AS c2, embedding AS e2, nn AS n2 FROM d1
       ORDER BY dist1 DESC, vec_id LIMIT 1),
d2 AS (
  SELECT d1.vec_id, d1.embedding, d1.nn, d1.dist1,
         LEAST(d1.dist1,
               d1.nn + p2.n2 - 2 * {_SQL_QDOT.format(a='d1.embedding', b='p2.e2')})
           AS dmin2
  FROM d1 CROSS JOIN p2
),
p3 AS (SELECT vec_id AS c3, embedding AS e3, nn AS n3 FROM d2
       ORDER BY dmin2 DESC, vec_id LIMIT 1),
cov AS (
  SELECT MAX(LEAST(d2.dmin2,
                   d2.nn + p3.n3
                   - 2 * {_SQL_QDOT.format(a='d2.embedding', b='p3.e3')}))
           AS radius_sq_q14,
         COUNT(*) AS n_vectors
  FROM d2 CROSS JOIN p3
)
SELECT p1.c1, p2.c2, p3.c3, cov.radius_sq_q14, cov.n_vectors
FROM p1 CROSS JOIN p2 CROSS JOIN p3 CROSS JOIN cov
""",
)
def sample_kcenter_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Farthest-first (Gonzalez) k-center coreset selection, k = 3: seed
    with the smallest vec_id, then twice pick the vector farthest from the
    chosen set, and report the covering radius — the greedy 2-approximation
    behind diversity-maximizing data selection / dataset distillation
    ("cover the embedding space with k exemplars").

    Entirely integer: squared distances expand to nn_a + nn_b - 2<a,b>
    over the module's raw 1e7-scaled BIGINT dots (no sqrt, no doubles), so
    every argmax and the final radius are exact in both engines.

    Scale: each greedy round is ONE corpus pass against a broadcast
    1-row center (map-side max via TakeOrdered) — k passes total, the
    textbook distributed farthest-first; nothing is ever pairwise.
    """
    t = Tables(spark, sf_dir)
    e = t.embeddings.select(
        "vec_id",
        "embedding",
        _dot7(F.col("embedding"), F.col("embedding")).alias("nn"),
    )
    p1 = e.orderBy("vec_id").limit(1).select(
        F.col("vec_id").alias("c1"),
        F.col("embedding").alias("e1"),
        F.col("nn").alias("n1"),
    )
    d1 = e.crossJoin(F.broadcast(p1)).select(
        "vec_id",
        "embedding",
        "nn",
        "c1",
        (
            F.col("nn") + F.col("n1")
            - 2 * _dot7(F.col("embedding"), F.col("e1"))
        ).alias("dist1"),
    )
    p2 = d1.orderBy(F.desc("dist1"), F.asc("vec_id")).limit(1).select(
        F.col("vec_id").alias("c2"),
        F.col("embedding").alias("e2"),
        F.col("nn").alias("n2"),
    )
    d2 = d1.crossJoin(F.broadcast(p2)).select(
        "vec_id",
        "embedding",
        "nn",
        "c1",
        "c2",
        "dist1",
        F.least(
            F.col("dist1"),
            F.col("nn") + F.col("n2") - 2 * _dot7(F.col("embedding"), F.col("e2")),
        ).alias("dmin2"),
    )
    p3 = d2.orderBy(F.desc("dmin2"), F.asc("vec_id")).limit(1).select(
        F.col("vec_id").alias("c3"),
        F.col("embedding").alias("e3"),
        F.col("nn").alias("n3"),
    )
    cov = (
        d2.crossJoin(F.broadcast(p3))
        .agg(
            F.max(
                F.least(
                    F.col("dmin2"),
                    F.col("nn")
                    + F.col("n3")
                    - 2 * _dot7(F.col("embedding"), F.col("e3")),
                )
            ).alias("radius_sq_q14"),
            F.count(F.lit(1)).alias("n_vectors"),
            F.min("c1").alias("c1"),
            F.min("c2").alias("c2"),
            F.min("c3").alias("c3"),
        )
    )
    return cov.select("c1", "c2", "c3", "radius_sq_q14", "n_vectors")


# --------------------------------------------------------------------------
#: micro-bit quantized log2 of an integer expression (the text-module
#: cross-engine log path)
_QLOG = "CAST(round(log2({x}) * 1000000) AS BIGINT)"


@query(
    "sim_cluster_purity_nmi",
    oracle=f"""
WITH e AS (
  SELECT vec_id, embedding, label,
         {_SQL_QDOT.format(a='embedding', b='embedding')} AS selfq
  FROM embeddings
),
c AS (SELECT vec_id AS cid, embedding AS cv, selfq AS cselfq
      FROM e WHERE vec_id < 8),
p AS (
  SELECT e.vec_id, e.label, c.cid,
         e.selfq + c.cselfq - 2 * {_SQL_QDOT.format(a='e.embedding', b='c.cv')}
           AS d
  FROM e CROSS JOIN c
),
asg AS (
  SELECT vec_id, label, cid FROM (
    SELECT vec_id, label, cid,
           row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
    FROM p
  ) WHERE rn = 1
),
ct AS (SELECT cid, label, CAST(COUNT(*) AS BIGINT) AS n_cl
       FROM asg GROUP BY cid, label),
nc AS (SELECT cid, CAST(SUM(n_cl) AS BIGINT) AS n_c FROM ct GROUP BY cid),
nl AS (SELECT label, CAST(SUM(n_cl) AS BIGINT) AS n_l FROM ct GROUP BY label),
tot AS (SELECT CAST(SUM(n_cl) AS BIGINT) AS n FROM ct),
i AS (
  SELECT CAST(SUM(n_cl * ({_QLOG.format(x='tot.n')} + {_QLOG.format(x='n_cl')}
                          - {_QLOG.format(x='n_c')} - {_QLOG.format(x='n_l')}))
              AS BIGINT) AS i_num
  FROM ct JOIN nc USING (cid) JOIN nl USING (label) CROSS JOIN tot
),
hc AS (
  SELECT CAST(tot.n * {_QLOG.format(x='tot.n')}
              - SUM(n_c * {_QLOG.format(x='n_c')}) AS BIGINT) AS hc_num
  FROM nc CROSS JOIN tot GROUP BY tot.n
),
hl AS (
  SELECT CAST(tot.n * {_QLOG.format(x='tot.n')}
              - SUM(n_l * {_QLOG.format(x='n_l')}) AS BIGINT) AS hl_num
  FROM nl CROSS JOIN tot GROUP BY tot.n
),
pur AS (
  SELECT CAST(SUM(mx) AS BIGINT) AS pure_n FROM (
    SELECT cid, MAX(n_cl) AS mx FROM ct GROUP BY cid
  )
)
SELECT (SELECT COUNT(*) FROM nc) AS n_clusters,
       (SELECT COUNT(*) FROM nl) AS n_labels,
       tot.n AS n_vectors,
       pur.pure_n * 1000000 // tot.n AS purity_ppm,
       i.i_num, hc.hc_num, hl.hl_num,
       CAST(2 * i.i_num AS DOUBLE) / CAST(hc.hc_num + hl.hl_num AS DOUBLE)
         AS nmi
FROM tot CROSS JOIN pur CROSS JOIN i CROSS JOIN hc CROSS JOIN hl
""",
)
def sim_cluster_purity_nmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clustering-quality evaluation: PURITY (fraction of vectors whose
    cluster's majority label is their own) and NMI (normalized mutual
    information between the k-means assignment and the gold labels) — the
    two standard external cluster-validity metrics, run after every
    clustering/IVF-training pass before the index is trusted.

    Identities keep it exact: N*I = SUM n_cl*(log2 N + log2 n_cl -
    log2 n_c - log2 n_l) and N*H = N log2 N - SUM n log2 n, with every
    log2-of-integer quantized to micro-bits (the module-shared
    cross-engine log path) — so purity, I and both entropies are exact
    BIGINTs and NMI is one fixed double division.

    Scale: assignment is sim_kmeans_assign's map-side argmin over
    ``_centroid_sq_dists``; everything downstream operates on the K x L
    contingency table (bounded metadata).
    """
    t = Tables(spark, sf_dir)
    p = _centroid_sq_dists(t.embeddings, "label")
    asg = top_k(p, ["vec_id", "label"], ["d", "cid"], 1).select(
        "vec_id", "label", "cid"
    )
    # the (cid x label) contingency table feeds FIVE consumers (both
    # marginals, the total, the MI sum, purity) — persist the bounded
    # K x labels grain so the corpus-wide assignment (distance agg +
    # map-side argmin) runs once
    ct = cached(
        asg.groupBy("cid", "label").agg(F.count(F.lit(1)).cast("bigint").alias("n_cl"))
    )
    nc = ct.groupBy("cid").agg(F.sum("n_cl").cast("bigint").alias("n_c"))
    nl = ct.groupBy("label").agg(F.sum("n_cl").cast("bigint").alias("n_l"))
    tot = ct.agg(F.sum("n_cl").cast("bigint").alias("n"))
    qlog = lambda x: f"CAST(round(log2({x}) * 1000000) AS BIGINT)"
    i = (
        ct.join(F.broadcast(nc), "cid")
        .join(F.broadcast(nl), "label")
        .crossJoin(F.broadcast(tot))
        .agg(
            F.sum(
                F.expr(
                    f"n_cl * ({qlog('n')} + {qlog('n_cl')}"
                    f" - {qlog('n_c')} - {qlog('n_l')})"
                )
            )
            .cast("bigint")
            .alias("i_num")
        )
    )
    hc = (
        nc.crossJoin(F.broadcast(tot))
        .groupBy("n")
        .agg(
            F.expr(f"CAST(n * {qlog('n')} - SUM(n_c * {qlog('n_c')}) AS BIGINT)").alias(
                "hc_num"
            )
        )
        .select("hc_num")
    )
    hl = (
        nl.crossJoin(F.broadcast(tot))
        .groupBy("n")
        .agg(
            F.expr(f"CAST(n * {qlog('n')} - SUM(n_l * {qlog('n_l')}) AS BIGINT)").alias(
                "hl_num"
            )
        )
        .select("hl_num")
    )
    pur = (
        ct.groupBy("cid")
        .agg(F.max("n_cl").alias("mx"))
        .agg(F.sum("mx").cast("bigint").alias("pure_n"))
    )
    kc = nc.agg(F.count(F.lit(1)).alias("n_clusters"))
    kl = nl.agg(F.count(F.lit(1)).alias("n_labels"))

    return (
        tot.crossJoin(pur)
        .crossJoin(i)
        .crossJoin(hc)
        .crossJoin(hl)
        .crossJoin(kc)
        .crossJoin(kl)
        .select(
            "n_clusters",
            "n_labels",
            F.col("n").alias("n_vectors"),
            F.expr("pure_n * 1000000 div n").alias("purity_ppm"),
            "i_num",
            "hc_num",
            "hl_num",
            F.expr(
                "CAST(2 * i_num AS DOUBLE) / CAST(hc_num + hl_num AS DOUBLE)"
            ).alias("nmi"),
        )
    )


# --------------------------------------------------------------------------
#: Power-iteration constants: elements quantize at 1e3, the iterate vector
#: renormalizes to max|v| = 128 each round, so with |q| <= ~2e3 the row
#: projection s = q.v stays under 16*2e3*128 ~ 4e6 and the dim partial
#: u = sum(q*s) under n*2e3*4e6 — int64-safe through ~1e9 rows; the final
#: *128 rescale multiply bounds at 1e18 < 2^63. Larger corpora: drop the
#: element scale to 1e2.
_PI_DIMS = 16
_PI_QSCALE = 1000
_PI_VSCALE = 128


def _pi_round_sql(u: str, m: str) -> str:
    """Portable truncating rescale sign(u) * ((|u|*128) div m): Spark `div`
    truncates toward zero but DuckDB `//` floors, so negatives route
    through |u| where the two agree."""
    return (
        f"CASE WHEN {u} >= 0 THEN (({u} * {_PI_VSCALE}) DIV GREATEST({m}, 1))"
        f" ELSE -(((-{u}) * {_PI_VSCALE}) DIV GREATEST({m}, 1)) END"
    )


@query(
    "sim_pca_power_iteration",
    oracle=f"""
WITH q AS (
  SELECT vec_id, CAST(t.d AS INT) AS d,
         CAST(round(CAST(embedding[t.d + 1] AS DOUBLE) * {_PI_QSCALE})
              AS BIGINT) AS q
  FROM embeddings, range(0, {_PI_DIMS}) t(d)
),
v0 AS (SELECT CAST(t.d AS INT) AS d, CAST({_PI_VSCALE} AS BIGINT) AS v
       FROM range(0, {_PI_DIMS}) t(d)),
s1 AS (SELECT q.vec_id, CAST(SUM(q.q * v0.v) AS BIGINT) AS s
       FROM q JOIN v0 USING (d) GROUP BY q.vec_id),
u1 AS (SELECT q.d, CAST(SUM(q.q * s1.s) AS BIGINT) AS u
       FROM q JOIN s1 USING (vec_id) GROUP BY q.d),
m1 AS (SELECT MAX(ABS(u)) AS m FROM u1),
v1 AS (SELECT d, CAST(CASE WHEN u >= 0
         THEN ((u * {_PI_VSCALE}) // GREATEST(m, 1))
         ELSE -(((-u) * {_PI_VSCALE}) // GREATEST(m, 1)) END AS BIGINT) AS v
       FROM u1, m1),
s2 AS (SELECT q.vec_id, CAST(SUM(q.q * v1.v) AS BIGINT) AS s
       FROM q JOIN v1 USING (d) GROUP BY q.vec_id),
u2 AS (SELECT q.d, CAST(SUM(q.q * s2.s) AS BIGINT) AS u
       FROM q JOIN s2 USING (vec_id) GROUP BY q.d),
m2 AS (SELECT MAX(ABS(u)) AS m FROM u2),
v2 AS (SELECT d, CAST(CASE WHEN u >= 0
         THEN ((u * {_PI_VSCALE}) // GREATEST(m, 1))
         ELSE -(((-u) * {_PI_VSCALE}) // GREATEST(m, 1)) END AS BIGINT) AS v
       FROM u2, m2),
s3 AS (SELECT q.vec_id, CAST(SUM(q.q * v2.v) AS BIGINT) AS s
       FROM q JOIN v2 USING (d) GROUP BY q.vec_id),
u3 AS (SELECT q.d, CAST(SUM(q.q * s3.s) AS BIGINT) AS u
       FROM q JOIN s3 USING (vec_id) GROUP BY q.d),
m3 AS (SELECT MAX(ABS(u)) AS m FROM u3),
v3 AS (SELECT d, CAST(CASE WHEN u >= 0
         THEN ((u * {_PI_VSCALE}) // GREATEST(m, 1))
         ELSE -(((-u) * {_PI_VSCALE}) // GREATEST(m, 1)) END AS BIGINT) AS v
       FROM u3, m3),
nrm AS (SELECT sqrt(CAST(SUM(v * v) AS DOUBLE)) AS nv FROM v3)
SELECT d, v AS v_fixed,
       CASE WHEN nv > 0 THEN CAST(v AS DOUBLE) / nv ELSE 0.0 END AS direction
FROM v3, nrm ORDER BY d
""",
)
def sim_pca_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal direction of the (uncentered) embedding Gram matrix
    X'X by DISTRIBUTED power iteration — the scale path to PCA/spectral
    preprocessing when the dimension is too wide or the corpus too large to
    ship X'X to the driver (sim_covariance_matrix is the K^2 co-moment
    alternative; this one never materializes a matrix at all).

    Each of the 3 unrolled iterations is two corpus passes: s_row = q.v
    (broadcast 16-long v, map-only) and u_d = sum(q_d * s_row) (one 16-row
    aggregate); the iterate then renormalizes to max|v|=128 by an exact
    integer truncating rescale, so every engine computes bit-identical
    fixed-point vectors — no float accumulation order anywhere until the
    FINAL unit-norm projection of 16 exact integers. Convergence to the
    dominant eigenvector is the classic power-method ratio |l2/l1|^t;
    3 rounds is a fingerprint, not a research-grade eigensolver, and the
    oracle checks the whole trajectory, not just a direction.

    Scale: per iteration the shuffle carries 16 rows per partition
    (map-side partials); v travels driver->executors as a broadcast 128-B
    array. Row count only widens the map side. Reference analogue: the
    same unrolled-fixed-point pattern as dedup_chunk_pagerank.
    """
    import math

    t = Tables(spark, sf_dir)
    # r10: the v-vector is 16 BIGINTs — metadata, not data — so the fixed
    # point runs DRIVER-side on per-step collected u-vectors, the exact
    # ev_markov_attribution posture ("scheduling fixed costs belong on the
    # driver when the data is metadata-sized"). The previous DataFrame
    # spelling re-referenced u twice per step and chained v through
    # broadcast 1-row frames: 2792 plan lines, ~29 AQE jobs per run (the
    # no-cache variant: ~114). Now: one collect per step (16 rows, bounded
    # by construction like the PQ codebook collects) = 3 aggregate jobs
    # total; the corpus-side dot pass reads the cached qv projection.
    # The per-step rescale is sign(u) * ((|u| * 128) div max(m, 1)) on
    # nonnegative int operands — Python //, Spark DIV and DuckDB // agree
    # bit-for-bit (same portability contract as _pi_round_sql).
    qv = t.embeddings.select(
        "vec_id",
        F.expr(
            f"transform(sequence(0, {_PI_DIMS - 1}), d ->"
            f" CAST(round(CAST(embedding[d] AS DOUBLE) * {_PI_QSCALE})"
            " AS BIGINT))"
        ).alias("qv"),
    ).cache()

    v = [_PI_VSCALE] * _PI_DIMS
    empty = False
    try:
        for _ in range(3):
            lit = "array(" + ", ".join(f"CAST({x} AS BIGINT)" for x in v) + ")"
            s_expr = (
                f"aggregate(zip_with(qv, {lit}, (a, b) -> a * b),"
                " CAST(0 AS BIGINT), (acc, x) -> acc + x)"
            )
            u_rows = (
                qv.select(
                    F.posexplode("qv").alias("d", "q"), F.expr(s_expr).alias("s")
                )
                .groupBy("d")
                .agg(F.sum(F.col("q") * F.col("s")).cast("bigint").alias("u"))
                .collect()  # bounded: _PI_DIMS rows, independent of corpus size
            )
            if not u_rows:
                # empty corpus: preserve the pre-r10 DataFrame contract
                # (joins over an empty scan produced 0 rows), instead of
                # emitting 16 zero rows from the m=0 defaults (ADVICE r10)
                empty = True
                break
            u = {int(r.d): int(r.u) for r in u_rows}
            m = max((abs(x) for x in u.values()), default=0)
            v = [
                (u.get(d, 0) * _PI_VSCALE) // max(m, 1)
                if u.get(d, 0) >= 0
                else -(((-u.get(d, 0)) * _PI_VSCALE) // max(m, 1))
                for d in range(_PI_DIMS)
            ]
    finally:
        # the returned 16-row frame never references qv, and the fixed
        # point is done with the corpus HERE: release synchronously rather
        # than pin the materialized corpus-sized cache until an action.
        qv.unpersist()
    nv = math.sqrt(float(sum(x * x for x in v)))
    rows = [
        (d, v[d], (float(v[d]) / nv) if nv > 0 else 0.0)
        for d in range(_PI_DIMS)
        if not empty
    ]
    return local_frame(
        spark, rows, "d int, v_fixed long, direction double"
    ).orderBy("d")


@query(
    "sim_silhouette",
    oracle=f"""
WITH e AS (
  SELECT vec_id, embedding,
         {_SQL_QDOT.format(a='embedding', b='embedding')} AS selfq
  FROM embeddings
),
c AS (SELECT vec_id AS cid, embedding AS cv, selfq AS cselfq
      FROM e WHERE vec_id < 8),
p AS (
  SELECT e.vec_id, c.cid,
         e.selfq + c.cselfq - 2 * {_SQL_QDOT.format(a='e.embedding', b='c.cv')}
           AS d
  FROM e CROSS JOIN c
),
r AS (SELECT vec_id, cid, d,
             row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
      FROM p),
ab AS (
  SELECT a.vec_id, a.cid AS cluster, a.d AS a_q, b.d AS b_q,
         ((b.d - a.d) * 10000) // GREATEST(b.d, 1) AS si_fixed
  FROM (SELECT * FROM r WHERE rn = 1) a
  JOIN (SELECT * FROM r WHERE rn = 2) b USING (vec_id)
)
SELECT cluster,
       CAST(COUNT(*) AS BIGINT) AS n_vecs,
       CAST(SUM(si_fixed) AS BIGINT) AS sum_si_fixed,
       CAST(SUM(si_fixed) AS DOUBLE) / (10000.0 * COUNT(*)) AS mean_sil,
       CAST(MIN(si_fixed) AS BIGINT) AS min_si_fixed,
       CAST(MAX(si_fixed) AS BIGINT) AS max_si_fixed
FROM ab GROUP BY cluster ORDER BY cluster
""",
)
def sim_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster simplified (centroid-based) silhouette — the standard
    clustering-quality readout where a = squared distance to the assigned
    centroid and b = squared distance to the runner-up centroid;
    s = (b-a)/max(a,b) in [0,1] here since b >= a by construction. The
    medoid-free simplification is THE scale form: full silhouette is
    all-pairs within/between clusters (O(N^2)); this is one broadcast pass.

    Exactness: a and b are exact scale-14 integer squared L2 distances
    (``_centroid_sq_dists``, as in sim_kmeans_assign); s quantizes
    to si_fixed = ((b-a)*10000) div max(b,1) — truncating integer division
    on nonnegative operands, where Spark's `div` and DuckDB's `//` agree —
    and only the final mean divides as a double on exact integer sums.

    Scale: K=8 centroids broadcast, corpus never shuffles; per-vector
    best/runner-up come from one sort_array over the 8 collected
    candidates (bounded by K, not corpus); the exchange carries one row
    per vector, then per-cluster partial aggregation.
    """
    t = Tables(spark, sf_dir)
    ranked = (
        _centroid_sq_dists(t.embeddings)
        .select("vec_id", F.struct("d", "cid").alias("dc"))
        .groupBy("vec_id")
        .agg(F.sort_array(F.collect_list("dc")).alias("ds"))
        .select(
            "vec_id",
            F.col("ds")[0]["cid"].alias("cluster"),
            F.col("ds")[0]["d"].alias("a_q"),
            F.col("ds")[1]["d"].alias("b_q"),
        )
    )
    si = ranked.select(
        "cluster",
        F.expr("((b_q - a_q) * 10000) div GREATEST(b_q, CAST(1 AS BIGINT))")
        .cast("bigint")
        .alias("si_fixed"),
    )
    return (
        si.groupBy("cluster")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
            F.sum("si_fixed").cast("bigint").alias("sum_si_fixed"),
            (
                F.sum("si_fixed").cast("double")
                / (F.lit(10000.0) * F.count(F.lit(1)))
            ).alias("mean_sil"),
            F.min("si_fixed").cast("bigint").alias("min_si_fixed"),
            F.max("si_fixed").cast("bigint").alias("max_si_fixed"),
        )
        .orderBy("cluster")
    )


# --------------------------------------------------------------------------
#: DBSCAN-style density parameters: eps on cosine similarity, minPts core
_DBSCAN_EPS = 0.25
_DBSCAN_MINPTS = 3


@query(
    "sim_dbscan_core",
    oracle=f"""
WITH base AS (
  SELECT vec_id, label, embedding, {_sql_norm('embedding')} AS nrm
  FROM embeddings
),
nb AS (
  SELECT a.vec_id AS v, b.vec_id AS u
  FROM base a JOIN base b
    ON a.label = b.label AND a.vec_id <> b.vec_id
  WHERE {_sql_dot('a.embedding', 'b.embedding')} / (a.nrm * b.nrm)
        >= {_DBSCAN_EPS}
),
deg AS (SELECT v, COUNT(*) AS n_nb FROM nb GROUP BY v),
core AS (SELECT v FROM deg WHERE n_nb >= {_DBSCAN_MINPTS}),
border AS (
  SELECT DISTINCT nb.v FROM nb JOIN core c ON nb.u = c.v
  WHERE nb.v NOT IN (SELECT v FROM core)
)
SELECT b.vec_id, CAST(b.label AS BIGINT) AS label,
       CAST(COALESCE(d.n_nb, 0) AS BIGINT) AS n_nb,
       CASE WHEN c.v IS NOT NULL THEN 'core'
            WHEN br.v IS NOT NULL THEN 'border'
            ELSE 'noise' END AS role
FROM base b
LEFT JOIN deg d ON d.v = b.vec_id
LEFT JOIN core c ON c.v = b.vec_id
LEFT JOIN border br ON br.v = b.vec_id
ORDER BY vec_id
""",
)
def sim_dbscan_core(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DBSCAN density classification over embeddings: every vector becomes
    ``core`` (>= minPts eps-neighbors), ``border`` (not core, but adjacent
    to a core), or ``noise`` — the pre-clustering density audit that tells
    a curation pipeline which embedding regions are dense duplicates vs
    isolated outliers before running the full cluster expansion
    (dedup_cluster_cc supplies the connected-components step).

    The eps-neighbor graph lives entirely inside label blocks (the
    sim_embedding_neardup posture: density only against same-block
    members; at scale the block key is an LSH/IVF bucket), and DBSCAN's
    whole classification — degree, core test, border test — depends only
    on the block, so ONE grouped-map pass per block computes it with a
    single int64 matmul: no pair row is ever materialized or shuffled
    (the same cell-local kernel as sim_knn_label_agreement). The only
    shuffle is groupBy(label) of the vectors themselves; block size is
    bounded by the blocking key's design.
    """
    t = Tables(spark, sf_dir)

    def block_roles(pdf):
        ai = _quantize(pdf["embedding"].to_numpy())
        nrm = _norms(ai)
        adj = _cosines(ai, nrm, ai, nrm) >= _DBSCAN_EPS
        np.fill_diagonal(adj, False)
        n_nb = adj.sum(axis=1).astype(np.int64)
        is_core = n_nb >= _DBSCAN_MINPTS
        # border: not core, but adjacent to at least one core
        has_core_nb = (adj & is_core[None, :]).any(axis=1)
        role = np.where(
            is_core, "core", np.where(has_core_nb, "border", "noise")
        )
        return pd.DataFrame(
            {
                "vec_id": pdf["vec_id"].astype("int64"),
                "label": pdf["label"].astype("int64"),
                "n_nb": pd.Series(n_nb, dtype="int64"),
                "role": role,
            }
        )

    # no orderBy (the driver compare sorts): a range exchange above the
    # grouped map samples its child, which ran block_roles over every
    # block a second time (Python output rows read 2x the corpus)
    return (
        t.embeddings.select("vec_id", "label", "embedding")
        .groupBy("label")
        .applyInPandas(
            block_roles,
            schema="vec_id long, label long, n_nb long, role string",
        )
    )


# --------------------------------------------------------------------------
@query(
    "sim_anisotropy_audit",
    oracle="""
WITH base AS (
  SELECT vec_id,
         list_transform(embedding, v ->
           CAST(round(CAST(v AS DOUBLE) / sqrt(
             CAST(list_sum(list_transform(embedding,
               x -> CAST(round(CAST(x AS DOUBLE) * 10000000) AS BIGINT)
                    * CAST(round(CAST(x AS DOUBLE) * 10000000) AS BIGINT)))
              AS DOUBLE) / 1e14) * 10000000) AS BIGINT)) AS uq
  FROM embeddings
),
dims AS (
  SELECT CAST(i AS INT) AS d, uq[CAST(i AS INT) + 1] AS x
  FROM base, LATERAL (SELECT unnest(range(0, len(uq))) AS i) g
),
sums AS (
  SELECT d, CAST(SUM(x) AS BIGINT) AS s,
         CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS q
  FROM dims GROUP BY d
),
tot AS (
  SELECT CAST(SUM(CAST(s AS HUGEINT) * s) AS HUGEINT) AS ss,
         CAST(SUM(q) AS BIGINT) AS qq
  FROM sums
),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS nv FROM base)
SELECT nv AS n_vecs, qq AS sum_self_dot,
       CAST(ss - qq AS DOUBLE)
         / CAST(nv * (nv - 1) AS DOUBLE) / 1e14 AS mean_pair_cos
FROM tot, n
""",
)
def sim_anisotropy_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space anisotropy audit WITHOUT any pair join: the mean
    pairwise cosine over ALL N(N-1) ordered pairs computes exactly from
    the per-dimension SUM vector via the identity
    sum_{i != j} <u_i, u_j> = ||SUM u||^2 - SUM ||u||^2 — the corpus
    geometry number (high mean cosine = collapsed/anisotropic space,
    where cosine thresholds stop meaning anything) that naive tooling
    estimates by sampling pairs. Here it is EXACT at any scale with one
    aggregation: O(N*dim) work, a dim-sized shuffle, zero pairs.

    Exactness: vectors are unit-normalized then quantized to scale-7
    ints (norm via the module's int-dot path), so all sums are exact
    integers — Spark holds the squared sums in DECIMAL(38,0) and DuckDB
    in HUGEINT (both exact; the final double conversion of the same
    integer rounds identically), with one fixed division chain at the
    end.
    """
    t = Tables(spark, sf_dir)
    base = t.embeddings.select(
        "vec_id",
        norm(F.col("embedding")).alias("nrm"),
        "embedding",
    ).select(
        "vec_id",
        F.expr(
            "transform(embedding, v -> "
            "CAST(round(CAST(v AS DOUBLE) / nrm * 10000000) AS BIGINT))"
        ).alias("uq"),
    )
    dims = base.select(
        F.posexplode("uq").alias("d", "x")
    )
    sums = dims.groupBy("d").agg(
        F.sum("x").cast("bigint").alias("s"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("q"),
    )
    tot = sums.agg(
        F.sum(
            F.col("s").cast("decimal(38,0)") * F.col("s").cast("decimal(38,0)")
        ).alias("ss"),
        F.sum("q").cast("bigint").alias("qq"),
    )
    n = base.agg(F.count(F.lit(1)).cast("bigint").alias("nv"))
    return tot.crossJoin(F.broadcast(n)).select(
        F.col("nv").alias("n_vecs"),
        F.col("qq").alias("sum_self_dot"),
        (
            (F.col("ss") - F.col("qq")).cast("double")
            / (F.col("nv") * (F.col("nv") - 1)).cast("double")
            / F.lit(1e14)
        ).alias("mean_pair_cos"),
    )


# --------------------------------------------------------------------------
@query(
    "sim_class_separation",
    oracle="""
WITH q AS (
  SELECT label,
         list_transform(embedding,
           v -> CAST(round(CAST(v AS DOUBLE) * 10000000) AS BIGINT)) AS xq
  FROM embeddings
),
dims AS (
  SELECT label, CAST(i AS INT) AS d, xq[CAST(i AS INT) + 1] AS x
  FROM q, LATERAL (SELECT unnest(range(0, len(xq))) AS i) g
),
sums AS (
  SELECT CAST(label AS BIGINT) AS label, d, CAST(SUM(x) AS BIGINT) AS s
  FROM dims GROUP BY label, d
),
norms AS (
  SELECT label,
         sqrt(CAST(SUM(CAST(s AS HUGEINT) * s) AS DOUBLE)) AS nrm
  FROM sums GROUP BY label
),
dots AS (
  SELECT a.label AS label_a, b.label AS label_b,
         CAST(SUM(CAST(a.s AS HUGEINT) * b.s) AS DOUBLE) AS dot
  FROM sums a JOIN sums b ON a.d = b.d AND a.label < b.label
  GROUP BY a.label, b.label
)
SELECT d.label_a, d.label_b,
       d.dot / (na.nrm * nb.nrm) AS centroid_cos
FROM dots d
JOIN norms na ON na.label = d.label_a
JOIN norms nb ON nb.label = d.label_b
ORDER BY label_a, label_b
""",
)
def sim_class_separation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-class separation matrix: the cosine between every pair of
    label CENTROIDS — near-1 entries are classes an embedding model
    cannot separate (merge or relabel them before training a head). The
    trick that makes it exact AND pair-free at the vector level: cosine
    is scale-invariant, so cos(centroid_a, centroid_b) equals
    cos(sum_a, sum_b) — per-label SUM vectors (exact quantized-int
    aggregation, no division) feed a (labels x dims)-sized join, and no
    vector pair is ever formed. O(N*dim) + a k*dim metadata join.

    Exact integer sums ride in HUGEINT/DECIMAL for the squared terms;
    the three final doubles (dot, two norms) derive from the same exact
    integers in both engines.
    """
    t = Tables(spark, sf_dir)
    q = t.embeddings.select(
        F.col("label").cast("bigint").alias("label"),
        F.expr(
            "transform(embedding, "
            "v -> CAST(round(CAST(v AS DOUBLE) * 10000000) AS BIGINT))"
        ).alias("xq"),
    )
    dims = q.select("label", F.posexplode("xq").alias("d", "x"))
    sums = dims.groupBy("label", "d").agg(
        F.sum("x").cast("bigint").alias("s")
    )
    norms = sums.groupBy("label").agg(
        F.sqrt(
            F.sum(
                F.col("s").cast("decimal(38,0)")
                * F.col("s").cast("decimal(38,0)")
            ).cast("double")
        ).alias("nrm")
    )
    a = sums.select(
        F.col("label").alias("label_a"), "d", F.col("s").alias("sa")
    )
    b = sums.select(
        F.col("label").alias("label_b"), "d", F.col("s").alias("sb")
    )
    dots = (
        a.join(b, "d")
        .where(F.col("label_a") < F.col("label_b"))
        .groupBy("label_a", "label_b")
        .agg(
            F.sum(
                F.col("sa").cast("decimal(38,0)")
                * F.col("sb").cast("decimal(38,0)")
            )
            .cast("double")
            .alias("dot")
        )
    )
    na = norms.select(F.col("label").alias("label_a"), F.col("nrm").alias("na"))
    nb = norms.select(F.col("label").alias("label_b"), F.col("nrm").alias("nb"))
    return (
        dots.join(F.broadcast(na), "label_a")
        .join(F.broadcast(nb), "label_b")
        .select(
            "label_a",
            "label_b",
            (F.col("dot") / (F.col("na") * F.col("nb"))).alias("centroid_cos"),
        )
        .orderBy("label_a", "label_b")
    )


# --------------------------------------------------------------------------
_SRP_NBITS = 32
_SRP_PLANES: "np.ndarray | None" = None


def _srp_plane_matrix(dim: int) -> np.ndarray:
    """(32, dim) int64 hyperplane matrix, entry (p,d) derived from
    md5(f"{p}:{d}") exactly like the SQL side — deterministic in any
    engine, any partitioning; cached per process."""
    global _SRP_PLANES
    if _SRP_PLANES is None or _SRP_PLANES.shape[1] != dim:
        import hashlib

        m = np.empty((_SRP_NBITS, dim), dtype=np.int64)
        for p in range(_SRP_NBITS):
            for d in range(dim):
                h = hashlib.md5(f"{p}:{d}".encode()).hexdigest()[:15]
                m[p, d] = int(h, 16) % 1000001 - 500000
        _SRP_PLANES = m
    return _SRP_PLANES


@pandas_udf(LongType())
def _srp_sig(a: pd.Series) -> pd.Series:
    """32-bit signed-random-projection signature packed into one int64.

    One integer matmul per Arrow batch (quantized components x integer
    hyperplanes — exact, order-free), sign bits packed LSB-first."""
    if len(a) == 0:
        return pd.Series([], dtype="int64")
    q = _quantize(a.to_numpy())
    planes = _srp_plane_matrix(q.shape[1])
    bits = (q @ planes.T >= 0).astype(np.int64)
    return pd.Series((bits << np.arange(_SRP_NBITS, dtype=np.int64)).sum(axis=1))


@query(
    "sim_srp_agreement_audit",
    oracle=f"""
WITH dims AS (SELECT unnest(generate_series(0, 63)) AS d),
bits AS (SELECT unnest(generate_series(0, 31)) AS p),
planes AS (
  SELECT b.p, d.d,
         CAST(('0x' || substr(md5(CAST(b.p AS VARCHAR) || ':' ||
           CAST(d.d AS VARCHAR)), 1, 15)) AS BIGINT) % 1000001 - 500000 AS r
  FROM bits b CROSS JOIN dims d
),
base AS (
  SELECT vec_id, label, embedding FROM embeddings WHERE vec_id < 200
),
qcomp AS (
  SELECT b.vec_id, d.d,
         CAST(round(CAST(b.embedding[d.d + 1] AS DOUBLE) * 10000000)
           AS BIGINT) AS qi
  FROM base b CROSS JOIN dims d
),
proj AS (
  SELECT q.vec_id, pl.p, SUM(q.qi * pl.r) AS pr
  FROM qcomp q JOIN planes pl ON pl.d = q.d
  GROUP BY 1, 2
),
sigs AS (
  SELECT vec_id,
         CAST(SUM(CASE WHEN pr >= 0 THEN (CAST(1 AS BIGINT) << p)
                  ELSE 0 END) AS BIGINT) AS sig
  FROM proj GROUP BY vec_id
),
nrm AS (
  SELECT vec_id, label, embedding, {_sql_norm('embedding')} AS nrm FROM base
),
pairs AS (
  SELECT a.vec_id AS d1, b.vec_id AS d2,
         {_sql_dot('a.embedding', 'b.embedding')} / (a.nrm * b.nrm) AS cosine,
         32 - bit_count(xor(sa.sig, sb.sig)) AS agree
  FROM nrm a
  JOIN nrm b ON a.label = b.label AND a.vec_id < b.vec_id
  JOIN sigs sa ON sa.vec_id = a.vec_id
  JOIN sigs sb ON sb.vec_id = b.vec_id
),
scored AS (
  SELECT CAST(floor(cosine * 10) AS BIGINT) AS cos_bucket,
         agree,
         1.0 - acos(greatest(-1.0, least(1.0, cosine))) / pi() AS p_theory
  FROM pairs
)
SELECT cos_bucket,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(SUM(agree) AS BIGINT) AS sum_agree,
       CAST(SUM(agree) AS DOUBLE) / (32 * COUNT(*)) AS avg_p_hat,
       CAST(round(AVG(p_theory), 4) AS DOUBLE) AS avg_p_theory,
       CAST(SUM(CASE WHEN abs(CAST(agree AS DOUBLE) / 32 - p_theory)
                  <= 3 * sqrt(p_theory * (1 - p_theory) / 32) + 1.0 / 32
             THEN 1 ELSE 0 END) AS BIGINT) AS n_within
FROM scored GROUP BY cos_bucket ORDER BY cos_bucket
""",
)
def sim_srp_agreement_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signed-random-projection (SimHash-for-cosine) LSH with its
    Goemans-Williamson collision-probability audit.

    Each vector gets a 32-bit signature map-side: sign bits of 32
    integer hyperplane projections, ONE int64 matmul per Arrow batch,
    packed into a single long (the embedding-space analogue of
    dedup_simhash's text signature; band-splitting that long is the
    sim_ann_bucketed join shape). The audit checks SRP's defining
    theorem — P[sign agree] = 1 - theta/pi — per cosine bucket: observed
    bit-agreement (exact dyadic k/32 arithmetic) vs theory, with a
    3-sigma binomial tolerance, pairs blocked by label exactly like
    sim_embedding_neardup so the quadratic term stays in-block.

    Scale: signatures are a pure projection (no shuffle, corpus-size
    linear); pair generation is block-bounded; the output collapses to
    <=20 bucket rows with map-side partial aggregation. Only the
    signature long and two ids shuffle — never the vectors.
    """
    t = Tables(spark, sf_dir)
    base = t.embeddings.where(F.col("vec_id") < 200).select(
        "vec_id",
        "label",
        "embedding",
        norm(F.col("embedding")).alias("nrm"),
        _srp_sig(F.col("embedding")).alias("sig"),
    )
    a = base.select(
        F.col("vec_id").alias("d1"),
        F.col("label").alias("la"),
        F.col("embedding").alias("ea"),
        F.col("nrm").alias("na"),
        F.col("sig").alias("sa"),
    )
    b = base.select(
        F.col("vec_id").alias("d2"),
        F.col("label").alias("lb"),
        F.col("embedding").alias("eb"),
        F.col("nrm").alias("nb"),
        F.col("sig").alias("sb"),
    )
    pairs = a.join(b, (F.col("la") == F.col("lb")) & (F.col("d1") < F.col("d2")))
    cosine = dot(F.col("ea"), F.col("eb")) / (F.col("na") * F.col("nb"))
    agree = F.lit(32) - F.bit_count(F.col("sa").bitwiseXOR(F.col("sb")))
    theta_frac = F.acos(
        F.greatest(F.lit(-1.0), F.least(F.lit(1.0), F.col("cosine")))
    ) / F.lit(float(np.pi))
    scored = pairs.select(
        cosine.alias("cosine"), agree.alias("agree")
    ).select(
        F.floor(F.col("cosine") * 10).cast("long").alias("cos_bucket"),
        "agree",
        (F.lit(1.0) - theta_frac).alias("p_theory"),
    )
    within = (
        F.abs(F.col("agree").cast("double") / 32 - F.col("p_theory"))
        <= 3 * F.sqrt(F.col("p_theory") * (1 - F.col("p_theory")) / 32)
        + F.lit(1.0 / 32)
    ).cast("int")
    return (
        scored.groupBy("cos_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum("agree").cast("long").alias("sum_agree"),
            (F.sum("agree").cast("double") / (32 * F.count(F.lit(1)))).alias(
                "avg_p_hat"
            ),
            F.round(F.avg("p_theory"), 4).alias("avg_p_theory"),
            F.sum(within).cast("long").alias("n_within"),
        )
        .orderBy("cos_bucket")
    )


# --------------------------------------------------------------------------
_SQL_QVEC = (
    "list_transform({e}, v -> "
    "CAST(round(CAST(v AS DOUBLE) * 10000000) AS BIGINT))"
)
_SQL_ISQDIST = (
    "list_sum(list_transform(list_zip({a}, {b}), "
    "p -> (p[1] - p[2]) * (p[1] - p[2])))"
)


@query(
    "sim_residual_quantize",
    oracle=f"""
WITH q AS (
  SELECT vec_id, {_SQL_QVEC.format(e='embedding')} AS qe FROM embeddings
),
coarse AS (SELECT vec_id AS k, qe AS ce FROM q WHERE vec_id % 83 = 0),
assign AS (
  SELECT vec_id, qe, k AS coarse_id, ce FROM (
    SELECT q.vec_id, q.qe, c.k, c.ce,
           row_number() OVER (
             PARTITION BY q.vec_id
             ORDER BY {_SQL_ISQDIST.format(a='q.qe', b='c.ce')}, c.k
           ) AS rn
    FROM q CROSS JOIN coarse c
  ) WHERE rn = 1
),
resid AS (
  SELECT vec_id, coarse_id,
         list_transform(list_zip(qe, ce), p -> p[1] - p[2]) AS r
  FROM assign
),
codewords AS (SELECT vec_id AS w, r AS we FROM resid WHERE vec_id % 59 = 0),
rassign AS (
  SELECT vec_id, coarse_id, err1, err2 FROM (
    SELECT r.vec_id, r.coarse_id,
           list_sum(list_transform(r.r, v -> v * v)) AS err1,
           {_SQL_ISQDIST.format(a='r.r', b='cw.we')} AS err2,
           row_number() OVER (
             PARTITION BY r.vec_id
             ORDER BY {_SQL_ISQDIST.format(a='r.r', b='cw.we')}, cw.w
           ) AS rn
    FROM resid r CROSS JOIN codewords cw
  ) WHERE rn = 1
)
SELECT coarse_id, CAST(COUNT(*) AS BIGINT) AS n_vecs,
       CAST(SUM(CAST(err1 AS DECIMAL(38,0))) AS DOUBLE)
         / CAST(COUNT(*) AS DOUBLE) / 1e14 AS avg_err_vq,
       CAST(SUM(CAST(err2 AS DECIMAL(38,0))) AS DOUBLE)
         / CAST(COUNT(*) AS DOUBLE) / 1e14 AS avg_err_rq
FROM rassign GROUP BY coarse_id ORDER BY coarse_id
""",
)
def sim_residual_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level residual vector quantization (RVQ) audit — the
    codebook family behind modern ANN compression (and the RQ half of
    IVF-RQ indexes): a coarse codebook captures the region, a second
    codebook quantizes the RESIDUAL x - c, and reconstruction error
    drops vs one-level VQ without growing either codebook. Reports
    per-coarse-cell vector counts and the stage-1 (VQ) vs stage-2 (RVQ)
    mean squared reconstruction error, so the improvement is visible
    per region.

    Codebooks are deterministic data seeds (coarse: vec_id % 83 == 0,
    7 centroids; residual: the residuals of vec_id % 59 == 0, 9
    codewords) so the DuckDB oracle can rebuild them exactly; a
    trained variant would swap in sim_kmeans_iterate's Lloyd passes.

    Determinism contract: scale-7 integer quantization (house _SCALE,
    half-away rounding both engines), all distances and residuals in
    exact int64 (unit-norm inputs: per-dim residual diff <= 2.2e7,
    per-vector err <= 2.8e16), per-cell sums in DECIMAL(38,0), one
    int->double cast at the very end with identical division order.

    Scale posture at 100 TB: both codebooks are bounded collects (7 +
    9 rows) broadcast in the closure; assignment, residual, and both
    error terms are ONE map-only Arrow pass over the partitioned corpus
    (batched numpy matmul-shaped argmin over ``_quantize``d rows, the
    ``_probe_top_k`` map-side shape — no N x K rows ever materialize, no
    corpus shuffle); the
    only shuffle is the final partial-agg groupBy to ~K rows. Adding
    RVQ levels adds map-side flops, never shuffles.
    """
    import numpy as _np

    t = Tables(spark, sf_dir)
    cids, C = _collect_quantized(
        t.embeddings.where(F.col("vec_id") % 83 == 0).select("vec_id", "embedding")
    )
    _, WQ = _collect_quantized(
        t.embeddings.where(F.col("vec_id") % 59 == 0).select("vec_id", "embedding")
    )
    # residual-seed residuals: assign each seed to its nearest coarse
    # centroid (argmin = first minimum = smallest id, both engines)
    dseed = WQ[:, None, :] - C[None, :, :]
    W = WQ - C[_np.einsum("bkd,bkd->bk", dseed, dseed).argmin(axis=1)]

    def rvq_scan(it):
        import pandas as _pd

        for pdf in it:
            if len(pdf) == 0:
                continue
            X = _quantize(pdf["embedding"].to_numpy())
            dc = X[:, None, :] - C[None, :, :]
            a = _np.einsum("bkd,bkd->bk", dc, dc).argmin(axis=1)
            R = X - C[a]
            err1 = _np.einsum("bd,bd->b", R, R)
            dr = R[:, None, :] - W[None, :, :]
            err2 = _np.einsum("bkd,bkd->bk", dr, dr).min(axis=1)
            yield _pd.DataFrame(
                {
                    "coarse_id": _pd.Series(cids[a], dtype="int64"),
                    "err1": _pd.Series(err1, dtype="int64"),
                    "err2": _pd.Series(err2, dtype="int64"),
                }
            )

    return (
        t.embeddings.select("embedding")
        .mapInPandas(rvq_scan, schema="coarse_id long, err1 long, err2 long")
        .groupBy("coarse_id")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            (
                F.sum(F.col("err1").cast("decimal(38,0)")).cast("double")
                / F.count(F.lit(1)).cast("double")
                / F.lit(1e14)
            ).alias("avg_err_vq"),
            (
                F.sum(F.col("err2").cast("decimal(38,0)")).cast("double")
                / F.count(F.lit(1)).cast("double")
                / F.lit(1e14)
            ).alias("avg_err_rq"),
        )
        .orderBy("coarse_id")
    )


# --------------------------------------------------------------------------
@query(
    "sim_ivf_balance_audit",
    oracle=f"""
WITH base AS (
  SELECT vec_id, embedding, {{norm}} AS nrm FROM embeddings
),
cent AS (
  SELECT vec_id AS centroid_id, embedding AS cemb, nrm AS cnrm
  FROM base WHERE vec_id % {{stride}} = 0
),
assign AS (
  SELECT vec_id, centroid_id FROM (
    SELECT b.vec_id, c.centroid_id,
           row_number() OVER (
             PARTITION BY b.vec_id
             ORDER BY {{dot}} / (b.nrm * c.cnrm) DESC, c.centroid_id
           ) AS arn
    FROM base b, cent c
  ) WHERE arn = 1
),
sizes AS (
  SELECT centroid_id, CAST(COUNT(*) AS BIGINT) AS list_size
  FROM assign GROUP BY centroid_id
),
tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_vecs,
         CAST(COUNT(DISTINCT centroid_id) AS BIGINT) AS k_lists
  FROM assign
)
SELECT s.centroid_id, s.list_size,
       s.list_size * 1000000 // t.n_vecs AS share_ppm,
       s.list_size * t.k_lists * 1000000 // t.n_vecs AS vs_uniform_ppm
FROM sizes s CROSS JOIN tot t
ORDER BY s.list_size DESC, s.centroid_id
""".format(
        norm=_sql_norm("embedding"),
        stride=_IVF_STRIDE,
        dot=_sql_dot("b.embedding", "c.cemb"),
    ),
)
def sim_ivf_balance_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF index-health audit: per-inverted-list sizes with their share
    of the corpus and skew vs a perfectly uniform split (1e6 ppm =
    balanced). List balance IS the ANN latency model — a probe visits
    nprobe lists, so p99 query cost is set by the largest lists, and a
    hot list (boilerplate embeddings, a degenerate centroid) silently
    turns "nprobe=2 of 4096 lists" into a near-full scan. Curation runs
    this after (re)training centroids and before swapping an index in;
    the vs_uniform_ppm column is the re-train alarm.

    Scale posture at 100 TB: reuses the map-side broadcast-codebook
    assignment kernel (_ivf_assigned — zero shuffle, no N x K rows);
    the audit itself shuffles only K partial counts and one 2-scalar
    total row joined back by a 1-row broadcast cross join. Exact
    integer ppm arithmetic (`div`), no floats anywhere.
    """
    t = Tables(spark, sf_dir)
    codebook = _ivf_codebook(t)
    sizes = (
        _ivf_assigned(t.embeddings, codebook, 1)
        .groupBy("centroid_id")
        .agg(F.count(F.lit(1)).alias("list_size"))
    )
    tot = sizes.agg(
        F.sum("list_size").cast("bigint").alias("n_vecs"),
        F.count(F.lit(1)).alias("k_lists"),
    )
    return (
        sizes.crossJoin(F.broadcast(tot))  # 1-row scalar merge
        .select(
            "centroid_id",
            "list_size",
            F.expr("list_size * 1000000 div n_vecs").alias("share_ppm"),
            F.expr("list_size * k_lists * 1000000 div n_vecs").alias(
                "vs_uniform_ppm"
            ),
        )
        .orderBy(F.desc("list_size"), "centroid_id")
    )


# --------------------------------------------------------------------------
@query(
    "sim_recall_at_k_curve",
    oracle=f"""
WITH base AS (
  SELECT vec_id, embedding, {_sql_norm('embedding')} AS nrm FROM embeddings
),
cent AS (
  SELECT vec_id AS centroid_id, embedding AS cemb, nrm AS cnrm
  FROM base WHERE vec_id % {_IVF_STRIDE} = 0
),
assign AS (
  SELECT b.vec_id, b.embedding, b.nrm, c.centroid_id,
         row_number() OVER (
           PARTITION BY b.vec_id
           ORDER BY {_sql_dot('b.embedding', 'c.cemb')} / (b.nrm * c.cnrm) DESC,
                    c.centroid_id) AS arn
  FROM base b, cent c
),
corpus AS (SELECT vec_id, embedding, nrm, centroid_id FROM assign WHERE arn = 1),
probes AS (SELECT vec_id, embedding, nrm, centroid_id, arn FROM assign
           WHERE arn <= 3 AND vec_id < 20),
exact_top AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           row_number() OVER (
             PARTITION BY q.vec_id
             ORDER BY {_sql_dot('q.embedding', 'c.embedding')}
                      / (q.nrm * c.nrm) DESC, c.vec_id) AS rn
    FROM base q, base c WHERE q.vec_id < 20 AND q.vec_id <> c.vec_id
  ) WHERE rn <= 3
),
configs AS (SELECT unnest(range(1, 4)) AS nprobe),
scored AS (
  SELECT g.nprobe, p.vec_id AS query_id, s.vec_id AS neighbor_id,
         {_sql_dot('p.embedding', 's.embedding')} / (p.nrm * s.nrm) AS cosine
  FROM configs g
  JOIN probes p ON p.arn <= g.nprobe
  JOIN corpus s ON p.centroid_id = s.centroid_id AND p.vec_id <> s.vec_id
),
topk AS (
  SELECT nprobe, query_id, neighbor_id FROM (
    SELECT *, row_number() OVER (
      PARTITION BY nprobe, query_id ORDER BY cosine DESC, neighbor_id) AS rn
    FROM scored
  ) WHERE rn <= 3
),
counts AS (SELECT nprobe, CAST(COUNT(*) AS BIGINT) AS n_candidates
           FROM scored GROUP BY nprobe),
hits AS (
  SELECT t.nprobe, CAST(COUNT(*) AS BIGINT) AS n_hits
  FROM topk t JOIN exact_top e
    ON e.query_id = t.query_id AND e.neighbor_id = t.neighbor_id
  GROUP BY t.nprobe
)
SELECT CAST(c.nprobe AS BIGINT) AS nprobe, n.n_candidates, h.n_hits,
       h.n_hits * 1000000 // 60 AS recall_ppm
FROM configs c
JOIN counts n ON n.nprobe = c.nprobe
JOIN hits h ON h.nprobe = c.nprobe
ORDER BY c.nprobe
""",
)
def sim_recall_at_k_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF nprobe tuning curve — the ANN twin of dedup_lsh_tuning_curve:
    for nprobe in {{1,2,3}}, measured candidate volume and recall@3 of
    the IVF probe against exact brute-force top-3 over the 20-query
    probe set. nprobe is THE latency/recall knob of an IVF index
    (candidates scale linearly with it, recall saturates); deployments
    pick the knee of exactly this table before serving.

    Hash-exactness: recall is integer hit counting (hits * 1e6 div 60),
    immune to last-ulp cosine differences; candidate counts are exact;
    the cosine ordering inside each top-3 uses the house int64-dot ->
    double pipeline, identical in both engines.

    Scale posture at 100 TB: corpus assignment is the map-side
    broadcast-codebook kernel (zero shuffle, one pass, reused across
    all three nprobe configs — the config join multiplies only the
    20-row probe side); probing is the centroid-keyed equi-join; the
    exact ground truth is O(corpus x 20 probes) BY DESIGN, the same
    measured-recall protocol as sim_ann_recall.
    """
    t = Tables(spark, sf_dir)
    codebook = _ivf_codebook(t)
    corpus = _ivf_assigned(t.embeddings, codebook, 1).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("ce"),
        F.col("nrm").alias("cn"),
        "centroid_id",
    )
    probes = _ivf_assigned(
        t.embeddings.where(F.col("vec_id") < 20), codebook, 3, emit_rank=True
    ).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        F.col("nrm").alias("qn"),
        F.col("centroid_id").alias("pcent"),
        "arn",
    )
    configs = spark.range(1, 4).select(F.col("id").alias("nprobe"))
    scored = (
        configs.join(probes, F.col("arn") <= F.col("nprobe"))
        .join(
            corpus,
            (F.col("pcent") == F.col("centroid_id"))
            & (F.col("query_id") != F.col("neighbor_id")),
        )
        .select(
            "nprobe",
            "query_id",
            "neighbor_id",
            (dot(F.col("qe"), F.col("ce")) / (F.col("qn") * F.col("cn"))).alias(
                "cosine"
            ),
        )
    )
    topk = top_k(scored, ["nprobe", "query_id"], _by_cosine(), 3).select(
        "nprobe", "query_id", "neighbor_id"
    )
    exact = _probe_top_k(t.embeddings, _first_vectors(t, 20), 3).select(
        "query_id", "neighbor_id"
    )
    counts = scored.groupBy("nprobe").agg(
        F.count(F.lit(1)).alias("n_candidates")
    )
    hits = topk.join(exact, ["query_id", "neighbor_id"]).groupBy("nprobe").agg(
        F.count(F.lit(1)).alias("n_hits")
    )
    return (
        counts.join(hits, "nprobe")
        .select(
            "nprobe",
            "n_candidates",
            "n_hits",
            F.expr("n_hits * 1000000 div 60").alias("recall_ppm"),
        )
        .orderBy("nprobe")
    )


# --------------------------------------------------------------------------
#: Bitext mining constants: neighborhood size for the margin denominators
#: and the mining threshold in milli-margin units (1.0 = the pair's cosine
#: exactly equals the mean of its two k-NN neighborhoods; real pipelines
#: mine at ~1.05-1.2). The query side is bounded by doc_id cutoff, so the
#: shipped matrix is closure-bounded at any corpus scale.
_BITEXT_K = 4
_BITEXT_MARGIN_MILLI = 1005
_BITEXT_X_CUTOFF = 250


@query(
    "sim_bitext_margin_mining",
    oracle=f"""
WITH e AS (
  SELECT vec_id, embedding, {_sql_norm('embedding')} AS nrm FROM embeddings
),
x AS (
  SELECT d.doc_id AS xid, e.embedding, e.nrm
  FROM documents d JOIN e ON e.vec_id = d.doc_id
  WHERE d.lang = 'en' AND d.doc_id < {_BITEXT_X_CUTOFF}
),
y AS (
  SELECT d.doc_id AS yid, e.embedding, e.nrm
  FROM documents d JOIN e ON e.vec_id = d.doc_id
  WHERE d.lang = 'de'
),
s AS (
  SELECT x.xid, y.yid,
         CAST(round({_sql_dot('x.embedding', 'y.embedding')}
              / (x.nrm * y.nrm) * 1000000) AS BIGINT) AS q6
  FROM x, y
),
cx AS (
  SELECT xid, yid, q6,
         row_number() OVER (PARTITION BY xid ORDER BY q6 DESC, yid) AS rx
  FROM s
),
sx AS (
  SELECT xid, CAST(SUM(q6) AS BIGINT) AS sxq
  FROM cx WHERE rx <= {_BITEXT_K} GROUP BY xid
),
cy AS (
  SELECT xid, yid, q6,
         row_number() OVER (PARTITION BY yid ORDER BY q6 DESC, xid) AS ry
  FROM s
),
sy AS (
  SELECT yid, CAST(SUM(q6) AS BIGINT) AS syq
  FROM cy WHERE ry <= {_BITEXT_K} GROUP BY yid
)
SELECT c.xid AS en_id, c.yid AS de_id, c.q6 AS cos_q6,
       c.q6 * {2 * _BITEXT_K * 1000} // (sx.sxq + sy.syq) AS margin_milli
FROM cx c JOIN sx ON c.xid = sx.xid JOIN sy ON c.yid = sy.yid
WHERE c.rx <= {_BITEXT_K} AND c.q6 > 0 AND sx.sxq > 0 AND sy.syq > 0
  AND c.q6 * {2 * _BITEXT_K * 1000} // (sx.sxq + sy.syq)
      >= {_BITEXT_MARGIN_MILLI}
ORDER BY en_id, de_id
""",
)
def sim_bitext_margin_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Margin-based bitext mining (Artetxe & Schwenk 2019 — the public
    LASER/CCMatrix method): mine cross-lingual parallel document pairs
    whose cosine similarity stands OUT of both documents' neighborhoods —
    score(x, y) = cos(x, y) / ((avg top-k cos(x, ·) + avg top-k
    cos(y, ·)) / 2) — rather than clearing an absolute cosine bar, which
    hubness breaks at corpus scale. Pairs with margin >= 1.005 (milli
    units, exact integers) are emitted.

    Single-kernel design (the ``_probe_top_k`` shape with a margin
    payload): the bounded English query matrix ships in the closure;
    ONE mapInPandas pass over the German corpus scores each batch
    against every query with one int64 matmul and emits (a) each y's EXACT top-k-over-X neighborhood
    sum (X is complete in the closure) and (b) a per-x partial top-k —
    a superset of the global top-k under the total order (q6 DESC, yid).
    The global window then fixes each x's candidate set AND its
    neighborhood sum from the same <= partitions * |X| * k rows; the
    corpus is never shuffled. All similarity is the repo's exact
    scaled-int64 cosine quantized to micro-units, so margins are integer
    arithmetic — bit-identical across engines; positivity filters keep
    the integer division on the floor==trunc side in both.
    """
    import numpy as _np

    t = Tables(spark, sf_dir)
    docs = t.documents.select("doc_id", "lang")
    emb = t.embeddings.select("vec_id", "embedding")
    x_ids, x_int = _collect_quantized(
        docs.where(
            (F.col("lang") == "en") & (F.col("doc_id") < _BITEXT_X_CUTOFF)
        )
        .join(emb, F.col("doc_id") == F.col("vec_id"))
        .select("doc_id", "embedding")
    )
    x_nrm = _norms(x_int)
    k = _BITEXT_K

    def mine_part(it):
        import pandas as _pd

        for pdf in it:
            if len(pdf) == 0:
                continue
            ai = _quantize(pdf["embedding"].to_numpy())
            cos = _cosines(ai, _norms(ai), x_int, x_nrm)
            q6 = _round_half_away(cos * 1e6)  # |batch| x |X|, int64
            y_ids = pdf["vec_id"].to_numpy()
            # exact per-y neighborhood sum over the COMPLETE X set
            sy = _np.empty(len(y_ids), dtype=_np.int64)
            for i in range(len(y_ids)):
                pick = _np.lexsort((x_ids, -q6[i]))[:k]
                sy[i] = q6[i][pick].sum()
            # per-x partial top-k (superset of the global top-k)
            out_x, out_y, out_q, out_s = [], [], [], []
            for j in range(len(x_ids)):
                pick = _np.lexsort((y_ids, -q6[:, j]))[:k]
                out_x.extend([x_ids[j]] * len(pick))
                out_y.extend(y_ids[pick])
                out_q.extend(q6[pick, j])
                out_s.extend(sy[pick])
            yield _pd.DataFrame(
                {
                    "en_id": _pd.Series(out_x, dtype="int64"),
                    "de_id": _pd.Series(out_y, dtype="int64"),
                    "cos_q6": _pd.Series(out_q, dtype="int64"),
                    "syq": _pd.Series(out_s, dtype="int64"),
                }
            )

    ycorpus = (
        docs.where(F.col("lang") == "de")
        .join(emb, F.col("doc_id") == F.col("vec_id"))
        .select("vec_id", "embedding")
    )
    partial = ycorpus.mapInPandas(
        mine_part,
        schema="en_id long, de_id long, cos_q6 long, syq long",
    )
    topk = top_k(partial, ["en_id"], [F.desc("cos_q6"), F.asc("de_id")], k)
    wsum = Window.partitionBy("en_id")
    mined = (
        topk.withColumn("sxq", F.sum("cos_q6").over(wsum).cast("bigint"))
        .where(
            (F.col("cos_q6") > 0) & (F.col("sxq") > 0) & (F.col("syq") > 0)
        )
        .withColumn(
            "margin_milli",
            F.expr(f"cos_q6 * {2 * k * 1000} div (sxq + syq)"),
        )
        .where(F.col("margin_milli") >= _BITEXT_MARGIN_MILLI)
    )
    return mined.select("en_id", "de_id", "cos_q6", "margin_milli").orderBy(
        "en_id", "de_id"
    )
