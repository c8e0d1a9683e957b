"""Scale-engineering utilities: the techniques that keep joins/aggregations
healthy at 100 TB (SURVEY.md §4.2 / build plan step 4).

The reference handles none of these (no AQE, no skew handling, no spill —
tuning-guide.md); Spark gives AQE for free, and these helpers cover the two
cases AQE can't fix alone:

- **Salted joins** for extreme key skew: AQE's skew-join splits oversized
  *partitions*, but a single hot KEY still lands in one task on the build
  side. Salting fans the hot side out N ways and replicates the dim rows.
- **Bucketed tables** for repeated co-located joins: pre-shuffle once at
  write time (bucketBy), then every future equi-join on the bucket key runs
  exchange-free.
"""

from __future__ import annotations

import threading
from collections.abc import Callable, Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    fact_key: str,
    dim_key: str,
    salt: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Equi-join with key salting for skewed fact keys.

    fact rows get a random-but-deterministic salt in [0, salt); dim rows are
    replicated `salt` times. The join key becomes (key, salt), spreading a
    hot key across `salt` tasks. Deterministic: the salt is derived from a
    hash of the full fact row's key + a monotonic component, not rand(),
    so retried tasks produce identical output (Spark task retry safety).

    Cost model: dim side grows by `salt` x — use only when the dim is small
    or pre-filtered, which is exactly the skew scenario (few hot keys).

    Only fact-preserving join types are allowed: right/full outer joins
    would emit each unmatched (replicated) dim row `salt` times.
    """
    allowed = {"inner", "left", "left_outer", "leftouter", "left_semi", "leftsemi"}
    if how.lower() not in allowed:
        raise ValueError(
            f"salted_join supports fact-preserving joins only ({sorted(allowed)}); "
            f"got how={how!r} — unmatched dim rows would be duplicated {salt}x"
        )
    fact_salted = fact.withColumn(
        "__salt", F.pmod(F.xxhash64(F.col(fact_key), F.monotonically_increasing_id()), F.lit(salt)).cast("int")
    )
    salts = F.explode(F.sequence(F.lit(0), F.lit(salt - 1))).alias("__salt")
    dim_replicated = dim.select("*", salts)
    joined = fact_salted.join(
        dim_replicated,
        (fact_salted[fact_key] == dim_replicated[dim_key])
        & (fact_salted["__salt"] == dim_replicated["__salt"]),
        how,
    )
    return joined.drop("__salt")


def top_k(
    df: DataFrame,
    by: Sequence[str | Column],
    order: Sequence[str | Column],
    k: int,
    rank: str | None = None,
) -> DataFrame:
    """The ``k`` first rows of each ``by`` group under ``order``: the one
    place a per-group rank-limit is spelled.

    ``row_number() OVER (PARTITION BY by ORDER BY order) <= k`` with the
    filter directly on the window, the shape Spark's InferWindowGroupLimit
    rewrites into a ``WindowGroupLimit`` heap below the group's exchange —
    at 100 TB the shuffle carries <= k rows per (map partition, group), not
    the corpus. Every k takes this path, k=1 included: ``min(struct(...))``
    plans a SortAggregate on Spark 4.1 and picks a different row than the
    window when an order key is null or NaN.

    ``order`` must end in a total tie-break (a key unique within the
    group), or the chosen rows are nondeterministic — the README's LIMIT
    contract. Keep other windows on the same frame (group counts, sums)
    in an earlier step: a second window spec in the same projection puts
    another Window node between the filter and the rank, and Spark then
    infers no group limit.

    The rank column is dropped unless ``rank`` names it. An empty ``by``
    raises: a global top-k is one task over the corpus and needs a
    distributed rank, not this kernel.
    """
    if not by:
        raise ValueError("top_k needs a partition key; a global rank is one task over the corpus")
    rn = rank or "__top_k_rn"
    w = Window.partitionBy(*by).orderBy(*order)
    out = df.withColumn(rn, F.row_number().over(w)).where(F.col(rn) <= k)
    return out if rank else out.drop(rn)


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_cols: list[str],
    n_buckets: int = 32,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist as a bucketed (+sorted) managed table: the reference's
    `file_sort_order` / hash-partitioned listing table analogue
    (datafusion.proto:99-115). Joins/aggregations on the bucket columns
    then require no exchange (see tests/test_scale.py plan assertion)."""
    writer = df.write.mode(mode).bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table_name)


def cohort_join_bucketed(
    spark: SparkSession, left_table: str, right_table: str, on: list[str], how: str = "inner"
) -> DataFrame:
    """Join two tables bucketed on the same key: Catalyst sees the matching
    hash distribution and plans SortMergeJoin WITHOUT exchanges."""
    return spark.table(left_table).join(spark.table(right_table), on, how)


# --------------------------------------------------------------------------
# Z-order data layout: multi-dimensional clustering for scan pruning.

from datafusion_ballista_dhruvil_spark.operators.registry import query
from datafusion_ballista_dhruvil_spark.session import Tables

#: Each dimension is quantized to a 6-bit rank against the column's actual
#: max (computed in-query, as OPTIMIZE ZORDER's range-bound pass does), so
#: the interleaved 12-bit key is dense regardless of scale factor; the top
#: 6 bits (3 per dimension) define 64 coarse "files".
_Z_BITS = 6
_Z_EPOCH = "1995-01-01"  # testdata orders date range starts here


def _zkey_sql(x: str, y: str, duck: bool) -> str:
    """Bit-interleave two 16-bit ints into one 32-bit Morton (z-order) key.

    Generated as one flat integer expression so BOTH engines evaluate the
    identical op tree: DuckDB gets `>>`/`<<` operators, Spark SQL gets
    shiftright()/shiftleft() (all exact int64 ops in both)."""
    terms = []
    for i in range(_Z_BITS):
        if duck:
            terms.append(f"((({x} >> {i}) & 1) << {2 * i})")
            terms.append(f"((({y} >> {i}) & 1) << {2 * i + 1})")
        else:
            terms.append(f"shiftleft(shiftright({x}, {i}) & 1, {2 * i})")
            terms.append(f"shiftleft(shiftright({y}, {i}) & 1, {2 * i + 1})")
    return "(" + " + ".join(terms) + ")"


_PRUNE_SQL = """
SELECT layout, predicate, COUNT(*) AS n_buckets,
       COUNT(CASE WHEN prunable THEN 1 END) AS n_pruned,
       CAST(SUM(n_rows) AS BIGINT) AS rows_total,
       CAST(SUM(CASE WHEN prunable THEN n_rows ELSE 0 END) AS BIGINT)
         AS rows_skipped,
       CAST(SUM(CASE WHEN prunable THEN n_rows ELSE 0 END) AS DOUBLE)
         / CAST(SUM(n_rows) AS DOUBLE) AS frac_skipped
FROM preds GROUP BY layout, predicate ORDER BY layout, predicate
"""

#: the two probe predicates; min/max file-skipping uses ONLY these stats
_CK_LO, _CK_HI = 100, 300
_DY_LO, _DY_HI = 600, 900


@query(
    "ops_zorder_pruning",
    oracle=f"""
WITH base AS (
  SELECT o_custkey AS ck,
         CAST(o_orderdate AS DATE) - DATE '{_Z_EPOCH}' AS dy
  FROM orders
),
dom AS (SELECT MAX(ck) + 1 AS mck, MAX(dy) + 1 AS mdy FROM base),
q AS (
  SELECT ck, dy, (ck * 64) // mck AS xq, (dy * 64) // mdy AS yq
  FROM base, dom
),
keyed AS (
  SELECT ck, dy,
         {_zkey_sql("xq", "yq", duck=True)} >> 6 AS zbucket,
         yq AS tbucket
  FROM q
),
stats AS (
  SELECT 'zorder' AS layout, zbucket AS bucket, COUNT(*) AS n_rows,
         MIN(ck) AS min_ck, MAX(ck) AS max_ck,
         MIN(dy) AS min_dy, MAX(dy) AS max_dy
  FROM keyed GROUP BY zbucket
  UNION ALL
  SELECT 'time_linear', tbucket, COUNT(*), MIN(ck), MAX(ck), MIN(dy), MAX(dy)
  FROM keyed GROUP BY tbucket
),
preds AS (
  SELECT layout, 'custkey_range' AS predicate, n_rows,
         (max_ck < {_CK_LO} OR min_ck > {_CK_HI}) AS prunable
  FROM stats
  UNION ALL
  SELECT layout, 'date_range', n_rows,
         (max_dy < {_DY_LO} OR min_dy > {_DY_HI})
  FROM stats
)
{_PRUNE_SQL}
""",
)
def ops_zorder_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton-curve) data layout vs time-linear layout, scored by
    min/max file-skipping — the Delta/Iceberg `OPTIMIZE ZORDER BY` story.

    At 100 TB the scan is won or lost at WRITE time: parquet footers carry
    per-file min/max, and a predicate prunes a file iff its range misses.
    This operator simulates 64 "files" under two layouts — time-linear
    (the natural ingest order) and z-order on (custkey, orderdate) — then
    evaluates two single-dimension predicates against ONLY the per-file
    min/max stats. Expected shape, verified by the oracle: time-linear
    prunes the date predicate perfectly but the custkey predicate not at
    all; z-order prunes BOTH dimensions substantially — the reason
    multi-dim clustering exists.

    Scale: the z-key is 32 integer bit-ops per row, map-only, codegen'd;
    stats are one partial-agg shuffle on the 64-value bucket key. The
    production write is `df.repartitionByRange(n, zkey).sortWithinPartitions
    (zkey).write.parquet(...)` — same key, real footers.
    """
    t = Tables(spark, sf_dir)
    base = t.orders.select(
        F.col("o_custkey").alias("ck"),
        F.datediff(
            F.col("o_orderdate").cast("date"), F.lit(_Z_EPOCH).cast("date")
        ).alias("dy"),
    )
    dom = base.agg(
        (F.max("ck") + 1).alias("mck"), (F.max("dy") + 1).alias("mdy")
    )
    q = base.crossJoin(F.broadcast(dom)).select(
        "ck",
        "dy",
        F.expr("(ck * 64) div mck").alias("xq"),
        F.expr("(dy * 64) div mdy").alias("yq"),
    )
    keyed = q.select(
        "ck",
        "dy",
        F.expr(f"({_zkey_sql('xq', 'yq', duck=False)}) >> 6").alias("zbucket"),
        F.col("yq").alias("tbucket"),
    )

    def _stats(df: DataFrame, layout: str, bucket: str) -> DataFrame:
        return df.groupBy(F.col(bucket).alias("bucket")).agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("ck").alias("min_ck"),
            F.max("ck").alias("max_ck"),
            F.min("dy").alias("min_dy"),
            F.max("dy").alias("max_dy"),
        ).select(F.lit(layout).alias("layout"), "*")

    stats = _stats(keyed, "zorder", "zbucket").unionAll(
        _stats(keyed, "time_linear", "tbucket")
    )
    preds = stats.select(
        "layout",
        F.lit("custkey_range").alias("predicate"),
        "n_rows",
        ((F.col("max_ck") < _CK_LO) | (F.col("min_ck") > _CK_HI)).alias(
            "prunable"
        ),
    ).unionAll(
        stats.select(
            "layout",
            F.lit("date_range").alias("predicate"),
            "n_rows",
            ((F.col("max_dy") < _DY_LO) | (F.col("min_dy") > _DY_HI)).alias(
                "prunable"
            ),
        )
    )
    skipped = F.sum(F.when(F.col("prunable"), F.col("n_rows")).otherwise(0))
    return (
        preds.groupBy("layout", "predicate")
        .agg(
            F.count(F.lit(1)).alias("n_buckets"),
            F.count(F.when(F.col("prunable"), 1)).alias("n_pruned"),
            F.sum("n_rows").cast("bigint").alias("rows_total"),
            skipped.cast("bigint").alias("rows_skipped"),
            (
                skipped.cast("double") / F.sum("n_rows").cast("double")
            ).alias("frac_skipped"),
        )
        .orderBy("layout", "predicate")
    )


#: ``scope``: the caches and post-action checks of the query this thread
#: is building, or None outside a build. Per thread, because the Flight
#: and REST servers build queries on several threads at once.
_build = threading.local()


class _Scope:
    def __init__(self) -> None:
        self.caches: list[tuple[DataFrame, bool]] = []  # (cache, prepare)
        self.checks: list[Callable[[], None]] = []


def cached(df: DataFrame, prepare: bool = False) -> DataFrame:
    """Persist ``df`` until the current query's action completes.

    The one spelling for a builder intermediate that the returned plan
    reads several times. Inside a build scope (every ``@query`` builder
    runs in one, see ``owned_build``) the frame is cached and the scope
    owns it; outside one (tests, ad-hoc helper calls) it is returned
    unpersisted, because nothing would ever release it.

    ``prepare``: materialize the cache with one ``count()`` job right
    before the query's first action, never at plan build, so the
    consumer subtrees of a saturating build do not race a cold cache
    while plan-only tooling still builds the query without running it.
    """
    scope = getattr(_build, "scope", None)
    if scope is None:
        return df
    scope.caches.append((df.cache(), prepare))
    return df


def after_action(check: Callable[[], None]) -> None:
    """Run ``check`` once the current query's first action has returned,
    to read what it observed (``dedup.observe_bucket_cap``). A failed
    action, a plan-only build (``release_owned``) and a call outside a
    build scope drop it unrun: nothing waits for an action."""
    scope = getattr(_build, "scope", None)
    if scope is not None:
        scope.checks.append(check)


def release_cached() -> None:
    """Unpersist every cache the current build has made so far, for a
    builder whose later stages no longer read them."""
    scope = getattr(_build, "scope", None)
    if scope is not None:
        _unpersist(c for c, _ in scope.caches)
        scope.caches.clear()


def _unpersist(caches) -> None:
    for c in caches:
        try:
            c.unpersist()
        except Exception:  # noqa: BLE001 — release must never mask the action's result
            pass


def owned_build(build: Callable[[], DataFrame]) -> DataFrame:
    """Run one query build in a scope that owns every cache it makes.

    Builders persist corpus-sized intermediates that the returned plan
    consumes several times (shingle arrays, minhash signatures,
    candidate sets), each through ``cached``. Left registered, such
    caches accumulate in the long-lived session, and their stochastic
    eviction made suite timing order-DEPENDENT (PERF.md r6: three
    no-clear suites read 284/316/347 s with a different slow cluster
    each run). The scope collects them; when the build cached
    anything, the returned DataFrame unpersists them as soon as its own
    terminal action (collect / toPandas / count) completes. A build
    that caches nothing gets its frame back untouched. A build that
    raises releases what it cached before the error propagates. The
    scope also holds the build's ``after_action`` checks: they run after
    that first action returns, and are dropped with the caches.

    persist/unpersist cannot change results — this is timing-only.

    Implementation: instance-level method shadowing instead of a
    DataFrame subclass, so every other behavior (plan inspection,
    further transformation, driver-side schema access) is untouched.
    Release is idempotent; a second action on the same instance simply
    recomputes uncached (driver, bench, and pytest all build a fresh
    DataFrame per run, so in practice each cache lives for exactly one
    materialization). A failing action, or a failing ``prepare`` count,
    still releases. ``toLocalIterator`` is not wrapped: it returns a
    lazy iterator, so a release on return would fire before consumption.

    Contract for plan-only consumers: the caches register at plan-BUILD
    time, so a caller that never runs a wrapped action
    (plan-fingerprint tooling, formatted_plan tests) leaves them in the
    session. An unmaterialized cache holds no executor memory, but it
    changes LATER plans: any query that shares the cached subtree plans
    an InMemoryRelation whose size estimate exceeds the broadcast bar,
    so its broadcasts flip to sort-merge. Measured: a plan-only build of
    dedup_kcore_peel took dedup_chunk_pagerank's plan from 46 to 53
    exchanges. A caller that reads the plan without running an action
    must call the returned DataFrame's ``release_owned()`` when it has
    one; ``plans.inspect.fingerprints`` does so after every query. It
    drops the checks without running them.

    A build nested in another (a builder calling a builder) adds its
    caches to the outer scope, which owns the frame the outer returns.
    """
    if getattr(_build, "scope", None) is not None:
        return build()
    scope = _Scope()
    _build.scope = scope
    try:
        df = build()
    except BaseException:
        release_cached()
        raise
    finally:
        _build.scope = None
    if not scope.caches and not scope.checks:
        return df
    caches = [c for c, _ in scope.caches]
    warm = [c for c, prepare in scope.caches if prepare]
    checks = scope.checks

    def _release() -> None:
        _unpersist(caches)
        caches.clear()
        warm.clear()
        checks.clear()

    def _wrap(name: str):
        orig = getattr(df, name)

        def wrapped(*a, **k):
            run = list(checks)
            try:
                while warm:
                    warm.pop(0).count()
                out = orig(*a, **k)
            finally:
                _release()
            for check in run:
                check()
            return out

        wrapped.__name__ = name
        return wrapped

    for name in ("collect", "toPandas", "count"):
        setattr(df, name, _wrap(name))
    df.release_owned = _release
    return df
