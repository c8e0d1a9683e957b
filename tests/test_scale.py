"""Scale-technique tests: salted joins produce identical results to plain
joins; bucketed tables join without exchanges."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from datafusion_ballista_dhruvil_spark.operators.scale import (
    cohort_join_bucketed,
    salted_join,
    write_bucketed,
)
from datafusion_ballista_dhruvil_spark.plans.inspect import formatted_plan, tree_nodes
from datafusion_ballista_dhruvil_spark.session import Tables

from tests.conftest import SF_DIR


def test_salted_join_equals_plain_join(spark):
    t = Tables(spark, SF_DIR)
    fact = t.lineitem.select("l_orderkey", "l_suppkey", "l_quantity")
    dim = t.supplier.select("s_suppkey", "s_name")
    plain = (
        fact.join(dim, fact.l_suppkey == dim.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("l_quantity").alias("q"))
    )
    salted = (
        salted_join(fact, dim, "l_suppkey", "s_suppkey", salt=8)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("l_quantity").alias("q"))
    )
    a = sorted(map(tuple, plain.collect()))
    b = sorted(map(tuple, salted.collect()))
    assert a == b and len(a) > 0


def test_bucketed_join_has_no_shuffle(spark):
    t = Tables(spark, SF_DIR)
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    write_bucketed(
        t.orders.select("o_orderkey", "o_totalprice"), "b_orders", ["o_orderkey"], 8
    )
    write_bucketed(
        t.lineitem.select(F.col("l_orderkey").alias("o_orderkey"), "l_quantity"),
        "b_lineitem",
        ["o_orderkey"],
        8,
    )
    joined = cohort_join_bucketed(spark, "b_orders", "b_lineitem", ["o_orderkey"])
    # co-located join: zero shuffle exchanges in the join plan
    plan = formatted_plan(joined)
    assert "Exchange" not in tree_nodes(plan), plan[:500]
    assert joined.count() > 0
    spark.sql("DROP TABLE b_orders")
    spark.sql("DROP TABLE b_lineitem")


def test_results_partition_invariant(spark):
    """Determinism under re-partitioning: the engine's hash-based operators
    (splits, packing, dedup signatures) must produce IDENTICAL results when
    the shuffle partition count changes — the property that makes results
    reproducible across cluster sizes (4 partitions here stands in for a
    different executor count than 8/32)."""
    from datafusion_ballista_dhruvil_spark.operators import load_all
    from datafusion_ballista_dhruvil_spark.operators.registry import QUERIES

    load_all()
    names = [
        "split_hash_assign",
        "pack_token_bins",
        "dedup_exact",
        "ops_table_checksum",
        "text_bigram_lm_score",
        "text_chunk_crossdup",
        # r4: hash/window determinism of the new operators under
        # re-partitioning
        "dedup_cdc_chunks",
        "sample_weighted_expjump",
        "text_feature_hashing",
        "dedup_sorted_neighborhood",
    ]
    old = spark.conf.get("spark.sql.shuffle.partitions")
    results = {}
    try:
        for n in ("4", "17"):
            spark.conf.set("spark.sql.shuffle.partitions", n)
            for name in names:
                rows = sorted(map(tuple, QUERIES[name](spark, SF_DIR).collect()))
                assert rows, f"{name} empty at {n} partitions"
                results.setdefault(name, []).append(rows)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    for name, (a, b) in results.items():
        assert a == b, f"{name} differs across partition counts"


def test_zorder_real_parquet_write_prunes_row_groups(spark, tmp_path):
    """ops_zorder_pruning's simulation, proven on REAL parquet: write the
    same rows time-sorted vs z-ordered (small row groups), filter on
    custkey, and compare the scan's output-rows metric — the z-ordered
    layout must let parquet min/max statistics skip most row groups."""
    from pyspark.sql import functions as F

    from datafusion_ballista_dhruvil_spark.operators.scale import _zkey_sql
    from datafusion_ballista_dhruvil_spark.plans.metrics import executed_metrics
    from datafusion_ballista_dhruvil_spark.session import Tables
    from tests.conftest import SF_DIR

    base = Tables(spark, SF_DIR).orders.select(
        "o_orderkey",
        F.col("o_custkey").alias("ck"),
        F.datediff(
            F.col("o_orderdate").cast("date"), F.lit("1995-01-01").cast("date")
        ).alias("dy"),
    )
    mck, mdy = base.agg(F.max("ck") + 1, F.max("dy") + 1).first()
    q = base.select(
        "o_orderkey",
        "ck",
        "dy",
        F.expr(f"(ck * 64) div {mck}").alias("xq"),
        F.expr(f"(dy * 64) div {mdy}").alias("yq"),
    ).withColumn("zkey", F.expr(_zkey_sql("xq", "yq", duck=False)))

    time_dir, z_dir = str(tmp_path / "time"), str(tmp_path / "zord")
    (
        q.repartitionByRange(4, "dy").sortWithinPartitions("dy")
        .write.option("parquet.block.size", 65536).parquet(time_dir)
    )
    (
        q.repartitionByRange(4, "zkey").sortWithinPartitions("zkey")
        .write.option("parquet.block.size", 65536).parquet(z_dir)
    )

    def scan_rows(path: str) -> int:
        df = spark.read.parquet(path).where(F.col("ck").between(100, 300))
        df.collect()
        return max(
            v
            for r in executed_metrics(df)
            if "Scan" in r["node"]
            for k, v in r["metrics"].items()
            if "output rows" in k
        )

    t_rows, z_rows = scan_rows(time_dir), scan_rows(z_dir)
    total = q.count()
    # same query, same rows — but the z-ordered layout's row-group stats
    # prune most of the file, while the time layout reads ~everything
    assert z_rows < t_rows, (z_rows, t_rows)
    assert z_rows < 0.5 * total, (z_rows, total)


def test_task_retry_determinism(tmp_path):
    """A first-attempt task failure must be retried and yield the exact
    result (no dups, no gaps) — run in its own JVM because retry needs
    master local[N, maxFailures]."""
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, os.path.join(repo, "tools", "retry_probe.py")],
        capture_output=True,
        text=True,
        timeout=300,
        cwd=str(tmp_path),
        env={**os.environ, "PYTHONPATH": repo},
    )
    assert "RETRY_OK" in out.stdout, out.stdout[-2000:] + out.stderr[-2000:]
    # the injected failure really happened (retry path exercised, not skipped)
    assert "injected first-attempt failure" in out.stderr


def test_zorder_pruning_claim_holds(spark):
    """The operator's CLAIM (VERDICT r3 item 8), not just its hash:
    z-order must prune BOTH single-dimension predicates substantially,
    while the time-linear layout prunes the date predicate but nearly
    none of the custkey one — the asymmetry that justifies multi-dim
    clustering at 100 TB."""
    from datafusion_ballista_dhruvil_spark.operators.registry import QUERIES

    rows = {
        (r.layout, r.predicate): r
        for r in QUERIES["ops_zorder_pruning"](spark, SF_DIR).collect()
    }
    z_ck = rows[("zorder", "custkey_range")]
    z_dy = rows[("zorder", "date_range")]
    t_ck = rows[("time_linear", "custkey_range")]
    t_dy = rows[("time_linear", "date_range")]
    # z-order skips a large fraction on BOTH dimensions
    assert z_ck.frac_skipped > 0.5, z_ck
    assert z_dy.frac_skipped > 0.5, z_dy
    # time-linear: date prunes well (data is date-clustered)...
    assert t_dy.frac_skipped > 0.5, t_dy
    # ...but custkey prunes essentially nothing (every time bucket spans
    # the full custkey domain)
    assert t_ck.frac_skipped < 0.05, t_ck


def test_bucket_cap_counter_triggers(spark):
    """observe_bucket_cap must COUNT oversize buckets when the cap is
    actually exceeded (VERDICT r3 item 8) — the loud-truncation contract
    dedup_minhash_lsh relies on."""
    from pyspark.sql import functions as F

    from datafusion_ballista_dhruvil_spark.operators.dedup import (
        observe_bucket_cap,
    )

    df = spark.createDataFrame(
        [(1, list(range(10))), (2, list(range(3))), (3, list(range(7)))],
        "bucket int, ids array<int>",
    )
    out, obs = observe_bucket_cap(df, "ids", "test", cap=5)
    assert out.count() == 3  # row-transparent
    m = obs.get
    assert m["n_truncated"] == 2  # the 10- and 7-member buckets
    assert m["max_bucket"] == 10


def test_spill_resilience(tmp_path):
    """A memory-starved JVM (1g heap, 20% execution fraction) must finish
    a 2M-group fat-value aggregation by SPILLING, not OOM — run in its
    own JVM via tools/spill_probe.py; asserts exact row conservation and
    nonzero executed-plan spill metrics."""
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, os.path.join(repo, "tools", "spill_probe.py")],
        capture_output=True,
        text=True,
        timeout=300,
        cwd=str(tmp_path),
        env={**os.environ, "PYTHONPATH": repo},
    )
    assert "SPILL_OK" in out.stdout, out.stdout[-2000:] + out.stderr[-2000:]


def test_cache_lifecycle_no_leaks(spark):
    """The cache ledger must balance on both paths: outside a build scope
    (an ad-hoc helper call) ``cached`` persists nothing; a registry query
    releases every cache it made when its own action completes, and a
    query that caches nothing gets its frame back untouched. A leak
    re-opens the r6 pathology (stochastic eviction made suite timing
    order-dependent). A cache entry is removed synchronously (only the
    RDD unpersist is asynchronous), so the entry count is exact."""
    from datafusion_ballista_dhruvil_spark.operators.dedup import _verified_pairs
    from datafusion_ballista_dhruvil_spark.operators.registry import QUERIES

    # start from no cached relations: an earlier test's plan-only build
    # may have registered the same shingle plan, and unpersisting one of
    # two identical plans drops their shared entry
    spark.catalog.clearCache()
    cm = spark._jsparkSession.sharedState().cacheManager()
    before = cm.numCachedEntries()
    _verified_pairs(spark, SF_DIR).collect()  # outside a scope
    assert cm.numCachedEntries() == before
    df = QUERIES["dedup_minhash_lsh"](spark, SF_DIR)
    assert cm.numCachedEntries() > before  # the shingle and candidate caches
    df.collect()
    assert cm.numCachedEntries() == before
    assert not hasattr(QUERIES["dedup_simhash"](spark, SF_DIR), "release_owned")


def test_plan_only_builds_leave_no_thread(spark):
    """Every builder that caps a bucket explode registers its truncation
    check with the build scope, to run after the query's action. A
    plan-only build runs no action: ``release_owned`` drops the check,
    and no thread is left waiting for the action."""
    import threading

    from datafusion_ballista_dhruvil_spark.operators.registry import QUERIES

    before = threading.active_count()
    for name in (
        "dedup_minhash_lsh",
        "dedup_cluster_cc",
        "dedup_editdist_verify",
        "pipeline_clean_corpus",
        "dedup_minhash_accuracy",
        "dedup_graph_triangles",
        "dedup_simhash_pairs",
        "dedup_incremental_lsh",
        "dedup_lsh_tuning_curve",
        "mm_image_neardup_pairs",
    ):
        QUERIES[name](spark, SF_DIR).release_owned()
    assert threading.active_count() == before


def _run_throwaway_query(spark, build):
    """Register ``build`` under a throwaway name, build it through the
    registry, and remove it again."""
    from datafusion_ballista_dhruvil_spark.operators.registry import (
        ORACLES,
        QUERIES,
        query,
    )

    name = "_test_build_scope"
    try:
        return query(name, "SELECT 1")(build)(spark, SF_DIR)
    finally:
        QUERIES.pop(name)
        ORACLES.pop(name)


def test_owned_result_prepare_fires_once_at_first_action(spark):
    """``cached(df, prepare=True)`` materializes the cache right before
    the query's first action, not at plan build: plan-only consumers
    (explain/fingerprint tooling) construct the query without executing
    it, and the first real action runs the count exactly once."""
    from datafusion_ballista_dhruvil_spark.operators.scale import cached

    calls: list[int] = []

    def build(spark, sf_dir):
        c = cached(spark.range(10).selectExpr("id AS x"), prepare=True)
        c.count = lambda: calls.append(1)  # observe the materializing count
        return c.selectExpr("sum(x) AS s")

    df = _run_throwaway_query(spark, build)
    # plan-only consumption (schema/explain) must not trigger prepare
    _ = df.schema
    assert calls == []
    assert df.collect()[0]["s"] == 45
    assert calls == [1]
    df.collect()  # idempotent: once per query instance, not per action
    assert calls == [1]


def test_owned_result_releases_caches_when_prepare_raises(spark):
    """A failing ``prepare`` count must not leak the query's caches into
    the long-lived session: release runs on that error path too."""
    from datafusion_ballista_dhruvil_spark.operators.scale import cached

    cm = spark._jsparkSession.sharedState().cacheManager()
    before = cm.numCachedEntries()

    def prepare():
        raise RuntimeError("prepare failed")

    def build(spark, sf_dir):
        c = cached(spark.range(100).selectExpr("id * 2 AS x"), prepare=True)
        c.count = prepare
        return c.selectExpr("sum(x) AS s")

    df = _run_throwaway_query(spark, build)
    assert cm.numCachedEntries() == before + 1
    with pytest.raises(RuntimeError, match="prepare failed"):
        df.collect()
    assert cm.numCachedEntries() == before


def test_build_scope_releases_caches_when_build_raises(spark):
    """A builder that raises after caching leaves no cache entry behind:
    the registry's build scope releases what it collected."""
    from datafusion_ballista_dhruvil_spark.operators.registry import QUERIES
    from datafusion_ballista_dhruvil_spark.operators.scale import cached

    cm = spark._jsparkSession.sharedState().cacheManager()
    before = cm.numCachedEntries()
    seen: list[int] = []

    def build(spark, sf_dir):
        cached(spark.range(7).selectExpr("id * 3 AS x"))
        seen.append(cm.numCachedEntries())
        raise RuntimeError("build failed")

    with pytest.raises(RuntimeError, match="build failed"):
        _run_throwaway_query(spark, build)
    assert seen == [before + 1]
    assert cm.numCachedEntries() == before
    assert "_test_build_scope" not in QUERIES
