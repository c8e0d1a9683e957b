"""sf1 stress: materialize a synthetic 10x corpus from sf0.1 (key-shifted
copies — a perf experiment, NOT test input; correctness stays on the
driver's parquet) and time headline queries, extending the measured
scaling range to 1000x (sf0.001 -> sf1).

Usage: python tools/scale_stress.py [out_dir]
"""

from __future__ import annotations

import os
import shutil
import sys
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

SRC = "/root/testdata/sf0.1"
#: copy multiplier; override with SCALE_STRESS_COPIES=20 for the second
#: doubling point (sf2) the watch-list rows need
COPIES = int(os.environ.get("SCALE_STRESS_COPIES", "10"))
OFFSET = 10_000_000

# (table, key columns to shift) — only the tables the stress queries touch
TABLES = {
    "lineitem": ["l_orderkey"],
    "orders": ["o_orderkey"],
    "documents": ["doc_id"],
    "customer": ["c_custkey"],
    "events": ["event_id", "user_id"],
    "embeddings": ["vec_id"],
}

#: SCALE_STRESS_FRESH_CUSTKEYS=1 shifts o_custkey in lockstep with
#: c_custkey, so each copy brings NEW customers instead of multiplying
#: every base customer's volume. The default (shared custkeys) stresses
#: hot-key aggregates; the fresh-keys mode models how a real corpus
#: grows for CUSTOMER-KEYED JOINS — under shared keys, any fact-to-fact
#: join on (custkey, ...) sees matched pairs grow ~copies^2 (each
#: copy's rows match every copy's rows — the q29 20x artifact,
#: PERF.md r8), which no real corpus does.
if os.environ.get("SCALE_STRESS_FRESH_CUSTKEYS") == "1":
    TABLES = {**TABLES, "orders": ["o_orderkey", "o_custkey"]}
#: dimension tables copied verbatim (a 10x fact corpus keeps its dims —
#: that is what makes them dims); lets dim-joining queries (SSB, TPC-H)
#: run against the stress corpus
DIM_TABLES = ["nation", "region", "supplier", "part"]
QUERIES_TO_RUN = [
    "q1",
    "q6",
    "dedup_exact",
    "text_tokens_quality",
    "text_langid",
    "split_hash_assign",
    # r3 session-3 additions — each a distinct plan shape worth a growth curve
    "sample_pps_systematic",   # two-phase distributed prefix sum
    "pipeline_benford_audit",  # scan + 9-group agg
    "pipeline_compaction_plan",# metadata prefix-sum binning
    "dedup_entity_blocking",   # banded blocking self-join (pair growth!)
    "ev_decay_weighted",       # scalar broadcast + map-side agg
    "ev_ab_chisquare",         # user-keyed shuffle + 4-counter agg
    "sim_covariance_matrix",   # 136x explode collapsed by partial agg
    "text_classifier_calibration",
    # r4 (VERDICT r3 item 7): the r3 heavy additions without a growth curve
    "dedup_substring_spans",       # 3 shuffle-bounded digest stages
    "text_source_overlap_matrix",  # B-row broadcast profile join
    "sim_mmr_rerank",              # brute candidate gen + bounded greedy
    "sample_kcenter_coreset",      # TakeOrdered greedy rounds
    # r4 rewrites — growth curve for the new plans
    "sim_ivf_topk",                # map-side codebook assignment
    "sim_knn_label_agreement",     # IVF candidate join
    # r8 widening — the new TPC-DS join-chain families (PERF.md r8 has
    # their first 10x/20x rows; q29/q78 also have the fresh-custkeys A/B)
    "tpcds_q73",
    "tpcds_q64",
    "tpcds_q29",
    "tpcds_q78",
    "tpcds_q72",
    "tpcds_q39",
    # r9 widening — the EXISTS families (q95 nested same-fact EXISTS,
    # q10 OR-of-EXISTS probe)
    "tpcds_q95",
    "tpcds_q10",
    # r9 session-2/3 widening
    "tpcds_q94",
    "tpcds_q92",
    "tpcds_q99",
    "tpcds_q13",
    "tpcds_q41",
    "tpcds_q76",
    "tpcds_q90",
]


def build(spark, out_dir: str, salted: bool = False) -> None:
    """Materialize the 10x corpus. ``salted`` suffixes every documents
    token with its copy index, so copies share NO n-gram/window/shingle —
    the dup RATE stays that of the base corpus while volume grows 10x,
    isolating kernel scaling from output-pair growth (the >2x rows in
    PERF.md's copy-based stress are pair growth, not kernel growth)."""
    from pyspark.sql import functions as F

    for name, keys in TABLES.items():
        dst = os.path.join(out_dir, f"{name}.parquet")
        if os.path.exists(dst):
            continue
        src = spark.read.parquet(os.path.join(SRC, f"{name}.parquet"))
        parts = []
        for i in range(COPIES):
            d = src
            for k in keys:
                d = d.withColumn(k, F.col(k) + i * OFFSET)
            if salted and name == "documents":
                d = d.withColumn(
                    "text",
                    F.expr(
                        "array_join(transform(split(text, ' '), "
                        f"t -> concat(t, '_c{i}')), ' ')"
                    ),
                )
            parts.append(d)
        big = parts[0]
        for p in parts[1:]:
            big = big.unionAll(p)
        big.write.mode("overwrite").parquet(dst)
    for name in DIM_TABLES:
        dst = os.path.join(out_dir, f"{name}.parquet")
        if not os.path.exists(dst):
            shutil.copy(os.path.join(SRC, f"{name}.parquet"), dst)


def main() -> int:
    args = [a for a in sys.argv[1:] if a != "--salted"]
    salted = "--salted" in sys.argv[1:]
    out_dir = args[0] if args else (
        "/tmp/spark_graft_sf1_salted" if salted else "/tmp/spark_graft_sf1"
    )
    os.makedirs(out_dir, exist_ok=True)

    from datafusion_ballista_dhruvil_spark.operators import load_all
    from datafusion_ballista_dhruvil_spark.operators.registry import QUERIES
    from datafusion_ballista_dhruvil_spark.session import create_session

    spark = create_session(app_name="scale-stress")
    load_all()
    t0 = time.perf_counter()
    build(spark, out_dir, salted=salted)
    print(f"build: {time.perf_counter() - t0:.1f}s -> {out_dir}"
          + (" (salted)" if salted else ""))

    only = args[1:]  # optional query-name filter after out_dir
    print(f"| query | sf0.1 | {COPIES}x | growth |")
    print("|---|---|---|---|")
    for name in (only or QUERIES_TO_RUN):
        fn = QUERIES[name]
        # per-query clearCache + synchronous gc (r9): bounds the long-lived
        # JVM's broadcast/ContextCleaner backlog the way bench.py's
        # family-boundary gc does, so a 35+-query sweep isn't timing query
        # k under query k-1's un-collected litter. (The r9 sf1 sweep's
        # broadcast OOM at dedup_ngram_jaccard was NOT this — it reproduces
        # on a fresh JVM: the shared-key copy corpus grows that query's
        # exact all-pairs set ~quadratically; see PERF.md r9. The registry's
        # build scope releases each query's caches when its collect
        # completes, so this clear never drops a cache mid-query.)
        spark.catalog.clearCache()
        spark.sparkContext._jvm.System.gc()
        fn(spark, SRC).collect()  # warm both paths
        t0 = time.perf_counter()
        fn(spark, SRC).collect()
        small = time.perf_counter() - t0
        fn(spark, out_dir).collect()
        t0 = time.perf_counter()
        fn(spark, out_dir).collect()
        big = time.perf_counter() - t0
        print(
            f"| {name} | {small:.2f} | {big:.2f} | {big / small:.2f}x |"
        )
    if os.environ.get("SCALE_STRESS_KEEP") != "1":
        shutil.rmtree(out_dir, ignore_errors=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
