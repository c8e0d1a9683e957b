"""Suite-level plan-shape regression guard: every baselined query's
physical-plan fingerprint (exchange count, join strategy mix, Python-node
count, windows with no partition key) is re-read each run and checked
against the reviewed baseline in PLAN_FINGERPRINTS.json.

A refactor that adds a shuffle, flips a broadcast join to sort-merge
(``smj``), adds a nested-loop join, or pushes work into a Python node
FAILS here before it costs anything at scale. Improvements (fewer
exchanges) pass; re-baseline to lock them in.

The sweep is ``plans.inspect.fingerprints``, the same one the tool runs.
It starts from a session with no cached relations: a cache registered by
an earlier test (a plan-only build of a query that caches) would flip
later plans' broadcasts to sort-merge and fail the gate on no change.
The same sweep records the Spark jobs each plan-only build launches;
a query may launch one only from the BUILD_JOBS allowlist. It also
holds a user view named ``orders``, which no build may read or replace.

Baseline regeneration (deliberate, reviewed, committed):
    python tools/plan_fingerprint.py
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest
from pyspark.errors import AnalysisException

from datafusion_ballista_dhruvil_spark.operators import load_all
from datafusion_ballista_dhruvil_spark.operators.registry import QUERIES
from datafusion_ballista_dhruvil_spark.plans.inspect import fingerprints
from datafusion_ballista_dhruvil_spark.session import TABLE_NAMES, table_path, table_schema
from tools.drive_common import temp_views, user_functions
from tools.plan_fingerprint import SKIP

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BASELINE = os.path.join(REPO, "PLAN_FINGERPRINTS.json")
SF = "/root/testdata/sf0.01"

#: Counters where MORE than baseline is a scale regression.
TIGHT = ("exchanges", "smj", "py_eval", "py_map", "nested_loop", "unpartitioned_windows")

pytestmark = pytest.mark.skipif(
    not os.path.exists(BASELINE), reason="no PLAN_FINGERPRINTS.json baseline"
)


def _baseline() -> dict:
    with open(BASELINE) as f:
        return json.load(f)


def test_baseline_covers_registry():
    # every registered query is fingerprinted (or explicitly SKIP-listed)
    load_all()
    missing = set(QUERIES) - set(_baseline()) - SKIP
    assert not missing, (
        f"queries without a plan fingerprint: {sorted(missing)} — run "
        "`python tools/plan_fingerprint.py` and commit the baseline"
    )


#: Queries whose plan-only build launches Spark jobs, each with its reason.
#: A build that only plans must run nothing: every plan reader (explain,
#: the fingerprint tool, the plan tests) pays these jobs. The list may
#: only shrink.
_VECTORS = "collects bounded probe or codebook vectors (_collect_quantized)"
BUILD_JOBS = {
    "avro_roundtrip_agg": "writes the Avro files it reads, then reads one header",
    "csv_roundtrip_agg": "writes the CSV files it reads",
    "json_roundtrip_agg": "writes the JSON files it reads",
    "orc_roundtrip_agg": "writes the ORC files it reads",
    "xml_roundtrip_agg": "writes the XML files it reads",
    "partitioned_roundtrip_agg": "writes the partitioned files it reads",
    "schema_evolution_agg": "writes both schema versions it reads",
    "snapshot_pysource_agg": "commits the snapshots it reads",
    "snapshot_timetravel_agg": "commits the snapshots it reads",
    "dedup_cluster_cc": "one convergence count per min-label round",
    "dedup_lsh_tuning_curve": "counts documents to size its fixed-size sample",
    "ev_markov_attribution": "collects the K^2-row transition matrix",
    "sim_ann_recall": _VECTORS,
    "sim_bitext_margin_mining": _VECTORS,
    "sim_cosine_topk": _VECTORS,
    "sim_ivf_balance_audit": _VECTORS,
    "sim_ivf_pq": "collects the 21 codebook seed vectors",
    "sim_ivf_topk": _VECTORS,
    "sim_knn_label_agreement": _VECTORS,
    "sim_matryoshka_recall": _VECTORS,
    "sim_pca_power_iteration": "one bounded collect per power-iteration round",
    "sim_pq_adc": _VECTORS,
    "sim_pq_code_dedup": _VECTORS,
    "sim_recall_at_k_curve": _VECTORS,
    "sim_residual_quantize": "collects both codebook levels' seed vectors",
    "text_bpe_merges": "one collect per BPE merge round, plus token totals",
    "text_bpe_tokenize": "one collect per BPE merge round, plus the result",
    "text_crosslingual_confusion": "collects the bounded language profile",
}


#: Session variables that builders declare; none may outlive its build.
SESSION_VARIABLES = ("price_floor", "date_floor", "stmt_text")


def _resolves(spark, name: str) -> bool:
    try:
        spark.sql(f"SELECT {name}")
        return True
    except AnalysisException:
        return False


@pytest.fixture(scope="module")
def sweep(spark):
    """One plan-only build of every registered query, read by the gates
    below, with a 3-row user view named ``orders`` in place. Returns the
    fingerprints and what the session catalog held after the sweep; the
    session's own ``orders`` view, if any, is restored. Table schemas are
    inferred first: the first read of a table in a session infers its
    schema with a job, whichever query reads it."""
    spark.catalog.clearCache()
    for t in TABLE_NAMES:
        table_schema(spark, table_path(SF, t))
    views = temp_views(spark)
    functions = user_functions(spark)
    held = spark.table("orders") if "orders" in views else None
    spark.range(3).toDF("o_orderkey").createOrReplaceTempView("orders")
    try:
        fps = fingerprints(spark, sorted(QUERIES), SF)
        catalog = {
            "orders_rows": spark.table("orders").count(),
            "new_views": sorted(temp_views(spark) - views - {"orders"}),
            "new_functions": sorted(user_functions(spark) - functions),
            "variables": [v for v in SESSION_VARIABLES if _resolves(spark, v)],
        }
    finally:
        if held is None:
            spark.catalog.dropTempView("orders")
        else:
            held.createOrReplaceTempView("orders")
    return fps, catalog


def test_plan_shapes_do_not_regress(sweep):
    """Re-derive every baselined fingerprint and compare the TIGHT
    counters; a query that no longer builds fails too."""
    base = _baseline()
    fps = sweep[0]
    failures = [f"{name}: build error" for name, fp in fps.items() if fp.get("error")]
    failures += [
        f"{name}.{key}: baseline {base[name][key]} -> {fp[key]}"
        for name, fp in fps.items()
        if name in base and not fp.get("error")
        for key in TIGHT
        if fp[key] > base[name][key]
    ]
    assert not failures, (
        "plan-shape regressions (more shuffles/sort-merge/Python nodes than "
        f"the reviewed baseline): {failures}"
    )


def test_build_jobs_are_allowlisted(sweep):
    """A plan-only build of a baselined query launches no Spark job
    unless BUILD_JOBS names the query; an allowlisted query that launches
    none fails too, so the list only shrinks."""
    fps = sweep[0]
    ran = {name for name, fp in fps.items() if fp.get("build_jobs") and name not in SKIP}
    new = {n: fps[n]["build_jobs"] for n in sorted(ran - set(BUILD_JOBS))}
    assert not new, f"plan-only builds that launch jobs: {new}"
    gone = sorted(set(BUILD_JOBS) - ran)
    assert not gone, f"launch no job any more, drop from BUILD_JOBS: {gone}"


def test_sweep_keeps_a_user_view_and_leaves_no_names(sweep):
    """Builders hand their frames to SQL as arguments, so a user view
    named like a table keeps its rows, and no build leaves a temporary
    view, function or session variable behind. The LEAK rule sees only
    new view names; this covers a replaced one."""
    assert sweep[1] == {
        "orders_rows": 3,
        "new_views": [],
        "new_functions": [],
        "variables": [],
    }


def test_plan_only_build_leaves_no_cache_behind(spark):
    """dedup_kcore_peel persists its chunk-pair edges at build time, and
    dedup_chunk_pagerank plans over the same edges: read after a
    plan-only kcore build that kept its caches, pagerank plans 53
    exchanges (broadcasts flipped to sort-merge) instead of 46."""
    spark.catalog.clearCache()
    got = fingerprints(spark, ["dedup_kcore_peel", "dedup_chunk_pagerank"], SF)
    got["dedup_chunk_pagerank"].pop("build_jobs")
    assert got["dedup_chunk_pagerank"] == _baseline()["dedup_chunk_pagerank"]


def test_fingerprint_tool_runs_on_named_queries():
    r = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "plan_fingerprint.py"),
         "q6", "q15", "no_such_query"],
        capture_output=True,
        text=True,
        timeout=300,
    )
    # an unknown (or failing) query is reported and fails the run
    assert r.returncode == 1, r.stderr[-2000:]
    assert "no_such_query: ERROR KeyError" in r.stderr
    out = json.loads(r.stdout)
    assert out["no_such_query"] == {"error": 1}
    assert out["q6"]["exchanges"] >= 1
    # q15's max-revenue window has no partition key; q6 has no window
    assert out["q15"]["unpartitioned_windows"] == 1
    assert out["q6"]["unpartitioned_windows"] == 0
