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

Baseline regeneration (deliberate, reviewed, committed):
    python tools/plan_fingerprint.py
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from datafusion_ballista_dhruvil_spark.operators import load_all
from datafusion_ballista_dhruvil_spark.operators.registry import QUERIES
from datafusion_ballista_dhruvil_spark.plans.inspect import fingerprints
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


def test_plan_shapes_do_not_regress(spark):
    """Re-derive every baselined fingerprint and compare the TIGHT
    counters; a query that no longer builds fails too."""
    base = {k: v for k, v in _baseline().items() if not v.get("error")}
    spark.catalog.clearCache()
    got = fingerprints(spark, sorted(base), SF)
    failures = [f"{name}: build error" for name, fp in got.items() if fp.get("error")]
    failures += [
        f"{name}.{key}: baseline {base[name][key]} -> {fp[key]}"
        for name, fp in got.items()
        if not fp.get("error")
        for key in TIGHT
        if fp[key] > base[name][key]
    ]
    assert not failures, (
        "plan-shape regressions (more shuffles/sort-merge/Python nodes than "
        f"the reviewed baseline): {failures}"
    )


def test_plan_only_build_leaves_no_cache_behind(spark):
    """dedup_kcore_peel persists its chunk-pair edges at build time, and
    dedup_chunk_pagerank plans over the same edges: read after a
    plan-only kcore build that kept its caches, pagerank plans 53
    exchanges (broadcasts flipped to sort-merge) instead of 46."""
    spark.catalog.clearCache()
    got = fingerprints(spark, ["dedup_kcore_peel", "dedup_chunk_pagerank"], SF)
    base = _baseline()["dedup_chunk_pagerank"]
    assert got["dedup_chunk_pagerank"] == base


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
