"""Suite-level plan-shape regression guard: every query's physical-plan
fingerprint (exchange count, join strategy mix, Python-node count,
windows with no partition key) is checked against the reviewed baseline
in PLAN_FINGERPRINTS.json.

A refactor that adds a shuffle, flips a broadcast join to sort-merge, or
pushes work into a Python eval node FAILS here before it costs anything
at scale. Improvements (fewer exchanges) pass with a re-baseline nudge.

Baseline regeneration (deliberate, reviewed, committed):
    python tools/plan_fingerprint.py
"""

from __future__ import annotations

import json
import os
import random
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BASELINE = os.path.join(REPO, "PLAN_FINGERPRINTS.json")
SF = "/root/testdata/sf0.01"

#: Counters where MORE than baseline is a scale regression.
TIGHT = ("exchanges", "py_eval", "py_map", "nested_loop", "unpartitioned_windows")

pytestmark = pytest.mark.skipif(
    not os.path.exists(BASELINE), reason="no PLAN_FINGERPRINTS.json baseline"
)


def _baseline() -> dict:
    with open(BASELINE) as f:
        return json.load(f)


def test_baseline_covers_registry():
    # every registered query is fingerprinted (or explicitly SKIP-listed)
    sys.path.insert(0, REPO)
    from datafusion_ballista_dhruvil_spark.operators import load_all
    from datafusion_ballista_dhruvil_spark.operators.registry import QUERIES

    from tools.plan_fingerprint import SKIP

    load_all()
    missing = set(QUERIES) - set(_baseline()) - SKIP
    assert not missing, (
        f"queries without a plan fingerprint: {sorted(missing)} — run "
        "`python tools/plan_fingerprint.py` and commit the baseline"
    )


def test_plan_shapes_do_not_regress(spark):
    """Re-derive fingerprints for a rotating sample + the shape-critical
    set and compare the TIGHT counters against baseline. Sampled (not
    all 280+) to keep the suite fast; the rotation seed is the date so
    consecutive days cover different slices, while tools/
    plan_fingerprint.py remains the full sweep."""
    sys.path.insert(0, REPO)
    from datafusion_ballista_dhruvil_spark.operators import load_all
    from datafusion_ballista_dhruvil_spark.operators.registry import QUERIES
    from datafusion_ballista_dhruvil_spark.plans.inspect import formatted_plan

    from tools.plan_fingerprint import SKIP, node_counts

    load_all()
    base = _baseline()
    critical = [
        "q1", "q3", "q9", "q18",               # TPC-H joins/aggs
        "dedup_minhash_lsh", "dedup_substring_spans",
        "sim_ivf_topk", "sim_cosine_topk", "sim_residual_quantize",
        "text_boilerplate_lines", "ev_sessionize", "dedup_url_canonical",
    ]
    pool = sorted(set(base) - set(critical) - SKIP)
    # deterministic within a day, rotates across days; pinnable via
    # PLAN_SNAPSHOT_SEED so a failure is reproducible (the seed is printed
    # in the assertion message on failure)
    import datetime

    env_seed = os.environ.get("PLAN_SNAPSHOT_SEED")
    seed = (
        int(env_seed)
        if env_seed
        else int(datetime.date.today().strftime("%Y%m%d"))
    )
    sample = random.Random(seed).sample(pool, k=min(20, len(pool)))
    failures = []
    for name in critical + sample:
        if name not in base or base[name].get("error"):
            continue
        got = node_counts(formatted_plan(QUERIES[name](spark, SF)))
        for key in TIGHT:
            if got[key] > base[name][key]:
                failures.append(
                    f"{name}.{key}: baseline {base[name][key]} -> {got[key]}"
                )
    assert not failures, (
        "plan-shape regressions (more shuffles/Python nodes than the "
        f"reviewed baseline; reproduce with PLAN_SNAPSHOT_SEED={seed}): "
        f"{failures}"
    )


def test_fingerprint_tool_runs_on_named_queries():
    r = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "plan_fingerprint.py"),
         "q6", "q15"],
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    out = json.loads(r.stdout)
    assert "q6" in out and out["q6"]["exchanges"] >= 1
    # q15's max-revenue window has no partition key; q6 has no window
    assert out["q15"]["unpartitioned_windows"] == 1
    assert out["q6"]["unpartitioned_windows"] == 0
