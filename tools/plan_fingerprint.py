"""Plan-shape fingerprints for every registry query — the suite-level
guard for the 100 TB story: a refactor that silently adds an Exchange,
flips a broadcast join to sort-merge, or drops work into a Python UDF
node changes a query's fingerprint and fails tests/test_plan_snapshot.py
before it ever ships. The counters and the sweep live in
``plans/inspect.py`` (``node_counts``, ``fingerprints``).

Usage:
  python tools/plan_fingerprint.py            # regenerate PLAN_FINGERPRINTS.json
  python tools/plan_fingerprint.py q1 q6 ...  # print named fingerprints only

Named fingerprints also print ``build_jobs``, the Spark jobs each
plan-only build launched; the baseline file leaves it out.

Both modes exit 1 when any query fails to build.

The checked-in JSON is the reviewed baseline. Regenerate deliberately
after a plan-affecting change and re-commit; the test treats MORE
exchanges / smj / py_eval / py_map / nested_loop / unpartitioned_windows
than recorded as a regression, fewer as an improvement.
"""

from __future__ import annotations

import json
import os
import sys

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

SF = "/root/testdata/sf0.01"
OUT = os.path.join(_REPO, "PLAN_FINGERPRINTS.json")

#: Queries whose plan is intentionally not fingerprinted: DDL/session-state
#: surfaces that mutate catalog state when built twice, or whose plan embeds
#: run-specific literals (temp paths, registered view names).
SKIP = {
    "ops_session_variables",  # SET VAR mutates session state
    "ops_execute_immediate",  # dynamic SQL, embeds bound literals
}


def main() -> int:
    from datafusion_ballista_dhruvil_spark.operators import load_all
    from datafusion_ballista_dhruvil_spark.operators.registry import QUERIES
    from datafusion_ballista_dhruvil_spark.plans.inspect import fingerprints
    from datafusion_ballista_dhruvil_spark.session import create_session

    names = sys.argv[1:]
    load_all()
    spark = create_session(app_name="plan_fingerprint")
    try:
        fps = fingerprints(spark, names or sorted(set(QUERIES) - SKIP), SF)
    finally:
        spark.stop()
    bad = [k for k, v in fps.items() if v.get("error")]
    if names:
        print(json.dumps(fps, indent=1, sort_keys=True))
        return 1 if bad else 0
    # build_jobs is gated by tests/test_plan_snapshot.py's allowlist, not
    # held in the baseline
    baseline = {k: {c: n for c, n in v.items() if c != "build_jobs"} for k, v in fps.items()}
    with open(OUT, "w") as f:
        json.dump(baseline, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"{len(fps)} fingerprints -> {OUT}; {len(bad)} errors {bad}")
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
