"""Plan-shape fingerprints for every registry query — the suite-level
guard for the 100 TB story: a refactor that silently adds an Exchange,
flips a broadcast join to sort-merge, or drops work into a Python UDF
node changes a query's fingerprint and fails tests/test_plan_snapshot.py
before it ever ships.

Counts come from the FORMATTED physical plan (tree section, initial AQE
plan — deterministic for fixed testdata + confs, no execution needed):
  exchanges      Exchange nodes (shuffles + broadcasts)
  bhj/smj/shj    join strategy mix
  nested_loop    BroadcastNestedLoopJoin + CartesianProduct
  py_eval        ArrowEvalPython/BatchEvalPython (row/arrow UDF nodes)
  py_map         MapInPandas/FlatMapGroupsInPandas/MapInArrow kernels
  scans          FileScan nodes
  aggregates     HashAggregate/SortAggregate/ObjectHashAggregate nodes
  unpartitioned_windows
                 Window nodes with no PARTITION BY: one task sees every
                 row of their input, a single-partition sort at scale

Usage:
  python tools/plan_fingerprint.py            # regenerate PLAN_FINGERPRINTS.json
  python tools/plan_fingerprint.py q1 q6 ...  # print named fingerprints only

The checked-in JSON is the reviewed baseline. Regenerate deliberately
after a plan-affecting change and re-commit; the test treats MORE
exchanges / py_eval / py_map / nested_loop / unpartitioned_windows than
recorded as a regression, fewer
as an improvement (it prints a reminder to re-baseline).
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


import re

#: tree lines in `formatted` mode end with the node id: "Name [quals] (7)";
#: detail headers START with "(7) Name" and never match this
_TREE_LINE = re.compile(r"^[\s+:*-]*([A-Za-z][A-Za-z0-9 ]*?)(?: \[.*?\])? \(\d+\)\s*$")


def _tree_nodes(plan: str) -> list[str]:
    out = []
    for line in plan.splitlines():
        m = _TREE_LINE.match(line)
        if m:
            # first word = physical node name ("BroadcastHashJoin Inner
            # BuildRight" -> BroadcastHashJoin; "Scan parquet" stays 2 words)
            name = m.group(1)
            out.append(
                name if name.startswith("Scan ") else name.split(" ")[0]
            )
    return out


def _unpartitioned_windows(plan: str) -> int:
    """Window nodes whose spec has no partition key, read from the detail
    sections. Formatted mode omits empty argument lists, so the test is on
    the first argument of the first windowspecdefinition(...): a sort
    order or the frame itself means nothing was partitioned on."""
    n = 0
    lines = plan.splitlines()
    for i, line in enumerate(lines):
        if not re.fullmatch(r"\(\d+\) Window", line.strip()):
            continue
        args = next((x for x in lines[i + 1 : i + 4] if x.startswith("Arguments:")), "")
        start = args.find("windowspecdefinition(")
        if start < 0:
            continue
        depth, j = 0, start + len("windowspecdefinition(")
        for end in range(j, len(args)):
            ch = args[end]
            if ch in "([":
                depth += 1
            elif ch in ")]" and depth:
                depth -= 1
            elif ch in ",)" and not depth:
                break
        first = args[j:end].strip()
        if first.startswith(("specifiedwindowframe", "unspecifiedframe")) or first.endswith(
            (" NULLS FIRST", " NULLS LAST")
        ):
            n += 1
    return n


def node_counts(plan: str) -> dict[str, int]:
    """Count physical-plan TREE nodes by name (detail sections excluded)."""
    nodes = _tree_nodes(plan)

    def n(*names: str) -> int:
        return sum(1 for x in nodes if x.split(" ")[0] in names or x in names)

    return {
        "exchanges": n("Exchange", "BroadcastExchange", "ReusedExchange"),
        "bhj": n("BroadcastHashJoin"),
        "smj": n("SortMergeJoin"),
        "shj": n("ShuffledHashJoin"),
        "nested_loop": n("BroadcastNestedLoopJoin", "CartesianProduct"),
        "py_eval": n("ArrowEvalPython", "BatchEvalPython"),
        "py_map": n(
            "MapInPandas",
            "FlatMapGroupsInPandas",
            "MapInArrow",
            "FlatMapGroupsInPandasWithState",
            "TransformWithStateInPandas",
        ),
        "scans": sum(1 for x in nodes if x.startswith("Scan "))
        + n("BatchScan", "LocalTableScan"),
        "aggregates": n("HashAggregate", "SortAggregate", "ObjectHashAggregate"),
        "unpartitioned_windows": _unpartitioned_windows(plan),
    }


def fingerprint_all(names: list[str] | None = None) -> dict[str, dict[str, int]]:
    from datafusion_ballista_dhruvil_spark.operators import load_all
    from datafusion_ballista_dhruvil_spark.operators.registry import QUERIES
    from datafusion_ballista_dhruvil_spark.plans.inspect import formatted_plan
    from datafusion_ballista_dhruvil_spark.session import create_session

    load_all()
    spark = create_session(app_name="plan_fingerprint")
    out: dict[str, dict[str, int]] = {}
    todo = names or sorted(QUERIES)
    for name in todo:
        if name in SKIP and not names:
            continue
        try:
            df = QUERIES[name](spark, SF)
            out[name] = node_counts(formatted_plan(df))
        except Exception as e:  # pragma: no cover - diagnostic path
            print(f"{name}: ERROR {type(e).__name__}: {e}", file=sys.stderr)
            out[name] = {"error": 1}
    spark.stop()
    return out


def main() -> int:
    names = sys.argv[1:]
    fps = fingerprint_all(names or None)
    if names:
        print(json.dumps(fps, indent=1, sort_keys=True))
        return 0
    with open(OUT, "w") as f:
        json.dump(fps, f, indent=1, sort_keys=True)
        f.write("\n")
    bad = [k for k, v in fps.items() if v.get("error")]
    print(f"{len(fps)} fingerprints -> {OUT}; {len(bad)} errors {bad}")
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
