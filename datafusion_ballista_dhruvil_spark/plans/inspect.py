"""Plan inspection (SURVEY.md §4): the one reader of Spark's physical
plans, used by the plan tests, the plan-fingerprint tool and the
plan-snapshot gate.

The reference distributes plans by hand (stage split at exchanges,
planner.rs:59-166); Spark does it automatically — so our plan QA is not
"does it split" but "did the optimizer keep the cheap shape":

- filters reach the parquet scan (PushedFilters — reference analogue:
  pushed filters in ListingTableScanNode, datafusion.proto:105 +
  ballista.parquet.pruning row-group pruning);
- scans read only referenced columns (ReadSchema column pruning);
- exchanges, join strategies and Python nodes are counted per plan
  (``node_counts``) and held to a reviewed baseline
  (PLAN_FINGERPRINTS.json);
- expressions stay in WholeStageCodegen spans (Tungsten).

Node counts read the TREE section of the formatted plan only: each node
is named there and again in its numbered detail section, so a substring
count of a node name counts it twice. The tree repeats a cached plan
under every InMemoryTableScan of it with the same operator ids, so a
node is counted once per id, not once per tree line.
"""

from __future__ import annotations

import re
import sys
import uuid

from pyspark.sql import DataFrame, SparkSession


def explain_string(df: DataFrame, mode: str = "formatted") -> str:
    """Single wrapper around PySpark's internal explain surface — the ONLY
    call site for this private API (context.explain delegates here)."""
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), mode
    )


def formatted_plan(df: DataFrame) -> str:
    return explain_string(df, "formatted")


def has_pushed_filters(df: DataFrame, *fragments: str) -> bool:
    """True if the scan node advertises PushedFilters containing every
    fragment (column names, operators)."""
    plan = formatted_plan(df)
    for line in plan.splitlines():
        if "PushedFilters" in line and all(f in line for f in fragments):
            return True
    return False


def scan_read_columns(df: DataFrame, table_hint: str = "") -> list[str]:
    """Columns in the scan's ReadSchema (column pruning check)."""
    plan = formatted_plan(df)
    cols: list[str] = []
    for line in plan.splitlines():
        if "ReadSchema" in line and (table_hint in line if table_hint else True):
            inside = line.split("struct<", 1)
            if len(inside) == 2:
                body = inside[1].rsplit(">", 1)[0]
                cols.extend(f.split(":")[0].strip() for f in body.split(",") if ":" in f)
    return cols


def codegen_span_count(df: DataFrame) -> int:
    """Number of WholeStageCodegen spans — zero means everything fell out of
    Tungsten (e.g. a Python UDF in the hot path). Under AQE the spans only
    materialize in the executed plan, so this triggers execution."""
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    # codegen stages print as "*(n) Operator" in the plan tree
    return len(set(re.findall(r"\*\((\d+)\)", plan)))


#: tree lines in `formatted` mode end with the node id: "Name [quals] (7)",
#: or the id and an argument group: "InMemoryTableScan (1) (columnarIn=
#: false, columnarOut=true)". Detail headers START with "(7) Name" and
#: never match this. Node text may hold a catalog name ("Scan parquet
#: spark_catalog.default.t (1)").
_TREE_LINE = re.compile(r"^[\s+:*-]*([A-Za-z][A-Za-z0-9 _.]*?)(?: \[.*?\])? \((\d+)\)(?: \([^()]*\))?\s*$")


def tree_nodes(plan: str) -> list[str]:
    """Physical node names of a formatted plan's tree, one per operator id."""
    out = []
    seen = set()
    for line in plan.splitlines():
        m = _TREE_LINE.match(line)
        if m and m.group(2) not in seen:
            seen.add(m.group(2))
            # first word = physical node name ("BroadcastHashJoin Inner
            # BuildRight" -> BroadcastHashJoin; "Scan parquet" stays 2 words)
            name = m.group(1).rstrip()
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
    """A formatted plan's fingerprint (initial AQE plan — deterministic
    for fixed testdata + confs, no execution needed):

      exchanges      Exchange nodes (shuffles + broadcasts + reuses)
      bhj/smj/shj    join strategy mix
      nested_loop    BroadcastNestedLoopJoin + CartesianProduct
      py_eval        ArrowEvalPython/BatchEvalPython (row/arrow UDF nodes)
      py_map         MapInPandas/FlatMapGroupsInPandas/MapInArrow kernels
      scans          FileScan nodes
      aggregates     HashAggregate/SortAggregate/ObjectHashAggregate nodes
      unpartitioned_windows
                     Window nodes with no PARTITION BY: one task sees every
                     row of their input, a single-partition sort at scale
    """
    nodes = tree_nodes(plan)

    def n(*names: str) -> int:
        return sum(1 for x in nodes if x in names)

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


def query_plan(spark: SparkSession, name: str, sf_dir: str) -> str:
    """Formatted plan of the named registry query, built plan-only.

    A builder's ``scale.cached`` intermediates register at build time.
    They are released before this returns: left in place, a later plan
    reads an InMemoryRelation whose size estimate flips broadcasts to
    sort-merge, and what a plan read shows then depends on which queries
    were built before it."""
    from datafusion_ballista_dhruvil_spark.operators.registry import QUERIES

    df = None
    try:
        df = QUERIES[name](spark, sf_dir)
        return formatted_plan(df)
    finally:
        if hasattr(df, "release_owned"):
            df.release_owned()


def count_jobs(spark: SparkSession, fn):
    """(result of fn(), number of Spark jobs it launched)."""
    sc = spark.sparkContext
    group = f"count-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setJobGroup("", "")
    # job-start events reach the status tracker through the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def fingerprints(
    spark: SparkSession, names: list[str], sf_dir: str
) -> dict[str, dict[str, int]]:
    """``node_counts`` of each named registry query's ``query_plan``, in
    the given order, plus ``build_jobs``: the Spark jobs the plan-only
    build launched. A query whose build fails reads ``{"error": 1}``."""
    from datafusion_ballista_dhruvil_spark.operators import load_all

    load_all()
    out: dict[str, dict[str, int]] = {}
    for name in names:
        try:
            plan, jobs = count_jobs(spark, lambda: query_plan(spark, name, sf_dir))
            out[name] = {**node_counts(plan), "build_jobs": jobs}
        except Exception as e:  # noqa: BLE001 — one broken build must not hide the rest
            print(f"{name}: ERROR {type(e).__name__}: {e}", file=sys.stderr)
            out[name] = {"error": 1}
    return out
