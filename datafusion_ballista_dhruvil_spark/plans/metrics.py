"""Executed-plan metrics extraction + dot-graph export.

Reference parity: the reference scheduler aggregates per-operator plan
metrics and serves them over REST, with a dot-graph plan visualization
(/root/reference/ballista/scheduler/src/api/mod.rs:85-137; metric protos
ballista.proto:245-279; shuffle metrics shuffle_writer.rs:97-126). Spark
records the same per-operator SQLMetrics on every executed plan; this
module surfaces them programmatically — the `/api/metrics` analogue for a
notebook or test — and renders the executed tree as Graphviz dot.

Usage:
    df.collect()                      # metrics exist only after execution
    rows = executed_metrics(df)       # [{node, depth, metrics: {...}}, ...]
    dot  = plan_dot(df)               # "digraph { ... }" with metric labels
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def _final_plan(df: DataFrame):
    """The executed plan; an adaptive plan's final plan once its query ran,
    else its current one. ``finalPhysicalPlan()`` on an adaptive plan that
    never ran executes its stages, so a read of an unexecuted frame would
    run its jobs."""
    plan = df._jdf.queryExecution().executedPlan()
    if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        plan = plan.finalPhysicalPlan() if plan.isFinalPlan() else plan.executedPlan()
    return plan


def _node_metrics(node) -> dict[str, int]:
    out: dict[str, int] = {}
    it = node.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        m = kv._2()
        label = m.name().get() if m.name().isDefined() else kv._1()
        out[str(label)] = int(m.value())
    return out


def _children(node):
    ch = node.children()
    kids = [ch.apply(i) for i in range(ch.size())]
    if not kids:
        # QueryStageExec / ReusedExchangeExec wrap their subtree outside
        # children(); descend explicitly so shuffle/broadcast stages and
        # their scans are not reported as opaque leaves
        for attr in ("plan", "child"):
            try:
                kids = [getattr(node, attr)()]
                break
            except Exception:  # noqa: BLE001 - wrapper accessor not present
                continue
    return kids


def executed_metrics(df: DataFrame) -> list[dict]:
    """Per-operator metrics of the EXECUTED plan (call after an action),
    pre-order: [{"node": str, "depth": int, "metrics": {label: value}}]."""
    rows: list[dict] = []

    def walk(node, depth: int) -> None:
        rows.append(
            {
                "node": str(node.nodeName()),
                "depth": depth,
                "metrics": _node_metrics(node),
            }
        )
        for k in _children(node):
            walk(k, depth + 1)

    walk(_final_plan(df), 0)
    return rows


def metric_total(df: DataFrame, label_fragment: str) -> int:
    """Sum a metric across all operators by label substring — e.g.
    metric_total(df, 'output rows') or metric_total(df, 'shuffle bytes')."""
    total = 0
    for row in executed_metrics(df):
        for label, value in row["metrics"].items():
            if label_fragment in label:
                total += value
    return total


def plan_dot(df: DataFrame) -> str:
    """Graphviz dot of the executed plan, one box per operator with its
    top metrics — the reference's dot-graph endpoint, client-side."""
    lines = ["digraph plan {", "  node [shape=box, fontname=monospace];"]
    counter = {"n": 0}

    def walk(node) -> int:
        my = counter["n"]
        counter["n"] += 1
        mets = _node_metrics(node)
        shown = ", ".join(
            f"{k}={v}"
            for k, v in sorted(mets.items())[:3]
        )
        label = str(node.nodeName()).replace('"', "'")
        if shown:
            label += "\\n" + shown.replace('"', "'")
        lines.append(f'  n{my} [label="{label}"];')
        for k in _children(node):
            child_id = walk(k)
            lines.append(f"  n{my} -> n{child_id};")
        return my

    walk(_final_plan(df))
    lines.append("}")
    return "\n".join(lines)
