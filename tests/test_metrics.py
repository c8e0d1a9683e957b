"""Executed-plan metrics + dot export (plans/metrics.py) — the reference's
scheduler metrics/REST + dot-graph surface (scheduler/src/api/mod.rs:85-137)
resolved client-side from Spark's SQLMetrics."""

from __future__ import annotations

import duckdb
from pyspark.sql import functions as F

from datafusion_ballista_dhruvil_spark.operators import load_all
from datafusion_ballista_dhruvil_spark.operators.registry import QUERIES
from datafusion_ballista_dhruvil_spark.plans.inspect import count_jobs
from datafusion_ballista_dhruvil_spark.plans.metrics import (
    executed_metrics,
    metric_total,
    plan_dot,
)

from tests.conftest import SF_DIR

load_all()


def test_scan_rows_metric_matches_table(spark):
    df = QUERIES["q1"](spark, SF_DIR)
    df.collect()
    rows = executed_metrics(df)
    names = [r["node"] for r in rows]
    # the executed tree is fully unwrapped: scan + aggregate both present
    assert any("Scan" in n for n in names), names
    assert any("HashAggregate" in n for n in names), names
    # the parquet scan's output-rows metric equals the table cardinality
    # (q1's filter keeps l_shipdate <= '1998-09-02'; scan emits pre-filter
    # rows at the source when the filter isn't fully pushed, so compare
    # against the DuckDB-counted post-pushdown cardinality bound)
    n_lineitem = duckdb.sql(
        f"SELECT COUNT(*) FROM read_parquet('{SF_DIR}/lineitem.parquet')"
    ).fetchone()[0]
    scan_rows = max(
        v
        for r in rows
        if "Scan" in r["node"]
        for k, v in r["metrics"].items()
        if "output rows" in k
    )
    assert 0 < scan_rows <= n_lineitem


def test_shuffle_metrics_visible(spark):
    df = QUERIES["q3"](spark, SF_DIR)
    df.collect()
    assert metric_total(df, "shuffle bytes written") > 0
    assert metric_total(df, "output rows") > 0


def test_plan_dot_renders_tree(spark):
    df = QUERIES["q6"](spark, SF_DIR)
    df.collect()
    dot = plan_dot(df)
    assert dot.startswith("digraph")
    assert "->" in dot and "HashAggregate" in dot
    # every node id referenced by an edge is declared
    import re

    declared = set(re.findall(r"(n\d+) \[", dot))
    for a, b in re.findall(r"(n\d+) -> (n\d+)", dot):
        assert a in declared and b in declared


def test_unexecuted_frame_reads_run_no_job(spark):
    """An adaptive plan's final plan exists only once its query ran;
    reading the metrics of a frame that never ran reads its current plan
    and launches no job. After the collect the reads see the final plan."""
    df = spark.range(1000).groupBy((F.col("id") % 7).alias("k")).count().orderBy("k")
    for read in (
        lambda: executed_metrics(df),
        lambda: plan_dot(df),
        lambda: metric_total(df, "output rows"),
    ):
        assert count_jobs(spark, read)[1] == 0
    assert metric_total(df, "output rows") == 0
    df.collect()
    rows = executed_metrics(df)
    assert any("QueryStage" in r["node"] for r in rows)
    # the final plan's leaf counts the rows it produced
    ranges = [r["metrics"]["number of output rows"] for r in rows if r["node"] == "Range"]
    assert ranges == [1000]
    assert metric_total(df, "output rows") > 1000
