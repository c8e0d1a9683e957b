"""Unit tests of the benchmark's pure logic (no Spark, no JVM).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import math
import os
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

import stats  # noqa: E402
from ledger import exec_summary, jobs_within, self_times  # noqa: E402
from oracle import canon  # noqa: E402

BENCHMARK = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")


# -- tail rule -----------------------------------------------------------------


@pytest.mark.parametrize(
    "n, p",
    [(1, 50), (19, 50), (20, 50), (39, 50), (40, 75), (99, 75), (100, 90),
     (199, 90), (200, 95), (999, 95), (1000, 99), (9999, 99), (10000, 99.9)],
)
def test_tail_percentile_is_highest_with_ten_beyond(n, p):
    assert stats.tail_percentile(n) == p
    if n >= 2 * stats.TAIL_MIN_BEYOND:
        assert stats.beyond(n, p) >= stats.TAIL_MIN_BEYOND
        higher = [q for q in stats.TAIL_LADDER if q > p]
        assert all(stats.beyond(n, q) < stats.TAIL_MIN_BEYOND for q in higher)


def test_latency_tail_value_and_count():
    values = [float(i) for i in range(1, 101)]  # 1..100
    p, v, k = stats.latency_tail(values)
    assert (p, k) == (90.0, 10)
    assert v == pytest.approx(np.percentile(values, 90))


@pytest.mark.parametrize("p", [0, 12.5, 50, 75, 90, 99.9, 100])
def test_percentile_matches_numpy_linear(p):
    values = [3.0, 1.0, 4.0, 1.5, 9.0, 2.6, 5.0]
    assert stats.percentile(values, p) == pytest.approx(np.percentile(values, p))


def test_per_key_medians_ignore_repeat_counts():
    once = stats.per_key_medians([("a", 1.0), ("b", 3.0)])
    many = stats.per_key_medians([("a", 1.0), ("a", 1.0), ("a", 1.0), ("b", 3.0)])
    assert once == many == {"a": 1.0, "b": 3.0}


def test_another_pass_rounds_to_nearest_pass_count():
    assert stats.another_pass(4.0, 1, 12.0)  # 1 pass of 4 s: 3 fit
    assert stats.another_pass(8.0, 2, 12.0)
    assert not stats.another_pass(12.0, 3, 12.0)
    assert not stats.another_pass(10.0, 1, 12.0)  # 2 passes would be 20 s


# -- seeds ---------------------------------------------------------------------


def test_pass_order_is_a_seeded_permutation():
    names = [f"q{i}" for i in range(1, 23)]
    a = [stats.pass_order(names, 7, "tpch_serial", p) for p in range(3)]
    b = [stats.pass_order(names, 7, "tpch_serial", p) for p in range(3)]
    assert a == b
    assert all(sorted(x) == sorted(names) for x in a)
    assert a[0] != a[1]  # each pass has its own order
    assert stats.pass_order(names, 8, "tpch_serial", 0) != a[0]
    assert stats.pass_order(names, 7, "reader1", 0) != a[0]


def test_slice_keys_are_a_seeded_permutation():
    assert stats.slice_keys(50, 3) == stats.slice_keys(50, 3)
    assert sorted(stats.slice_keys(50, 3)) == list(range(50))
    assert stats.slice_keys(50, 3) != stats.slice_keys(50, 4)


def test_tables_are_the_shipped_sf01_files():
    import pyarrow.parquet as pq

    data = os.path.join(HERE, "data", "sf0.1")
    rows = {f: pq.ParquetFile(os.path.join(data, f)).metadata.num_rows for f in os.listdir(data)}
    assert rows["lineitem.parquet"] == 600_000 and rows["orders.parquet"] == 150_000
    assert len(rows) == 10


# -- names and schema ----------------------------------------------------------


def _spec() -> dict:
    with open(BENCHMARK) as f:
        return json.load(f)


def test_metric_names_and_units_follow_the_pattern():
    import re

    spec = _spec()
    metrics = spec["end_to_end"] + spec["per_layer"]
    for m in metrics:
        assert re.fullmatch(r"[A-Za-z0-9_.-]+", m["name"]), m
        assert stats.NAME_RE.match(m["name"]), m
        assert stats.UNIT_RE.match(m["unit"]), m
        assert m["better"] in ("higher", "lower")
    assert len({m["name"] for m in metrics}) == len(metrics)
    for bad in ("", "a b", "x/y", "_lead", "é", "a" * 65):
        with pytest.raises(ValueError):
            stats.check_name(bad)


def test_result_line_round_trips_and_validates():
    out = stats.result_line(True, 12, 0, {"latency_p50_s": (0.5, "s"), "setup_s": (1, "s")})
    again = json.loads(json.dumps(out))
    stats.validate(again, ["setup_s", "latency_p50_s"])
    assert again["metrics"]["setup_s"] == {"value": 1.0, "unit": "s"}


@pytest.mark.parametrize(
    "mutate",
    [
        lambda o: o.pop("failed"),
        lambda o: o.update(extra=1),
        lambda o: o.update(correct="yes"),
        lambda o: o.update(attempted=0),
        lambda o: o.update(failed=13),
        lambda o: o.update(attempted=True),
        lambda o: o["metrics"].pop("setup_s"),
        lambda o: o["metrics"]["setup_s"].update(value=math.nan),
        lambda o: o["metrics"]["setup_s"].update(value=True),
        lambda o: o["metrics"]["setup_s"].update(unit="seconds!"),
        lambda o: o["metrics"]["setup_s"].update(note="x"),
    ],
)
def test_validate_rejects_malformed_lines(mutate):
    out = stats.result_line(True, 12, 0, {"setup_s": (1.0, "s")})
    mutate(out)
    with pytest.raises(ValueError):
        stats.validate(out, ["setup_s"])


def test_benchmark_json_names_the_workloads_and_bounds_setup_widest():
    from workloads import WORKLOADS

    spec = _spec()
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])


# -- ledger arithmetic ---------------------------------------------------------


def _span(i, name, start, end, parent=None):
    return {"id": i, "name": name, "group": "g", "parent": parent, "start": start, "end": end}


def test_self_times_subtract_children():
    spans = [
        _span(1, "query", 0.0, 10.0),
        _span(2, "build", 0.0, 4.0, 1),
        _span(3, "load_table", 1.0, 2.0, 2),
        _span(4, "load_table", 2.0, 2.5, 2),
        _span(5, "collect", 4.0, 10.0, 1),
    ]
    own = self_times(spans)
    assert own == pytest.approx({"query": 0.0, "build": 2.5, "load_table": 1.5, "collect": 6.0})


def _job(i, t, stages, end=None):
    stamp = "2026-01-01T00:00:%06.3fGMT"
    return {
        "jobId": i,
        "submissionTime": stamp % t,
        "completionTime": stamp % (end if end is not None else t + 0.5),
        "stageIds": stages,
    }


def test_jobs_are_attributed_to_the_open_span_and_summed():
    base = 1767225600.0  # 2026-01-01T00:00:00Z
    jobs = [_job(0, 1.0, [0]), _job(1, 5.0, [1, 2]), _job(2, 7.0, [3], end=9.0)]
    collect = [_span(1, "collect", base + 4.0, base + 10.0)]
    assert [j["jobId"] for j in jobs_within(jobs, collect)] == [1, 2]
    stages = {
        1: [{"stageId": 1, "status": "COMPLETE", "numCompleteTasks": 4, "executorRunTime": 2000,
             "executorCpuTime": 1_500_000_000, "jvmGcTime": 100, "shuffleWriteBytes": 10,
             "memoryBytesSpilled": 3, "diskBytesSpilled": 4, "attemptId": 0}],
        2: [{"stageId": 2, "status": "SKIPPED", "numCompleteTasks": 9}],
        3: [{"stageId": 3, "status": "FAILED", "numFailedTasks": 1, "attemptId": 0},
            {"stageId": 3, "status": "COMPLETE", "numCompleteTasks": 2, "attemptId": 1,
             "shuffleReadBytes": 10}],
    }
    ex = exec_summary(jobs_within(jobs, collect), stages)
    assert ex["jobs"] == 2 and ex["stages"] == 2 and ex["tasks"] == 6
    assert ex["task_run_s"] == 2.0 and ex["task_cpu_s"] == 1.5 and ex["gc_s"] == 0.1
    assert ex["spill_bytes"] == 7 and ex["failed_tasks"] == 1 and ex["stage_retries"] == 1
    assert ex["shuffle_read_bytes"] == ex["shuffle_write_bytes"] == 10
    assert ex["last_job_end"] == pytest.approx(base + 9.0)


def test_canon_is_order_and_column_order_insensitive_but_type_strict():
    a = canon(["b", "A"], [(1, "x"), (2, "y")])
    b = canon(["a", "B"], [("y", 2), ("x", 1)])
    assert a == b
    assert canon(["v"], [(5,)]) != canon(["v"], [(5.0,)])


def test_granted_share_is_busy_over_busy_plus_stolen():
    from ledger import granted

    assert granted((100, 10), (180, 30)) == pytest.approx(0.8)
    assert granted((5, 5), (5, 5)) == 1.0


# -- workload arithmetic -------------------------------------------------------


def _flight():
    from ledger import Tracer
    from workloads import FlightMixed

    return FlightMixed("data", "work", 3, Tracer(False))


def test_a_failed_commit_is_not_charged_to_later_commits():
    wl = _flight()
    wl.slice_rows = {k: 10 + k for k in range(50)}
    a, _, c = (wl.slice_rows[k] for k in stats.slice_keys(50, 3)[:3])
    wl.records = [
        {"kind": "commit", "key": "commit", "head_rows": a},
        {"kind": "commit", "key": "commit", "error": "OSError: disk"},
        {"kind": "commit", "key": "commit", "head_rows": a + c},
    ]
    wl.check()
    assert [r["ok"] for r in wl.records] == [True, False, True]


def test_granted_time_scales_latency_and_client_rates():
    from workloads import summarize

    wl = _flight()
    wl.records = [
        {"kind": "read", "key": "q3", "client": 0, "latency": 2.0, "granted": 0.5},
        {"kind": "read", "key": "q3", "client": 0, "latency": 2.0, "granted": 0.5},
        {"kind": "commit", "key": "commit", "client": 3, "latency": 1.0, "granted": 1.0},
    ]
    wall, granted = summarize(wl, granted_time=False), summarize(wl, granted_time=True)
    assert (wall["latency_p50_s"], wall["queries_per_s"]) == (2.0, 0.5)
    assert (granted["latency_p50_s"], granted["queries_per_s"]) == (1.0, 1.0)
    assert granted["commits_per_s"] == granted["commit_p50_s"] == 1.0
