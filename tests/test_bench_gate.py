"""tools/bench_gate.py decision logic on synthetic bench_queries records:
the regression gate flags a task-CPU rise (code) or a job/stage rise with
slower wall time (shape) past its bars, lists every other slowdown as
noise, and refuses a baseline that carries no per-layer record."""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent


def _doc(walls: dict, cpu: dict | None = None, jobs: dict | None = None) -> dict:
    """A bench_queries record: wall medians plus the layers the gate reads
    (task CPU defaults to the wall time; one job in every iteration unless
    ``jobs`` gives a [min, max] range; two stages)."""
    cpu, jobs = cpu or {}, jobs or {}
    return {
        "queries": walls,
        "layers": {
            n: {
                "exec.task_cpu_s": cpu.get(n, w),
                "operators.build_cpu_s": 0.0,
                "exec.jobs_range": jobs.get(n, [1, 1]),
                "exec.stages_range": [2, 2],
            }
            for n, w in walls.items()
        },
    }


def _run(prev: dict, cur: dict, tmp_path: Path):
    p1, p2 = tmp_path / "prev.json", tmp_path / "cur.json"
    p1.write_text(json.dumps(prev))
    p2.write_text(json.dumps(cur))
    r = subprocess.run(
        [sys.executable, str(REPO / "tools" / "bench_gate.py"), str(p1), str(p2)],
        capture_output=True,
        text=True,
    )
    out = json.loads(r.stdout.strip().splitlines()[-1]) if r.stdout.strip() else None
    return r, out


def test_no_regressions_exits_zero(tmp_path):
    r, out = _run(_doc({"a": 1.0, "b": 0.5}), _doc({"a": 1.1, "b": 0.6}), tmp_path)
    assert r.returncode == 0
    assert out["regressions"] == [] and out["flagged"] == 0 and out["noise"] == []


def test_below_floor_never_flags(tmp_path):
    # 10x wall but prev under the 0.3s floor, CPU flat: noise territory
    r, out = _run(_doc({"a": 0.05}), _doc({"a": 0.5}, cpu={"a": 0.05}), tmp_path)
    assert r.returncode == 0
    assert out["flagged"] == 0 and out["noise"] == []


def test_new_queries_ignored(tmp_path):
    r, out = _run(_doc({"a": 1.0}), _doc({"a": 1.0, "brand_new": 9.9}), tmp_path)
    assert r.returncode == 0
    assert out["flagged"] == 0 and out["judged"] == 1


def test_hog_shaped_pair_is_noise(tmp_path):
    # in-guest contention: wall x2.5, task CPU x1.1, same jobs -> listed
    # as noise, no verdict
    r, out = _run(
        _doc({"ev_x": 2.0}, cpu={"ev_x": 3.0}),
        _doc({"ev_x": 5.0}, cpu={"ev_x": 3.3}),
        tmp_path,
    )
    assert r.returncode == 0
    assert out["flagged"] == 0
    assert [n["query"] for n in out["noise"]] == ["ev_x"]


def test_cpu_doubling_is_code_regression(tmp_path):
    # task CPU x2 above the floor, wall only x1.2: flagged on CPU alone
    prev = _doc({"q1": 1.0}, cpu={"q1": 2.0})
    cur = _doc({"q1": 1.2}, cpu={"q1": 4.0})
    r, out = _run(prev, cur, tmp_path)
    assert r.returncode == 1
    assert [(x["query"], x["rule"]) for x in out["regressions"]] == [("q1", "code")]
    # x2 but only +0.2s of CPU: under the absolute bar
    r, out = _run(_doc({"q1": 1.0}, cpu={"q1": 0.2}), _doc({"q1": 1.0}, cpu={"q1": 0.4}), tmp_path)
    assert r.returncode == 0 and out["flagged"] == 0


def test_more_jobs_with_slower_wall_is_shape_regression(tmp_path):
    # one more job in every iteration and wall x2 with CPU flat
    prev = _doc({"dedup_x": 1.0})
    cur = _doc({"dedup_x": 2.0}, cpu={"dedup_x": 1.0}, jobs={"dedup_x": [2, 2]})
    r, out = _run(prev, cur, tmp_path)
    assert r.returncode == 1
    assert [(x["query"], x["rule"]) for x in out["regressions"]] == [("dedup_x", "shape")]
    assert out["regressions"][0]["jobs"] == [[1, 1], [2, 2]]
    # AQE jitter: 8 or 9 jobs in both runs' iterations is no shape change
    prev = _doc({"tpcds_x": 0.7}, jobs={"tpcds_x": [8, 9]})
    cur = _doc({"tpcds_x": 2.1}, cpu={"tpcds_x": 0.7}, jobs={"tpcds_x": [9, 9]})
    r, out = _run(prev, cur, tmp_path)
    assert r.returncode == 0 and [n["query"] for n in out["noise"]] == ["tpcds_x"]


def test_baseline_without_layers_exits_nonzero(tmp_path):
    # a pre-ledger baseline cannot be judged on CPU: refuse, loudly
    r, out = _run({"queries": {"a": 1.0}}, _doc({"a": 1.0}), tmp_path)
    assert r.returncode == 2 and out is None
    assert "no per-query layers" in r.stderr


# ---- release_check plan (VERDICT r9 #8) -----------------------------------


def test_release_check_dry_run_and_quick_plan():
    r = subprocess.run(
        [sys.executable, str(REPO / "tools" / "release_check.py"), "--dry-run"],
        capture_output=True, text=True,
    )
    assert r.returncode == 0
    names = [ln.split(":")[0] for ln in r.stdout.strip().splitlines()]
    assert names == ["smoke", "contract", "hostile", "pytest", "bench"]
    r2 = subprocess.run(
        [sys.executable, str(REPO / "tools" / "release_check.py"),
         "--dry-run", "--quick"],
        capture_output=True, text=True,
    )
    assert [ln.split(":")[0] for ln in r2.stdout.strip().splitlines()] == [
        "smoke", "contract", "hostile"
    ]


# ---- final-line per-query tranche (VERDICT r10 #1) -------------------------


def test_inline_query_tranche_order_and_budget():
    sys.path.insert(0, str(REPO))
    import json

    from bench import INLINE_QUERIES_BUDGET, SUMMARY_LINE_MAX, inline_query_tranche

    times = {f"q{i}": 0.5 + i / 100 for i in range(1, 23)}
    times.update({f"heavy_query_{i:03d}": 10.0 - i / 10 for i in range(60)})
    out = inline_query_tranche(times)
    names = list(out)
    # TPC-H block first, numeric order
    assert names[:22] == [f"q{i}" for i in range(1, 23)]
    # then slowest-first
    rest = names[22:]
    assert rest == sorted(rest, key=lambda n: -times[n])
    assert len(rest) > 0
    # serialized map respects the budget => final line fits the driver's
    # 2000-char tail capture with ~750 chars of fixed fields around it
    assert len(json.dumps(out)) <= 1200
    assert len(out) < len(times)  # it truncates rather than overflowing

    # tiny suites fit whole
    small = {"q1": 1.0, "a": 2.0}
    assert inline_query_tranche(small) == {"q1": 1.0, "a": 2.0}
    assert SUMMARY_LINE_MAX < 2000

    # a suite-sized map: the budget bounds the serialized length exactly
    # (the ", " separator is 2 chars), for the default and tight budgets
    full = {f"q{i}": 0.5 + i / 100 for i in range(1, 23)}
    full.update(
        {f"family_{i:03d}_{'x' * (i % 23)}": 0.123 + i / 7 for i in range(332)}
    )
    assert len(full) == 354
    ordered = inline_query_tranche(full, budget=10**6)
    assert len(ordered) == 354
    for budget in (INLINE_QUERIES_BUDGET, 300, 40):
        out = inline_query_tranche(full, budget)
        assert len(json.dumps(out)) <= budget
        # greedy: the next entry in order would have overflowed
        nxt = list(ordered)[len(out)]
        assert len(json.dumps({**out, nxt: ordered[nxt]})) > budget


def test_fit_summary_line_trims_tranche_then_fails_loudly():
    sys.path.insert(0, str(REPO))
    from bench import final_summary, fit_summary_line

    detail = {
        "metric": "query_suite_total_sec",
        "value": 1.0,
        "unit": "sec",
        "sf": 0.1,
        "queries": {f"query_{i:03d}": 1.5 for i in range(100)},
        "tpch_total_sec": 0.0,
        "iters": 3,
        "cpus": "8",
        "protocol": {"version": 2},
    }
    summary = final_summary(detail)
    n_tranche = len(summary["queries"])
    line = fit_summary_line(summary, limit=500)
    assert len(line) <= 500
    # the cpus the run used survive the trim (the reference's num_cpus)
    assert json.loads(line)["cpus"] == "8"
    kept = json.loads(line)["queries"]
    # drops from the fast end, keeps the prefix order; input untouched
    assert 0 < len(kept) < n_tranche
    assert list(kept) == list(summary["queries"])[: len(kept)]
    assert len(summary["queries"]) == n_tranche
    assert fit_summary_line(summary, limit=10_000) == json.dumps(summary)

    # fixed fields alone overflow: empty the tranche, then refuse
    summary["protocol"] = {f"knob_{i}": 2.5 for i in range(200)}
    with pytest.raises(ValueError, match="empty per-query tranche"):
        fit_summary_line(summary, limit=500)
