"""tools/bench_gate.py decision logic on synthetic timing files — the
per-round regression gate must flag only true >1.5x drifts above the
floor and exit cleanly when nothing regressed."""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent


def _run(prev: dict, cur: dict, tmp_path: Path, **cur_extra):
    p1, p2 = tmp_path / "prev.json", tmp_path / "cur.json"
    p1.write_text(json.dumps({"queries": prev}))
    p2.write_text(json.dumps({"queries": cur, **cur_extra}))
    return subprocess.run(
        [sys.executable, str(REPO / "tools" / "bench_gate.py"), str(p1), str(p2)],
        capture_output=True,
        text=True,
    )


def test_no_regressions_exits_zero(tmp_path):
    r = _run({"a": 1.0, "b": 0.5}, {"a": 1.1, "b": 0.6}, tmp_path)
    assert r.returncode == 0
    out = json.loads(r.stdout.strip().splitlines()[-1])
    assert out["regressions"] == [] and out["flagged"] == 0


def test_below_floor_never_flags(tmp_path):
    # 10x regression but prev under the 0.3s floor: noise territory
    r = _run({"a": 0.05}, {"a": 0.5}, tmp_path)
    assert r.returncode == 0
    assert json.loads(r.stdout.strip().splitlines()[-1])["flagged"] == 0


def test_new_queries_ignored(tmp_path):
    r = _run({"a": 1.0}, {"a": 1.0, "brand_new": 9.9}, tmp_path)
    assert r.returncode == 0
    assert json.loads(r.stdout.strip().splitlines()[-1])["flagged"] == 0


# ---- self-adjudication (VERDICT r8 #2) -----------------------------------


def test_min_of_iters_rescues_contention(tmp_path):
    # suite median doubled, but the fastest iteration still matches the
    # previous median: contention, not code — no solo re-measure needed
    r = _run(
        {"ev_x": 1.0},
        {"ev_x": 2.5},
        tmp_path,
        queries_min={"ev_x": 1.1},
    )
    assert r.returncode == 0
    out = json.loads(r.stdout.strip().splitlines()[-1])
    assert out["regressions"] == [] and out["flagged"] == 0
    # ADVICE r9 #3: rescues carry their deltas so repeated rescues of the
    # same query stay visible round-over-round
    assert [d["query"] for d in out["min_rescued"]] == ["ev_x"]
    assert out["min_rescued"][0]["min_delta"] == 0.1


def test_min_of_iters_absolute_bar_rescues_near_floor(tmp_path):
    # prev 0.4s, median 1.0s (>1.5x) and min 0.7s fails the ratio bar,
    # but min-prev = 0.3s <= DELTA_SEC: the same absolute swing the solo
    # confirmation ignores — rescued, with the delta on record
    r = _run(
        {"ev_y": 0.4},
        {"ev_y": 1.0},
        tmp_path,
        queries_min={"ev_y": 0.7},
    )
    assert r.returncode == 0
    out = json.loads(r.stdout.strip().splitlines()[-1])
    assert out["flagged"] == 0
    assert [d["query"] for d in out["min_rescued"]] == ["ev_y"]


def test_noisy_block_sentinel_skips_flagging(tmp_path):
    # the ev block's sentinel moved 4x / +3s — a self-documented
    # co-tenant window; its readings are recorded, not flagged
    r = _run(
        {"ev_x": 1.0},
        {"ev_x": 4.0},
        tmp_path,
        queries_min={"ev_x": 3.8},
        blocks={
            "ev": {
                "first": "ev_x",
                "sentinel_start_sec": 1.0,
                "sentinel_end_sec": 4.0,
                "sentinel_ratio": 4.0,
            }
        },
    )
    assert r.returncode == 0
    out = json.loads(r.stdout.strip().splitlines()[-1])
    assert out["flagged"] == 0 and out["noisy_skipped"] == ["ev_x"]
    assert out["noisy_blocks"] == ["ev"]


def test_quiet_block_does_not_mask_regression(tmp_path):
    # sentinel ~1.0 and min-of-iters also slow: this would go to the solo
    # re-measure path — prove the cheap filters do NOT swallow it by
    # checking it reaches the suite-flagged stage (stderr announcement)
    r = _run(
        {"zz_only": 1.0},
        {"zz_only": 4.0},
        tmp_path,
        queries_min={"zz_only": 3.9},
        blocks={
            "zz": {
                "first": "zz_only",
                "sentinel_start_sec": 4.0,
                "sentinel_end_sec": 4.1,
                "sentinel_ratio": 1.02,
            }
        },
    )
    assert "suite-flagged" in r.stderr
    # zz_only is not a real registry query, so the solo subprocess fails —
    # which is itself the correct "did not get silently skipped" signal
    assert r.returncode == 1


def test_block_is_noisy_rule():
    sys.path.insert(0, str(REPO))
    from bench import block_is_noisy

    quiet = {"sentinel_start_sec": 2.0, "sentinel_end_sec": 2.2, "sentinel_ratio": 1.1}
    noisy_up = {"sentinel_start_sec": 1.0, "sentinel_end_sec": 3.5, "sentinel_ratio": 3.5}
    noisy_down = {"sentinel_start_sec": 3.5, "sentinel_end_sec": 1.0, "sentinel_ratio": 0.286}
    # 3x ratio but only 0.2s absolute: sub-second scheduling swing
    tiny = {"sentinel_start_sec": 0.1, "sentinel_end_sec": 0.3, "sentinel_ratio": 3.0}
    legacy = {"first": "q1"}  # pre-r9 artifact without sentinel fields
    assert not block_is_noisy(quiet)
    assert block_is_noisy(noisy_up)
    assert block_is_noisy(noisy_down)
    assert not block_is_noisy(tiny)
    assert not block_is_noisy(legacy)


# ---- BENCH_SOLO merge hygiene (ADVICE r8 #1) ------------------------------


def test_merge_solo_replaces_and_keeps():
    sys.path.insert(0, str(REPO))
    from bench import merge_solo

    prior = {"queries": {"a": 1.0, "b": 2.0}, "iters": 3, "sf_dir": "/sf"}
    got = merge_solo(prior, {"a": 1.5}, 3, "/sf", {"a", "b"})
    assert got == {"a": 1.5, "b": 2.0}


def test_merge_solo_discards_on_settings_change():
    sys.path.insert(0, str(REPO))
    from bench import merge_solo

    prior = {"queries": {"a": 1.0, "b": 2.0}, "iters": 3, "sf_dir": "/sf"}
    # different iters: prior rows measured under other settings go
    assert merge_solo(prior, {"a": 1.5}, 5, "/sf", {"a", "b"}) == {"a": 1.5}
    # different sf_dir: same
    assert merge_solo(prior, {"a": 1.5}, 3, "/sf1", {"a", "b"}) == {"a": 1.5}


def test_merge_solo_prunes_unregistered():
    sys.path.insert(0, str(REPO))
    from bench import merge_solo

    prior = {"queries": {"a": 1.0, "gone_query": 9.0}, "iters": 3, "sf_dir": "/sf"}
    got = merge_solo(prior, {"a": 1.2}, 3, "/sf", {"a"})
    assert got == {"a": 1.2}


def test_merge_solo_legacy_artifact_without_settings():
    sys.path.insert(0, str(REPO))
    from bench import merge_solo

    # pre-r9 artifacts carry iters/sf_dir at current defaults or not at
    # all; absent keys must NOT trigger the discard
    prior = {"queries": {"a": 1.0}}
    assert merge_solo(prior, {"b": 2.0}, 3, "/sf", {"a", "b"}) == {
        "a": 1.0,
        "b": 2.0,
    }


# ---- boundary-canary window adjudication (VERDICT r9 #1) ------------------


def test_canary_suspect_families_rule():
    sys.path.insert(0, str(REPO))
    from bench import canary_suspect_families

    # quiet series: every reading near the minimum — nothing suspect
    quiet = [
        {"at": "q", "sec": 0.30}, {"at": "ev", "sec": 0.33},
        {"at": "sim", "sec": 0.31}, {"at": "end", "sec": 0.32},
    ]
    assert canary_suspect_families(quiet) == set()

    # mid-series hump: ev's closing reading and sim's opening reading are
    # the SAME elevated boundary — both families bracketed by the window
    hump = [
        {"at": "q", "sec": 0.30}, {"at": "ev", "sec": 0.31},
        {"at": "sim", "sec": 1.40}, {"at": "text", "sec": 0.32},
        {"at": "end", "sec": 0.30},
    ]
    assert canary_suspect_families(hump) == {"ev", "sim"}

    # ratio exceeded but absolute delta under the bar (sub-second
    # scheduling swing): not suspect
    tiny = [
        {"at": "q", "sec": 0.05}, {"at": "ev", "sec": 0.15},
        {"at": "end", "sec": 0.05},
    ]
    assert canary_suspect_families(tiny) == set()

    # legacy artifact without the series: no suspects, no crash
    assert canary_suspect_families([]) == set()
    assert canary_suspect_families([{"at": "q", "sec": 0.3}]) == set()


def test_canary_catches_midblock_window_that_sentinel_missed(tmp_path):
    # The exact r9 blind spot, reconstructed with a synthetic load
    # window: a co-tenant window is live while the ev block's MIDDLE
    # queries run, then fades before the block ends — so the end-of-block
    # sentinel re-run of ev's first query reads clean (ratio ~1.0), but
    # the boundary canary taken as the NEXT family starts is still
    # elevated. The gate must adjudicate ev's inflated rows as
    # window-suspect without any solo re-measure.
    def canary_sec(base, window_active):
        return round(base * (4.0 if window_active else 1.0), 4)

    base = 0.3
    # window timeline: opens after the ev-entry canary, fades after the
    # sim-entry canary — ev's closing boundary reading catches it
    noise_index = [
        {"at": "q", "sec": canary_sec(base, False)},
        {"at": "ev", "sec": canary_sec(base, False)},
        {"at": "sim", "sec": canary_sec(base, True)},
        {"at": "text", "sec": canary_sec(base, False)},
        {"at": "end", "sec": canary_sec(base, False)},
    ]
    r = _run(
        {"ev_mid": 1.0, "text_z": 1.0},
        {"ev_mid": 2.6, "text_z": 1.05},  # ev inflated 2.6x, text fine
        tmp_path,
        queries_min={"ev_mid": 2.5, "text_z": 1.0},  # min offers no rescue
        blocks={
            "ev": {
                # sentinel clean: window faded before block end
                "first": "ev_mid",
                "sentinel_start_sec": 2.6,
                "sentinel_end_sec": 2.7,
                "sentinel_ratio": 1.04,
            }
        },
        noise_index=noise_index,
    )
    assert r.returncode == 0, r.stderr
    out = json.loads(r.stdout.strip().splitlines()[-1])
    assert out["flagged"] == 0 and out["regressions"] == []
    assert out["window_suspect_skipped"] == ["ev_mid"]
    assert "ev" in out["window_suspect_blocks"]
    # the clean-sentinel block is NOT in the old noisy list — the canary
    # rule, not the block rule, is what adjudicated it
    assert out["noisy_blocks"] == []


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


# ---- solo-to-solo confirmation bar (r10; the dedup_containment case) ------


def _run_env(prev, cur, tmp_path, solo_doc, **cur_extra):
    p1, p2, ps = tmp_path / "prev.json", tmp_path / "cur.json", tmp_path / "solo.json"
    p1.write_text(json.dumps({"queries": prev}))
    p2.write_text(json.dumps({"queries": cur, **cur_extra}))
    ps.write_text(json.dumps(solo_doc))
    import os

    env = dict(os.environ, BENCH_SOLO_PATH=str(ps))
    return subprocess.run(
        [sys.executable, str(REPO / "tools" / "bench_gate.py"), str(p1), str(p2)],
        capture_output=True, text=True, env=env,
    )


def test_solo_baseline_bar_prevents_fresh_jvm_false_confirm(tmp_path):
    # suite says 4x slower and min offers no rescue, but the fresh solo
    # re-measure lands within the query's PRIOR SOLO band — the
    # fresh-JVM tax, not code. Uses a real (cheap) registry query so the
    # gate's solo subprocess actually runs.
    name = "ops_values_limit_offset"
    r = _run_env(
        {name: 0.45},
        {name: 1.9},
        tmp_path,
        {"queries": {name: 100.0}, "iters": 3,
         "sf_dir": "/root/testdata/sf0.1"},
        queries_min={name: 1.85},
    )
    assert r.returncode == 0, r.stderr[-1500:]
    out = json.loads(r.stdout.strip().splitlines()[-1])
    assert out["flagged"] == 1 and out["regressions"] == []


def test_no_solo_baseline_falls_back_to_prev_suite(tmp_path):
    # same shape but NO prior solo row: the conservative prev-suite bar
    # applies and the (slower-than-suite) fresh solo confirms, with
    # solo_baseline recorded as null so the adjudicator sees which bar
    # fired
    name = "ops_values_limit_offset"
    r = _run_env(
        {name: 0.31},
        {name: 1.9},
        tmp_path,
        {"queries": {}, "iters": 3, "sf_dir": "/root/testdata/sf0.1"},
        queries_min={name: 1.85},
    )
    out = json.loads(r.stdout.strip().splitlines()[-1])
    if out["regressions"]:
        assert r.returncode == 1
        assert out["regressions"][0]["solo_baseline"] is None
    else:
        # a very fast host can legitimately solo under the 1.5x/0.5s
        # bars vs 0.31s prev; the point is the fallback path executed
        assert r.returncode == 0 and out["flagged"] == 1


def test_canary_elevated_families_informational():
    sys.path.insert(0, str(REPO))
    from bench import canary_elevated_families, canary_suspect_families

    # the r10 shape: early families ~1.8x the floor (sub-bar), one hard
    # window later — elevated reports the mild ones, suspect the hard one
    series = [
        {"at": "q", "sec": 0.40}, {"at": "dedup", "sec": 0.43},
        {"at": "ops", "sec": 0.41}, {"at": "sample", "sec": 0.92},
        {"at": "sim", "sec": 0.24}, {"at": "end", "sec": 0.22},
    ]
    # ops' CLOSING bracket is the 0.92 reading — the window may have
    # opened during its block, so it is suspect alongside sample
    assert canary_suspect_families(series) == {"ops", "sample"}
    assert canary_elevated_families(series) == {"q", "dedup"}
    # quiet series: nothing in either bucket
    quiet = [{"at": "q", "sec": 0.30}, {"at": "end", "sec": 0.31}]
    assert canary_elevated_families(quiet) == set()


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
    from bench import fit_summary_line

    summary = {
        "metric": "query_suite_total_sec",
        "value": 1.0,
        "queries": {f"query_{i:03d}": 1.5 for i in range(100)},
        "noisy_blocks": {},
    }
    line = fit_summary_line(summary, limit=500)
    assert len(line) <= 500
    kept = json.loads(line)["queries"]
    # drops from the fast end, keeps the prefix order; input untouched
    assert 0 < len(kept) < 100
    assert list(kept) == list(summary["queries"])[: len(kept)]
    assert len(summary["queries"]) == 100
    assert fit_summary_line(summary, limit=10_000) == json.dumps(summary)

    # fixed fields alone overflow: empty the tranche, then refuse
    summary["noisy_blocks"] = {f"family_{i}": 2.5 for i in range(200)}
    with pytest.raises(ValueError, match="empty per-query tranche"):
        fit_summary_line(summary, limit=500)
