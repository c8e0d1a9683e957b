"""Per-round bench regression gate: one rule, judged on CPU time.

Compares two ``bench.py`` detail files (``bench_queries.json``), a
PREVIOUS run's and the CURRENT one. Each holds per-query wall-time
medians under ``queries`` and per-layer medians under ``layers``. Every
query both runs timed is sorted into one of three bins:

* **code regression**: task CPU + build CPU (``exec.task_cpu_s`` +
  ``operators.build_cpu_s``) rose by more than RATIO and by more than
  DELTA_SEC.
* **shape regression**: every current iteration ran more jobs, or more
  stages, than every previous one (``exec.jobs_range``,
  ``exec.stages_range``), and wall time rose by more than RATIO and by
  more than DELTA_SEC (lost parallelism, an extra pass). Ranges, not
  medians, because AQE re-plans as stages finish: unchanged code can run
  a job more in some iterations than in others.
* **noise**: wall time rose past both bars for any other reason. It is
  listed, with no verdict.

Why CPU: host contention stretches wall time but barely moves the CPU time
a task spends. In a full ``bench.py`` run at local[4] beside 8 in-guest
busy-loops on a 4-core host, per-query wall time rose 2.10x at the median
(IQR 1.72-2.55x) while task + build CPU moved 0.90x (IQR 0.77-1.04x). So
the rule needs no re-measure and no noise filter; the record of one run
is enough.

Queries whose previous wall time is at most FLOOR_SEC are not judged on
wall time. The CPU rule needs no floor: its DELTA_SEC bar is above it.

Out of reach of this rule:

* Catalyst-side slowdowns (analysis, optimization, planning) run in the
  driver JVM. They spend no task CPU and change no job or stage count.
  The plan-fingerprint gate in ``tests/test_plan_snapshot.py`` covers them.
* Python-worker CPU (pandas and Python UDFs) is not task CPU. A slowdown
  there shows in ``functions.python_s`` and wall time, and is listed as
  noise.

Usage: python tools/bench_gate.py PREV_bench_queries.json [CUR.json]
CUR defaults to the repo's bench_queries.json. Prints one JSON line and
exits 1 on regressions. A file without ``layers`` exits 2: it cannot be
judged, so it never passes silently.
"""

from __future__ import annotations

import json
import os
import sys

FLOOR_SEC = 0.3
RATIO = 1.5
#: a regression must also be at least this much slower in absolute terms:
#: sub-second figures swing ~0.1-0.3s from JVM/heap/scheduling alone
#: (PERF.md r4), which a pure ratio misreads as real
DELTA_SEC = 0.5

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _rose(before: float, after: float) -> bool:
    return after > RATIO * before and after - before > DELTA_SEC


def _cpu(layer: dict) -> float:
    return layer["exec.task_cpu_s"] + layer["operators.build_cpu_s"]


def judge(prev: dict, cur: dict) -> dict:
    """Sort every query both detail records timed into regressions and
    noise (pure; both records must carry ``layers``)."""
    regressions, noise = [], []
    judged = sorted(n for n in cur["queries"] if n in prev["queries"])
    for n in judged:
        p, c = prev["layers"][n], cur["layers"][n]
        wall = (prev["queries"][n], cur["queries"][n])
        row = {
            "query": n,
            "wall": list(wall),
            "cpu": [round(_cpu(p), 4), round(_cpu(c), 4)],
            "jobs": [p["exec.jobs_range"], c["exec.jobs_range"]],
            "stages": [p["exec.stages_range"], c["exec.stages_range"]],
        }
        wall_rose = wall[0] > FLOOR_SEC and _rose(*wall)
        more = any(
            c[f"exec.{k}_range"][0] > p[f"exec.{k}_range"][1] for k in ("jobs", "stages")
        )
        if _rose(_cpu(p), _cpu(c)):
            regressions.append({**row, "rule": "code"})
        elif wall_rose and more:
            regressions.append({**row, "rule": "shape"})
        elif wall_rose:
            noise.append(row)
    return {
        "metric": "bench_gate",
        "judged": len(judged),
        "flagged": len(regressions),
        "regressions": regressions,
        "noise": noise,
    }


def main() -> int:
    prev_path = sys.argv[1]
    cur_path = sys.argv[2] if len(sys.argv) > 2 else os.path.join(
        _REPO, "bench_queries.json"
    )
    docs = []
    for path in (prev_path, cur_path):
        with open(path) as f:
            doc = json.load(f)
        if "layers" not in doc:
            print(
                f"{path} has no per-query layers record; re-run bench.py to "
                "write one (the gate judges task CPU, not wall time alone)",
                file=sys.stderr,
            )
            return 2
        docs.append(doc)
    out = judge(*docs)
    print(json.dumps(out))
    return 1 if out["regressions"] else 0


if __name__ == "__main__":
    raise SystemExit(main())
