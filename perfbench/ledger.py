"""The per-layer ledger: spans, the Spark status store, plan metrics and
process memory, all read from outside the engine.

Spans nest query -> build -> load_table, query -> plan / collect, read ->
get_info / do_get, or commit -> publish, and carry the Spark job group of
the operation they belong to. They stay in memory and are written out when
the run ends. Status-store and plan-metric reads happen after an
operation's timed interval has closed.
"""

from __future__ import annotations

import itertools
import json
import os
import threading
import time
import urllib.error
import urllib.request
from contextlib import contextmanager
from datetime import datetime, timezone


class Tracer:
    """Collects spans; when disabled every call is a no-op.

    Each thread keeps its own stack of open spans, so a span opened inside
    another (a wrapped ``load_table`` inside a builder call) becomes its
    child and inherits its job group.
    """

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._pc0 = time.perf_counter()
        self._epoch0 = time.time()

    def now(self) -> float:
        """Epoch seconds at perf_counter resolution (Spark stamps jobs in
        epoch milliseconds, so spans and jobs share one clock)."""
        return self._epoch0 + (time.perf_counter() - self._pc0)

    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, group: str | None = None):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        parent = stack[-1] if stack else None
        rec = {
            "id": next(self._ids),
            "name": name,
            "group": group or (parent["group"] if parent else ""),
            "parent": parent["id"] if parent else None,
            "start": self.now(),
        }
        stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = self.now()
            stack.pop()
            self.spans.append(rec)

    def group_spans(self, group: str) -> list[dict]:
        return [s for s in self.spans if s["group"] == group]

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f)


def self_times(spans: list[dict]) -> dict[str, float]:
    """Self seconds per span name: each span's wall minus its children's."""
    child: dict[int, float] = {}
    for s in spans:
        if s["parent"] is not None:
            child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
    out: dict[str, float] = {}
    for s in spans:
        own = s["end"] - s["start"] - child.get(s["id"], 0.0)
        out[s["name"]] = out.get(s["name"], 0.0) + own
    return out


def jobs_within(jobs: list[dict], spans: list[dict]) -> list[dict]:
    """The jobs submitted while one of ``spans`` was open (Spark stamps
    submission to the millisecond, hence the 1 ms slack)."""
    out = []
    for j in jobs:
        t = _epoch(j.get("submissionTime"))
        if t is not None and any(s["start"] - 1e-3 <= t <= s["end"] + 1e-3 for s in spans):
            out.append(j)
    return out


def _epoch(stamp: str | None) -> float | None:
    if not stamp:
        return None
    dt = datetime.strptime(stamp[:23], "%Y-%m-%dT%H:%M:%S.%f")
    return dt.replace(tzinfo=timezone.utc).timestamp()


class StatusStore:
    """Spark's status store through the driver's REST API on localhost.
    Spark retains the last 1000 jobs and stages, so callers read an
    operation's jobs before a thousand more have run."""

    def __init__(self, sc):
        if not sc.uiWebUrl:
            raise RuntimeError("the Spark UI is off; the status store is unreachable")
        self._tracker = sc.statusTracker()
        self._base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def _get(self, path: str):
        try:
            with urllib.request.urlopen(self._base + path, timeout=60) as r:
                return json.loads(r.read())
        except urllib.error.HTTPError as e:
            if e.code == 404:  # a stage skipped before any attempt was made
                return []
            raise

    def group(self, group: str) -> tuple[list[dict], dict[int, list[dict]]]:
        """The jobs of one job group, and every attempt of their stages
        keyed by stage id."""
        jobs = [self._get(f"/jobs/{j}") for j in self._tracker.getJobIdsForGroup(group)]
        ids = {sid for j in jobs for sid in j["stageIds"]}
        return jobs, {sid: self._get(f"/stages/{sid}") for sid in ids}


def exec_summary(jobs: list[dict], stages: dict[int, list[dict]]) -> dict[str, float]:
    """Sum the exec layer over some jobs and the attempts of their stages."""
    ids = {sid for j in jobs for sid in j["stageIds"]}
    ran = [
        s for sid in ids for s in stages.get(sid, []) if s.get("status") != "SKIPPED"
    ]
    ends = [_epoch(j.get("completionTime")) for j in jobs]
    ends = [e for e in ends if e is not None]
    return {
        "jobs": len(jobs),
        "stages": len({s["stageId"] for s in ran}),
        "tasks": sum(s.get("numCompleteTasks", 0) for s in ran),
        "task_run_s": sum(s.get("executorRunTime", 0) for s in ran) / 1e3,
        "task_cpu_s": sum(s.get("executorCpuTime", 0) for s in ran) / 1e9,
        "gc_s": sum(s.get("jvmGcTime", 0) for s in ran) / 1e3,
        "shuffle_read_bytes": sum(s.get("shuffleReadBytes", 0) for s in ran),
        "shuffle_write_bytes": sum(s.get("shuffleWriteBytes", 0) for s in ran),
        "spill_bytes": sum(
            s.get("memoryBytesSpilled", 0) + s.get("diskBytesSpilled", 0) for s in ran
        ),
        "failed_tasks": sum(s.get("numFailedTasks", 0) for s in ran),
        "stage_retries": sum(1 for s in ran if s.get("attemptId", 0) > 0),
        "last_job_end": max(ends) if ends else None,
    }


def plan_summary(rows: list[dict]) -> dict[str, float]:
    """Exchanges and Python-worker work in an executed plan, from
    ``plans.metrics.executed_metrics`` rows."""
    py = [r["metrics"] for r in rows if "time to run Python workers" in r["metrics"]]
    return {
        "exchanges": sum(
            1 for r in rows if "Exchange" in r["node"] and "Reused" not in r["node"]
        ),
        "python_s": sum(m["time to run Python workers"] for m in py) / 1e3,
        "python_rows": sum(m.get("number of output rows", 0) for m in py),
    }


def catalyst_phases(jdf) -> dict[str, float]:
    """Analysis / optimization / planning seconds of a DataFrame's
    QueryExecution (filled in once its physical plan exists)."""
    phases = jdf.queryExecution().tracker().phases()
    out = {}
    for k in ("analysis", "optimization", "planning"):
        opt = phases.get(k)
        out[k] = opt.get().durationMs() / 1e3 if opt.isDefined() else 0.0
    return out


# -- host ---------------------------------------------------------------------


def cpu_ticks() -> tuple[int, int]:
    """Host-wide ``(busy, stolen)`` CPU clock ticks from ``/proc/stat``.
    Busy is user, nice, system, irq and softirq time; stolen is time a
    runnable virtual CPU waited while the hypervisor ran another guest."""
    with open("/proc/stat") as f:
        user, nice, system, _, _, irq, softirq, steal = map(int, f.readline().split()[1:9])
    return user + nice + system + irq + softirq, steal


def granted(t0: tuple[int, int], t1: tuple[int, int]) -> float:
    """Share of the CPU time wanted between two :func:`cpu_ticks` readings
    that the hypervisor granted: 1.0 on a machine no other guest shares."""
    busy, stolen = t1[0] - t0[0], t1[1] - t0[1]
    return busy / (busy + stolen) if busy + stolen > 0 else 1.0


# -- processes ----------------------------------------------------------------


def rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


class RssSampler:
    """Peak of the summed resident set of ``pids``, sampled every 50 ms."""

    def __init__(self, pids: list[int], interval: float = 0.05):
        self.pids = pids
        self.peak = 0.0
        self._interval = interval
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        self.peak = max(self.peak, sum(rss_mb(p) for p in self.pids))

    def _run(self) -> None:
        while not self._stop.wait(self._interval):
            self._sample()

    def __enter__(self):
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self._sample()


def children(pid: int) -> list[int]:
    """Every live descendant of ``pid``."""
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
    out, frontier = [], [pid]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out += kids
        frontier += kids
    return out


def alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def process_age_s() -> float:
    """Seconds since this process started (kernel clock-tick resolution)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")
