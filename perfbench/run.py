"""Engine benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload serial_mixed --seed 1 --seconds 30 --trace 0

Run it from the root of a checkout. It reads the sf0.1 tables shipped in
``perfbench/data/sf0.1``, writes only under ``$CARGO_TARGET_DIR/perfbench``
(``.bench_build/perfbench`` by default), drives the engine on
``local[<cores>]``, checks every result against DuckDB, and prints a
summary line and then, as the last line, one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the ``end_to_end`` ones of ``BENCHMARK.json``; with
``--trace 1`` they are its ``per_layer`` ones, and the spans are written
to ``<build dir>/perfbench/traces/``.

Without the engine package next to this directory it exits with code 2
and prints no result.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE = "datafusion_ballista_dhruvil_spark"
DATA = os.path.join(HERE, "data", "sf0.1")


def _environment(work: str) -> None:
    """Keep every file the run writes inside the checkout, and pin the
    settings results depend on."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cores = str(len(os.sched_getaffinity(0)))
    os.environ.update(
        {
            "TZ": "UTC",
            "TMPDIR": tmp,
            "SPARK_LOCAL_DIRS": tmp,
            # no hsperfdata file under /tmp
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "SPARK_GRAFT_CPUS": cores,
            "SPARK_GRAFT_DRIVER_MEM": "4g",
            "PYSPARK_PYTHON": sys.executable,
            "PYSPARK_DRIVER_PYTHON": sys.executable,
        }
    )
    os.environ.pop("SPARK_GRAFT_EXTRA_CONF", None)
    time.tzset()


def _stop_jvm() -> None:
    """Stop the JVM that pyspark launched and wait for it and for every
    process it started (the Python worker daemon) to end."""
    from pyspark import SparkContext

    from ledger import alive, children

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = gw.proc
    kids = children(proc.pid)
    try:
        gw.shutdown()
    except Exception:  # noqa: BLE001 - the JVM is going away regardless
        pass
    proc.stdin.close()  # the gateway exits on EOF of its stdin
    try:
        proc.wait(timeout=30)
    except Exception:  # noqa: BLE001
        proc.kill()
        proc.wait()
    deadline = time.time() + 20
    while any(alive(k) for k in kids) and time.time() < deadline:
        time.sleep(0.05)
    for k in kids:
        if alive(k):
            os.kill(k, 9)
    SparkContext._gateway = None
    SparkContext._jvm = None


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, ENGINE, "__init__.py")):
        print(f"engine package {ENGINE!r} not found next to {HERE}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    from ledger import RssSampler, Tracer, cpu_ticks, granted, process_age_s

    c0 = cpu_ticks()  # the granted share of set-up is taken from here
    import stats
    from oracle import Oracle
    from workloads import WORKLOADS, layer_means, summarize

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    work = os.path.abspath(os.path.join(os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench"))
    _environment(work)

    tracer = Tracer(bool(args.trace))
    wl = WORKLOADS[args.workload](DATA, work, args.seed, tracer)
    try:
        # process start -> session, load_all, tables and what the workload
        # serves: the cold start a user waits for, on the CPU time granted
        # like the other end-to-end figures
        create_s = wl.setup()
        setup_wall = process_age_s()
        setup_s = setup_wall * granted(c0, cpu_ticks())

        from datafusion_ballista_dhruvil_spark.session import TABLE_NAMES
        from pyspark import SparkContext

        marks = {"setup": time.perf_counter()}
        oracle = Oracle(DATA, TABLE_NAMES, os.path.join(work, "oracle"))
        wl.expect(oracle)
        oracle.close()
        marks["oracle"] = time.perf_counter()
        wl.start_ledger()
        wl.warm_up()
        tracer.spans.clear()
        marks["warm_up"] = time.perf_counter()
        with RssSampler([os.getpid(), SparkContext._gateway.proc.pid]) as rss:
            wl.measure(args.seconds)
        marks["measure"] = time.perf_counter()
        wl.check()
    finally:
        if wl.spark is not None:
            wl.teardown()
        _stop_jvm()
    marks["teardown"] = time.perf_counter()
    steps = list(marks.items())
    print(
        "phase seconds: "
        + " ".join(f"{k}={t - steps[i - 1][1]:.1f}" for i, (k, t) in enumerate(steps) if i)
        + f" run={process_age_s():.1f}",
        file=sys.stderr,
    )

    per = stats.per_key_medians([(r["key"], r["latency"]) for r in wl.records if "latency" in r])
    print(
        "median s per operation: " + " ".join(f"{k}={v:.3f}" for k, v in sorted(per.items())),
        file=sys.stderr,
    )
    failed = sum(1 for r in wl.records if not r["ok"])
    attempted = len(wl.records)
    e2e = summarize(wl, granted_time=True)
    wall = summarize(wl, granted_time=False)
    for r in wl.records:
        if not r["ok"]:
            print(f"FAILED {r['group']}: {r.get('error') or 'result differs from the oracle'}")
    commits = (
        f"commits_per_s={e2e['commits_per_s']:.4f} 1/s commit_p50_s={e2e['commit_p50_s']:.4f} s"
        if "commits_per_s" in e2e
        else "commits_per_s=n/a commit_p50_s=n/a"
    )
    print(
        f"{args.workload} seed={args.seed} trace={args.trace}: "
        f"setup_s={setup_s:.3f} s wall.setup_s={setup_wall:.3f} s "
        f"wall.queries_per_s={wall['queries_per_s']:.4f} 1/s "
        f"wall.latency_p50_s={wall['latency_p50_s']:.4f} s "
        f"host.granted_share={e2e['granted_share']:.4f} "
        f"queries_per_s={e2e['queries_per_s']:.4f} 1/s "
        f"latency_p50_s={e2e['latency_p50_s']:.4f} s "
        f"latency_tail_s={e2e['latency_tail_s']:.4f} s (p{e2e['latency_tail_pct']:g} of "
        f"{e2e['n_latencies']}, {e2e['tail_beyond']} beyond) "
        f"error_rate={failed / max(attempted, 1):.4f} ({failed}/{attempted}) {commits} "
        f"peak_rss_mb={rss.peak:.1f} MB"
    )
    values = {
        "latency_p50_s": e2e["latency_p50_s"],
        "queries_per_s": e2e["queries_per_s"],
        "setup_s": setup_s,
    }
    names = spec["end_to_end"]
    if args.trace:
        tracer.write(os.path.join(work, "traces", f"{args.workload}-seed{args.seed}.json"))
        # a layer that does no work in this workload reports 0
        values = {m["name"]: 0.0 for m in spec["per_layer"]}
        values.update(layer_means(wl))
        values.update(
            {
                "latency_tail_s": e2e["latency_tail_s"],
                "latency_tail_pct": e2e["latency_tail_pct"],
                "error_rate": failed / attempted,
                "commits_per_s": e2e.get("commits_per_s", 0.0),
                "commit_p50_s": e2e.get("commit_p50_s", 0.0),
                "peak_rss_mb": rss.peak,
                "session.create_s": create_s,
                "trace.latency_p50_s": e2e["latency_p50_s"],
                "trace.queries_per_s": e2e["queries_per_s"],
                "wall.latency_p50_s": wall["latency_p50_s"],
                "wall.queries_per_s": wall["queries_per_s"],
                "wall.setup_s": setup_wall,
                "host.granted_share": e2e["granted_share"],
            }
        )
        names = spec["per_layer"]
    metrics = {m["name"]: (values[m["name"]], m["unit"]) for m in names}
    print(json.dumps(stats.result_line(failed == 0, attempted, failed, metrics)))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
