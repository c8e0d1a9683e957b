"""Benchmark runner: headline queries at $SPARK_GRAFT_SF_DIR on local[$SPARK_GRAFT_CPUS].

Prints the contract JSON
  {"metric": "query_suite_total_sec", "value": N, "unit": "sec",
   "queries": {"q1": sec, ...}, "sf": 0.1}
twice at the end of the run: first a full-detail line with the COMPLETE
354-entry per-query map, then a final line whose per-query map is a bounded
tranche (TPC-H + slowest-first) so the line always fits the driver's
2000-char tail capture — see SUMMARY_LINE_MAX for the r1 overflow history.
Complete per-query medians are also written to bench_queries.json and a
cpus-stamped copy (the driver's 8-core scaling run must not overwrite the
32-core detail), beside a ``layers`` record per query: medians over its
timed iterations of build wall and CPU time, the Catalyst phases, the Spark
jobs' work (jobs, stages, tasks, task CPU and run time, GC, shuffle, spill,
Python-worker time, classes compiled by the code generator), result return
time and the host's granted CPU share, read through perfbench/ledger.py.
tools/bench_gate.py judges regressions between two such files on task CPU.

Mirrors the reference harness (benchmarks/src/bin/tpch.rs:90-109,963-1000):
iterations=3 per query (override BENCH_ITERS), median reported. Each timing
covers logical plan construction through action completion (collect for small
results — same shape as the reference's collect-based runner).

Loadtest mode (reference tpch.rs:174-206: concurrent submission,
requests=100 concurrency=5 defaults): ``python bench.py --loadtest
[requests] [concurrency]`` fires random registry queries from a thread pool
against one session and reports throughput. Spark's scheduler interleaves
the jobs (FAIR-ready); this is the reference's multi-client scenario.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import sys
import time

from perfbench.ledger import (
    StatusStore,
    Tracer,
    catalyst_phases,
    cpu_ticks,
    exec_summary,
    granted,
    plan_summary,
)


def loadtest(requests: int = 100, concurrency: int = 5) -> int:
    import random
    from concurrent.futures import ThreadPoolExecutor

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from datafusion_ballista_dhruvil_spark.operators import load_all
    from datafusion_ballista_dhruvil_spark.operators.registry import QUERIES
    from datafusion_ballista_dhruvil_spark.session import create_session

    load_all()
    spark = create_session(app_name="loadtest")
    rng = random.Random(42)
    names = [n for n in QUERIES if n.startswith("q")]
    picks = [rng.choice(names) for _ in range(requests)]

    def run_one(name: str) -> float:
        t0 = time.perf_counter()
        QUERIES[name](spark, sf_dir).collect()
        return time.perf_counter() - t0

    t0 = time.perf_counter()
    with ThreadPoolExecutor(max_workers=concurrency) as pool:
        lat = list(pool.map(run_one, picks))
    wall = time.perf_counter() - t0
    lat.sort()
    print(
        json.dumps(
            {
                "metric": "loadtest_qps",
                "value": round(requests / wall, 3),
                "unit": "queries/sec",
                "requests": requests,
                "concurrency": concurrency,
                "wall_sec": round(wall, 2),
                "p50_sec": round(lat[len(lat) // 2], 3),
                "p95_sec": round(lat[int(len(lat) * 0.95)], 3),
            }
        )
    )
    spark.stop()
    return 0


def skewtest(rows: int = 20_000_000) -> int:
    """Skew-join A/B: 50% of the fact on one hot key, broadcast disabled
    (simulating a dim too large to broadcast). Compares a plain shuffle
    join, AQE's skew-join splitting, and operators/scale.py::salted_join —
    the evidence behind the salting guidance in PERF.md."""
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from pyspark.sql import functions as F

    from datafusion_ballista_dhruvil_spark.operators.scale import salted_join
    from datafusion_ballista_dhruvil_spark.session import create_session

    spark = create_session(
        app_name="skewtest",
        extra_conf={"spark.sql.autoBroadcastJoinThreshold": "-1"},
    )
    fact = spark.range(rows).select(
        F.when(F.col("id") % 2 == 0, 0)
        .otherwise(F.pmod(F.xxhash64("id"), 10_000))
        .alias("k"),
        (F.col("id") % 97).alias("v"),
    )
    dim = spark.range(10_000).select(
        F.col("id").alias("dk"), (F.col("id") * 7 % 101).alias("dv")
    )

    def median_sec(out) -> float:
        samples = []
        for _ in range(3):
            t0 = time.perf_counter()
            out.write.format("noop").mode("overwrite").save()
            samples.append(time.perf_counter() - t0)
        return round(statistics.median(samples), 2)

    plain = fact.join(dim, fact["k"] == dim["dk"]).select("k", "v", "dv")
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
    t_plain = median_sec(plain)
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    t_aqe = median_sec(plain)
    t_salted = median_sec(salted_join(fact, dim, "k", "dk", salt=16).select("k", "v", "dv"))
    print(
        json.dumps(
            {
                "metric": "skewtest_sec",
                "value": t_salted,
                "unit": "sec",
                "rows": rows,
                "plain_sec": t_plain,
                "aqe_skew_sec": t_aqe,
                "salted_sec": t_salted,
            }
        )
    )
    spark.stop()
    return 0


def solo_one(name: str) -> int:
    """Run ONE query in this fresh JVM and print its median timing."""
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    iters = int(os.environ.get("BENCH_ITERS", "3"))
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from datafusion_ballista_dhruvil_spark.operators import load_all
    from datafusion_ballista_dhruvil_spark.operators.registry import QUERIES
    from datafusion_ballista_dhruvil_spark.session import create_session

    load_all()
    spark = create_session(app_name=f"solo_{name}")
    samples = []
    # iters+1 runs, first discarded: a fresh JVM's first run carries JIT
    # and page-cache warmup that the in-suite numbers never see — without
    # the discard, solo medians read SLOWER than suite ones
    for _ in range(iters + 1):
        t0 = time.perf_counter()
        QUERIES[name](spark, sf_dir).collect()
        samples.append(time.perf_counter() - t0)
    print(json.dumps({"query": name, "sec": round(statistics.median(samples[1:]), 4)}))
    spark.stop()
    return 0


#: Hard cap for the FINAL stdout summary line (VERDICT r10 #1 vs the r1
#: overflow): the driver's log capture keeps only the LAST 2000 characters
#: of output (every BENCH_r* artifact stores a tail of exactly 2000 chars,
#: and BENCH_r01 — whose summary line inlined all per-query medians and ran
#: ~9.6 KB — is the one round with parsed:null). A 354-entry map can never
#: fit, so the final line carries a bounded per-query TRANCHE (TPC-H block
#: first, then slowest-first — the rows where regression/scaling
#: adjudication matters) and the COMPLETE map is printed on its own
#: full-detail line immediately before it (plus bench_queries.json /
#: bench_queries_c<cpus>.json on disk). Any parser that reads the last
#: line gets valid JSON with totals + the tranche; a parser that scans the
#: whole log gets the complete map.
SUMMARY_LINE_MAX = 1950

#: target size for the per-query tranche inside the final line, leaving
#: headroom for the fixed fields (measured ~750 chars) under the cap
INLINE_QUERIES_BUDGET = 1100


def inline_query_tranche(
    times: dict[str, float], budget: int = INLINE_QUERIES_BUDGET
) -> dict[str, float]:
    """Bounded per-query map for the final stdout line: the 22 TPC-H
    queries in numeric order, then every other query slowest-first, filled
    greedily while ``len(json.dumps(out)) <= budget``. Each entry costs its
    own ``{"name": v}`` length: the braces are paid once by the first entry
    and the 2-char ``", "`` separator by every later one, so the sum is the
    serialized length exactly. Deterministic given the measured times;
    pure (unit-tested)."""

    def canon(name: str) -> tuple:
        m_q = re.fullmatch(r"q(\d+)", name)
        if m_q:
            return (0, int(m_q.group(1)), 0.0, "")
        return (1, 0, -times[name], name)

    out: dict[str, float] = {}
    used = 0
    for name in sorted(times, key=canon):
        entry = len(json.dumps({name: round(times[name], 3)}))
        if used + entry > budget:
            break
        used += entry
        out[name] = round(times[name], 3)
    return out


def fit_summary_line(summary: dict, limit: int = SUMMARY_LINE_MAX) -> str:
    """Serialize the final stdout line within ``limit`` chars, dropping
    per-query tranche entries from the fast end until it fits. Raises
    ValueError if the line still exceeds ``limit`` once the tranche is
    empty: the fixed fields alone overflow, and a truncated capture would
    lose the whole line. Pure (unit-tested); ``summary`` is not mutated."""
    queries = dict(summary["queries"])
    while True:
        line = json.dumps({**summary, "queries": queries})
        if len(line) <= limit:
            return line
        if not queries:
            raise ValueError(
                f"final summary line is {len(line)} chars with an empty "
                f"per-query tranche; the cap is {limit}"
            )
        queries.popitem()


def codegen_compiles(spark) -> int:
    """Classes Spark's code generator has compiled in this JVM so far."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def timed_iteration(spark, tracer, fn, sf_dir: str, group: str) -> tuple[float, dict]:
    """One timed iteration of a query under its own Spark job group.

    Returns the wall-clock seconds, timed from plan construction through
    the action's completion as in every protocol-v2 artifact, and the
    iteration's run record for :func:`query_layers`. Only the job-group
    tagging (``inline_s``), two span stamps and two ``process_time`` reads
    happen inside the timed interval; the host tick reads and the codegen
    compile count reads sit outside it.
    """
    c0 = cpu_ticks()
    k0 = codegen_compiles(spark)
    t0 = time.perf_counter()
    spark.sparkContext.setJobGroup(group, group)
    inline = time.perf_counter() - t0
    with tracer.span("build", group) as build:
        p0 = time.process_time()
        df = fn(spark, sf_dir)
        build_cpu = time.process_time() - p0
    with tracer.span("collect", group) as action:
        df.collect()
    sec = time.perf_counter() - t0
    return sec, {
        "group": group,
        "df": df,
        "build_s": build["end"] - build["start"],
        "build_cpu_s": build_cpu,
        "end": action["end"],
        "granted": granted(c0, cpu_ticks()),
        "compiles": codegen_compiles(spark) - k0,
        "inline_s": inline,
    }


def query_layers(store, runs: list[dict]) -> dict[str, float]:
    """Per-layer medians over one query's timed iterations, read from the
    status store and the executed plans after the last iteration (Spark
    keeps only its last 1000 jobs, so each query is read before the next
    one runs)."""
    from datafusion_ballista_dhruvil_spark.plans.metrics import executed_metrics

    per = []
    for run in runs:
        ex = exec_summary(*store.group(run["group"]))
        last_job_end = ex.pop("last_job_end")
        rec = {f"exec.{k}": v for k, v in ex.items()}
        phases = catalyst_phases(run["df"]._jdf)
        rec.update({f"catalyst.{k}_s": v for k, v in phases.items()})
        rec["functions.python_s"] = plan_summary(executed_metrics(run["df"]))["python_s"]
        rec["operators.build_s"] = run["build_s"]
        rec["operators.build_cpu_s"] = run["build_cpu_s"]
        rec["result.return_s"] = max(0.0, run["end"] - last_job_end) if last_job_end else 0.0
        rec["host.granted_share"] = run["granted"]
        # a warm codegen cache reads 0; a cold one or code that emits new
        # Java source on every build reads more
        rec["exec.codegen_compiles"] = run["compiles"]
        rec["trace.inline_s"] = run["inline_s"]
        per.append(rec)
    out = {k: round(statistics.median(r[k] for r in per), 6) for k in per[0]}
    # AQE re-plans as stages finish, so unchanged code can run a different
    # number of jobs from one iteration to the next (tpcds_q38 ran 8 or 9
    # on a quiet host); the gate's shape rule compares these ranges
    for k in ("exec.jobs", "exec.stages"):
        out[f"{k}_range"] = [min(r[k] for r in per), max(r[k] for r in per)]
    return out


def final_summary(detail: dict) -> dict:
    """The final stdout line's fields, from the detail record: totals,
    the cpus the run used and the bounded per-query tranche."""
    return {
        "metric": detail["metric"],
        "value": detail["value"],
        "unit": detail["unit"],
        "sf": detail["sf"],
        "n_queries": len(detail["queries"]),
        "tpch_total_sec": detail["tpch_total_sec"],
        "iters": detail["iters"],
        "cpus": detail["cpus"],
        "queries": inline_query_tranche(detail["queries"]),
        "queries_file": "bench_queries.json",
        "protocol": detail["protocol"],
    }


def main() -> int:
    if len(sys.argv) > 1:
        if sys.argv[1] == "--loadtest":
            return loadtest(
                int(sys.argv[2]) if len(sys.argv) > 2 else 100,
                int(sys.argv[3]) if len(sys.argv) > 3 else 5,
            )
        if sys.argv[1] == "--skewtest":
            return skewtest(int(sys.argv[2]) if len(sys.argv) > 2 else 20_000_000)
        if sys.argv[1] == "--solo-one":
            return solo_one(sys.argv[2])
        print(
            f"unknown argument {sys.argv[1]!r}; usage: bench.py [--loadtest "
            "[requests] [concurrency] | --skewtest [rows] | --solo-one name]",
            file=sys.stderr,
        )
        return 2
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    iters = int(os.environ.get("BENCH_ITERS", "3"))
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0

    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from datafusion_ballista_dhruvil_spark.operators import load_all
    from datafusion_ballista_dhruvil_spark.operators.registry import QUERIES
    from datafusion_ballista_dhruvil_spark.session import create_session

    load_all()
    spark = create_session(app_name="bench")

    # CANONICAL suite order, decoupled from registration/rotation order
    # (VERDICT r5 #1): the official BENCH_r05 read TPC-H at 36.9s on code
    # whose solo timings were at parity with every prior round, because
    # registration order put the q* block LATE behind ~300 heavy queries
    # and the long-lived JVM's accumulated state (GC/code-cache/catalog
    # pressure) taxed whatever ran last. The headline tpch_total_sec must
    # measure the queries, not their position — so the TPC-H block runs
    # FIRST in numeric order, then everything else in stable name order.
    # Correctness-rotation order (EXPORT_PRIORITY) no longer touches the
    # bench at all.
    def canon_key(name: str) -> tuple:
        m_q = re.fullmatch(r"q(\d+)", name)
        if m_q:
            return (0, int(m_q.group(1)), "")
        return (1, 0, name)

    ordered = sorted(QUERIES, key=canon_key)

    # Family-boundary clearCache + synchronous System.gc (PERF.md r6 A/B):
    # query functions cache family-shared relations and never unpersist, so
    # a no-clear suite accumulates dozens of cached tables whose eviction /
    # ContextCleaner work lands STOCHASTICALLY mid-flight — three identical
    # no-clear runs read 284/316/347s with a different 5-10x slow cluster
    # each time (ev block after dedup, sim block, ...). Clearing once per
    # family boundary bounds storage pressure and made the suite
    # deterministic (~308s) at the cost of ~20s of intra-suite cache
    # rebuilds. The r7 A/B found the clears redundant once query functions
    # own their caches, but they stay as part of protocol v2. The TPC-H
    # block is one family ("q") — it runs first, before any litter.
    def family(name: str) -> str:
        return "q" if re.fullmatch(r"q\d+", name) else name.split("_", 1)[0]

    # BLOCK-level warmup for the suite-opening TPC-H queries: the fresh
    # JVM's C2 compile queue churns across the first ~8 plans, so a
    # single per-query discard is not enough (measured: q1-q8 read
    # 1.4-2.8x high while q9-q22, running JIT-warm, hit solo parity).
    # One untimed pass of the whole block (~20s) drains the compile
    # queue the way a solo run's discard iteration does for one query;
    # every non-q query runs mid-suite on a warm JVM and needs nothing.
    for name in ordered:
        if re.fullmatch(r"q\d+", name):
            QUERIES[name](spark, sf_dir).collect()

    # the per-layer ledger (perfbench/ledger.py), read per query
    tracer = Tracer(True)
    store = StatusStore(spark.sparkContext)
    times: dict[str, float] = {}
    layers: dict[str, dict[str, float]] = {}
    inline_s = read_s = 0.0
    prev_family = None
    for name in ordered:
        fam = family(name)
        if prev_family is not None and fam != prev_family:
            spark.catalog.clearCache()
            spark.sparkContext._jvm.System.gc()
        prev_family = fam
        # the headline TPC-H block gets median-of-5 (vs 3 elsewhere):
        # it is 22 queries timed in the run's first minutes, where
        # transient host interference lands hardest (identical code has
        # read 17.0s quiet and 34.5s under a noisy co-tenant window);
        # a wider median keeps one bad iteration from moving the number
        # the scoreboard reads
        n_iters = iters + 2 if re.fullmatch(r"q\d+", name) else iters
        samples, runs = [], []
        for i in range(n_iters):
            sec, run = timed_iteration(spark, tracer, QUERIES[name], sf_dir, f"bench-{name}-{i}")
            samples.append(sec)
            runs.append(run)
        times[name] = round(statistics.median(samples), 4)
        t0 = time.perf_counter()
        layers[name] = query_layers(store, runs)
        read_s += time.perf_counter() - t0
        inline_s += sum(r["inline_s"] for r in runs)
        tracer.spans.clear()

    total = round(sum(times.values()), 4)
    tpch_total = round(sum(v for k, v in times.items() if re.fullmatch(r"q\d+", k)), 4)
    # Protocol marker (ADVICE r6 #2): the r6 protocol change (canonical
    # order, untimed TPC-H warm-up pass, median-of-5 headline block,
    # family-boundary gc) made totals systematically more favorable than
    # r01-r05's — record WHICH protocol produced each artifact plus the
    # ACTUAL per-block iteration counts, so cross-round comparisons can't
    # conflate protocol changes with code speedups (PERF.md has the
    # comparability note). Still version 2: the ledger only reads what
    # the timed iterations leave behind.
    protocol = {
        "version": 2,
        "canonical_order": True,
        "tpch_warmup_pass": True,
        "family_boundary_gc": True,
        "iters_tpch": iters + 2,
        "iters_rest": iters,
    }
    # Full per-query detail goes to FILES: bench_queries.json (continuity
    # with r01-r10 tooling) plus a cpus-stamped copy — the driver benches
    # TWICE (32- then 8-core) and the second run used to overwrite the
    # first run's only per-query record (VERDICT r10 #1). ``layers`` holds
    # each query's per-layer medians; ``ledger`` the seconds the ledger
    # spent inside the timed intervals and reading the status store.
    here = os.path.dirname(os.path.abspath(__file__))
    detail = {
        "metric": "query_suite_total_sec",
        "value": total,
        "unit": "sec",
        "queries": times,
        "layers": layers,
        "ledger": {"inline_s": round(inline_s, 4), "read_s": round(read_s, 2)},
        "sf": sf,
        "cpus": os.environ.get("SPARK_GRAFT_CPUS", ""),
        "iters": iters,  # kept for r01-r05 artifact compatibility
        "tpch_total_sec": tpch_total,
        "protocol": protocol,
    }
    for fname in ("bench_queries.json", f"bench_queries_c{detail['cpus'] or 'na'}.json"):
        with open(os.path.join(here, fname), "w") as f:
            json.dump(detail, f, indent=1, sort_keys=True)
    # Emission contract (VERDICT r10 #1): the COMPLETE per-query map goes
    # on its own JSON line FIRST (for whole-log parsers + forensics), then
    # the final line — guaranteed to fit the driver's 2000-char tail
    # capture (SUMMARY_LINE_MAX rationale above) — carries totals, cpus
    # and a bounded per-query tranche.
    summary = final_summary(detail)
    print(json.dumps({**summary, "queries": times}))
    spark.stop()
    try:
        line = fit_summary_line(summary)
    except ValueError as e:
        # the complete map is already on the line above and on disk
        print(f"bench: {e}", file=sys.stderr)
        return 1
    print(line)
    return 0


if __name__ == "__main__":
    sys.exit(main())
