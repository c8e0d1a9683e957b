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
32-core detail).

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
    # the discard, solo medians read SLOWER than suite ones and the
    # regression gate compares apples to oranges
    for _ in range(iters + 1):
        t0 = time.perf_counter()
        QUERIES[name](spark, sf_dir).collect()
        samples.append(time.perf_counter() - t0)
    print(json.dumps({"query": name, "sec": round(statistics.median(samples[1:]), 4)}))
    spark.stop()
    return 0


def merge_solo(
    prior: dict,
    out: dict[str, float],
    cur_iters: int,
    cur_sf_dir: str,
    registry: set[str],
) -> dict[str, float]:
    """Merge fresh --solo rows into the prior BENCH_SOLO artifact
    (pure logic, unit-tested in test_bench_gate.py).

    - Re-measured rows replace; the rest survive verbatim (the r7
      overwrite trap stays dead).
    - ADVICE r8 #1a: the artifact stamps every row with ONE iters/
      sf_dir — a settings mismatch DISCARDS the prior rows (loudly)
      instead of silently re-stamping timings measured under different
      settings.
    - ADVICE r8 #1b: rows for queries no longer in the registry are
      pruned — renamed/removed queries must not survive as stale
      timings.
    """
    merged: dict[str, float] = dict(prior.get("queries", {}))
    if merged and (
        prior.get("iters", cur_iters) != cur_iters
        or prior.get("sf_dir", cur_sf_dir) != cur_sf_dir
    ):
        print(
            f"BENCH_SOLO.json settings changed (iters "
            f"{prior.get('iters')}->{cur_iters}, sf_dir "
            f"{prior.get('sf_dir')}->{cur_sf_dir}); discarding "
            f"{len(merged)} prior rows measured under the old settings",
            file=sys.stderr,
        )
        merged = {}
    merged.update(out)
    stale = sorted(set(merged) - registry)
    if stale:
        print(f"pruning rows no longer in registry: {stale}", file=sys.stderr)
        for k in stale:
            del merged[k]
    return merged


def solo(names: list[str]) -> int:
    """Run-alone benchmark: each query in its OWN subprocess/JVM, so the
    timing is free of same-JVM suite contention (GC pressure, shuffle-dir
    litter, code-cache) — the contention-free signal cross-round
    regression gating needs (VERDICT r3 item 5). With no names given,
    re-times the slowest 10 from the last suite run (bench_queries.json).
    Writes BENCH_SOLO.json next to this file."""
    import subprocess

    here = os.path.dirname(os.path.abspath(__file__))
    if not names:
        with open(os.path.join(here, "bench_queries.json")) as f:
            suite = json.load(f)["queries"]
        names = [k for k, _ in sorted(suite.items(), key=lambda kv: -kv[1])[:10]]
    out: dict[str, float] = {}
    for name in names:
        r = subprocess.run(
            [sys.executable, os.path.join(here, "bench.py"), "--solo-one", name],
            capture_output=True,
            text=True,
        )
        if r.returncode != 0:
            print(f"{name}: FAILED\n{r.stderr[-2000:]}", file=sys.stderr)
            return 1
        rec = json.loads(r.stdout.strip().splitlines()[-1])
        out[rec["query"]] = rec["sec"]
        print(f"{name}: {rec['sec']}s", file=sys.stderr)
    # MERGE into the existing artifact — a partial --solo run must never
    # drop the other queries' rows (the overwrite trap that cost an r7
    # adjudication; rows for re-measured queries are replaced, the rest
    # survive verbatim)
    # BENCH_SOLO_PATH: artifact-path override shared with bench_gate so
    # tests (and ad-hoc adjudication runs) never merge rows into the
    # committed BENCH_SOLO.json
    path = os.environ.get(
        "BENCH_SOLO_PATH", os.path.join(here, "BENCH_SOLO.json")
    )
    cur_iters = int(os.environ.get("BENCH_ITERS", "3"))
    cur_sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    prior = {}
    if os.path.exists(path):
        with open(path) as f:
            prior = json.load(f)
    from datafusion_ballista_dhruvil_spark.operators import load_all
    from datafusion_ballista_dhruvil_spark.operators.registry import QUERIES

    load_all()
    merged = merge_solo(prior, out, cur_iters, cur_sf_dir, set(QUERIES))
    payload = {
        "metric": "solo_query_sec",
        "unit": "sec",
        "queries": merged,
        "iters": cur_iters,
        "sf_dir": cur_sf_dir,
    }
    with open(path, "w") as f:
        json.dump(payload, f, indent=1, sort_keys=True)
    print(json.dumps(payload))
    return 0


#: Self-adjudication rule (VERDICT r8 #2), shared with tools/bench_gate.py:
#: a family block is NOISY when its end-of-block sentinel re-run of the
#: block's first query moved by more than 2x in either direction AND by
#: more than 0.3s absolute (sub-second queries swing ~0.1-0.3s from JVM
#: scheduling alone — PERF.md r4 — which a pure ratio misreads as noise).
SENTINEL_RATIO = 2.0
SENTINEL_DELTA_SEC = 0.3

#: Cross-suite noise canary (VERDICT r9 #1): ONE fixed cheap query
#: (single-pass filter-agg over lineitem, ~0.3s at sf0.1) re-run at EVERY
#: family boundary, giving a running series of host-noise readings the
#: gate can consult per ROW. The r9 end-of-block sentinel only catches a
#: window that is still live when the block ENDS; the same r9 window
#: inflated ev/dedup/snapshot/split 1.5-7x yet faded before each block's
#: end, reading clean sentinels (0.76-1.65). Boundary readings every
#: ~5-10s of suite time bracket each family, so a minutes-long window
#: cannot start and fade without moving at least one adjacent reading.
CANARY_QUERY = "q6"


def block_is_noisy(info: dict) -> bool:
    r = info.get("sentinel_ratio")
    if r is None:
        return False
    delta = abs(info.get("sentinel_end_sec", 0.0) - info.get("sentinel_start_sec", 0.0))
    return (r > SENTINEL_RATIO or r < 1.0 / SENTINEL_RATIO) and delta > SENTINEL_DELTA_SEC


def canary_suspect_families(
    noise_index: list[dict],
    ratio: float = SENTINEL_RATIO,
    delta: float = SENTINEL_DELTA_SEC,
) -> set[str]:
    """Shared with tools/bench_gate.py: which families' readings were
    bracketed by an elevated canary?

    ``noise_index`` is the boundary series bench.py emits: entry i is the
    canary's wall-time taken at the boundary ENTERING family
    ``noise_index[i]["at"]`` (final entry labeled "end"). Baseline is the
    series MINIMUM — the canary's quiet cost on this host this run, so
    the rule self-calibrates to sf size and page-cache state. Family F is
    window-suspect when EITHER enclosing reading (at F's start, or at the
    next boundary) exceeds ratio*baseline AND baseline+delta: the same
    two-bar rule as block_is_noisy, anchored to the quietest reading
    instead of a single start/end pair.
    """
    if len(noise_index) < 2:
        return set()
    base = min(e["sec"] for e in noise_index)
    suspect: set[str] = set()
    for i, e in enumerate(noise_index[:-1]):
        worst = max(e["sec"], noise_index[i + 1]["sec"])
        if worst > ratio * base and worst - base > delta:
            suspect.add(e["at"])
    return suspect


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


#: informational sub-bar elevation (r10 artifact lesson): the official
#: r10 run's first ~350s carried a ~1.7x window that inflated the
#: dedup/ops families yet sat below the 2x skip bar — visible only by
#: eyeballing the raw series. Families whose brackets exceed THESE bars
#: (but not the skip bars) are reported as "elevated": no rows are
#: skipped for them, but family-wide inflation there reads as
#: probably-host without a judge session.
CANARY_ELEVATED_RATIO = 1.5
CANARY_ELEVATED_DELTA_SEC = 0.1


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


def canary_elevated_families(noise_index: list[dict]) -> set[str]:
    """Families bracketed by mildly elevated canary readings — above the
    informational bars, below the window-suspect skip bars."""
    return canary_suspect_families(
        noise_index, CANARY_ELEVATED_RATIO, CANARY_ELEVATED_DELTA_SEC
    ) - canary_suspect_families(noise_index)


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
        if sys.argv[1] == "--solo":
            return solo(sys.argv[2:])
        print(
            f"unknown argument {sys.argv[1]!r}; usage: bench.py [--loadtest "
            "[requests] [concurrency] | --skewtest [rows] | --solo [names...]"
            " | --solo-one name]",
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

    # BENCH_ISOLATE=1 clears the Spark cache between queries so per-query
    # numbers stop depending on suite ORDER (shared family caches — e.g.
    # the dedup shingle cache — are otherwise paid by whichever query runs
    # first; the r5 rotation reorder showed per-query suite seconds moving
    # for order reasons alone, PERF.md). Default OFF to keep continuity
    # with the BENCH_r01+ history; totals/solos are the comparable signal.
    isolate = os.environ.get("BENCH_ISOLATE") == "1"
    # BENCH_FAMILY_GC=0 disables the family-boundary clearCache+gc — the
    # A/B knob for the r7 self-owning-cache change (VERDICT r6 #3): query
    # functions now unpersist their own caches when their action
    # completes, so a no-clear suite should stay deterministic. Default
    # stays ON until the A/B in PERF.md says otherwise.
    family_gc = os.environ.get("BENCH_FAMILY_GC", "1") != "0" and not isolate

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
    # rebuilds: determinism wins for the official artifact. The TPC-H
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

    times: dict[str, float] = {}
    mins: dict[str, float] = {}
    # Per-family noise sentinel (VERDICT r8 #2): this host has minutes-long
    # co-tenant interference windows that inflate whatever happens to be
    # executing. To make the artifact SELF-adjudicating, each family block
    # re-runs its FIRST query once at block END and records
    # end_sec/start_median as sentinel_ratio. A quiet window reads ~1.0;
    # a window that turned noisy mid-block (or started noisy and cleared)
    # reads far from 1.0 — tools/bench_gate.py treats queries inside such
    # blocks as unadjudicated noise rather than code regressions, so a
    # reading like r8's q15 5.61s no longer consumes a judge solo session.
    blocks: dict[str, dict] = {}
    # Boundary canary series (VERDICT r9 #1): one reading per family
    # boundary + suite end. Taken AFTER the boundary clearCache/gc so
    # every reading sees the same (clean) cache state and only HOST
    # conditions vary between readings. ~0.3s x ~45 boundaries ≈ 15s of
    # untimed wall-clock — the price of per-row window adjudication.
    noise_index: list[dict] = []
    suite_t0 = time.perf_counter()

    def _canary(label: str) -> None:
        t0 = time.perf_counter()
        QUERIES[CANARY_QUERY](spark, sf_dir).collect()
        noise_index.append(
            {
                "at": label,
                "sec": round(time.perf_counter() - t0, 4),
                "t_offset": round(t0 - suite_t0, 1),
            }
        )

    def _end_block(fam: str) -> None:
        info = blocks[fam]
        if isolate:
            # ADVICE r9 #2: in --isolate mode every measured iteration
            # ran after clearCache; the sentinel re-run must too, or it
            # reads artificially warm and skews sentinel_ratio
            spark.catalog.clearCache()
        t0 = time.perf_counter()
        QUERIES[info["first"]](spark, sf_dir).collect()
        end = time.perf_counter() - t0
        info["sentinel_end_sec"] = round(end, 4)
        start = info["sentinel_start_sec"]
        info["sentinel_ratio"] = round(end / start, 3) if start > 0 else 1.0

    prev_family = None
    for name in ordered:
        fn = QUERIES[name]
        fam = family(name)
        if prev_family is not None and fam != prev_family:
            # sentinel runs BEFORE the boundary clearCache/gc so it sees
            # the same cache conditions the block's measurements did
            # (family_gc mode; --isolate clears inside _end_block)
            _end_block(prev_family)
        if isolate:
            spark.catalog.clearCache()
        elif family_gc and prev_family is not None and fam != prev_family:
            spark.catalog.clearCache()
            spark.sparkContext._jvm.System.gc()
        if fam != prev_family:
            _canary(fam)
        prev_family = fam
        samples = []
        # the headline TPC-H block gets median-of-5 (vs 3 elsewhere):
        # it is 22 queries timed in the run's first minutes, where
        # transient host interference lands hardest (identical code has
        # read 17.0s quiet and 34.5s under a noisy co-tenant window);
        # a wider median keeps one bad iteration from moving the number
        # the scoreboard reads
        n_iters = iters + 2 if re.fullmatch(r"q\d+", name) else iters
        for _ in range(n_iters):
            t0 = time.perf_counter()
            fn(spark, sf_dir).collect()
            samples.append(time.perf_counter() - t0)
        times[name] = round(statistics.median(samples), 4)
        # min-of-iters travels with the median: a regression claim that
        # the fastest iteration contradicts is suite contention, not code
        mins[name] = round(min(samples), 4)
        if fam not in blocks:
            blocks[fam] = {"first": name, "sentinel_start_sec": times[name]}
    if prev_family is not None:
        _end_block(prev_family)
    _canary("end")

    total = round(sum(times.values()), 4)
    tpch_total = round(sum(v for k, v in times.items() if re.fullmatch(r"q\d+", k)), 4)
    # Protocol marker (ADVICE r6 #2): the r6 protocol change (canonical
    # order, untimed TPC-H warm-up pass, median-of-5 headline block,
    # family-boundary gc) made totals systematically more favorable than
    # r01-r05's — record WHICH protocol produced each artifact plus the
    # ACTUAL per-block iteration counts, so cross-round comparisons can't
    # conflate protocol changes with code speedups (PERF.md has the
    # comparability note).
    protocol = {
        # still version 2: the r9 sentinel/min additions are purely
        # additive instrumentation — timed iterations, ordering, warmup,
        # and family gc are unchanged, so totals stay comparable with
        # every protocol-v2 artifact (BENCH_r06 onward)
        "version": 2,
        "canonical_order": True,
        "tpch_warmup_pass": True,
        "family_boundary_gc": family_gc,
        "isolate": isolate,
        "iters_tpch": iters + 2,
        "iters_rest": iters,
        "noise_sentinel": True,
        "boundary_canary": CANARY_QUERY,
    }
    # Full per-query detail goes to FILES: bench_queries.json (continuity
    # with r01-r10 tooling) plus a cpus-stamped copy — the driver benches
    # TWICE (32- then 8-core) and the second run used to overwrite the
    # first run's only per-query record (VERDICT r10 #1).
    here = os.path.dirname(os.path.abspath(__file__))
    detail = {
        "metric": "query_suite_total_sec",
        "value": total,
        "unit": "sec",
        "queries": times,
        "queries_min": mins,
        "blocks": blocks,
        "noise_index": noise_index,
        "sf": sf,
        "cpus": os.environ.get("SPARK_GRAFT_CPUS", ""),
        "iters": iters,  # kept for r01-r05 artifact compatibility
        "protocol": protocol,
    }
    for fname in ("bench_queries.json", f"bench_queries_c{detail['cpus'] or 'na'}.json"):
        with open(os.path.join(here, fname), "w") as f:
            json.dump(detail, f, indent=1, sort_keys=True)
    noisy_blocks = {
        f: b["sentinel_ratio"] for f, b in blocks.items() if block_is_noisy(b)
    }
    # Emission contract (VERDICT r10 #1): the COMPLETE per-query map goes
    # on its own JSON line FIRST (for whole-log parsers + forensics), then
    # the final line — guaranteed to fit the driver's 2000-char tail
    # capture (SUMMARY_LINE_MAX rationale above) — carries totals, the
    # noise-adjudication fields, and a bounded per-query tranche.
    print(
        json.dumps(
            {
                "metric": "query_suite_total_sec",
                "value": total,
                "unit": "sec",
                "sf": sf,
                "n_queries": len(times),
                "tpch_total_sec": tpch_total,
                "iters": iters,
                "queries": times,
                "protocol": protocol,
            }
        )
    )
    summary = {
        "metric": "query_suite_total_sec",
        "value": total,
        "unit": "sec",
        "sf": sf,
        "n_queries": len(times),
        "tpch_total_sec": tpch_total,
        "iters": iters,
        "queries": inline_query_tranche(times),
        "noisy_blocks": noisy_blocks,
        "window_suspect": sorted(canary_suspect_families(noise_index)),
        "window_elevated": sorted(canary_elevated_families(noise_index)),
        "queries_file": "bench_queries.json",
        "protocol": protocol,
    }
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
