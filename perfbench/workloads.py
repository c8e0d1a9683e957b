"""The two workloads. Each drives the engine only through its public
entry points — ``session.create_session`` / ``register_tables``, the
``operators.registry`` builders and oracles, ``flight.start_flight_endpoint``
with a ``pyarrow.flight`` client, and ``sources.snapshots`` — and every
client is closed-loop: it sends its next request only after the reply to
the previous one.

A run goes: set up, compute the expected results with DuckDB, warm up
with one pass in a fixed order, measure, then check every stored result.
Traced runs also open spans around each layer boundary and read the status
store after each operation.
"""

from __future__ import annotations

import os
import shutil
import statistics
import threading
import time

import stats
from ledger import (
    StatusStore,
    catalyst_phases,
    cpu_ticks,
    exec_summary,
    granted,
    jobs_within,
    plan_summary,
    self_times,
)
from oracle import Oracle, canon, canon_arrow

#: Builders of ``serial_mixed``. TPC-H: a scan-heavy aggregate (q1), a
#: filter-aggregate (q6), an outer join with a two-level aggregate (q13)
#: and a disjunctive join filter (q19). Curation: an iterative job chain
#: driven from Python with an owned cache (PCA power iteration), a
#: pandas_udf projection, and two chained mapInPandas stages (JPEG
#: encode/decode). dedup_cluster_cc, the longest job chain, would take
#: half of every pass, leaving too few passes per run.
SERIAL = [
    "q1",
    "q6",
    "q13",
    "q19",
    "sim_pca_power_iteration",
    "udf_vectorized_score",
    "mm_jpeg_features",
]
#: TPC-H SQL texts (the DuckDB oracle SQL, which Spark also parses) that
#: the Flight readers send: multi-way joins of similar cost, so that the
#: mix a time-bounded window happens to complete barely moves the figures.
FLIGHT_SQL = ["q3", "q4", "q5", "q7", "q9", "q10", "q11", "q20"]
READERS = 3
#: The writer appends ``lineitem`` rows with ``l_orderkey % N_SLICES == k``.
N_SLICES = 50


def _engine():
    from datafusion_ballista_dhruvil_spark import session
    from datafusion_ballista_dhruvil_spark.operators import load_all, registry

    return session, load_all, registry


class Workload:
    name = ""
    #: operation names of one pass, in registry order (the warm-up order)
    ops: list[str] = []

    def __init__(self, data_dir: str, work_dir: str, seed: int, tracer):
        self.data_dir = data_dir
        self.work_dir = work_dir
        self.seed = seed
        self.tracer = tracer
        self.spark = None
        self.records: list[dict] = []
        #: seconds spent reading the ledger during the measurement
        self.ledger_s = 0.0
        self.expected: dict[str, tuple] = {}

    # -- set-up ----------------------------------------------------------------
    def setup(self) -> float:
        """Session, operator registry, table registration, then whatever
        the workload serves; returns the create_session seconds."""
        session, load_all, _ = _engine()
        t0 = time.perf_counter()
        self.spark = session.create_session(app_name=f"perfbench-{self.name}")
        create_s = time.perf_counter() - t0
        load_all()
        session.register_tables(self.spark, self.data_dir)
        self._serve()
        return create_s

    def _serve(self) -> None:
        pass

    def teardown(self) -> None:
        self._unserve()
        self.spark.stop()

    def _unserve(self) -> None:
        pass

    def expect(self, oracle: Oracle) -> None:
        _, _, registry = _engine()
        self.expected = {n: oracle.expect(registry.ORACLES[n]) for n in self.ops}

    # -- ledger ----------------------------------------------------------------
    def _ledger(self, rec: dict, df=None) -> None:
        """Fill ``rec["layers"]`` from the spans, the status store and the
        executed plan of one finished operation."""
        t0 = time.perf_counter()
        g = rec["group"]
        spans = self.tracer.group_spans(g)
        own = self_times(spans)
        by: dict[str, list[dict]] = {}
        for s in spans:
            by.setdefault(s["name"], []).append(s)
        jobs, stages = self._store.group(g)
        # jobs belong to the layer whose span was open when they started
        lt_jobs = jobs_within(jobs, by.get("load_table", []))
        build_jobs = jobs_within(jobs, by.get("build", []))
        action = by.get("collect", []) + by.get("do_get", [])
        ex = exec_summary(jobs_within(jobs, action), stages)
        action_s = own.get("collect", 0.0) + own.get("do_get", 0.0)
        layers = {f"exec.{k}": v for k, v in ex.items() if k != "last_job_end"}
        layers.update(
            {
                "session.load_table_calls": len(by.get("load_table", [])),
                "session.load_table_s": own.get("load_table", 0.0),
                "session.load_table_jobs": len(lt_jobs),
                "operators.build_s": own.get("build", 0.0),
                "operators.build_jobs": len(build_jobs) - len(lt_jobs),
                "exec.collect_s": own.get("collect", 0.0),
                "exec.busy_cores": ex["task_run_s"] / action_s if action_s else 0.0,
                "flight.get_info_s": own.get("get_info", 0.0),
                "flight.do_get_s": own.get("do_get", 0.0),
                "flight.info_jobs": len(jobs_within(jobs, by.get("get_info", []))),
            }
        )
        end = ex["last_job_end"]
        layers["result.return_s"] = max(0.0, rec["end_epoch"] - end) if end else 0.0
        if df is not None:
            from datafusion_ballista_dhruvil_spark.plans.metrics import executed_metrics

            ph = catalyst_phases(df._jdf)
            for k, v in ph.items():
                layers[f"catalyst.{k}_s"] = v
            layers["catalyst.plan_s"] = own.get("plan", sum(ph.values()))
            p = plan_summary(executed_metrics(df))
            layers["exec.exchanges"] = p["exchanges"]
            layers["functions.python_s"] = p["python_s"]
            layers["functions.python_rows"] = p["python_rows"]
        layers["cache.leftover_rdds"] = self.spark.sparkContext._jsc.getPersistentRDDs().size()
        layers["trace.inline_s"] = rec.pop("inline_s", 0.0)
        layers["trace.ledger_s"] = time.perf_counter() - t0
        self.ledger_s += layers["trace.ledger_s"]
        rec["layers"] = layers

    def start_ledger(self) -> None:
        self._store = StatusStore(self.spark.sparkContext)
        if self.tracer.enabled:
            self._wrap()

    def _wrap(self) -> None:
        """Open a span around the engine calls of inner layers."""
        session, _, _ = _engine()
        tracer = self.tracer
        inner = session.load_table

        def load_table(*args, **kwargs):
            with tracer.span("load_table"):
                return inner(*args, **kwargs)

        session.load_table = load_table

    # -- checks ----------------------------------------------------------------
    def check(self) -> None:
        for r in self.records:
            got = r.pop("result", None)
            want = r.pop("expect", self.expected.get(r["key"]))
            r["ok"] = r.get("error") is None and got == want


class SerialMixed(Workload):
    """One client runs the builders of ``SERIAL``: a warm-up pass in
    registry order, then the whole number of passes, each in the order the
    seed fixes, that comes closest to the measurement time."""

    name = "serial_mixed"
    ops = SERIAL

    def warm_up(self) -> None:
        _, _, registry = _engine()
        for n in self.ops:
            registry.QUERIES[n](self.spark, self.data_dir).collect()

    def measure(self, seconds: float) -> None:
        _, _, registry = _engine()
        sc = self.spark.sparkContext
        tr = self.tracer
        start = time.perf_counter()
        p = 0
        # ledger reads between operations do not count towards the time,
        # so a traced run measures as many passes as an untraced one
        while p == 0 or stats.another_pass(
            time.perf_counter() - start - self.ledger_s, p, seconds
        ):
            for name in stats.pass_order(self.ops, self.seed, self.name, p):
                g = f"{self.name}-{len(self.records)}-{name}"
                rec = {"kind": "query", "key": name, "group": g}
                c0 = cpu_ticks()
                t0 = time.perf_counter()
                try:
                    if tr.enabled:
                        sc.setJobGroup(g, name)
                        rec["inline_s"] = time.perf_counter() - t0
                    with tr.span("query", g):
                        with tr.span("build"):
                            df = registry.QUERIES[name](self.spark, self.data_dir)
                        if tr.enabled:
                            with tr.span("plan"):
                                df._jdf.queryExecution().executedPlan()
                        with tr.span("collect"):
                            rows = df.collect()
                    rec["latency"] = time.perf_counter() - t0
                    rec["granted"] = granted(c0, cpu_ticks())
                    rec["end_epoch"] = tr.now()
                    rec["result"] = canon(df.columns, rows)
                    if tr.enabled:
                        self._ledger(rec, df)
                        rec["layers"]["result.rows"] = len(rows)
                except Exception as e:  # noqa: BLE001 - counted as failed
                    rec["error"] = f"{type(e).__name__}: {e}"[:300]
                self.records.append(rec)
            p += 1
        if tr.enabled:
            sc.setJobGroup("", "")


class _TracedSession:
    """The session handed to the Flight server in traced runs. It tags
    each statement's jobs with the group named in the statement's leading
    comment and keeps the statement's DataFrame for the ledger; every
    other attribute is the real session's."""

    def __init__(self, spark):
        self._spark = spark
        self.frames: dict[str, object] = {}
        #: seconds spent tagging, per group: tracing cost inside a read
        self.inline: dict[str, float] = {}

    def sql(self, text: str):
        t0 = time.perf_counter()
        group = text[3 : text.index(" */")] if text.startswith("/* ") else ""
        self._spark.sparkContext.setJobGroup(group, "flight")
        self.inline[group] = self.inline.get(group, 0.0) + time.perf_counter() - t0
        df = self._spark.sql(text)
        self.frames[group] = df
        return df

    def __getattr__(self, name):
        return getattr(self._spark, name)


class FlightMixed(Workload):
    """``READERS`` Flight clients send TPC-H SQL (each client its own
    seeded order per pass) while one writer appends seeded ``lineitem``
    slices with ``snapshots.commit`` and reads each back. Requests start
    until the measurement time is used up; those in flight then finish."""

    name = "flight_mixed"
    ops = FLIGHT_SQL

    def _serve(self) -> None:
        from datafusion_ballista_dhruvil_spark.flight import start_flight_endpoint

        self._served = _TracedSession(self.spark) if self.tracer.enabled else self.spark
        self.server = start_flight_endpoint(self._served)
        self.root = os.path.join(self.work_dir, f"table-{os.getpid()}")
        shutil.rmtree(self.root, ignore_errors=True)
        os.makedirs(self.root)

    def _unserve(self) -> None:
        self.server.shutdown()
        shutil.rmtree(self.root, ignore_errors=True)

    def expect(self, oracle: Oracle) -> None:
        super().expect(oracle)
        rows = oracle.con.execute(
            f"SELECT l_orderkey % {N_SLICES}, count(*) FROM lineitem GROUP BY 1"
        ).fetchall()
        self.slice_rows = dict(rows)

    def _wrap(self) -> None:
        super()._wrap()
        from datafusion_ballista_dhruvil_spark.sources import snapshots

        tracer = self.tracer
        inner = snapshots.publish

        def publish(*args, **kwargs):
            with tracer.span("publish"):
                return inner(*args, **kwargs)

        snapshots.publish = publish

    def _sql(self, group: str, name: str) -> str:
        _, _, registry = _engine()
        return f"/* {group} */ {registry.ORACLES[name]}"

    def _read(self, client, group: str, name: str) -> dict:
        import pyarrow.flight as fl

        tr = self.tracer
        rec = {"kind": "read", "key": name, "group": group}
        c0 = cpu_ticks()
        t0 = time.perf_counter()
        try:
            with tr.span("read", group):
                with tr.span("get_info"):
                    cmd = fl.FlightDescriptor.for_command(self._sql(group, name))
                    info = client.get_flight_info(cmd)
                with tr.span("do_get"):
                    table = client.do_get(info.endpoints[0].ticket).read_all()
            rec["latency"] = time.perf_counter() - t0
            rec["granted"] = granted(c0, cpu_ticks())
            rec["end_epoch"] = tr.now()
            rec["result"] = canon_arrow(table)
            if tr.enabled:
                # the ledger is read once the window closes: reading it
                # here would add think time to this closed-loop client
                rec["df"] = self._served.frames.pop(group, None)
                rec["inline_s"] = self._served.inline.pop(group, 0.0)
                rec["rows"], rec["bytes"] = table.num_rows, table.nbytes
        except Exception as e:  # noqa: BLE001 - counted as failed
            rec["error"] = f"{type(e).__name__}: {e}"[:300]
        return rec

    def _commit(self, i: int, key: int, root: str) -> dict:
        from pyspark.sql import functions as F

        from datafusion_ballista_dhruvil_spark.sources import snapshots

        tr = self.tracer
        g = f"{self.name}-w{i}"
        rec = {"kind": "commit", "key": "commit", "group": g}
        c0 = cpu_ticks()
        t0 = time.perf_counter()
        try:
            if tr.enabled:
                self.spark.sparkContext.setJobGroup(g, "commit")
            with tr.span("commit_op", g):
                part = self.spark.table("lineitem").where(F.col("l_orderkey") % N_SLICES == key)
                with tr.span("commit"):
                    sid = snapshots.commit(part, root)
                with tr.span("read_snapshot"):
                    rec["head_rows"] = snapshots.read_snapshot(self.spark, root).count()
            rec["latency"] = time.perf_counter() - t0
            rec["granted"] = granted(c0, cpu_ticks())
            if tr.enabled:
                own = self_times(tr.group_spans(g))
                head = snapshots.history(root)[-1]
                size = sum(
                    os.path.getsize(os.path.join(d, f))
                    for d, _, fs in os.walk(root)
                    for f in fs
                    if f.endswith(".parquet")
                )
                rec["layers"] = {
                    "snapshots.commit_s": own.get("commit", 0.0),
                    "snapshots.publish_s": own.get("publish", 0.0),
                    "snapshots.read_snapshot_s": own.get("read_snapshot", 0.0),
                    "snapshots.head_files": head["n_files"],
                    "snapshots.bytes_per_row": size / rec["head_rows"],
                    "snapshots.commit_retries": sid - i,
                }
        except Exception as e:  # noqa: BLE001 - counted as failed
            rec["error"] = f"{type(e).__name__}: {e}"[:300]
        return rec

    def warm_up(self) -> None:
        """One statement per reader beside one commit to a throw-away
        table. Statements not warmed here run cold once in the
        measurement, where the per-statement median absorbs it."""
        import pyarrow.flight as fl

        root = os.path.join(self.work_dir, f"warm-{os.getpid()}")
        shutil.rmtree(root, ignore_errors=True)
        os.makedirs(root)

        def read(name: str) -> None:
            client = fl.connect(self.server.location)
            try:
                self._read(client, f"{self.name}-warm-{name}", name)
            finally:
                client.close()

        threads = [threading.Thread(target=read, args=(n,)) for n in self.ops[:READERS]]
        threads.append(threading.Thread(target=self._commit, args=(0, 0, root)))
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        shutil.rmtree(root, ignore_errors=True)

    def measure(self, seconds: float) -> None:
        import pyarrow.flight as fl

        t_end = time.perf_counter() + seconds
        out: list[list[dict]] = [[] for _ in range(READERS + 1)]

        def reader(c: int) -> None:
            client = fl.connect(self.server.location)
            try:
                p = 0
                while time.perf_counter() < t_end:
                    for n in stats.pass_order(self.ops, self.seed, f"reader{c}", p):
                        if time.perf_counter() >= t_end:
                            break
                        g = f"{self.name}-r{c}-{len(out[c])}-{n}"
                        out[c].append(self._read(client, g, n))
                    p += 1
            finally:
                client.close()

        def writer() -> None:
            keys = stats.slice_keys(N_SLICES, self.seed)
            while time.perf_counter() < t_end:
                i = len(out[READERS])
                out[READERS].append(self._commit(i, keys[i % N_SLICES], self.root))

        threads = [threading.Thread(target=reader, args=(c,)) for c in range(READERS)]
        threads.append(threading.Thread(target=writer))
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        for c, recs in enumerate(out):
            for r in recs:
                r["client"] = c
            self.records += recs
        for r in self.records:
            if "df" in r:
                self._ledger(r, r.pop("df"))
                r["layers"]["result.rows"] = r.pop("rows")
                r["layers"]["flight.result_bytes"] = r.pop("bytes")

    def check(self) -> None:
        commits = [r for r in self.records if r["kind"] == "commit"]
        keys = stats.slice_keys(N_SLICES, self.seed)
        total = 0
        for i, r in enumerate(commits):
            # only commits that returned add to the rows later heads must
            # hold, so one failed commit is not also charged to the rest
            if r.get("error") is None:
                total += self.slice_rows[keys[i % N_SLICES]]
            r["result"], r["expect"] = r.pop("head_rows", None), total
        super().check()


WORKLOADS = {w.name: w for w in (SerialMixed, FlightMixed)}


def summarize(wl: Workload, granted_time: bool) -> dict:
    """End-to-end figures of a measured workload: on wall-clock time, or
    with ``granted_time`` on the CPU time the hypervisor granted, each
    operation's latency times the share of the CPU time wanted during it
    that was not stolen. The latter approximates what a machine no other
    guest shares would show; on a shared host it moves less from minute to
    minute."""

    def took(r: dict) -> float:
        return r["latency"] * (r["granted"] if granted_time else 1.0)

    done = [r for r in wl.records if "latency" in r]
    reads = [r for r in done if r["kind"] in ("query", "read")]
    lat = [took(r) for r in reads]
    per = stats.per_key_medians([(r["key"], took(r)) for r in reads])
    out = {"latency_p50_s": statistics.median(per.values())}
    if isinstance(wl, FlightMixed):
        # a closed-loop client's rate is its replies over its time spent
        # waiting for them
        busy: dict[int, list[float]] = {}
        for r in done:
            busy.setdefault(r["client"], []).append(took(r))
        rates = {c: len(v) / sum(v) for c, v in busy.items()}
        out["queries_per_s"] = sum(v for c, v in rates.items() if c < READERS)
        commits = [took(r) for r in done if r["kind"] == "commit"]
        if commits:
            out["commits_per_s"] = rates[READERS]
            out["commit_p50_s"] = statistics.median(commits)
    else:
        # the TPC-H power metric's aggregate: one over the geometric mean
        # of the per-query times, so each query weighs the same in
        # relative terms and the heaviest does not set the figure alone
        out["queries_per_s"] = 1.0 / statistics.geometric_mean(per.values())
    out["latency_tail_pct"], out["latency_tail_s"], out["tail_beyond"] = stats.latency_tail(lat)
    out["n_latencies"] = len(lat)
    out["granted_share"] = statistics.fmean(r["granted"] for r in done)
    return out


def layer_means(wl: Workload) -> dict[str, float]:
    """Per-layer figures: the mean over operations of each layer value
    (reads and queries for most layers, commits for ``snapshots.*``)."""
    sums: dict[str, list[float]] = {}
    for r in wl.records:
        for k, v in r.get("layers", {}).items():
            sums.setdefault(k, []).append(float(v))
    return {k: statistics.fmean(v) for k, v in sums.items()}
