"""Scheduler-style REST API over the engine (stdlib HTTP, no deps).

Reference parity: the reference scheduler serves a REST surface
(/root/reference/ballista/scheduler/src/api/mod.rs:85-137):
``/api/state``, ``/api/executors``, ``/api/jobs``, job cancellation,
per-job dot-graph plan visualizations, and ``/api/metrics``. On Spark the
scheduler is the driver, so the same surface binds in-driver (exactly like
serving.py's Thrift/JDBC endpoint) and resolves from SparkContext status
APIs + the executed-plan metrics module:

- ``GET  /api/state``               scheduler state (app id, uptime, cores)
- ``GET  /api/executors``           executor infos from the status tracker
- ``GET  /api/jobs``                kept queries + their Spark jobs' states
- ``POST /api/sql``                 run SQL: ``{"sql": ...}`` -> job id + rows
- ``POST /api/sql?format=arrow``    same, result as an Arrow IPC stream —
  the reference's FlightSQL RESULT ENCODING (Arrow record batches,
  flight_sql.rs:87-146) over HTTP framing; the gRPC/Flight framing itself
  is served by ``flight.py`` through ``pyarrow.flight``
- ``GET  /api/job/<id>/dot``        executed-plan dot graph of that query
- ``GET  /api/job/<id>/metrics``    per-operator SQLMetrics of that query
- ``POST /api/job/<id>/cancel``     cancel the job group (long queries)

Scale posture: results returned inline are capped (``max_rows``) — the
endpoint is a control/inspection plane like the reference's, not a data
plane; bulk results flow through the JDBC/Thrift surface or sinks.
Only the last ``MAX_KEPT_QUERIES`` posted queries stay introspectable.
"""

from __future__ import annotations

import json
import threading
import uuid
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from pyspark.sql import SparkSession

MAX_INLINE_ROWS = 1000
#: posted queries kept for the /api/job/<id> routes; each holds the
#: DataFrame that ran, so the oldest are dropped past this many
MAX_KEPT_QUERIES = 64


class _State:
    def __init__(self, spark: SparkSession, max_rows: int):
        self.spark = spark
        self.max_rows = max_rows
        self.queries: dict[str, dict] = {}
        self.lock = threading.Lock()

    def keep(self, qid: str, df, sql: str, n_rows: int) -> None:
        with self.lock:
            self.queries[qid] = {"df": df, "sql": sql, "n_rows": n_rows}
            while len(self.queries) > MAX_KEPT_QUERIES:
                del self.queries[next(iter(self.queries))]


def _json_cell(v):
    if v is None or isinstance(v, (bool, int, float, str)):
        return v
    return str(v)


def _make_handler(state: _State):
    class Handler(BaseHTTPRequestHandler):
        def log_message(self, *_):  # quiet test output
            pass

        def _send(self, code: int, payload: dict) -> None:
            body = json.dumps(payload).encode()
            self.send_response(code)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        # ------------------------------------------------------------ GET
        def do_GET(self) -> None:  # noqa: N802 - http.server API
            parts = [p for p in self.path.split("/") if p]
            sc = state.spark.sparkContext
            if parts == ["api", "state"]:
                self._send(
                    200,
                    {
                        "status": "ACTIVE",
                        "app_id": sc.applicationId,
                        "spark_version": state.spark.version,
                        "default_parallelism": sc.defaultParallelism,
                        "started": sc.startTime,
                    },
                )
            elif parts == ["api", "executors"]:
                # block-manager view: one entry per executor (the driver in
                # local mode), with storage-memory capacity/free
                mem = sc._jsc.sc().getExecutorMemoryStatus()
                it = mem.iterator()
                out = []
                while it.hasNext():
                    kv = it.next()
                    out.append(
                        {
                            "endpoint": str(kv._1()),
                            "max_storage_mem": int(kv._2()._1()),
                            "free_storage_mem": int(kv._2()._2()),
                        }
                    )
                self._send(200, {"executors": out})
            elif parts == ["api", "jobs"]:
                # each posted query runs under its own job group (its id)
                tracker = sc.statusTracker()
                with state.lock:
                    kept = list(state.queries.items())
                jobs = [
                    {"job_id": jid, "query_id": qid, "status": info.status}
                    for qid, _ in kept
                    for jid in sorted(tracker.getJobIdsForGroup(qid))
                    if (info := tracker.getJobInfo(jid))
                ]
                queries = [
                    {"query_id": k, "n_rows": v["n_rows"], "sql": v["sql"]}
                    for k, v in kept
                ]
                self._send(200, {"spark_jobs": jobs, "queries": queries})
            elif len(parts) == 4 and parts[:2] == ["api", "job"]:
                qid, what = parts[2], parts[3]
                with state.lock:
                    q = state.queries.get(qid)
                if q is None:
                    self._send(404, {"error": f"unknown query {qid}"})
                elif what == "dot":
                    from datafusion_ballista_dhruvil_spark.plans.metrics import (
                        plan_dot,
                    )

                    self._send(200, {"query_id": qid, "dot": plan_dot(q["df"])})
                elif what == "metrics":
                    from datafusion_ballista_dhruvil_spark.plans.metrics import (
                        executed_metrics,
                    )

                    self._send(
                        200,
                        {"query_id": qid, "operators": executed_metrics(q["df"])},
                    )
                else:
                    self._send(404, {"error": f"unknown resource {what}"})
            else:
                self._send(404, {"error": f"no route {self.path}"})

        # ----------------------------------------------------------- POST
        def do_POST(self) -> None:  # noqa: N802 - http.server API
            path, _, query_str = self.path.partition("?")
            parts = [p for p in path.split("/") if p]
            want_arrow = "format=arrow" in query_str
            if parts == ["api", "sql"]:
                n = int(self.headers.get("Content-Length", "0"))
                try:
                    req = json.loads(self.rfile.read(n) or b"{}")
                    sql = req["sql"]
                except (json.JSONDecodeError, KeyError):
                    self._send(400, {"error": "body must be {'sql': ...}"})
                    return
                qid = uuid.uuid4().hex[:12]
                sc = state.spark.sparkContext
                sc.setJobGroup(qid, f"rest:{qid}", interruptOnCancel=True)
                try:
                    # the limited frame is the one that runs, so it is the
                    # one kept: its executed plan carries the metrics
                    df = state.spark.sql(sql).limit(state.max_rows)
                    if want_arrow:
                        # Arrow IPC result transport (FlightSQL's encoding):
                        # executor batches arrive Arrow-native via
                        # toArrow(), serialized as one IPC stream
                        import io

                        import pyarrow as pa

                        tbl = df.toArrow()
                        sink = io.BytesIO()
                        with pa.ipc.new_stream(sink, tbl.schema) as w:
                            w.write_table(tbl)
                        body = sink.getvalue()
                        state.keep(qid, df, sql, tbl.num_rows)
                        self.send_response(200)
                        self.send_header(
                            "Content-Type", "application/vnd.apache.arrow.stream"
                        )
                        self.send_header("X-Query-Id", qid)
                        self.send_header("Content-Length", str(len(body)))
                        self.end_headers()
                        self.wfile.write(body)
                        return
                    rows = df.collect()
                except Exception as e:  # noqa: BLE001 - surface to client
                    self._send(400, {"error": str(e).split("\n")[0]})
                    return
                finally:
                    sc.setJobGroup(None, None)
                state.keep(qid, df, sql, len(rows))
                self._send(
                    200,
                    {
                        "query_id": qid,
                        "columns": df.columns,
                        "n_rows": len(rows),
                        "rows": [
                            [_json_cell(v) for v in r] for r in rows
                        ],
                    },
                )
            elif (
                len(parts) == 4
                and parts[:2] == ["api", "job"]
                and parts[3] == "cancel"
            ):
                state.spark.sparkContext.cancelJobGroup(parts[2])
                self._send(200, {"cancelled": parts[2]})
            else:
                self._send(404, {"error": f"no route {self.path}"})

    return Handler


class RestServer:
    """In-driver REST endpoint; ``port=0`` binds an ephemeral port."""

    def __init__(self, spark: SparkSession, port: int = 0, max_rows: int = MAX_INLINE_ROWS):
        self._state = _State(spark, max_rows)
        self._httpd = ThreadingHTTPServer(
            ("127.0.0.1", port), _make_handler(self._state)
        )
        self._thread = threading.Thread(
            target=self._httpd.serve_forever, daemon=True
        )

    @property
    def port(self) -> int:
        return self._httpd.server_address[1]

    def start(self) -> "RestServer":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._httpd.shutdown()
        self._httpd.server_close()
