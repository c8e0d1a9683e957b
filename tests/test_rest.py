"""REST API surface (rest.py) — real HTTP round-trips against the in-driver
endpoint, mirroring the reference scheduler's routes
(scheduler/src/api/mod.rs:85-137)."""

from __future__ import annotations

import json
import urllib.request

import pytest

from datafusion_ballista_dhruvil_spark.rest import RestServer
from datafusion_ballista_dhruvil_spark.session import register_tables

from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def server(spark):
    register_tables(spark, SF_DIR)
    srv = RestServer(spark).start()
    yield srv
    srv.stop()


def _get(srv, path):
    with urllib.request.urlopen(f"http://127.0.0.1:{srv.port}{path}") as r:
        return json.loads(r.read())


def _post(srv, path, payload=None):
    req = urllib.request.Request(
        f"http://127.0.0.1:{srv.port}{path}",
        data=json.dumps(payload or {}).encode(),
        headers={"Content-Type": "application/json"},
        method="POST",
    )
    with urllib.request.urlopen(req) as r:
        return json.loads(r.read())


def _groupless_jobs(spark) -> set[int]:
    """Ids of the jobs run outside any job group, which is where the
    server's GET handler threads run theirs."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return set(sc.statusTracker().getJobIdsForGroup(None))


def test_state_and_executors(spark, server):
    st = _get(server, "/api/state")
    assert st["status"] == "ACTIVE"
    assert st["app_id"] == spark.sparkContext.applicationId
    ex = _get(server, "/api/executors")
    assert len(ex["executors"]) >= 1


def test_sql_roundtrip_and_job_introspection(spark, server):
    res = _post(
        server,
        "/api/sql",
        {
            "sql": "SELECT o_orderpriority, COUNT(*) AS n FROM orders "
            "GROUP BY o_orderpriority ORDER BY o_orderpriority"
        },
    )
    assert res["columns"] == ["o_orderpriority", "n"]
    assert res["n_rows"] == 5
    assert sum(r[1] for r in res["rows"]) == spark.table("orders").count()

    qid = res["query_id"]
    before = _groupless_jobs(spark)
    ran = set(spark.sparkContext.statusTracker().getJobIdsForGroup(qid))
    assert ran
    jobs = _get(server, "/api/jobs")
    assert any(q["query_id"] == qid for q in jobs["queries"])
    assert {j["job_id"] for j in jobs["spark_jobs"] if j["query_id"] == qid} == ran

    # the routes read the frame that ran, so they start no job of their own
    dot = _get(server, f"/api/job/{qid}/dot")
    assert dot["dot"].startswith("digraph")
    mets = _get(server, f"/api/job/{qid}/metrics")
    assert _groupless_jobs(spark) == before
    top_rows = next(
        v
        for op in mets["operators"]
        for k, v in op["metrics"].items()
        if "output rows" in k
    )
    assert top_rows == res["n_rows"]


def test_sql_error_is_clean_400(server):
    with pytest.raises(urllib.error.HTTPError) as e:
        _post(server, "/api/sql", {"sql": "SELECT FROM nope"})
    assert e.value.code == 400


def test_unknown_query_404(server):
    with pytest.raises(urllib.error.HTTPError) as e:
        _get(server, "/api/job/deadbeef/metrics")
    assert e.value.code == 404


def test_cancel_route_accepts(server):
    res = _post(server, "/api/job/some-group/cancel")
    assert res["cancelled"] == "some-group"


def test_concurrent_sql_posts(spark, server):
    """8 simultaneous SQL posts: the threaded control plane must serve all
    of them correctly (job-group bookkeeping is per-thread in Spark)."""
    from concurrent.futures import ThreadPoolExecutor

    def one(i):
        res = _post(
            server,
            "/api/sql",
            {"sql": f"SELECT COUNT(*) AS n FROM orders WHERE o_orderkey % 8 = {i}"},
        )
        return res["rows"][0][0]

    with ThreadPoolExecutor(8) as ex:
        counts = list(ex.map(one, range(8)))
    assert sum(counts) == spark.table("orders").count()


def test_arrow_ipc_result_transport(spark, server):
    """POST /api/sql?format=arrow returns a readable Arrow IPC stream
    whose values equal the JSON transport's — the FlightSQL result
    encoding over HTTP framing."""
    import pyarrow as pa

    body = json.dumps(
        {
            "sql": "SELECT o_orderpriority, COUNT(*) AS n FROM orders "
            "GROUP BY o_orderpriority ORDER BY o_orderpriority"
        }
    ).encode()
    req = urllib.request.Request(
        f"http://127.0.0.1:{server.port}/api/sql?format=arrow",
        data=body,
        headers={"Content-Type": "application/json"},
        method="POST",
    )
    with urllib.request.urlopen(req) as r:
        assert r.headers["Content-Type"] == "application/vnd.apache.arrow.stream"
        qid = r.headers["X-Query-Id"]
        tbl = pa.ipc.open_stream(r.read()).read_all()
    assert tbl.num_rows == 5
    assert tbl.column_names == ["o_orderpriority", "n"]
    assert sum(tbl.column("n").to_pylist()) == spark.table("orders").count()
    # the arrow query is introspectable like any other
    mets = _get(server, f"/api/job/{qid}/metrics")
    assert mets["operators"]


def test_query_registry_keeps_the_most_recent(server):
    """Each kept query holds its DataFrame: past MAX_KEPT_QUERIES posts the
    oldest is dropped, and its job routes answer 404."""
    from datafusion_ballista_dhruvil_spark.rest import MAX_KEPT_QUERIES

    qids = [
        _post(server, "/api/sql", {"sql": f"SELECT {i} AS i"})["query_id"]
        for i in range(MAX_KEPT_QUERIES + 1)
    ]
    with pytest.raises(urllib.error.HTTPError) as e:
        _get(server, f"/api/job/{qids[0]}/metrics")
    assert e.value.code == 404
    assert _get(server, f"/api/job/{qids[1]}/metrics")["query_id"] == qids[1]
    kept = {q["query_id"] for q in _get(server, "/api/jobs")["queries"]}
    assert len(kept) == MAX_KEPT_QUERIES and qids[0] not in kept
