"""Arrow Flight native-wire endpoint (flight.py) — real gRPC round-trips,
the protocol the reference's FlightSQL clients speak
(scheduler/src/flight_sql.rs:87-146). pyarrow bundles its own gRPC, so
this runs in-container despite grpcio being absent; skip cleanly if a
pyarrow build without Flight support is ever swapped in."""

from __future__ import annotations

import pytest

pa_flight = pytest.importorskip(
    "pyarrow.flight", reason="pyarrow built without Flight support"
)

from datafusion_ballista_dhruvil_spark.flight import start_flight_endpoint
from datafusion_ballista_dhruvil_spark.plans.inspect import count_jobs
from datafusion_ballista_dhruvil_spark.session import register_tables

from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def server(spark):
    register_tables(spark, SF_DIR)
    srv = start_flight_endpoint(spark)
    yield srv
    srv.shutdown()


@pytest.fixture(scope="module")
def client(server):
    cl = pa_flight.connect(f"grpc://127.0.0.1:{server.port}")
    yield cl
    cl.close()


SQL = (
    "SELECT n_regionkey, count(*) AS n FROM nation "
    "GROUP BY n_regionkey ORDER BY n_regionkey"
)


#: DECIMAL, DATE, TIMESTAMP and STRING columns: the types whose Arrow
#: mapping a schema-only conversion could get wrong
TYPED_SQL = (
    "SELECT o_orderkey, CAST(o_totalprice AS DECIMAL(15, 2)) AS price, "
    "CAST(o_orderdate AS DATE) AS day, CAST(o_orderdate AS TIMESTAMP) AS ts, "
    "o_orderpriority FROM orders WHERE o_orderkey < 100 ORDER BY o_orderkey"
)


def test_get_flight_info_plans_without_executing(spark, server):
    descriptor = pa_flight.FlightDescriptor.for_command(SQL)
    info, jobs = count_jobs(spark, lambda: server.get_flight_info(None, descriptor))
    assert jobs == 0
    assert [f.name for f in info.schema] == ["n_regionkey", "n"]
    assert len(info.endpoints) == 1
    infos, jobs = count_jobs(spark, lambda: list(server.list_flights(None, None)))
    assert jobs == 0
    assert any("nation" in fi.descriptor.command.decode() for fi in infos)


def test_flight_info_schema_is_the_streamed_schema(client):
    info = client.get_flight_info(pa_flight.FlightDescriptor.for_command(TYPED_SQL))
    table = client.do_get(info.endpoints[0].ticket).read_all()
    assert table.num_rows > 0
    assert info.schema == table.schema
    assert [str(f.type) for f in info.schema][1:4] == [
        "decimal128(15, 2)", "date32[day]", "timestamp[us, tz=UTC]"
    ]


def test_do_get_streams_query_result(spark, client):
    info = client.get_flight_info(pa_flight.FlightDescriptor.for_command(SQL))
    table = client.do_get(info.endpoints[0].ticket).read_all()
    expect = spark.sql(SQL).toArrow()
    assert table.equals(expect)
    assert table.num_rows == 5  # 5 regions at every sf


def test_prepared_statement_actions(client):
    (res,) = list(
        client.do_action(pa_flight.Action("prepare", SQL.encode()))
    )
    handle = res.body.to_pybytes()
    info = client.get_flight_info(pa_flight.FlightDescriptor.for_command(handle))
    table = client.do_get(info.endpoints[0].ticket).read_all()
    assert table.num_rows == 5
    list(client.do_action(pa_flight.Action("close_prepared", handle)))
    # after close, the handle is treated as raw (invalid) SQL
    with pytest.raises(pa_flight.FlightError):
        client.get_flight_info(pa_flight.FlightDescriptor.for_command(handle))


def test_list_flights_exposes_catalog_tables(client):
    cmds = [
        fi.descriptor.command.decode() for fi in client.list_flights()
    ]
    assert any("nation" in c for c in cmds)
    assert any("lineitem" in c for c in cmds)


def test_concurrent_clients(server):
    # the reference serves many FlightSQL sessions at once; gRPC threads
    # must be able to run Spark jobs concurrently from non-main threads
    from concurrent.futures import ThreadPoolExecutor

    def one(i: int) -> int:
        cl = pa_flight.connect(f"grpc://127.0.0.1:{server.port}")
        try:
            sql = f"SELECT count(*) AS n FROM orders WHERE o_orderkey % 5 = {i}"
            info = cl.get_flight_info(pa_flight.FlightDescriptor.for_command(sql))
            return cl.do_get(info.endpoints[0].ticket).read_all().num_rows
        finally:
            cl.close()

    with ThreadPoolExecutor(max_workers=4) as pool:
        assert list(pool.map(one, range(4))) == [1, 1, 1, 1]
