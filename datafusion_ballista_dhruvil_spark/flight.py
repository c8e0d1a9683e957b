"""Arrow Flight native-wire SQL endpoint — FlightSQL query-path parity.

The reference scheduler serves Arrow FlightSQL over gRPC
(/root/reference/ballista/scheduler/src/flight_sql.rs:87-146: GetFlightInfo
for a SQL statement -> job + endpoints, DoGet streams Arrow record batches;
prepared statements at flight_sql.rs:191,345-361 cache a plan handle). Until
round 4 this repo served the JDBC half (Thrift, serving.py) and the Arrow
IPC *encoding* over HTTP (rest.py) but not the native Flight gRPC framing —
grpcio is absent in-container. ``pyarrow.flight`` bundles its own gRPC,
so the real wire ships after all:

- ``GetFlightInfo(command=SQL)``  -> parse and analyze the query, return
  schema + ticket (reference get_flight_info_statement,
  flight_sql.rs:625-639); no optimizer run, physical plan or Spark job
- ``DoGet(ticket)``               -> execute + stream Arrow record batches
  (reference do_get_fallback/record_batch_to_resp, flight_sql.rs:548,451)
- ``ListFlights``                 -> catalog tables as flights (reference
  get_flight_info_tables/tables(), flight_sql.rs:97-130,673)
- ``DoAction("prepare"/"close_prepared")`` -> cache / drop a SQL handle
  (reference prepare_statement/cache_plan/remove_plan)

Scale posture: Flight is the reference's bulk-result data plane — DoGet
streams batch-by-batch so no single giant IPC buffer is built, but the
driver still collects the result (same as the reference scheduler pulling
shuffle partitions to answer a fetch). Serve aggregated/final results this
way; bulk raw data belongs in parquet sinks. The server binds in-driver,
exactly like serving.py (Thrift) and rest.py (REST).

Repeated statements reuse their compiled code: ``session.create_session``
sizes Spark's generated-class cache (``CODEGEN_CACHE_ENTRIES``) past the
engine's working set, so a DoGet of a statement already served compiles
nothing. A session the engine did not build keeps Spark's 100 entries, and
a mix of statements that needs more recompiles on every pass.
"""

from __future__ import annotations

import threading
import uuid

import pyarrow as pa
import pyarrow.flight as flight
from pyspark.sql import SparkSession
from pyspark.sql.pandas.types import to_arrow_schema


class SparkFlightServer(flight.FlightServerBase):
    """In-driver Arrow Flight server executing SQL on the given session."""

    def __init__(self, spark: SparkSession, location: str = "grpc://127.0.0.1:0"):
        super().__init__(location)
        self._spark = spark
        self._prepared: dict[str, str] = {}
        self._lock = threading.Lock()
        # self.port resolves the bound port when location asked for :0
        self.location = f"grpc://127.0.0.1:{self.port}"

    # -- helpers ----------------------------------------------------------
    def _sql_of(self, raw: bytes) -> str:
        sql = raw.decode("utf-8")
        with self._lock:
            return self._prepared.get(sql, sql)

    def _plan_schema(self, sql: str) -> pa.Schema:
        # the analyzed plan's schema, converted as DataFrame.toArrow does
        # (reference df_schema_to_arrow): no optimizer, physical plan or job
        df = self._spark.sql(sql)
        return to_arrow_schema(
            df.schema,
            error_on_duplicated_field_names_in_struct=True,
            prefers_large_types=df.sparkSession._jconf.arrowUseLargeVarTypes(),
        )

    # -- Flight RPCs -------------------------------------------------------
    def get_flight_info(self, context, descriptor):
        sql = self._sql_of(descriptor.command)
        schema = self._plan_schema(sql)
        endpoint = flight.FlightEndpoint(
            flight.Ticket(sql.encode("utf-8")), [self.location]
        )
        return flight.FlightInfo(schema, descriptor, [endpoint], -1, -1)

    def do_get(self, context, ticket):
        sql = self._sql_of(ticket.ticket)
        table = self._spark.sql(sql).toArrow()
        # stream per record batch: the client reads incrementally, the
        # wire never frames the whole result as one message
        return flight.GeneratorStream(table.schema, table.to_batches())

    def list_flights(self, context, criteria):
        # SHOW TABLES runs no job; catalog.listTables reads its rows with
        # toLocalIterator, one Spark job per partition
        for t in self._spark.sql("SHOW TABLES").collect():
            name = f"{t.namespace}.{t.tableName}" if t.namespace else t.tableName
            sql = f"SELECT * FROM {name}"
            descriptor = flight.FlightDescriptor.for_command(sql.encode())
            endpoint = flight.FlightEndpoint(
                flight.Ticket(sql.encode()), [self.location]
            )
            yield flight.FlightInfo(
                self._plan_schema(sql), descriptor, [endpoint], -1, -1
            )

    def do_action(self, context, action):
        if action.type == "prepare":
            handle = uuid.uuid4().hex
            with self._lock:
                self._prepared[handle] = action.body.to_pybytes().decode()
            yield flight.Result(handle.encode())
        elif action.type == "close_prepared":
            with self._lock:
                self._prepared.pop(action.body.to_pybytes().decode(), None)
        else:
            raise flight.FlightServerError(f"unknown action {action.type!r}")

    def list_actions(self, context):
        return [("prepare", "cache a SQL text, returns a statement handle"),
                ("close_prepared", "drop a prepared-statement handle")]


def start_flight_endpoint(
    spark: SparkSession, port: int = 0
) -> SparkFlightServer:
    """Start the Flight endpoint in this driver and begin serving on a
    daemon thread; ``server.port`` has the bound port (0 picks a free
    one). ``server.shutdown()`` stops it."""
    server = SparkFlightServer(spark, f"grpc://127.0.0.1:{port}")
    threading.Thread(target=server.serve, daemon=True).start()
    return server
