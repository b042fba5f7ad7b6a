"""Arrow Flight do_get round trip (ref src/influxdb_ioxd/rpc/flight.rs:158),
a stock pyarrow FlightClient against the h2c gRPC port."""

from __future__ import annotations

import pytest

pytest.importorskip("pyarrow.flight")

from influxdb_iox_spark.rpc_flight import flight_ticket
from influxdb_iox_spark.rpc_h2 import GrpcH2Server
from influxdb_iox_spark.rpc_management import IoxServer
from influxdb_iox_spark.schema import InfluxColumnType, IoxSchema

CPU = IoxSchema.build(["region"], {"user": InfluxColumnType.FIELD_FLOAT})


@pytest.fixture()
def server(spark, tmp_path):
    iox = IoxServer(spark, str(tmp_path / "flight_srv"))
    iox.create_database({"name": "mydb"})
    db = iox.db("mydb").database
    df = spark.createDataFrame(
        [("west", 23.2, 100), ("east", 5.0, 200)],
        "region string, user double, time long",
    )
    db.store.write_chunk(df, "cpu", CPU)
    db.register_table("cpu", CPU)
    srv = GrpcH2Server(iox)
    yield srv
    srv.shutdown()


def test_do_get_sql_roundtrip(server):
    import pyarrow.flight as fl

    client = fl.connect(f"grpc://127.0.0.1:{server.port}")
    ticket = fl.Ticket(
        flight_ticket("mydb", "SELECT region, user, time FROM cpu ORDER BY time")
    )
    table = client.do_get(ticket).read_all()
    assert table.column_names == ["region", "user", "time"]
    assert table.to_pylist() == [
        {"region": "west", "user": 23.2, "time": 100},
        {"region": "east", "user": 5.0, "time": 200},
    ]


def test_do_get_unknown_database_errors(server):
    import pyarrow as pa
    import pyarrow.flight as fl

    client = fl.connect(f"grpc://127.0.0.1:{server.port}")
    # grpc-status 5 (NotFound) maps to ArrowKeyError in pyarrow
    with pytest.raises(pa.lib.ArrowKeyError, match="'nope' not found"):
        client.do_get(fl.Ticket(flight_ticket("nope", "SELECT 1"))).read_all()


def test_do_get_bad_ticket_errors(server):
    import pyarrow as pa
    import pyarrow.flight as fl

    client = fl.connect(f"grpc://127.0.0.1:{server.port}")
    # grpc-status 3 (InvalidArgument) maps to ArrowInvalid in pyarrow
    with pytest.raises(pa.ArrowInvalid, match="invalid ticket"):
        client.do_get(fl.Ticket(b"not json")).read_all()
