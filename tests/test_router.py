"""Cross-server query routing (router.py) — the grpc-router twin:
connection-manager caching/single-flight/TTL without any server, then
Local/Remote routing against two live in-process gRPC servers."""

from __future__ import annotations

import threading
import time

import pytest

from influxdb_iox_spark.router import (
    CachingConnectionManager,
    Local,
    QueryRouter,
    Remote,
    RoutingError,
)


class _FakeClient:
    def __init__(self, connect):
        self.connect = connect
        self.closed = False

    def close(self):
        self.closed = True


# -- connection manager (no server) -----------------------------------------


def test_manager_caches_per_connection_string():
    made = []

    def make(c):
        made.append(c)
        return _FakeClient(c)

    m = CachingConnectionManager(make)
    a1 = m.remote_server("hostA:1")
    a2 = m.remote_server("hostA:1")
    b = m.remote_server("hostB:2")
    assert a1 is a2 and a1 is not b
    assert made == ["hostA:1", "hostB:2"]  # one construction per key
    m.close()
    assert a1.closed and b.closed


def test_manager_single_flight_under_concurrency():
    """cache_loader_async's blocking-load guarantee: N concurrent first
    requests for one destination build exactly one client; the rest wait
    instead of thundering."""
    building = threading.Event()
    made = []

    def slow_make(c):
        building.set()
        time.sleep(0.05)
        made.append(c)
        return _FakeClient(c)

    m = CachingConnectionManager(slow_make)
    got = []
    threads = [
        threading.Thread(target=lambda: got.append(m.remote_server("h:1")))
        for _ in range(8)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert len(made) == 1
    assert all(g is got[0] for g in got)


def test_manager_ttl_rebuilds_and_closes_stale():
    m = CachingConnectionManager(_FakeClient, ttl_seconds=0.05)
    c1 = m.remote_server("h:1")
    assert m.remote_server("h:1") is c1  # within TTL: cached
    time.sleep(0.08)
    c2 = m.remote_server("h:1")
    assert c2 is not c1 and c1.closed and not c2.closed


def test_manager_invalidate_reconnects():
    m = CachingConnectionManager(_FakeClient)
    c1 = m.remote_server("h:1")
    m.invalidate("h:1")
    assert c1.closed
    assert m.remote_server("h:1") is not c1


def test_unparseable_connection_string_raises_routing_error():
    from influxdb_iox_spark.router import _default_make_client

    with pytest.raises(RoutingError, match="Cannot route request"):
        _default_make_client("not-a-hostport")


# -- two-server routing (live gRPC) ------------------------------------------


@pytest.fixture(scope="module")
def two_servers(spark, tmp_path_factory):
    from influxdb_iox_spark.rpc_h2 import GrpcH2Server
    from influxdb_iox_spark.rpc_management import IoxServer

    a = IoxServer(spark, str(tmp_path_factory.mktemp("router_a")))
    b = IoxServer(spark, str(tmp_path_factory.mktemp("router_b")))
    ga, gb = GrpcH2Server(a), GrpcH2Server(b)
    rules = lambda n: {"name": n, "partition_template": {"parts": [{"table": {}}]}}  # noqa: E731
    a.create_database(rules("db_local"))
    b.create_database(rules("db_far"))
    # write a couple of points to each through the local ingest path
    from influxdb_iox_spark.schema import InfluxColumnType, IoxSchema

    sch = IoxSchema.build(["host"], {"user": InfluxColumnType.FIELD_FLOAT})
    for srv, db, val in ((a, "db_local", 1.5), (b, "db_far", 7.25)):
        md = srv.db(db)
        md.database.register_table("cpu", sch)
        md.database.store.write_chunk(
            spark.createDataFrame(
                [("h1", val, 100)], "host string, user double, time long"
            ),
            "cpu", sch, partition_key="p",
        )
    a.remotes[1] = f"127.0.0.1:{gb.port}"
    yield a, b, ga, gb
    ga.shutdown()
    gb.shutdown()


def test_route_local_is_zero_cost(two_servers):
    a, *_ = two_servers
    r = QueryRouter(a)
    dest = r.route_for("db_local")
    assert isinstance(dest, Local)
    # the Local arm IS the in-process ManagedDatabase — no client involved
    assert dest.service is a.db("db_local")
    rows = r.query("db_local", "SELECT host, user FROM cpu")
    assert rows == [{"host": "h1", "user": 1.5}]


def test_route_remote_via_flight(two_servers):
    a, *_ = two_servers
    r = QueryRouter(a)
    dest = r.route_for("db_far")
    assert isinstance(dest, Remote)
    rows = r.query("db_far", "SELECT host, user FROM cpu")
    assert rows == [{"host": "h1", "user": 7.25}]
    # resolution memoized: second route reuses the cached client
    assert isinstance(r.route_for("db_far"), Remote)


def test_route_unknown_database_raises(two_servers):
    a, *_ = two_servers
    r = QueryRouter(a)
    with pytest.raises(RoutingError, match="Cannot route request"):
        r.route_for("db_nowhere")


def test_route_skips_dead_remote(two_servers):
    """A remote that cannot be reached is skipped (and its cache entry
    invalidated); a later healthy remote still resolves."""
    a, b, ga, gb = two_servers
    r = QueryRouter(a)
    a.remotes[0] = "127.0.0.1:1"  # probed first (id order), refuses
    try:
        assert isinstance(r.route_for("db_far"), Remote)
    finally:
        del a.remotes[0]
