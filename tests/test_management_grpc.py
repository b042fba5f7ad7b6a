"""Management / Write / Operations gRPC contract tests.

Port of /root/reference/tests/end_to_end_cases/{management_api,write_api,
operations_api}.rs through OUR wire stack: protobuf request bytes
(hand-rolled codec) → the true tonic method path on the h2c gRPC port
(rpc_h2.GrpcH2Server) → protobuf response bytes decoded back.  Assertions mirror the reference's, including
the exact "Resource <type>/<name> not found" error strings its tests
check verbatim (management_api.rs:406,593,603,623).

Architecture-mapping divergences under test are the documented ones
(rpc_management.py module docstring): chunks report OBJECT_STORE_ONLY
storage because micro-batch chunks are born persisted, and rollover /
unload are validated no-ops.
"""

from __future__ import annotations

import pytest

from influxdb_iox_spark import management_proto as mp
from influxdb_iox_spark.client import IoxClient
from influxdb_iox_spark.protowire import decode_message, encode_message
from influxdb_iox_spark.rpc_h2 import GrpcH2Server
from influxdb_iox_spark.rpc_management import IoxServer
from influxdb_iox_spark import storage_proto as sp


@pytest.fixture(scope="module")
def srv(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("mgmt_grpc")
    server = IoxServer(spark, str(base))
    grpc = GrpcH2Server(server)
    yield server, grpc.port
    grpc.shutdown()


@pytest.fixture(scope="module")
def client(srv):
    c = IoxClient(grpc_port=srv[1])
    yield c
    c.close()


def _rules(name: str, parts=({"table": {}},)) -> dict:
    return {
        "name": name,
        "partition_template": {"parts": list(parts)},
        "lifecycle_rules": {"buffer_size_soft": 512 * 1024, "persist": True},
    }


def _create(client, name: str, **kw):
    client.call("management", "CreateDatabase", {"rules": _rules(name, **kw)})


def _write(client, db: str, lp: str) -> int:
    out = client.call("write", "Write", {"db_name": db, "lp_data": lp})
    return out.get("lines_written", 0)


# -- server id / status (management_api.rs:118-131) -------------------------


def test_set_get_server_id(client):
    with pytest.raises(Exception, match="NotFound"):
        client.call("management", "GetServerId", {})
    client.call("management", "UpdateServerId", {"id": 42})
    assert client.call("management", "GetServerId", {})["id"] == 42
    with pytest.raises(Exception, match="id is required"):
        client.call("management", "UpdateServerId", {"id": 0})


def test_server_status_lists_databases(client):
    _create(client, "statusdb")
    status = client.call("management", "GetServerStatus", {})["server_status"]
    assert status["initialized"] is True
    names = [s["db_name"] for s in status["database_statuses"]]
    assert "statusdb" in names
    st = next(s for s in status["database_statuses"] if s["db_name"] == "statusdb")
    assert st["state"] == mp.DATABASE_STATE_INITIALIZED


# -- database CRUD (management_api.rs:135-265) ------------------------------


def test_create_database_duplicate_name(client):
    _create(client, "duplicate")
    with pytest.raises(Exception, match="AlreadyExists"):
        _create(client, "duplicate")


def test_create_database_invalid_name(client):
    with pytest.raises(Exception, match="InvalidArgument"):
        _create(client, "my_example\ndb")
    with pytest.raises(Exception, match="InvalidArgument"):
        _create(client, "")


def test_list_databases(client):
    _create(client, "listed")
    names = client.call("management", "ListDatabases", {})["names"]
    assert "listed" in names


def test_create_get_update_database(client):
    rules = _rules("crud", parts=({"column": "region"},))
    rules["lifecycle_rules"]["immutable"] = False
    client.call("management", "CreateDatabase", {"rules": rules})
    got = client.call("management", "GetDatabase", {"name": "crud"})["rules"]
    assert got["name"] == "crud"
    assert got["partition_template"]["parts"][0]["column"] == "region"
    assert got["lifecycle_rules"]["persist"] is True

    rules["lifecycle_rules"]["buffer_size_soft"] = 1024
    updated = client.call("management", "UpdateDatabase", {"rules": rules})["rules"]
    assert updated["lifecycle_rules"]["buffer_size_soft"] == 1024
    got2 = client.call("management", "GetDatabase", {"name": "crud"})["rules"]
    assert got2["lifecycle_rules"]["buffer_size_soft"] == 1024

    with pytest.raises(Exception, match="NotFound"):
        client.call("management", "GetDatabase", {"name": "no_such_db"})
    with pytest.raises(Exception, match="NotFound"):
        client.call(
            "management", "UpdateDatabase", {"rules": _rules("no_such_db")}
        )


# -- write + chunk listing (management_api.rs:268-344, write_api.rs) --------


def test_write_then_chunk_get(client):
    _create(client, "chunkdb")
    n = _write(
        client,
        "chunkdb",
        "cpu,region=west user=23.2 100\ncpu,region=west user=21.0 150",
    )
    assert n == 2
    chunks = client.call("management", "ListChunks", {"db_name": "chunkdb"})["chunks"]
    assert len(chunks) == 1
    c = chunks[0]
    assert c["partition_key"] == "cpu"  # template part = table
    assert c["table_name"] == "cpu"
    assert c["storage"] == mp.CHUNK_STORAGE_OBJECT_STORE_ONLY
    assert c["row_count"] == 2
    assert c["estimated_bytes"] > 0
    assert c["time_of_first_write"]["seconds"] > 0


def test_chunk_get_errors(client):
    with pytest.raises(Exception, match="Resource database/no_such_db not found"):
        client.call("management", "ListChunks", {"db_name": "no_such_db"})


def test_write_schema_inference_and_query(srv, client):
    server, _port = srv
    _create(client, "inferdb")
    _write(
        client,
        "inferdb",
        'm,t=a f=1.5,s="x",b=true,i=7i 100\nm,t=b f=2.5 200',
    )
    db = server.databases["inferdb"].database
    schema = db.table_schema("m")
    assert schema.tag_columns == ["t"]
    assert sorted(schema.field_columns) == ["b", "f", "i", "s"]
    rows = db.table("m").collect()
    assert len(rows) == 2


def test_write_type_conflict_rejected(client):
    _create(client, "conflictdb")
    _write(client, "conflictdb", "m f=1.5 100")
    with pytest.raises(Exception, match="conflicting field types|merge conflict"):
        _write(client, "conflictdb", "m f=7i 200")
    # the conflicting write persisted NOTHING (all-or-nothing)
    chunks = client.call("management", "ListChunks", {"db_name": "conflictdb"})[
        "chunks"
    ]
    assert sum(c["row_count"] for c in chunks) == 1


def test_write_errors(client):
    with pytest.raises(Exception, match="Resource database/no_db not found"):
        _write(client, "no_db", "m f=1 1")
    _create(client, "badlp")
    with pytest.raises(Exception, match="InvalidArgument"):
        _write(client, "badlp", "not a valid line")
    # WriteEntry is implemented (r6, entry_fb codec); a garbage payload is
    # InvalidArgument, never a crash
    with pytest.raises(Exception, match="InvalidArgument"):
        client.call("write", "WriteEntry", {"db_name": "badlp", "entry": b"\x01"})


def test_write_immutable_database_rejected(client):
    rules = _rules("frozen")
    rules["lifecycle_rules"]["immutable"] = True
    client.call("management", "CreateDatabase", {"rules": rules})
    with pytest.raises(Exception, match="immutable"):
        _write(client, "frozen", "m f=1 1")


# -- partitions (management_api.rs:365-527) ---------------------------------


def test_partition_list_get_chunks(client):
    _create(client, "partdb", parts=({"column": "region"},))
    _write(
        client,
        "partdb",
        "cpu,region=west user=23.2 100\ncpu,region=east user=21.0 150",
    )
    parts = client.call("management", "ListPartitions", {"db_name": "partdb"})[
        "partitions"
    ]
    assert sorted(p["key"] for p in parts) == ["east", "west"]

    got = client.call(
        "management", "GetPartition", {"db_name": "partdb", "partition_key": "west"}
    )
    assert got["partition"]["key"] == "west"
    # unknown key → empty response, NOT an error (management.rs:284-289)
    missing = client.call(
        "management", "GetPartition", {"db_name": "partdb", "partition_key": "nope"}
    )
    assert missing.get("partition") is None

    chunks = client.call(
        "management",
        "ListPartitionChunks",
        {"db_name": "partdb", "partition_key": "west"},
    )["chunks"]
    assert len(chunks) == 1
    assert chunks[0]["partition_key"] == "west"


def test_partition_list_error(client):
    with pytest.raises(Exception, match="Resource database/no_such_db not found"):
        client.call("management", "ListPartitions", {"db_name": "no_such_db"})


# -- rollover / close / unload (management_api.rs:532-716) ------------------


def test_new_partition_chunk(client):
    _create(client, "rolldb")
    _write(client, "rolldb", "cpu,region=west user=23.2 100")
    client.call(
        "management",
        "NewPartitionChunk",
        {"db_name": "rolldb", "partition_key": "cpu", "table_name": "cpu"},
    )
    _write(client, "rolldb", "cpu,region=west user=21.0 150")
    chunks = client.call("management", "ListChunks", {"db_name": "rolldb"})["chunks"]
    assert len(chunks) == 2
    assert sum(1 for c in chunks if c["partition_key"] == "cpu") == 2

    with pytest.raises(
        Exception, match="Resource partition/cpu:non_existent_partition not found"
    ):
        client.call(
            "management",
            "NewPartitionChunk",
            {
                "db_name": "rolldb",
                "partition_key": "non_existent_partition",
                "table_name": "cpu",
            },
        )
    with pytest.raises(
        Exception, match="Resource table/non_existing_table not found"
    ):
        client.call(
            "management",
            "NewPartitionChunk",
            {
                "db_name": "rolldb",
                "partition_key": "cpu",
                "table_name": "non_existing_table",
            },
        )


def test_new_partition_chunk_error(client):
    with pytest.raises(
        Exception, match="Resource database/this database does not exist not found"
    ):
        client.call(
            "management",
            "NewPartitionChunk",
            {
                "db_name": "this database does not exist",
                "partition_key": "nor_does_this_partition",
                "table_name": "nor_does_this_table",
            },
        )


def test_close_partition_chunk(client):
    _create(client, "closedb")
    _write(client, "closedb", "cpu,region=west user=23.2 100")
    chunks = client.call("management", "ListChunks", {"db_name": "closedb"})["chunks"]
    chunk_id = chunks[0]["id"]
    out = client.call(
        "management",
        "ClosePartitionChunk",
        {
            "db_name": "closedb",
            "partition_key": "cpu",
            "table_name": "cpu",
            "chunk_id": chunk_id,
        },
    )
    op = out["operation"]
    assert op["done"] is True
    assert op["metadata"]["type_url"].endswith("OperationMetadata")
    meta = decode_message(op["metadata"]["value"], mp.OPERATION_METADATA)
    job = meta["close_chunk"]
    assert job["db_name"] == "closedb"
    assert job["partition_key"] == "cpu"
    assert job["table_name"] == "cpu"
    assert job["chunk_id"] == chunk_id

    # the operation is visible through the operations service by name
    got = client.call("operations", "GetOperation", {"name": op["name"]})
    assert got["name"] == op["name"]
    assert got["done"] is True
    waited = client.call("operations", "WaitOperation", {"name": op["name"]})
    assert waited["name"] == op["name"]

    with pytest.raises(Exception, match="Resource chunk/999 not found"):
        client.call(
            "management",
            "ClosePartitionChunk",
            {
                "db_name": "closedb",
                "partition_key": "cpu",
                "table_name": "cpu",
                "chunk_id": 999,
            },
        )


def test_unload_partition_chunk(client):
    _create(client, "unloaddb")
    _write(client, "unloaddb", "cpu,region=west user=23.2 100")
    chunk_id = client.call("management", "ListChunks", {"db_name": "unloaddb"})[
        "chunks"
    ][0]["id"]
    client.call(
        "management",
        "UnloadPartitionChunk",
        {
            "db_name": "unloaddb",
            "partition_key": "cpu",
            "table_name": "cpu",
            "chunk_id": chunk_id,
        },
    )
    with pytest.raises(Exception, match="Resource chunk/42 not found"):
        client.call(
            "management",
            "UnloadPartitionChunk",
            {
                "db_name": "unloaddb",
                "partition_key": "cpu",
                "table_name": "cpu",
                "chunk_id": 42,
            },
        )


# -- remotes (management_api.rs:58-114) -------------------------------------


def test_list_update_delete_remotes(client):
    assert client.call("management", "ListRemotes", {}).get("remotes") is None or (
        client.call("management", "ListRemotes", {})["remotes"] == []
    )
    client.call(
        "management",
        "UpdateRemote",
        {"remote": {"id": 1, "connection_string": "http://1"}},
    )
    client.call(
        "management",
        "UpdateRemote",
        {"remote": {"id": 2, "connection_string": "http://2"}},
    )
    remotes = client.call("management", "ListRemotes", {})["remotes"]
    assert [(r["id"], r["connection_string"]) for r in remotes] == [
        (1, "http://1"),
        (2, "http://2"),
    ]
    client.call("management", "DeleteRemote", {"id": 1})
    remotes = client.call("management", "ListRemotes", {})["remotes"]
    assert [r["id"] for r in remotes] == [2]
    with pytest.raises(Exception, match="NotFound"):
        client.call("management", "DeleteRemote", {"id": 1})
    with pytest.raises(Exception, match="remote is required"):
        client.call("management", "UpdateRemote", {})


# -- operations service (operations_api.rs) ---------------------------------


def test_dummy_job_and_list_operations(client):
    _create(client, "opsdb")
    out = client.call("management", "CreateDummyJob", {"nanos": [100, 200]})
    op = out["operation"]
    assert op["done"] is True
    meta = decode_message(op["metadata"]["value"], mp.OPERATION_METADATA)
    assert meta["dummy"]["nanos"] == [100, 200]

    ops = client.call("operations", "ListOperations", {})["operations"]
    assert any(o["name"] == op["name"] for o in ops)
    got = client.call("operations", "GetOperation", {"name": op["name"]})
    meta2 = decode_message(got["metadata"]["value"], mp.OPERATION_METADATA)
    assert meta2["dummy"]["nanos"] == [100, 200]

    with pytest.raises(Exception, match="NotFound"):
        client.call("operations", "GetOperation", {"name": "no_such_op"})
    client.call("operations", "CancelOperation", {"name": op["name"]})
    with pytest.raises(Exception, match="Unimplemented"):
        client.call("operations", "DeleteOperation", {"name": op["name"]})


# -- wipe preserved catalog -------------------------------------------------


def test_wipe_preserved_catalog(client):
    _create(client, "wipedb")
    _write(client, "wipedb", "cpu,region=west user=23.2 100")
    assert (
        len(client.call("management", "ListChunks", {"db_name": "wipedb"})["chunks"])
        == 1
    )
    out = client.call("management", "WipePreservedCatalog", {"db_name": "wipedb"})
    assert out["operation"]["done"] is True
    chunks = client.call("management", "ListChunks", {"db_name": "wipedb"})["chunks"]
    assert chunks == []
    # writes still work afterwards (schema survives; like a wiped catalog
    # replaying rules)
    assert _write(client, "wipedb", "cpu,region=west user=9 500") == 1


# -- serving readiness (management_api.rs:24-55) ----------------------------


def test_serving_readiness_gates_data_plane(client):
    _create(client, "readydb")
    client.call("management", "SetServingReadiness", {"ready": False})
    try:
        with pytest.raises(Exception, match="[Uu]navailable"):
            _write(client, "readydb", "bar baz=1 10")
        # management plane still answers
        assert "readydb" in client.call("management", "ListDatabases", {})["names"]
    finally:
        client.call("management", "SetServingReadiness", {"ready": True})
    assert _write(client, "readydb", "bar baz=1 10") == 1


# -- storage data plane over the same socket --------------------------------


def test_storage_rpc_on_combined_server(srv, client):
    org, bucket = 0xAAA, 0xBBB
    db_name = f"{org:016x}_{bucket:016x}"
    _create(client, db_name)
    _write(client, db_name, "h2o,state=CA temp=70.4 100\nh2o,state=MA temp=72.3 150")

    req = {
        "tags_source": sp.make_read_source(org, bucket, partition_id=0),
        "range": {"start": 1, "end": 1000},
    }
    msgs = client._grpc.call_ok(
        "/influxdata.platform.storage.Storage/TagKeys",
        encode_message(req, sp.TAG_KEYS_REQUEST),
    )
    frames = [decode_message(m, sp.STRING_VALUES_RESPONSE) for m in msgs]
    keys = [v for f in frames for v in f["values"]]
    assert b"state" in keys


# -- restart persistence ----------------------------------------------------


def test_server_restart_restores_state(srv, spark):
    server, _port = srv
    base = server.base_dir
    reborn = IoxServer(spark, base)
    assert "chunkdb" in reborn.databases
    md = reborn.databases["chunkdb"]
    assert md.rules["name"] == "chunkdb"
    # schema AND data survive: the restored Database serves the same rows
    db = md.database
    assert "cpu" in db.table_names()
    assert db.table("cpu").count() == 2
    assert db.table_schema("cpu").tag_columns == ["region"]


# -- unified client facade (influxdb_iox_client-style) ----------------------


def test_iox_client_facade(srv):
    c = IoxClient(grpc_port=srv[1])
    try:
        c.create_database("clientdb", partition_template_parts=[{"table": {}}])
        assert "clientdb" in c.list_databases()
        assert c.get_database("clientdb")["name"] == "clientdb"
        assert c.write("clientdb", "cpu,region=west user=1.5 100\ncpu user=2 200") == 2
        chunks = c.list_chunks("clientdb")
        assert len(chunks) == 1 and chunks[0]["row_count"] == 2
        assert c.list_partitions("clientdb") == ["cpu"]
        assert c.get_partition("clientdb", "cpu") == {"key": "cpu"}
        assert c.get_partition("clientdb", "nope") is None
        assert len(c.list_partition_chunks("clientdb", "cpu")) == 1
        op = c.close_partition_chunk(
            "clientdb", "cpu", "cpu", chunks[0]["id"]
        )
        assert op["done"] is True
        assert c.get_operation(op["name"])["name"] == op["name"]
        assert any(o["name"] == op["name"] for o in c.list_operations())
        status = c.server_status()
        assert any(
            s["db_name"] == "clientdb" for s in status["database_statuses"]
        )
    finally:
        c.close()


def test_write_hard_buffer_limit(client):
    """write_api.rs:68-85: once the database exceeds buffer_size_hard,
    writes fail with ResourceExhausted (our buffered bytes = total
    persisted chunk bytes, chunks being born persisted)."""
    rules = _rules("floodme")
    rules["lifecycle_rules"]["buffer_size_hard"] = 1  # first write trips it
    client.call("management", "CreateDatabase", {"rules": rules})
    assert _write(client, "floodme", "flood,tag1=a x=1 0") == 1
    with pytest.raises(Exception, match="ResourceExhausted"):
        _write(client, "floodme", "flood,tag1=b x=2 0")


def test_multi_db_http_server(srv):
    """The v2 HTTP API over the live database set: write to any
    '<org>_<bucket>' database with schema inference, query any database
    by name, 404 for unknown databases, metrics served."""
    import json as _json
    import urllib.error
    import urllib.request

    from influxdb_iox_spark.rpc_management import IoxMultiDbHttpServer

    server, _port = srv
    http = IoxMultiDbHttpServer(server)
    port = http.start()
    base = f"http://127.0.0.1:{port}"
    try:
        server.create_database(
            {"name": "h_b", "partition_template": {"parts": [{"table": {}}]}}
        )
        req = urllib.request.Request(
            f"{base}/api/v2/write?org=h&bucket=b",
            data=b"cpu,region=west user=1.5 100\ncpu,region=east user=2.0 200",
        )
        with urllib.request.urlopen(req, timeout=120) as r:
            assert r.status == 204

        q = urllib.request.quote("SELECT region, user, time FROM cpu ORDER BY time")
        with urllib.request.urlopen(
            f"{base}/iox/api/v1/databases/h_b/query?q={q}&format=json", timeout=120
        ) as r:
            rows = _json.loads(r.read())
        assert rows == [
            {"region": "west", "user": 1.5, "time": 100},
            {"region": "east", "user": 2.0, "time": 200},
        ]

        # unknown database -> 404 with the JSON error body
        try:
            urllib.request.urlopen(
                f"{base}/iox/api/v1/databases/nope/query?q=SELECT%201", timeout=30
            )
            raise AssertionError("expected 404")
        except urllib.error.HTTPError as e:
            assert e.code == 404
            assert _json.loads(e.read())["error_code"] == 100

        with urllib.request.urlopen(f"{base}/metrics", timeout=30) as r:
            text = r.read().decode()
        assert "ingest_lines_total 2" in text
    finally:
        http.stop()


def test_flight_do_get_on_combined_server(srv, client):
    """SQL over Flight do_get on the SAME socket as the control services
    (the reference's single-port deployment); readiness gates it too."""
    flight = pytest.importorskip("pyarrow.flight")

    from influxdb_iox_spark.rpc_flight import flight_ticket

    _create(client, "flightdb")
    _write(client, "flightdb", "cpu,region=west user=1.5 100")
    conn = flight.connect(f"grpc://127.0.0.1:{srv[1]}")
    try:
        reader = conn.do_get(
            flight.Ticket(
                flight_ticket("flightdb", "SELECT region, user, time FROM cpu")
            )
        )
        table = reader.read_all()
        assert table.to_pylist() == [{"region": "west", "user": 1.5, "time": 100}]
        with pytest.raises(Exception, match="not found"):
            conn.do_get(
                flight.Ticket(flight_ticket("no_such_db", "SELECT 1"))
            ).read_all()
        client.call("management", "SetServingReadiness", {"ready": False})
        try:
            with pytest.raises(Exception, match="[Uu]navailable|not serving"):
                conn.do_get(
                    flight.Ticket(flight_ticket("flightdb", "SELECT 1"))
                ).read_all()
        finally:
            client.call("management", "SetServingReadiness", {"ready": True})
    finally:
        conn.close()


def test_management_proto_hypothesis_round_trip():
    """Random DatabaseRules (incl. shard config and lifecycle rules)
    survive encode→decode through the hand-rolled codec."""
    from hypothesis import given, settings, strategies as st

    from influxdb_iox_spark.protowire import decode_message, encode_message

    names = st.text(
        alphabet=st.characters(min_codepoint=32, max_codepoint=126), max_size=12
    )

    @st.composite
    def rules(draw):
        r = {"name": draw(names)}
        if draw(st.booleans()):
            r["lifecycle_rules"] = {
                "buffer_size_soft": draw(st.integers(0, 2**40)),
                "buffer_size_hard": draw(st.integers(0, 2**40)),
                "immutable": draw(st.booleans()),
                "late_arrive_window_seconds": draw(st.integers(0, 2**32 - 1)),
            }
        if draw(st.booleans()):
            r["shard_config"] = {
                "specific_targets": draw(
                    st.lists(
                        st.fixed_dictionaries(
                            {
                                "matcher": st.fixed_dictionaries(
                                    {"table_name_regex": names}
                                ),
                                "shard": st.integers(0, 2**32 - 1),
                            }
                        ),
                        max_size=3,
                    )
                ),
                "hash_ring": {
                    "table_name": draw(st.booleans()),
                    "columns": draw(st.lists(names, max_size=3)),
                    "shards": draw(st.lists(st.integers(0, 2**32 - 1), max_size=4)),
                },
            }
        if draw(st.booleans()):
            r["writing"] = draw(names)
        return r

    @given(rules())
    @settings(max_examples=150, deadline=None)
    def check(r):
        from influxdb_iox_spark import management_proto as mp

        raw = encode_message({"rules": r}, mp.CREATE_DATABASE_REQUEST)
        back = decode_message(raw, mp.CREATE_DATABASE_REQUEST)["rules"]
        assert back["name"] == r["name"]
        if "lifecycle_rules" in r:
            for k, v in r["lifecycle_rules"].items():
                assert back["lifecycle_rules"][k] == v
        if "shard_config" in r:
            sc, got = r["shard_config"], back["shard_config"]
            assert len(got["specific_targets"] or []) == len(sc["specific_targets"])
            for want, have in zip(sc["specific_targets"], got["specific_targets"] or []):
                assert have["shard"] == want["shard"]
                assert (
                    have["matcher"]["table_name_regex"]
                    == want["matcher"]["table_name_regex"]
                )
            assert (got["hash_ring"]["shards"] or []) == sc["hash_ring"]["shards"]
            assert (got["hash_ring"]["columns"] or []) == sc["hash_ring"]["columns"]
        if "writing" in r:
            assert back["writing"] == r["writing"]

    check()


def test_concurrent_grpc_writes_lose_nothing(srv, client):
    """Four clients hammering the same database concurrently: every line
    lands exactly once (the server serializes chunk registration; the
    store's manifest is concurrent-writer safe underneath)."""
    import threading

    _create(client, "hammer")
    errors = []

    def writer(worker):
        c = IoxClient(grpc_port=srv[1])
        try:
            for i in range(5):
                c.call(
                    "write",
                    "Write",
                    {
                        "db_name": "hammer",
                        "lp_data": f"cpu,w=w{worker} v={worker * 100 + i}i {worker * 1000 + i}",
                    },
                )
        except Exception as e:  # pragma: no cover
            errors.append(e)
        finally:
            c.close()

    threads = [threading.Thread(target=writer, args=(w,)) for w in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors
    db = srv[0].databases["hammer"].database
    rows = {(r.w, r.v, r.time) for r in db.table("cpu").collect()}
    expected = {
        (f"w{w}", w * 100 + i, w * 1000 + i) for w in range(4) for i in range(5)
    }
    assert rows == expected


def test_system_operations_visible_per_database(srv, client):
    """system_tables.rs test_operations: a close-chunk operation shows in
    the RIGHT database's system operations table (and only there), queried
    through the SQL surface."""
    _create(client, "sysops1")
    _create(client, "sysops2")
    _write(client, "sysops1", "cpu,region=west user=23.2 100")
    chunk_id = client.call("management", "ListChunks", {"db_name": "sysops1"})[
        "chunks"
    ][0]["id"]
    op = client.call(
        "management",
        "ClosePartitionChunk",
        {
            "db_name": "sysops1",
            "partition_key": "cpu",
            "table_name": "cpu",
            "chunk_id": chunk_id,
        },
    )["operation"]
    assert op["done"] is True

    db1 = srv[0].databases["sysops1"].database
    rows = db1.query(
        "SELECT chunk_ids, status, job FROM system_operations"
    ).collect()
    assert (str(chunk_id), "Complete", "CloseChunk") in {
        (r.chunk_ids, r.status, r.job) for r in rows
    }
    db2 = srv[0].databases["sysops2"].database
    assert db2.query("SELECT * FROM system_operations").count() == 0


def test_client_query_flight(srv, client):
    c = IoxClient(grpc_port=srv[1])
    try:
        c.create_database("fq", partition_template_parts=[{"table": {}}])
        c.write("fq", "cpu,region=west user=1.5 100")
        table = c.query_flight("fq", "SELECT region, user, time FROM cpu")
        assert table.to_pylist() == [{"region": "west", "user": 1.5, "time": 100}]
    finally:
        c.close()


def test_cli_commands(srv, tmp_path):
    """The CLI twin of the reference binary's database/operations
    commands, driven in-process against the live server."""
    import io
    import json as _json

    from influxdb_iox_spark.__main__ import main

    port = srv[1]

    def run(*argv):
        buf = io.StringIO()
        assert main(list(argv), out=buf) == 0
        return buf.getvalue()

    assert "Created database clidb" in run(
        "database", "create", "clidb", "--grpc-port", str(port)
    )
    assert "clidb" in run("database", "list", "--grpc-port", str(port)).split()

    lp = tmp_path / "points.lp"
    lp.write_text("cpu,region=west user=1.5 100\ncpu,region=east user=2.0 200\n")
    assert "2 Lines OK" in run(
        "database", "write", "clidb", str(lp), "--grpc-port", str(port)
    )

    rows = _json.loads(
        run(
            "database", "query", "clidb",
            "SELECT region, user, time FROM cpu ORDER BY time",
            "--grpc-port", str(port),
        )
    )
    assert rows == [
        {"region": "west", "user": 1.5, "time": 100},
        {"region": "east", "user": 2.0, "time": 200},
    ]

    chunks = _json.loads(run("database", "chunks", "clidb", "--grpc-port", str(port)))
    assert len(chunks) == 1 and chunks[0]["row_count"] == 2

    ops_out = run("operations", "list", "--grpc-port", str(port))
    assert ops_out == "" or all(
        _json.loads(ln)["name"] for ln in ops_out.splitlines()
    )

    got = _json.loads(run("database", "get", "clidb", "--grpc-port", str(port)))
    assert got["name"] == "clidb"

    keys = run(
        "database", "partitions", "clidb", "--grpc-port", str(port)
    ).split()
    assert keys  # at least one partition after the write
    detail = _json.loads(
        run(
            "database", "partitions", "clidb", keys[0],
            "--grpc-port", str(port),
        )
    )
    assert detail["partition"]["key"] == keys[0]
    assert detail["chunks"]

    assert "Ok" in run("server", "set-id", "42", "--grpc-port", str(port))
    assert run("server", "get-id", "--grpc-port", str(port)).strip() == "42"
    status = _json.loads(run("server", "status", "--grpc-port", str(port)))
    assert status["initialized"] is True

    # server remote set/remove/list (reference src/commands/server_remote.rs)
    # the module-scoped server may carry remotes from earlier tests (e.g.
    # test_list_update_delete_remotes leaves id 2) — clear them through
    # the CLI itself so the empty-listing case is order-independent
    for rid in list(srv[0].remotes):
        assert "Ok" in run(
            "server", "remote", "remove", str(rid), "--grpc-port", str(port)
        )
    assert "no remotes configured" in run(
        "server", "remote", "list", "--grpc-port", str(port)
    )
    assert "Ok" in run(
        "server", "remote", "set", "7", "http://peer-7:8082",
        "--grpc-port", str(port),
    )
    assert "Ok" in run(
        "server", "remote", "set", "3", "http://peer-3:8082",
        "--grpc-port", str(port),
    )
    listing = run("server", "remote", "list", "--grpc-port", str(port))
    lines = listing.strip().splitlines()
    assert lines[0].startswith("ID") and len(lines) == 3
    assert "3 | http://peer-3:8082" in listing  # sorted by id
    assert "7 | http://peer-7:8082" in listing
    assert listing.index("peer-3") < listing.index("peer-7")
    assert "Ok" in run(
        "server", "remote", "remove", "3", "--grpc-port", str(port)
    )
    assert "peer-3" not in run(
        "server", "remote", "list", "--grpc-port", str(port)
    )
    # removing an unknown id surfaces the NotFound from the RPC
    import pytest as _pytest

    with _pytest.raises(Exception, match="NotFound|not found"):
        run("server", "remote", "remove", "99", "--grpc-port", str(port))

    # operations get/wait/cancel/test (src/commands/operations.rs verbs)
    op = _json.loads(run("operations", "test", "100", "200", "--grpc-port", str(port)))
    assert op["name"] and op.get("done") in (True, False)
    got = _json.loads(run("operations", "get", op["name"], "--grpc-port", str(port)))
    assert got["name"] == op["name"]
    waited = _json.loads(
        run("operations", "wait", op["name"], "--grpc-port", str(port))
    )
    assert waited["name"] == op["name"]
    assert "Ok" in run("operations", "cancel", op["name"], "--grpc-port", str(port))

    # chunk lifecycle verbs (src/commands/database/partition.rs)
    key = keys[0]
    assert "Ok" in run(
        "database", "new-chunk", "clidb", "cpu", key, "--grpc-port", str(port)
    )
    detail = _json.loads(
        run("database", "partitions", "clidb", key, "--grpc-port", str(port))
    )
    cid = detail["chunks"][0]["id"]
    closed = _json.loads(
        run("database", "close-chunk", "clidb", "cpu", key, str(cid),
            "--grpc-port", str(port))
    )
    assert closed["name"]
    assert "Ok" in run(
        "database", "unload-chunk", "clidb", "cpu", key, str(cid),
        "--grpc-port", str(port),
    )

    # catalog wipe requires --force, then erases every chunk record
    with _pytest.raises(SystemExit, match="--force"):
        run("database", "catalog-wipe", "clidb", "--grpc-port", str(port))
    wipe = _json.loads(
        run("database", "catalog-wipe", "clidb", "--force",
            "--grpc-port", str(port))
    )
    assert wipe["name"]
    assert _json.loads(run("database", "chunks", "clidb", "--grpc-port", str(port))) == []


def test_cli_run_once(spark, tmp_path):
    """`run --once` boots the full server stack on a fresh base dir and
    prints its ports; a client can immediately use them... and state
    persists for the next run."""
    import io
    import json as _json

    from influxdb_iox_spark.__main__ import main

    class ServeOnFlush(io.StringIO):
        """Drives a client while `run --once` still serves: `run` flushes
        right after printing its ports and shuts the servers down after."""

        table = None

        def flush(self):
            if self.table is not None:  # close() flushes again
                return
            info = _json.loads(self.getvalue())
            c = IoxClient(grpc_port=info["grpc_port"])
            try:
                c.create_database("oneport")
                c.write("oneport", "cpu,region=west user=1.5 100")
                self.table = c.query_flight("oneport", "SELECT region, user FROM cpu")
            finally:
                c.close()

    buf = ServeOnFlush()
    assert main(["run", "--base-dir", str(tmp_path / "srv"), "--once"], out=buf) == 0
    info = _json.loads(buf.getvalue())
    assert info["databases"] == []
    assert info["grpc_port"] > 0 and info["http_port"] > 0
    assert "grpc_h2_port" not in info
    # management, write and Flight answered on the one printed gRPC port
    assert buf.table.to_pylist() == [{"region": "west", "user": 1.5}]


# -- ADVICE r5 regressions ---------------------------------------------------


def test_server_id_cannot_be_changed_once_set(spark, tmp_path_factory):
    """The reference rejects a second UpdateServerId with a FieldViolation
    (Error::SetIdError); re-setting the SAME id stays idempotent, and
    GetServerStatus reports initialized=false until an id is set."""
    base = tmp_path_factory.mktemp("srvid")
    server = IoxServer(spark, str(base))
    grpc = GrpcH2Server(server)
    c = IoxClient(grpc_port=grpc.port)
    try:
        status = c.call("management", "GetServerStatus", {})["server_status"]
        assert status.get("initialized", False) is False
        c.call("management", "UpdateServerId", {"id": 7})
        c.call("management", "UpdateServerId", {"id": 7})  # idempotent
        with pytest.raises(Exception, match="id already set"):
            c.call("management", "UpdateServerId", {"id": 8})
        assert c.call("management", "GetServerId", {})["id"] == 7
        status = c.call("management", "GetServerStatus", {})["server_status"]
        assert status["initialized"] is True
    finally:
        c.close()
        grpc.shutdown()


def test_dummy_job_resolvable_with_zero_databases(spark, tmp_path_factory):
    """ADVICE r5: CreateDummyJob persists in a server-level registry, so
    the returned operation name resolves via GetOperation/ListOperations
    even when no database exists."""
    base = tmp_path_factory.mktemp("dummyjob")
    server = IoxServer(spark, str(base))
    grpc = GrpcH2Server(server)
    c = IoxClient(grpc_port=grpc.port)
    try:
        op = c.call("management", "CreateDummyJob", {"nanos": [100, 200]})[
            "operation"
        ]
        assert op["done"] is True
        got = c.call("operations", "GetOperation", {"name": op["name"]})
        assert got["name"] == op["name"]
        names = [
            o["name"]
            for o in c.call("operations", "ListOperations", {}).get(
                "operations", []
            )
        ]
        assert op["name"] in names
    finally:
        c.close()
        grpc.shutdown()


def test_cli_run_honors_master_and_conf(tmp_path):
    """Cluster-submit smoke (SCALE.md §cluster-submit): the run command
    passes --master / --conf through to the session builder config-only —
    no code fork between local and cluster.  Run in a subprocess so the
    fresh session actually applies the overrides (getOrCreate would reuse
    the suite's session in-process)."""
    import json as _json
    import os as _os
    import subprocess
    import sys as _sys

    code = (
        "import sys; sys.path.insert(0, %r); "
        "from influxdb_iox_spark.__main__ import main; "
        "raise SystemExit(main(["
        "'run', '--base-dir', %r, '--once', "
        "'--master', 'local[3]', "
        "'--conf', 'spark.sql.shuffle.partitions=7', "
        "'--conf', 'spark.app.testMarker=cluster-smoke']))"
        % (
            _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__))),
            str(tmp_path / "srv"),
        )
    )
    out = subprocess.run(
        [_sys.executable, "-c", code], capture_output=True, text=True, timeout=300
    )
    assert out.returncode == 0, out.stderr[-2000:]
    info = _json.loads(out.stdout.strip().splitlines()[-1])
    assert info["master"] == "local[3]"
    assert info["conf"] == {
        "spark.sql.shuffle.partitions": "7",
        "spark.app.testMarker": "cluster-smoke",
    }


def test_multi_db_write_precision(srv):
    """precision scaling on the multi-db v2 write route: timestamps in
    the request's unit arrive as ns (text-level scaling, exact)."""
    import json as _json
    import urllib.request

    from influxdb_iox_spark.rpc_management import IoxMultiDbHttpServer

    server, _port = srv
    http = IoxMultiDbHttpServer(server)
    port = http.start()
    base = f"http://127.0.0.1:{port}"
    try:
        server.create_database(
            {"name": "p_b", "partition_template": {"parts": [{"table": {}}]}}
        )
        req = urllib.request.Request(
            f"{base}/api/v2/write?org=p&bucket=b&precision=s",
            data=b"cpu,region=west user=1.5 100",
        )
        with urllib.request.urlopen(req, timeout=120) as r:
            assert r.status == 204
        q = urllib.request.quote("SELECT time FROM cpu")
        with urllib.request.urlopen(
            f"{base}/iox/api/v1/databases/p_b/query?q={q}&format=json",
            timeout=120,
        ) as r:
            rows = _json.loads(r.read())
        assert rows == [{"time": 100 * 10**9}]
    finally:
        http.stop()


def test_multi_db_v1_influxql_loop(srv):
    """The 1.x loop against the multi-db server: /write?db= with
    precision, InfluxQL /query with the series envelope, SHOW DATABASES
    listing the hosted set, chunked streaming."""
    import json as _json
    import urllib.request
    from urllib.parse import quote

    from influxdb_iox_spark.rpc_management import IoxMultiDbHttpServer

    server, _port = srv
    http = IoxMultiDbHttpServer(server)
    port = http.start()
    base = f"http://127.0.0.1:{port}"
    try:
        server.create_database(
            {"name": "v1_b", "partition_template": {"parts": [{"table": {}}]}}
        )
        req = urllib.request.Request(
            f"{base}/write?db=v1_b&precision=s",
            data=b"cpu,host=a v=1.0 100\ncpu,host=a v=2.0 200\ncpu,host=b v=3.0 100",
        )
        with urllib.request.urlopen(req, timeout=120) as r:
            assert r.status == 204

        q = quote("SELECT MEAN(v) FROM cpu GROUP BY host")
        with urllib.request.urlopen(
            f"{base}/query?db=v1_b&q={q}", timeout=120
        ) as r:
            env = _json.loads(r.read())
        by_tag = {
            s["tags"]["host"]: s["values"][0][-1]
            for s in env["results"][0]["series"]
        }
        assert by_tag == {"a": 1.5, "b": 3.0}

        # db-less SHOW DATABASES lists every hosted database
        with urllib.request.urlopen(
            f"{base}/query?q={quote('SHOW DATABASES')}", timeout=120
        ) as r:
            env = _json.loads(r.read())
        names = [v[0] for v in env["results"][0]["series"][0]["values"]]
        assert "v1_b" in names

        # chunked streaming
        with urllib.request.urlopen(
            f"{base}/query?db=v1_b&q={quote('SELECT v FROM cpu')}"
            "&epoch=s&chunked=true&chunk_size=2",
            timeout=120,
        ) as r:
            docs = [
                _json.loads(ln) for ln in r.read().decode().splitlines() if ln
            ]
        assert len(docs) == 2 and docs[0]["results"][0]["partial"] is True
    finally:
        http.stop()


def test_scale_lp_timestamps_crlf():
    """CRLF-terminated line protocol (Windows clients, curl -d with \r\n)
    must scale precision timestamps too — the \r rides as preserved line
    tail, not as a scaling-defeating mismatch."""
    from influxdb_iox_spark.rpc_management import _scale_lp_timestamps

    body = b"cpu,host=a v=1.0 100\r\ncpu,host=b v=2.0 200\r\n"
    out = _scale_lp_timestamps(body, 10**9)
    assert out == (
        b"cpu,host=a v=1.0 100000000000\r\n"
        b"cpu,host=b v=2.0 200000000000\r\n"
    )
    # LF-only and no-timestamp lines unchanged in behavior
    assert _scale_lp_timestamps(b"cpu v=1 5\ncpu v=2", 1000) == (
        b"cpu v=1 5000\ncpu v=2"
    )


def test_multi_db_drop_database_targets_statement_name(srv):
    """DROP DATABASE b sent with db=a must drop b, NOT the connection's
    database a (wrong-target data loss)."""
    import json as _json
    import urllib.parse
    import urllib.request

    from influxdb_iox_spark.rpc_management import IoxMultiDbHttpServer

    server, _port = srv
    http = IoxMultiDbHttpServer(server)
    port = http.start()
    base = f"http://127.0.0.1:{port}"
    try:
        for name in ("drop_a", "drop_b"):
            server.create_database(
                {"name": name, "partition_template": {"parts": [{"table": {}}]}}
            )
            server.write_lp(name, "cpu,host=x v=1.0 100")

        def post_query(db, q):
            data = urllib.parse.urlencode({"db": db, "q": q}).encode()
            req = urllib.request.Request(f"{base}/query", data=data)
            with urllib.request.urlopen(req, timeout=120) as r:
                return _json.loads(r.read())

        env = post_query("drop_a", "DROP DATABASE drop_b")
        assert env["results"][0] == {"statement_id": 0}
        assert server.databases["drop_b"].database.table_names() == []
        # the connection's database is untouched
        assert server.databases["drop_a"].database.table_names() == ["cpu"]
        # unhosted target is a per-statement error, nothing is dropped
        env = post_query("drop_a", "DROP DATABASE nosuch")
        assert "nosuch" in env["results"][0]["error"]
        assert server.databases["drop_a"].database.table_names() == ["cpu"]
    finally:
        http.stop()


def test_chunked_nonselect_honors_configured_max_rows(spark):
    """run_statements_chunked forwards the server's configured max_rows to
    the non-SELECT sub-call instead of silently using the default."""
    from influxdb_iox_spark.influxql.v1_api import run_statements_chunked
    from influxdb_iox_spark.influxql.planner import Measurement

    cpu = spark.createDataFrame(
        [("a", 1.0, 10**9)], "host string, v double, time long"
    )
    mem = spark.createDataFrame(
        [("b", 2.0, 10**9)], "host string, v double, time long"
    )
    catalog = {
        "cpu": Measurement(df=cpu, tags=("host",), fields=("v",)),
        "mem": Measurement(df=mem, tags=("host",), fields=("v",)),
    }
    docs = list(
        run_statements_chunked(
            "SHOW MEASUREMENTS", catalog, chunk_size=10, max_rows=1
        )
    )
    assert len(docs) == 1
    assert "max_rows=1" in docs[0]["results"][0]["error"]
