"""h2c gRPC endpoint: HPACK/HTTP/2 conformance + real service paths.

Layer 1 pins h2wire against RFC 7541's OWN worked examples (Appendix
C.1 integers, C.3 plain-literal request sequence with dynamic-table
evolution, C.4 Huffman-coded requests) — conformance against the spec's
golden vectors, not our own reflection.  Layer 2 drives the gRPC
protocol mapping end-to-end over a real socket with the true tonic
method paths the reference's clients dial
(``/influxdata.iox.management.v1.ManagementService/...``,
``/influxdata.platform.storage.Storage/...``); the test client
Huffman-codes its headers so every call crosses the server's Huffman
decoder.
"""

from __future__ import annotations

import pytest

from influxdb_iox_spark import h2wire as h2
from influxdb_iox_spark.h2wire import (
    HpackDecoder,
    HpackEncoder,
    _decode_int,
    _encode_int,
    huffman_decode,
    huffman_encode,
)

# -- RFC 7541 Appendix C golden vectors --------------------------------------


def test_prefix_integers_rfc_c1():
    # C.1.1: 10 in a 5-bit prefix
    assert _encode_int(10, 5) == bytes([0x0A])
    assert _decode_int(bytes([0x0A]), 0, 5) == (10, 1)
    # C.1.2: 1337 in a 5-bit prefix -> 1f 9a 0a
    assert _encode_int(1337, 5) == bytes([0x1F, 0x9A, 0x0A])
    assert _decode_int(bytes([0x1F, 0x9A, 0x0A]), 0, 5) == (1337, 3)
    # C.1.3: 42 on an 8-bit boundary
    assert _encode_int(42, 8) == bytes([0x2A])


def test_huffman_rfc_c4_strings():
    # C.4.1: "www.example.com" Huffman-codes to f1e3 c2e5 f23a 6ba0 ab90 f4ff
    enc = huffman_encode(b"www.example.com")
    assert enc == bytes.fromhex("f1e3c2e5f23a6ba0ab90f4ff")
    assert huffman_decode(enc) == b"www.example.com"
    # C.4.2: "no-cache" -> a8eb 1064 9cbf
    assert huffman_encode(b"no-cache") == bytes.fromhex("a8eb10649cbf")
    # C.6.1: "private" -> ae c3 77 1a 4b
    assert huffman_encode(b"private") == bytes.fromhex("aec3771a4b")


def test_hpack_decoder_rfc_c3_request_sequence():
    """C.3: three requests on one connection, plain literals, dynamic
    table evolving across requests."""
    d = HpackDecoder()
    first = bytes.fromhex("828684410f7777772e6578616d706c652e636f6d")
    assert d.decode(first) == [
        (":method", "GET"),
        (":scheme", "http"),
        (":path", "/"),
        (":authority", "www.example.com"),
    ]
    assert d.dynamic == [(":authority", "www.example.com")]
    assert d.size == 57
    second = bytes.fromhex("828684be58086e6f2d6361636865")
    assert d.decode(second) == [
        (":method", "GET"),
        (":scheme", "http"),
        (":path", "/"),
        (":authority", "www.example.com"),
        ("cache-control", "no-cache"),
    ]
    assert d.size == 110
    third = bytes.fromhex(
        "828785bf400a637573746f6d2d6b65790c637573746f6d2d76616c7565"
    )
    assert d.decode(third) == [
        (":method", "GET"),
        (":scheme", "https"),
        (":path", "/index.html"),
        (":authority", "www.example.com"),
        ("custom-key", "custom-value"),
    ]
    assert d.dynamic[0] == ("custom-key", "custom-value")


def test_hpack_decoder_rfc_c4_huffman_request_sequence():
    """C.4: the same requests with Huffman-coded literals."""
    d = HpackDecoder()
    first = bytes.fromhex("828684418cf1e3c2e5f23a6ba0ab90f4ff")
    assert d.decode(first)[-1] == (":authority", "www.example.com")
    second = bytes.fromhex("828684be5886a8eb10649cbf")
    assert d.decode(second)[-1] == ("cache-control", "no-cache")


def test_hpack_encoder_blocks_decode_back():
    headers = [
        (":method", "POST"),
        (":scheme", "http"),
        (":path", "/influxdata.iox.management.v1.ManagementService/ListDatabases"),
        ("content-type", "application/grpc"),
        ("te", "trailers"),
    ]
    for huff in (False, True):
        assert HpackDecoder().decode(HpackEncoder(huff).encode(headers)) == headers


def test_frame_roundtrip():
    raw = h2.encode_frame(h2.HEADERS, h2.FLAG_END_HEADERS, 7, b"abc")

    class FakeSock:
        def __init__(self, data):
            self.data = data

        def recv(self, n):
            out, self.data = self.data[:n], self.data[n:]
            return out

    assert h2.read_frame(FakeSock(raw)) == (h2.HEADERS, h2.FLAG_END_HEADERS, 7, b"abc")


def test_padding_and_priority_stripping():
    payload = bytes([2]) + b"\x00" * 5 + b"BLOCK" + b"\x00\x00"
    got = h2.strip_padding_priority(
        h2.FLAG_PADDED | h2.FLAG_PRIORITY, payload, h2.HEADERS
    )
    assert got == b"BLOCK"


# -- end-to-end over a real socket -------------------------------------------


@pytest.fixture(scope="module")
def h2_server(spark, tmp_path_factory):
    from influxdb_iox_spark.rpc_h2 import GrpcH2Client, GrpcH2Server
    from influxdb_iox_spark.rpc_management import IoxServer

    iox = IoxServer(spark, str(tmp_path_factory.mktemp("h2srv")))
    srv = GrpcH2Server(iox)
    client = GrpcH2Client(srv.port)
    yield iox, srv, client
    client.close()
    srv.shutdown()


MGMT = "influxdata.iox.management.v1.ManagementService"
WRITE = "influxdata.iox.write.v1.WriteService"
STORAGE = "influxdata.platform.storage.Storage"


def test_management_over_true_grpc_paths(h2_server):
    from influxdb_iox_spark import management_proto as mp

    iox, srv, c = h2_server
    c.call(
        f"/{MGMT}/CreateDatabase",
        {"rules": {"name": "h2db", "partition_template": {"parts": [{"table": {}}]}}},
        mp.CREATE_DATABASE_REQUEST,
        mp.CREATE_DATABASE_RESPONSE,
    )
    out = c.call(
        f"/{MGMT}/ListDatabases", {}, mp.LIST_DATABASES_REQUEST,
        mp.LIST_DATABASES_RESPONSE,
    )
    assert "h2db" in (out.get("names") or [])
    n = c.call(
        f"/{WRITE}/Write",
        {"db_name": "h2db", "lp_data": "cpu,region=west user=1.5 100"},
        mp.WRITE_REQUEST,
        mp.WRITE_RESPONSE,
    )
    assert n.get("lines_written") == 1
    assert iox.databases["h2db"].database.table("cpu").count() == 1


def test_error_maps_to_canonical_grpc_status(h2_server):
    from influxdb_iox_spark import management_proto as mp
    from influxdb_iox_spark.rpc_h2 import GRPC_STATUS
    from influxdb_iox_spark.protowire import encode_message

    _, _, c = h2_server
    msgs, trailers = c.call_raw(
        f"/{MGMT}/GetDatabase",
        encode_message({"name": "nope"}, mp.GET_DATABASE_REQUEST),
    )
    assert msgs == []
    assert int(trailers["grpc-status"]) == GRPC_STATUS["NotFound"]
    assert "nope" in trailers["grpc-message"]
    # unknown service path -> Unimplemented
    _, t2 = c.call_raw("/some.Unknown/Method", b"")
    assert int(t2["grpc-status"]) == GRPC_STATUS["Unimplemented"]


def test_storage_streaming_over_true_path(h2_server):
    """Server-streaming storage RPCs on the real tonic path
    (service.rs:218-771): TagKeys and ReadFilter respond with protobuf
    message streams; Capabilities matches the reference map."""
    from influxdb_iox_spark import management_proto as mp
    from influxdb_iox_spark import storage_proto as sp
    from influxdb_iox_spark.protowire import decode_message, encode_message

    iox, _, c = h2_server
    org, bucket = 0x1111, 0x2222
    db = f"{org:016x}_{bucket:016x}"
    c.call(
        f"/{MGMT}/CreateDatabase",
        {"rules": {"name": db, "partition_template": {"parts": [{"table": {}}]}}},
        mp.CREATE_DATABASE_REQUEST,
        mp.CREATE_DATABASE_RESPONSE,
    )
    c.call(
        f"/{WRITE}/Write",
        {"db_name": db, "lp_data": "cpu,region=west,host=a user=1.5 100"},
        mp.WRITE_REQUEST,
        mp.WRITE_RESPONSE,
    )
    src = sp.make_read_source(org, bucket, partition_id=0xFFFFFFFF)
    req = encode_message(
        {"tags_source": src, "range": {"start": 0, "end": 10**15}},
        sp.TAG_KEYS_REQUEST,
    )
    msgs, trailers = c.call_raw(f"/{STORAGE}/TagKeys", req)
    assert int(trailers["grpc-status"]) == 0
    values = [
        v
        for m in msgs
        for v in decode_message(m, sp.STRING_VALUES_RESPONSE).get("values", [])
    ]
    assert b"host" in values and b"region" in values

    caps, t2 = c.call_raw(f"/{STORAGE}/Capabilities", b"")
    assert int(t2["grpc-status"]) == 0 and caps


# -- property-based robustness ----------------------------------------------

from hypothesis import given, settings, strategies as st

_bytes_strat = st.binary(min_size=0, max_size=200)
_header_name = st.text(
    alphabet=st.characters(whitelist_categories=("Ll", "Nd"), whitelist_characters="-"),
    min_size=1,
    max_size=20,
)
_header_value = st.text(min_size=0, max_size=50)


@settings(max_examples=100, deadline=None)
@given(_bytes_strat)
def test_huffman_roundtrip_any_bytes(data):
    assert huffman_decode(huffman_encode(data)) == data


@settings(max_examples=60, deadline=None)
@given(st.lists(st.tuples(_header_name, _header_value), min_size=0, max_size=12))
def test_hpack_roundtrip_any_headers(headers):
    for huff in (False, True):
        assert HpackDecoder().decode(HpackEncoder(huff).encode(headers)) == headers


@settings(max_examples=60, deadline=None)
@given(st.integers(min_value=0, max_value=2**40), st.integers(min_value=1, max_value=8))
def test_prefix_int_roundtrip(value, prefix):
    data = _encode_int(value, prefix)
    assert _decode_int(data, 0, prefix) == (value, len(data))


def test_large_streaming_response_respects_flow_control(h2_server):
    """A response far beyond the client's default 65535-byte window:
    the server must chunk DATA to the granted windows and progress only
    as the client's WINDOW_UPDATEs arrive — proven by simply receiving
    a >64 KB ReadFilter stream intact."""
    from influxdb_iox_spark import management_proto as mp
    from influxdb_iox_spark import storage_proto as sp
    from influxdb_iox_spark.protowire import encode_message

    iox, _, c = h2_server
    org, bucket = 0x3333, 0x4444
    db = f"{org:016x}_{bucket:016x}"
    c.call(
        f"/{MGMT}/CreateDatabase",
        {"rules": {"name": db, "partition_template": {"parts": [{"table": {}}]}}},
        mp.CREATE_DATABASE_REQUEST,
        mp.CREATE_DATABASE_RESPONSE,
    )
    lines = "\n".join(
        f"m,tag=t{i % 50} value={i}.5 {1000 + i}" for i in range(8000)
    )
    c.call(
        f"/{WRITE}/Write",
        {"db_name": db, "lp_data": lines},
        mp.WRITE_REQUEST,
        mp.WRITE_RESPONSE,
    )
    src = sp.make_read_source(org, bucket, partition_id=0xFFFFFFFF)
    req = encode_message(
        {"read_source": src, "range": {"start": 0, "end": 10**15}},
        sp.READ_FILTER_REQUEST,
    )
    msgs, trailers = c.call_raw(f"/{STORAGE}/ReadFilter", req)
    assert int(trailers["grpc-status"]) == 0
    total = sum(len(m) for m in msgs)
    assert total > 65535, f"response only {total} bytes — not a window test"


def test_truncated_grpc_body_answers_on_error_channel(h2_server):
    """Review r6: a DATA body shorter than the 5-byte gRPC length prefix,
    or shorter than the message length the prefix declares (here a
    100-byte message cut after a complete protobuf field), must produce
    InvalidArgument trailers, not an unhandled serve-thread traceback
    and a dead connection, nor a cut-off request decoded and run."""
    import struct

    from influxdb_iox_spark import h2wire as h2
    from influxdb_iox_spark import management_proto as mp
    from influxdb_iox_spark.rpc_h2 import GRPC_STATUS

    _, _, c = h2_server
    for body in (b"\x00\x00\x00", b"\x00" + struct.pack(">I", 100) + b"\x0a\x03abc"):
        with c._lock:
            sid = c._next_stream
            c._next_stream += 2
            block = c._encoder.encode(
                [
                    (":method", "POST"),
                    (":scheme", "http"),
                    (":path", f"/{MGMT}/ListDatabases"),
                    (":authority", c._authority),
                    ("content-type", "application/grpc"),
                    ("te", "trailers"),
                ]
            )
            c._sock.sendall(
                h2.encode_frame(h2.HEADERS, h2.FLAG_END_HEADERS, sid, block)
            )
            c._sock.sendall(h2.encode_frame(h2.DATA, h2.FLAG_END_STREAM, sid, body))
            trailers = {}
            while True:
                ftype, flags, fsid, payload = h2.read_frame(c._sock)
                if ftype == h2.SETTINGS:
                    if not flags & h2.FLAG_ACK:
                        c._sock.sendall(
                            h2.encode_frame(h2.SETTINGS, h2.FLAG_ACK, 0, b"")
                        )
                    continue
                if ftype == h2.HEADERS and fsid == sid:
                    for k, v in c._decoder.decode(payload):
                        trailers[k] = v
                    if flags & h2.FLAG_END_STREAM:
                        break
        assert int(trailers["grpc-status"]) == GRPC_STATUS["InvalidArgument"], body
        assert "malformed gRPC message" in trailers["grpc-message"]
        # the connection is still usable afterwards
        out = c.call(
            f"/{MGMT}/ListDatabases", {},
            mp.LIST_DATABASES_REQUEST, mp.LIST_DATABASES_RESPONSE,
        )
        assert isinstance(out, dict)


def test_failing_query_answers_on_error_channel(h2_server):
    """A handler that fails with a Spark error (here bad SQL over Flight
    DoGet) answers with a non-zero grpc-status carrying Spark's message,
    and the same connection then answers a good query."""
    from influxdb_iox_spark import management_proto as mp
    from influxdb_iox_spark.protowire import encode_message
    from influxdb_iox_spark.rpc_flight import flight_ticket
    from influxdb_iox_spark.rpc_h2 import (
        FLIGHT_SERVICE,
        FLIGHT_TICKET,
        GRPC_STATUS,
        flight_data_to_table,
    )

    _, _, c = h2_server
    c.call(
        f"/{MGMT}/CreateDatabase", {"rules": {"name": "baddb"}},
        mp.CREATE_DATABASE_REQUEST, mp.CREATE_DATABASE_RESPONSE,
    )
    c.call(
        f"/{WRITE}/Write", {"db_name": "baddb", "lp_data": "cpu,region=west user=1.5 100"},
        mp.WRITE_REQUEST, mp.WRITE_RESPONSE,
    )

    def do_get(sql):
        ticket = encode_message({"ticket": flight_ticket("baddb", sql)}, FLIGHT_TICKET)
        return c.call_raw(f"/{FLIGHT_SERVICE}/DoGet", ticket)

    msgs, trailers = do_get("SELECT nope FROM cpu")
    assert msgs == []
    assert int(trailers["grpc-status"]) == GRPC_STATUS["InvalidArgument"]
    assert "UNRESOLVED_COLUMN" in trailers["grpc-message"]
    assert "nope" in trailers["grpc-message"]
    msgs, trailers = do_get("SELECT region FROM cpu")
    assert int(trailers["grpc-status"]) == 0
    assert flight_data_to_table(msgs).column("region").to_pylist() == ["west"]


def test_flight_do_get_on_the_same_port(h2_server):
    """One socket serves management AND Arrow Flight, like the
    reference's tonic router (src/influxdb_ioxd/rpc.rs): DoGet with the
    JSON ReadInfo ticket streams the query result as FlightData
    messages, decodable back into an Arrow table."""
    from influxdb_iox_spark import management_proto as mp
    from influxdb_iox_spark.protowire import encode_message
    from influxdb_iox_spark.rpc_flight import flight_ticket
    from influxdb_iox_spark.rpc_h2 import (
        FLIGHT_SERVICE,
        FLIGHT_TICKET,
        GRPC_STATUS,
        flight_data_to_table,
    )

    iox, srv, c = h2_server
    c.call(
        f"/{MGMT}/CreateDatabase", {"rules": {"name": "fldb"}},
        mp.CREATE_DATABASE_REQUEST, mp.CREATE_DATABASE_RESPONSE,
    )
    c.call(
        f"/{WRITE}/Write",
        {"db_name": "fldb", "lp_data": "cpu,region=west user=1.5 100\n"
                                       "cpu,region=east user=2.5 200"},
        mp.WRITE_REQUEST, mp.WRITE_RESPONSE,
    )
    ticket = encode_message(
        {"ticket": flight_ticket("fldb", "SELECT region, `user`, time FROM cpu ORDER BY time")},
        FLIGHT_TICKET,
    )
    msgs, trailers = c.call_raw(f"/{FLIGHT_SERVICE}/DoGet", ticket)
    assert int(trailers["grpc-status"]) == 0
    table = flight_data_to_table(msgs)
    assert table.column("region").to_pylist() == ["west", "east"]
    assert table.column("user").to_pylist() == [1.5, 2.5]
    assert table.column("time").to_pylist() == [100, 200]

    # error surface: bad ticket / unknown db / unimplemented method
    _, t = c.call_raw(f"/{FLIGHT_SERVICE}/DoGet",
                      encode_message({"ticket": b"not json"}, FLIGHT_TICKET))
    assert int(t["grpc-status"]) == GRPC_STATUS["InvalidArgument"]
    _, t = c.call_raw(
        f"/{FLIGHT_SERVICE}/DoGet",
        encode_message({"ticket": flight_ticket("ghost", "SELECT 1")}, FLIGHT_TICKET),
    )
    assert int(t["grpc-status"]) == GRPC_STATUS["NotFound"]
    _, t = c.call_raw(f"/{FLIGHT_SERVICE}/DoPut", b"")
    assert int(t["grpc-status"]) == GRPC_STATUS["Unimplemented"]


def test_flight_handshake_echoes(h2_server):
    from influxdb_iox_spark.protowire import decode_message, encode_message
    from influxdb_iox_spark.rpc_h2 import FLIGHT_HANDSHAKE, FLIGHT_SERVICE

    _, _, c = h2_server
    msgs, trailers = c.call_raw(
        f"/{FLIGHT_SERVICE}/Handshake",
        encode_message({"protocol_version": 1, "payload": b"hi"}, FLIGHT_HANDSHAKE),
    )
    assert int(trailers["grpc-status"]) == 0
    resp = decode_message(msgs[0], FLIGHT_HANDSHAKE)
    assert resp.get("payload") == b"hi"


def test_flight_do_get_with_stock_pyarrow_client(h2_server):
    """The REAL wire-compat gate: a stock pyarrow FlightClient (the
    grpc-c++ HTTP/2 stack, not our test client) dials the hand-rolled h2
    endpoint and decodes the DoGet stream — one port, stock clients,
    like the reference's tonic router."""
    import pyarrow.flight as fl

    from influxdb_iox_spark import management_proto as mp
    from influxdb_iox_spark.rpc_flight import flight_ticket

    iox, srv, c = h2_server
    c.call(
        f"/{MGMT}/CreateDatabase", {"rules": {"name": "stockdb"}},
        mp.CREATE_DATABASE_REQUEST, mp.CREATE_DATABASE_RESPONSE,
    )
    c.call(
        f"/{WRITE}/Write",
        {"db_name": "stockdb", "lp_data": "m,t=a f=1.0 100\nm,t=b f=2.0 200"},
        mp.WRITE_REQUEST, mp.WRITE_RESPONSE,
    )
    client = fl.FlightClient(f"grpc://127.0.0.1:{srv.port}")
    try:
        reader = client.do_get(
            fl.Ticket(flight_ticket("stockdb", "SELECT t, f FROM m ORDER BY time"))
        )
        table = reader.read_all()
        assert table.column("t").to_pylist() == ["a", "b"]
        assert table.column("f").to_pylist() == [1.0, 2.0]
        # error propagation through the stock client
        # grpc-status 5 (NotFound) maps to ArrowKeyError in pyarrow
        import pyarrow as pa

        with pytest.raises(pa.lib.ArrowKeyError, match="ghost.* not found"):
            client.do_get(fl.Ticket(flight_ticket("ghost", "SELECT 1"))).read_all()
    finally:
        client.close()
