"""The gRPC server: every service on one plain HTTP/2 (h2c) port.

The reference's tonic router serves Storage, Management, Write,
Operations and Arrow Flight on one gRPC port (src/influxdb_ioxd/rpc.rs
add_service × 4), each on its true method path
(``/influxdata.iox.management.v1.ManagementService/CreateDatabase`` et
al.), so stock gRPC and Flight clients can dial it.  This module is that
port, without grpcio: h2wire's RFC 7540/7541 implementation underneath,
the gRPC HTTP/2 protocol mapping on top (grpc.io PROTOCOL-HTTP2):

- request: POST ``/<package>.<Service>/<Method>``,
  ``content-type: application/grpc``, body = length-prefixed messages
  (1-byte compressed flag + u32 big-endian length per message)
- response: HEADERS (:status 200) → DATA message frames → trailers
  HEADERS carrying ``grpc-status`` / ``grpc-message`` (server-streaming
  RPCs emit several DATA messages — the storage Read* RPCs and DoGet)
- errors: trailers with the canonical numeric status codes; a handler
  failure answers on that channel and the connection keeps serving

Dispatch routes the path (rpc_management.route_action) to the
ManagementService / WriteService / OperationsService handlers, to
rpc_storage.StorageService, or to the Flight DoGet / Handshake below.

GrpcH2Client is the package's gRPC client (IoxClient speaks through
it); it Huffman-encodes its header literals so the server's HPACK
Huffman decode path is exercised by every call.
"""

from __future__ import annotations

import socket
import struct
import threading
from urllib.parse import unquote

from influxdb_iox_spark import h2wire as h2
from influxdb_iox_spark.protowire import Field, decode_message, encode_message

# -- Arrow Flight on the same port -------------------------------------------
# The reference's tonic router serves Arrow Flight alongside management /
# storage / operations on ONE gRPC socket (src/influxdb_ioxd/rpc.rs
# add_service(FlightServer …)).  Flight is itself plain gRPC, so the h2
# endpoint hosts /arrow.flight.protocol.FlightService/{Handshake,DoGet}
# with the JSON ReadInfo ticket of rpc_flight.py — one endpoint serves
# queries AND management, like the reference.
# Message schemas from the public arrow/flight/Flight.proto.

FLIGHT_SERVICE = "arrow.flight.protocol.FlightService"
FLIGHT_TICKET = {1: Field("ticket", "bytes")}
FLIGHT_DATA = {
    2: Field("data_header", "bytes"),
    3: Field("app_metadata", "bytes"),
    1000: Field("data_body", "bytes"),
}
FLIGHT_HANDSHAKE = {
    1: Field("protocol_version", "uint64"),
    2: Field("payload", "bytes"),
}


def flight_data_messages(table) -> list[bytes]:
    """Arrow table → encoded FlightData protobufs: the IPC stream's
    messages (schema, then record batches), each split into its
    flatbuffer header (``data_header``) and body (``data_body``) exactly
    as Flight.proto frames them."""
    import pyarrow as pa

    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, table.schema) as w:
        for batch in table.to_batches():
            w.write_batch(batch)
    reader = pa.ipc.MessageReader.open_stream(pa.BufferReader(sink.getvalue()))
    out = []
    while True:
        try:
            m = reader.read_next_message()
        except StopIteration:
            break
        body = m.body.to_pybytes() if m.body is not None else b""
        out.append(
            encode_message(
                {"data_header": m.metadata.to_pybytes(), "data_body": body},
                FLIGHT_DATA,
            )
        )
    return out


def flight_data_to_table(fd_payloads: list[bytes]):
    """Decoded DoGet response stream → Arrow table (client side): rebuild
    the encapsulated IPC stream (continuation marker + metadata length +
    padded metadata + body per message, RFC'd in the Arrow IPC format
    docs) and hand it to the stock reader."""
    import pyarrow as pa

    buf = bytearray()
    for payload in fd_payloads:
        d = decode_message(payload, FLIGHT_DATA)
        header = bytes(d.get("data_header") or b"")
        body = bytes(d.get("data_body") or b"")
        pad = (-len(header)) % 8
        buf += struct.pack("<I", 0xFFFFFFFF)
        buf += struct.pack("<I", len(header) + pad)
        buf += header + b"\x00" * pad + body
    buf += struct.pack("<I", 0xFFFFFFFF) + struct.pack("<I", 0)  # EOS
    return pa.ipc.open_stream(pa.BufferReader(bytes(buf))).read_all()

#: gRPC numeric status codes (grpc.io statuscodes.md)
GRPC_STATUS = {
    "OK": 0,
    "InvalidArgument": 3,
    "DeadlineExceeded": 4,
    "NotFound": 5,
    "AlreadyExists": 6,
    "PermissionDenied": 7,
    "ResourceExhausted": 8,
    "FailedPrecondition": 9,
    "Aborted": 10,
    "Unimplemented": 12,
    "Internal": 13,
    "Unavailable": 14,
}


def frame_grpc_messages(messages) -> bytes:
    return b"".join(
        b"\x00" + struct.pack(">I", len(m)) + m for m in messages
    )


def parse_grpc_messages(body: bytes) -> list[bytes]:
    out = []
    pos = 0
    while pos < len(body):
        if body[pos] != 0:
            raise ValueError("compressed gRPC messages are not supported")
        (n,) = struct.unpack_from(">I", body, pos + 1)
        if pos + 5 + n > len(body):
            raise struct.error(
                f"message declares {n} bytes, {len(body) - pos - 5} present"
            )
        out.append(body[pos + 5 : pos + 5 + n])
        pos += 5 + n
    return out


def _grpc_status(e: Exception) -> tuple[int, str]:
    """A handler's exception → (gRPC status code, message) for the
    trailers: a client-side fault (bad request, bad SQL) is
    InvalidArgument, anything else Internal, both with the message."""
    from pyspark.errors import AnalysisException

    from influxdb_iox_spark.rpc_management import GrpcStatusError
    from influxdb_iox_spark.rpc_storage import StorageRpcError

    if isinstance(e, GrpcStatusError):
        return GRPC_STATUS.get(e.code, 2), str(e)
    if isinstance(e, struct.error):
        # truncated gRPC body: the length prefix or payload is cut off
        return GRPC_STATUS["InvalidArgument"], f"malformed gRPC message: {e}"
    if isinstance(e, (StorageRpcError, AnalysisException)):
        return GRPC_STATUS["InvalidArgument"], str(e)
    return GRPC_STATUS["Internal"], str(e) or type(e).__name__


class GrpcH2Server:
    """Threaded h2c gRPC server over an IoxServer's live services."""

    def __init__(self, iox_server, host: str = "127.0.0.1", port: int = 0):
        from influxdb_iox_spark.rpc_management import (
            ManagementService,
            OperationsService,
            PBWriteService,
            TestingService,
            WriteService,
        )
        from influxdb_iox_spark.rpc_storage import StorageService

        self.iox = iox_server
        self.services = {
            "management": ManagementService(iox_server),
            "write": WriteService(iox_server),
            "pb_write": PBWriteService(iox_server),
            "testing": TestingService(),
            "operations": OperationsService(iox_server),
        }
        self.storage = StorageService(iox_server)
        self._sock = socket.create_server((host, port))
        self.port = self._sock.getsockname()[1]
        self._closing = False
        self._thread = threading.Thread(target=self._accept_loop, daemon=True)
        self._thread.start()

    def shutdown(self) -> None:
        self._closing = True
        try:
            self._sock.close()
        except OSError:
            pass

    # -- connection handling ------------------------------------------------
    def _accept_loop(self) -> None:
        while not self._closing:
            try:
                conn, _ = self._sock.accept()
            except OSError:
                return
            threading.Thread(
                target=self._serve_connection, args=(conn,), daemon=True
            ).start()

    def _serve_connection(self, conn: socket.socket) -> None:
        try:
            preface = h2.read_exact(conn, len(h2.CONNECTION_PREFACE))
            if preface != h2.CONNECTION_PREFACE:
                conn.close()
                return
            _H2Connection(self, conn).run()
        except (ConnectionError, OSError, ValueError):
            pass
        finally:
            try:
                conn.close()
            except OSError:
                pass

    # -- gRPC dispatch ------------------------------------------------------
    def _dispatch(self, cx: "_H2Connection", sid: int, st: dict) -> None:
        headers = dict(st.get("headers") or [])
        try:
            messages = parse_grpc_messages(st["data"])
            responses = self._call(
                unquote(headers.get(":path", "")),
                messages[0] if messages else b"",
            )
        except Exception as e:
            code, message = _grpc_status(e)
            block = cx.encoder.encode(
                [
                    (":status", "200"),
                    ("content-type", "application/grpc"),
                    ("grpc-status", str(code)),
                    ("grpc-message", message.replace("\n", " ")),
                ]
            )
            cx.send(
                h2.HEADERS, h2.FLAG_END_HEADERS | h2.FLAG_END_STREAM, sid, block
            )
            return

        head = cx.encoder.encode(
            [(":status", "200"), ("content-type", "application/grpc")]
        )
        cx.send(h2.HEADERS, h2.FLAG_END_HEADERS, sid, head)
        cx.send_data(sid, frame_grpc_messages(responses))
        trailers = cx.encoder.encode([("grpc-status", "0")])
        cx.send(h2.HEADERS, h2.FLAG_END_HEADERS | h2.FLAG_END_STREAM, sid, trailers)

    def _call(self, path: str, request: bytes) -> list[bytes]:
        """One RPC: method path + request message → response messages."""
        from influxdb_iox_spark.rpc_management import (
            _SHORT_SERVICE,
            DATA_PLANE_SERVICES,
            GrpcStatusError,
            route_action,
        )

        if path.lstrip("/").startswith(FLIGHT_SERVICE + "/"):
            return self._flight_call(path.rsplit("/", 1)[1], request)
        service, method = route_action(path)
        if service in DATA_PLANE_SERVICES and not self.iox.serving:
            raise GrpcStatusError("Unavailable", "server is not serving data plane")
        if service == "storage":
            return list(self.storage.call(method, request))
        methods = _SHORT_SERVICE[service]
        if method not in methods:
            raise GrpcStatusError(
                "Unimplemented", f"unknown method {method!r} of {service}"
            )
        req_schema, resp_schema = methods[method]
        resp = getattr(self.services[service], method)(
            decode_message(request, req_schema)
        )
        return [encode_message(resp, resp_schema)]

    def _flight_call(self, method: str, request: bytes) -> list[bytes]:
        """FlightService over this port: DoGet takes rpc_flight's JSON
        ReadInfo ticket (flight.rs:113-118) and runs it against the
        server's LIVE database dict; Handshake echoes (no auth, like the
        reference's default).  The response stream is one FlightData per
        IPC message (schema, then batches)."""
        from influxdb_iox_spark.rpc_flight import read_info
        from influxdb_iox_spark.rpc_management import GrpcStatusError

        if method == "Handshake":
            req = decode_message(request, FLIGHT_HANDSHAKE)
            return [
                encode_message(
                    {
                        "protocol_version": req.get("protocol_version") or 0,
                        "payload": req.get("payload") or b"",
                    },
                    FLIGHT_HANDSHAKE,
                )
            ]
        if method != "DoGet":
            raise GrpcStatusError(
                "Unimplemented",
                f"FlightService method {method!r} is not implemented here",
            )
        if not self.iox.serving:
            raise GrpcStatusError("Unavailable", "server is not serving data plane")
        ticket = bytes(decode_message(request, FLIGHT_TICKET).get("ticket") or b"")
        try:
            name, sql = read_info(ticket)
        except ValueError as e:
            raise GrpcStatusError("InvalidArgument", str(e)) from e
        md = self.iox.databases.get(name)
        if md is None:
            raise GrpcStatusError("NotFound", f"database {name!r} not found")
        table = md.database.query(sql).toArrow()
        return flight_data_messages(table)


#: SETTINGS identifiers (RFC 7540 §6.5.2)
_SETTINGS_INITIAL_WINDOW_SIZE = 0x4
_SETTINGS_MAX_FRAME_SIZE = 0x5


class _H2Connection:
    """One accepted connection: frame loop, HPACK state, and SEND-side
    flow control — DATA honors the client's connection/stream windows
    and SETTINGS_MAX_FRAME_SIZE, blocking (by pumping frames, so
    WINDOW_UPDATE / PING keep flowing) when a window is exhausted."""

    def __init__(self, server: GrpcH2Server, sock: socket.socket):
        self.server = server
        self.sock = sock
        self.lock = threading.Lock()
        self.decoder = h2.HpackDecoder()
        self.encoder = h2.HpackEncoder()
        self.streams: dict[int, dict] = {}
        self.max_frame = 16384
        self.init_window = h2.DEFAULT_WINDOW
        self.send_windows: dict[int, int] = {0: h2.DEFAULT_WINDOW}
        self.closed = False

    def send(self, ftype: int, flags: int, sid: int, payload: bytes = b"") -> None:
        with self.lock:
            self.sock.sendall(h2.encode_frame(ftype, flags, sid, payload))

    def send_data(self, sid: int, body: bytes) -> None:
        pos = 0
        while pos < len(body):
            avail = min(
                self.send_windows.get(0, 0),
                self.send_windows.get(sid, self.init_window),
                self.max_frame,
            )
            if avail <= 0:
                # exhausted a window: pump frames until the client grants
                # more (its WINDOW_UPDATEs arrive on this same loop)
                self._handle_frame(*h2.read_frame(self.sock))
                if self.closed:
                    raise ConnectionError("peer went away mid-response")
                continue
            chunk = body[pos : pos + avail]
            self.send(h2.DATA, 0, sid, chunk)
            self.send_windows[0] = self.send_windows.get(0, 0) - len(chunk)
            self.send_windows[sid] = (
                self.send_windows.get(sid, self.init_window) - len(chunk)
            )
            pos += len(chunk)

    def run(self) -> None:
        self.send(h2.SETTINGS, 0, 0)
        # a generous connection window so client uploads never stall
        self.send(h2.WINDOW_UPDATE, 0, 0, struct.pack(">I", 1 << 24))
        while not self.closed:
            self._handle_frame(*h2.read_frame(self.sock))

    def _apply_settings(self, payload: bytes) -> None:
        for off in range(0, len(payload) - 5, 6):
            ident, value = struct.unpack_from(">HI", payload, off)
            if ident == _SETTINGS_MAX_FRAME_SIZE:
                self.max_frame = max(16384, min(value, 1 << 24))
            elif ident == _SETTINGS_INITIAL_WINDOW_SIZE:
                # RFC 7540 §6.9.2: adjust every open stream's window by
                # the delta; the connection window is NOT affected
                delta = value - self.init_window
                self.init_window = value
                for sid in list(self.send_windows):
                    if sid != 0:
                        self.send_windows[sid] += delta

    def _handle_frame(self, ftype: int, flags: int, sid: int, payload: bytes) -> None:
        if ftype == h2.SETTINGS:
            if not flags & h2.FLAG_ACK:
                self._apply_settings(payload)
                self.send(h2.SETTINGS, h2.FLAG_ACK, 0)
        elif ftype == h2.PING:
            if not flags & h2.FLAG_ACK:
                self.send(h2.PING, h2.FLAG_ACK, 0, payload)
        elif ftype == h2.GOAWAY:
            self.closed = True
        elif ftype == h2.WINDOW_UPDATE:
            (increment,) = struct.unpack_from(">I", payload, 0)
            self.send_windows[sid] = (
                self.send_windows.get(sid, self.init_window if sid else 0)
                + (increment & 0x7FFFFFFF)
            )
        elif ftype == h2.RST_STREAM:
            self.streams.pop(sid, None)
        elif ftype == h2.PRIORITY:
            pass
        elif ftype in (h2.HEADERS, h2.CONTINUATION):
            st = self.streams.setdefault(
                sid, {"hblock": b"", "data": b"", "hdone": False}
            )
            self.send_windows.setdefault(sid, self.init_window)
            block = (
                h2.strip_padding_priority(flags, payload, h2.HEADERS)
                if ftype == h2.HEADERS
                else payload
            )
            st["hblock"] += block
            if flags & h2.FLAG_END_HEADERS:
                # HPACK state is CONNECTION-wide: decode blocks in order
                st["headers"] = self.decoder.decode(st["hblock"])
                st["hdone"] = True
            if flags & h2.FLAG_END_STREAM:
                st["closed"] = True
            if st.get("closed") and st["hdone"]:
                self.server._dispatch(self, sid, st)
                self.streams.pop(sid, None)
        elif ftype == h2.DATA:
            st = self.streams.get(sid)
            if st is None:
                return
            st["data"] += h2.strip_padding_priority(flags, payload, h2.DATA)
            if payload:  # replenish the client's upload windows
                self.send(h2.WINDOW_UPDATE, 0, 0, struct.pack(">I", len(payload)))
                self.send(h2.WINDOW_UPDATE, 0, sid, struct.pack(">I", len(payload)))
            if flags & h2.FLAG_END_STREAM:
                st["closed"] = True
                if st["hdone"]:
                    self.server._dispatch(self, sid, st)
                    self.streams.pop(sid, None)


class GrpcH2Client:
    """Minimal gRPC h2c client.  One connection, calls
    serialized; header literals are HUFFMAN-coded so every call
    exercises the server's HPACK Huffman decoder."""

    def __init__(self, port: int, host: str = "127.0.0.1"):
        self._sock = socket.create_connection((host, port))
        self._sock.sendall(h2.CONNECTION_PREFACE)
        self._sock.sendall(h2.encode_frame(h2.SETTINGS, 0, 0, b""))
        self._decoder = h2.HpackDecoder()
        self._encoder = h2.HpackEncoder(huffman=True)
        self._next_stream = 1
        self._authority = f"{host}:{port}"
        self._lock = threading.Lock()

    def close(self) -> None:
        try:
            self._sock.sendall(
                h2.encode_frame(h2.GOAWAY, 0, 0, struct.pack(">II", 0, 0))
            )
            self._sock.close()
        except OSError:
            pass

    def call_raw(self, path: str, request: bytes) -> tuple[list[bytes], dict]:
        """(response messages, trailers incl. grpc-status)."""
        with self._lock:
            sid = self._next_stream
            self._next_stream += 2
            block = self._encoder.encode(
                [
                    (":method", "POST"),
                    (":scheme", "http"),
                    (":path", path),
                    (":authority", self._authority),
                    ("content-type", "application/grpc"),
                    ("te", "trailers"),
                ]
            )
            self._sock.sendall(
                h2.encode_frame(h2.HEADERS, h2.FLAG_END_HEADERS, sid, block)
            )
            # DATA frames within the default SETTINGS_MAX_FRAME_SIZE
            data = frame_grpc_messages([request])
            for pos in range(0, len(data), 16384):
                last = pos + 16384 >= len(data)
                self._sock.sendall(
                    h2.encode_frame(
                        h2.DATA,
                        h2.FLAG_END_STREAM if last else 0,
                        sid,
                        data[pos : pos + 16384],
                    )
                )
            body = b""
            trailers: dict = {}
            saw_headers = False
            while True:
                ftype, flags, fsid, payload = h2.read_frame(self._sock)
                if ftype == h2.SETTINGS:
                    if not flags & h2.FLAG_ACK:
                        self._sock.sendall(
                            h2.encode_frame(h2.SETTINGS, h2.FLAG_ACK, 0, b"")
                        )
                    continue
                if ftype == h2.PING and not flags & h2.FLAG_ACK:
                    self._sock.sendall(
                        h2.encode_frame(h2.PING, h2.FLAG_ACK, 0, payload)
                    )
                    continue
                if fsid != sid:
                    continue
                if ftype == h2.HEADERS:
                    hdrs = dict(
                        self._decoder.decode(
                            h2.strip_padding_priority(flags, payload, h2.HEADERS)
                        )
                    )
                    if saw_headers or flags & h2.FLAG_END_STREAM:
                        trailers.update(hdrs)
                    else:
                        trailers.update(
                            {k: v for k, v in hdrs.items() if k.startswith("grpc-")}
                        )
                    saw_headers = True
                    if flags & h2.FLAG_END_STREAM:
                        break
                elif ftype == h2.DATA:
                    body += h2.strip_padding_priority(flags, payload, h2.DATA)
                    if payload:  # grant the server more send window
                        for wsid in (0, sid):
                            self._sock.sendall(
                                h2.encode_frame(
                                    h2.WINDOW_UPDATE,
                                    0,
                                    wsid,
                                    struct.pack(">I", len(payload)),
                                )
                            )
                    if flags & h2.FLAG_END_STREAM:
                        break
            return parse_grpc_messages(body), trailers

    def call_ok(self, path: str, request: bytes) -> list[bytes]:
        """Response messages; raises RuntimeError on a non-zero
        grpc-status, with the server's message."""
        msgs, trailers = self.call_raw(path, request)
        status = int(trailers.get("grpc-status", "2"))
        if status != 0:
            raise RuntimeError(
                f"grpc-status {status}: {trailers.get('grpc-message', '')}"
            )
        return msgs

    def call(self, path: str, request: dict, req_schema, resp_schema) -> dict:
        """Unary convenience: encode/decode via protowire schemas."""
        msgs = self.call_ok(path, encode_message(request, req_schema))
        return decode_message(msgs[0], resp_schema) if msgs else {}
