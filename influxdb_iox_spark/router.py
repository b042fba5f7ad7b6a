"""Cross-server query routing — the grpc-router twin.

The reference ships a routing layer that dispatches a gRPC call either
to an in-process service (zero-cost: a direct method call, no
serialization) or to a connected client for the same service on a
remote server, with clients cached per connection string
(grpc-router/src/router.rs — ``Router::route_for`` returning
``RoutingDestination::{Local, Remote}``;
grpc-router/src/connection_manager.rs — ``CachingConnectionManager``
with optional TTL expiry and single-flight loading so a thundering herd
of requests for one destination opens exactly one connection).

This module is the Python twin over our control plane:

- ``CachingConnectionManager`` caches ``IoxClient`` instances per
  connection string; concurrent first requests for one destination
  block on a per-key lock while a single connection is built
  (cache_loader_async's blocking-load guarantee), and an optional TTL
  rebuilds stale clients.
- ``QueryRouter.route_for(db_name)`` returns ``Local(managed_db)`` when
  this server hosts the database (the zero-cost arm: queries run as
  direct in-process DataFrame plans), else probes the management
  remotes table (id order — the same registry ``server remote set``
  maintains) and returns ``Remote(client)`` for the first server that
  hosts it.  Routing failures raise the reference's error shape
  ("Cannot route request: ...").
- ``QueryRouter.query`` executes the routed call: locally via the SQL
  frontend, remotely via ``IoxClient.query_flight``: an Arrow Flight
  DoGet on the peer's h2c gRPC port (the data-plane path — record
  batches, not JSON rows).

Scale note: the router is control-plane only — a routed query's result
flows back as Arrow batches and is NOT re-planned through Spark here.
Federated scatter-gather (one logical query over many servers' chunks)
is deliberately out of scope, matching the reference at this vintage
(its grpc-router is plumbing; nothing wires multi-server planning).
"""

from __future__ import annotations

import threading
import time
from dataclasses import dataclass, field
from typing import Callable


class RoutingError(Exception):
    """Raised when no destination resolves (router.rs Error::RoutingError)."""


@dataclass
class Local:
    """Route to the in-process service — zero-cost dispatch."""

    service: object


@dataclass
class Remote:
    """Route via a connected client to a remote server."""

    client: object


def _default_make_client(connect: str):
    """connection string -> connected IoxClient.  Accepts ``host:port``
    with an optional scheme prefix (the remotes table stores whatever
    ``server remote set`` was given)."""
    from influxdb_iox_spark.client import IoxClient

    hostport = connect.split("://", 1)[-1].rstrip("/")
    host, _, port = hostport.rpartition(":")
    if not host or not port.isdigit():
        raise RoutingError(
            f"Cannot route request: unparseable connection string "
            f"{connect!r} (expected host:port)"
        )
    return IoxClient(grpc_port=int(port), host=host)


@dataclass
class _Entry:
    client: object
    created: float


class CachingConnectionManager:
    """Connected-client cache keyed by connection string
    (connection_manager.rs CachingConnectionManager).

    - **Single-flight**: concurrent first requests for one destination
      serialize on a per-key lock; exactly one client is constructed.
    - **TTL** (optional): a client older than ``ttl_seconds`` is closed
      and rebuilt on next access.
    """

    def __init__(
        self,
        make_client: Callable[[str], object] = _default_make_client,
        ttl_seconds: float | None = None,
    ):
        self._make = make_client
        self._ttl = ttl_seconds
        self._cache: dict[str, _Entry] = {}
        self._locks: dict[str, threading.Lock] = {}
        self._master = threading.Lock()

    def _key_lock(self, connect: str) -> threading.Lock:
        with self._master:
            lock = self._locks.get(connect)
            if lock is None:
                lock = self._locks[connect] = threading.Lock()
            return lock

    def remote_server(self, connect: str):
        with self._key_lock(connect):
            entry = self._cache.get(connect)
            if entry is not None and (
                self._ttl is None or time.monotonic() - entry.created < self._ttl
            ):
                return entry.client
            if entry is not None:
                self._close_quietly(entry.client)
            client = self._make(connect)
            self._cache[connect] = _Entry(client, time.monotonic())
            return client

    def invalidate(self, connect: str) -> None:
        """Drop a cached client (e.g. after a transport error) so the
        next access reconnects."""
        with self._key_lock(connect):
            entry = self._cache.pop(connect, None)
        if entry is not None:
            self._close_quietly(entry.client)

    def close(self) -> None:
        with self._master:
            entries = list(self._cache.values())
            self._cache.clear()
        for e in entries:
            self._close_quietly(e.client)

    @staticmethod
    def _close_quietly(client) -> None:
        close = getattr(client, "close", None)
        if close is not None:
            try:
                close()
            except Exception:
                pass


@dataclass
class QueryRouter:
    """Route database queries across this server and its remotes.

    ``route_for`` is the Router-trait twin; ``query`` is the routed
    call.  The db->connection resolution is memoized (a remote probe is
    one management RPC per miss); a memo entry is dropped when its
    remote stops serving the database, so moves re-resolve."""

    server: object  # IoxServer (duck-typed: .databases, .remotes, .db())
    manager: CachingConnectionManager = field(
        default_factory=CachingConnectionManager
    )
    _resolved: dict[str, str] = field(default_factory=dict)

    def route_for(self, db_name: str):
        if db_name in self.server.databases:
            return Local(self.server.db(db_name))
        conn = self._resolved.get(db_name)
        if conn is not None:
            try:
                client = self.manager.remote_server(conn)
                if db_name in client.list_databases():
                    return Remote(client)
            except Exception:
                self.manager.invalidate(conn)
            del self._resolved[db_name]  # moved or unreachable: re-probe
        for _, conn in sorted(self.server.remotes.items()):
            try:
                client = self.manager.remote_server(conn)
                if db_name in client.list_databases():
                    self._resolved[db_name] = conn
                    return Remote(client)
            except Exception:
                self.manager.invalidate(conn)
                continue
        raise RoutingError(
            f"Cannot route request: database {db_name!r} is neither local "
            f"nor on any of {len(self.server.remotes)} configured remotes"
        )

    def query(self, db_name: str, sql: str) -> list[dict]:
        """Execute ``sql`` against ``db_name`` wherever it lives; rows as
        dicts either way (local: the in-process DataFrame plan; remote:
        Arrow Flight record batches off the peer's gRPC port)."""
        dest = self.route_for(db_name)
        if isinstance(dest, Local):
            df = dest.service.database.query(sql)
            return [r.asDict(recursive=True) for r in df.collect()]
        return dest.client.query_flight(db_name, sql).to_pylist()
