"""The Arrow Flight ``ReadInfo`` ticket: SQL in a ticket, record batches out.

Reference: /root/reference/src/influxdb_ioxd/rpc/flight.rs — the Ticket body
is JSON ``{"database_name": ..., "sql_query": ...}`` (:113-118 ReadInfo);
``do_get`` (:158-211) plans the SQL, executes, and streams the result as a
schema message followed by record batches.

``rpc_h2.GrpcH2Server`` serves ``FlightService/DoGet`` with this ticket on
the one gRPC port, next to the management, write, operations and storage
services.  Like the reference (its TODO at :157), results are collected
then streamed — the transport is the client-facing data plane, not an
intra-query exchange.
"""

from __future__ import annotations

import json


def flight_ticket(database_name: str, sql_query: str) -> bytes:
    """Serialize the reference's ReadInfo ticket body (flight.rs:113-118)."""
    return json.dumps(
        {"database_name": database_name, "sql_query": sql_query}
    ).encode("utf-8")


def read_info(ticket: bytes) -> tuple[str, str]:
    """Ticket body → (database_name, sql_query); raises ValueError naming
    what is wrong with a malformed ticket."""
    try:
        info = json.loads(ticket.decode("utf-8"))
    except (UnicodeDecodeError, json.JSONDecodeError) as e:
        raise ValueError(f"invalid ticket: {e}") from e
    if (
        not isinstance(info, dict)
        or not info.get("database_name")
        or info.get("sql_query") is None
    ):
        raise ValueError("ticket must carry database_name and sql_query")
    return info["database_name"], info["sql_query"]
