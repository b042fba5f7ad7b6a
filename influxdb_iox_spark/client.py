"""IoxClient — one Python client for the whole server surface.

The twin of the reference's client crates: influxdb_iox_client bundles
management, operations, write, and Flight sub-clients behind one
connection; influxdb2_client speaks the v2 HTTP write/query API.  This
facade wraps our transports the same way:

- the gRPC port (rpc_h2.GrpcH2Server, one h2c connection through
  rpc_h2.GrpcH2Client): ManagementService, WriteService, longrunning
  Operations, and Arrow Flight DoGet
- HTTP endpoint (http_api.IoxHttpServer): v2 write + SQL query + metrics

Every method is a thin typed wrapper over the protobuf/HTTP request the
server contract tests already pin down — no logic lives here beyond
request shaping, so the client can never drift from the wire tests.
"""

from __future__ import annotations

import functools
import json
import urllib.parse
import urllib.request


@functools.cache
def _service_paths() -> dict[str, tuple[str, dict]]:
    """Service short name ('management', 'write', 'pb_write', 'testing',
    'operations') → (tonic service path, method schemas)."""
    from influxdb_iox_spark.rpc_management import SERVICE_PATHS

    return {short: (path, methods) for path, (short, methods) in SERVICE_PATHS.items()}


class IoxClient:
    def __init__(
        self,
        grpc_port: int | None = None,
        http_url: str | None = None,
        host: str = "127.0.0.1",
    ):
        self._grpc = None
        if grpc_port is not None:
            from influxdb_iox_spark.rpc_h2 import GrpcH2Client

            self._grpc = GrpcH2Client(grpc_port, host)
        self._http_url = http_url.rstrip("/") if http_url else None

    def close(self) -> None:
        if self._grpc is not None:
            self._grpc.close()

    def call(self, service: str, method: str, request: dict) -> dict:
        """One unary RPC by service short name; raises RuntimeError
        carrying the grpc-status and message on failure."""
        path, methods = _service_paths()[service]
        req_schema, resp_schema = methods[method]
        return self._grpc.call(f"/{path}/{method}", request, req_schema, resp_schema)

    # -- management --------------------------------------------------------
    def _mgmt(self, method: str, req: dict) -> dict:
        return self.call("management", method, req)

    def create_database(
        self,
        name: str,
        partition_template_parts: list[dict] | None = None,
        lifecycle_rules: dict | None = None,
    ) -> None:
        rules: dict = {"name": name}
        if partition_template_parts is not None:
            rules["partition_template"] = {"parts": partition_template_parts}
        if lifecycle_rules is not None:
            rules["lifecycle_rules"] = lifecycle_rules
        self._mgmt("CreateDatabase", {"rules": rules})

    def list_databases(self) -> list[str]:
        return self._mgmt("ListDatabases", {}).get("names") or []

    def get_database(self, name: str) -> dict:
        return self._mgmt("GetDatabase", {"name": name})["rules"]

    def update_database(self, rules: dict) -> dict:
        return self._mgmt("UpdateDatabase", {"rules": rules})["rules"]

    def list_chunks(self, db_name: str) -> list[dict]:
        return self._mgmt("ListChunks", {"db_name": db_name}).get("chunks") or []

    def list_partitions(self, db_name: str) -> list[str]:
        out = self._mgmt("ListPartitions", {"db_name": db_name})
        return [p["key"] for p in out.get("partitions") or []]

    def get_partition(self, db_name: str, partition_key: str) -> dict | None:
        out = self._mgmt(
            "GetPartition", {"db_name": db_name, "partition_key": partition_key}
        )
        return out.get("partition")

    def list_partition_chunks(self, db_name: str, partition_key: str) -> list[dict]:
        out = self._mgmt(
            "ListPartitionChunks",
            {"db_name": db_name, "partition_key": partition_key},
        )
        return out.get("chunks") or []

    def new_partition_chunk(
        self, db_name: str, table_name: str, partition_key: str
    ) -> None:
        self._mgmt(
            "NewPartitionChunk",
            {
                "db_name": db_name,
                "table_name": table_name,
                "partition_key": partition_key,
            },
        )

    def close_partition_chunk(
        self, db_name: str, table_name: str, partition_key: str, chunk_id: int
    ) -> dict:
        return self._mgmt(
            "ClosePartitionChunk",
            {
                "db_name": db_name,
                "table_name": table_name,
                "partition_key": partition_key,
                "chunk_id": chunk_id,
            },
        )["operation"]

    def unload_partition_chunk(
        self, db_name: str, table_name: str, partition_key: str, chunk_id: int
    ) -> None:
        self._mgmt(
            "UnloadPartitionChunk",
            {
                "db_name": db_name,
                "table_name": table_name,
                "partition_key": partition_key,
                "chunk_id": chunk_id,
            },
        )

    def wipe_preserved_catalog(self, db_name: str) -> dict:
        return self._mgmt("WipePreservedCatalog", {"db_name": db_name})[
            "operation"
        ]

    def update_server_id(self, server_id: int) -> None:
        self._mgmt("UpdateServerId", {"id": server_id})

    def get_server_id(self) -> int:
        return self._mgmt("GetServerId", {})["id"]

    def set_serving_readiness(self, ready: bool) -> None:
        self._mgmt("SetServingReadiness", {"ready": ready})

    # -- remotes (server federation registry; the reference CLI's
    #    `server remote set/remove/list`, src/commands/server_remote.rs) --
    def update_remote(self, remote_id: int, connection_string: str) -> None:
        self._mgmt(
            "UpdateRemote",
            {"remote": {"id": remote_id, "connection_string": connection_string}},
        )

    def delete_remote(self, remote_id: int) -> None:
        self._mgmt("DeleteRemote", {"id": remote_id})

    def list_remotes(self) -> list[dict]:
        return self._mgmt("ListRemotes", {}).get("remotes", [])

    def server_status(self) -> dict:
        return self._mgmt("GetServerStatus", {})["server_status"]

    # -- write -------------------------------------------------------------
    def write(
        self,
        db_name: str,
        lp_data: str,
        org: str | None = None,
        bucket: str | None = None,
    ) -> int:
        """Line-protocol write over gRPC; falls back to the v2 HTTP write
        when only an HTTP endpoint is configured.  The '<org>_<bucket>'
        join (http_api.org_and_bucket_to_database, like the reference's
        data_types org_and_bucket_to_database) is ambiguous when org
        contains '_', so the HTTP path takes explicit org/bucket
        parameters; the db_name split fallback is first-underscore and
        only safe for underscore-free orgs."""
        if self._grpc is not None:
            out = self.call(
                "write", "Write", {"db_name": db_name, "lp_data": lp_data}
            )
            return out.get("lines_written", 0)
        if (org is None) != (bucket is None):
            # honoring half the pair would silently re-derive the other
            # half from the ambiguous db_name split — reject instead
            raise ValueError(
                "HTTP write needs BOTH org and bucket when either is given "
                f"explicitly (got org={org!r}, bucket={bucket!r})"
            )
        if org is None:
            org, sep, bucket = db_name.partition("_")
            if not sep:
                raise ValueError(
                    "HTTP write needs org and bucket: pass them explicitly "
                    f"or use an '<org>_<bucket>' db_name (got {db_name!r})"
                )
        url = (
            f"{self._http_url}/api/v2/write?"
            f"org={urllib.parse.quote(org)}&bucket={urllib.parse.quote(bucket)}"
        )
        req = urllib.request.Request(url, data=lp_data.encode())
        with urllib.request.urlopen(req, timeout=120):
            pass
        return sum(1 for ln in lp_data.splitlines() if ln.strip())

    # -- operations --------------------------------------------------------
    def list_operations(self) -> list[dict]:
        out = self.call("operations", "ListOperations", {})
        return out.get("operations") or []

    def get_operation(self, name: str) -> dict:
        return self.call("operations", "GetOperation", {"name": name})

    def cancel_operation(self, name: str) -> None:
        self.call("operations", "CancelOperation", {"name": name})

    def wait_operation(self, name: str) -> dict:
        return self.call("operations", "WaitOperation", {"name": name})

    def create_dummy_job(self, nanos: list[int]) -> dict:
        return self._mgmt("CreateDummyJob", {"nanos": list(nanos)})["operation"]

    def query_flight(self, db_name: str, sql: str):
        """SQL over Arrow Flight DoGet on the gRPC port — the data-plane
        result path (record batches, no JSON row cap); returns a pyarrow
        Table."""
        from influxdb_iox_spark.protowire import encode_message
        from influxdb_iox_spark.rpc_flight import flight_ticket
        from influxdb_iox_spark.rpc_h2 import (
            FLIGHT_SERVICE,
            FLIGHT_TICKET,
            flight_data_to_table,
        )

        if self._grpc is None:
            raise ValueError("query_flight requires grpc_port")
        ticket = encode_message(
            {"ticket": flight_ticket(db_name, sql)}, FLIGHT_TICKET
        )
        return flight_data_to_table(
            self._grpc.call_ok(f"/{FLIGHT_SERVICE}/DoGet", ticket)
        )

    # -- query (HTTP SQL) --------------------------------------------------
    def query(self, db_name: str, sql: str, fmt: str = "json"):
        """SQL over the HTTP query endpoint; json format parses to rows."""
        if self._http_url is None:
            raise ValueError("query requires http_url (the SQL frontend)")
        url = (
            f"{self._http_url}/iox/api/v1/databases/"
            f"{urllib.parse.quote(db_name, safe='')}/query"
            f"?q={urllib.parse.quote(sql)}&format={fmt}"
        )
        with urllib.request.urlopen(url, timeout=120) as r:
            body = r.read()
        return json.loads(body) if fmt == "json" else body.decode()
