"""``python -m influxdb_iox_spark`` — the CLI twin of the reference binary
(src/main.rs + src/commands/{run,database,sql,operations}.rs).

Server side:

    python -m influxdb_iox_spark run --base-dir /data/iox [--http-port N]
        [--grpc-port N] [--cpus N]

Client side (talks to a running server):

    ... database create <name> [--partition-by table|time:<fmt>|column:<c>]
    ... database list / get <name>
    ... database write <name> <file.lp>
    ... database query <name> "<sql>" [--format json|csv|pretty]
    ... database chunks <name>
    ... database partitions <name> [<key>]     (key -> partition + chunks)
    ... database new-chunk / close-chunk / unload-chunk <name> <table> <key> [id]
    ... database catalog-wipe <name> --force
    ... server get-id / set-id <id> / status
    ... server remote set <id> <conn> / remove <id> / list
    ... operations list / get <id> / wait <id> / cancel <id> / test <nanos...>

Every command is a thin shell over IoxServer / IoxClient — no logic
lives here, so the CLI can never drift from the tested API surface.
``main(argv)`` is importable for in-process tests; the module entry
point only parses argv and dispatches.
"""

from __future__ import annotations

import argparse
import json
import sys


def _build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="influxdb_iox_spark",
        description="IOx-on-Spark server and command line tools",
    )
    sub = p.add_subparsers(dest="command", required=True)

    run = sub.add_parser("run", help="run the server (gRPC + HTTP)")
    run.add_argument("--base-dir", required=True)
    run.add_argument(
        "--grpc-port", type=int, default=0,
        help="port for the h2c gRPC endpoint: every service on its true "
        "tonic method path, Arrow Flight included (0 = ephemeral)",
    )
    run.add_argument("--http-port", type=int, default=0)
    run.add_argument("--cpus", default=None)
    run.add_argument(
        "--master", default=None,
        help="Spark master URL (e.g. spark://host:7077, yarn, k8s://…); "
        "default local[--cpus].  Config-only — the same server code runs "
        "on a cluster (see SCALE.md §cluster-submit)",
    )
    run.add_argument(
        "--conf", action="append", default=[], metavar="KEY=VALUE",
        help="extra Spark conf, repeatable (executor memory/instances, "
        "shuffle partitions, cloud-store credentials, …)",
    )
    run.add_argument(
        "--once", action="store_true",
        help="start, print ports, and return (tests); default blocks",
    )

    db = sub.add_parser("database", help="database commands")
    dbsub = db.add_subparsers(dest="db_command", required=True)
    for name, extra in (
        ("create", [("name", {}), ("--partition-by", {"default": "table"})]),
        ("list", []),
        ("get", [("name", {})]),
        ("write", [("name", {}), ("file", {})]),
        (
            "query",
            [("name", {}), ("sql", {}), ("--format", {"default": "json"})],
        ),
        ("chunks", [("name", {})]),
        ("partitions", [("name", {}), ("key", {"nargs": "?", "default": None})]),
        # chunk lifecycle verbs (src/commands/database/partition.rs
        # NewChunk/CloseChunk/UnloadChunk)
        ("new-chunk", [("name", {}), ("table", {}), ("key", {})]),
        (
            "close-chunk",
            [("name", {}), ("table", {}), ("key", {}),
             ("chunk_id", {"type": int})],
        ),
        (
            "unload-chunk",
            [("name", {}), ("table", {}), ("key", {}),
             ("chunk_id", {"type": int})],
        ),
        # src/commands/database/catalog.rs Wipe (--force required: an
        # accidental wipe erases every chunk record)
        (
            "catalog-wipe",
            [("name", {}), ("--force", {"action": "store_true"})],
        ),
    ):
        sp = dbsub.add_parser(name)
        for arg, kw in extra:
            sp.add_argument(arg, **kw)
        sp.add_argument("--host", default="127.0.0.1")
        sp.add_argument("--grpc-port", type=int, required=True)
        if name == "query":
            # default result path is Arrow Flight on the gRPC socket; pass
            # --http-url to use the v2 HTTP endpoint (enables csv/pretty)
            sp.add_argument("--http-url", default=None)

    sql = sub.add_parser(
        "sql",
        help="interactive SQL REPL (src/commands/sql: HELP, SHOW "
        "DATABASES, USE [DATABASE] <name>, SET FORMAT, OBSERVER, SQL)",
    )
    sql.add_argument("--host", default="127.0.0.1")
    sql.add_argument("--grpc-port", type=int, required=True)
    sql.add_argument(
        "--http-url", default=None,
        help="HTTP endpoint for query results (pretty/csv/json)",
    )

    ops = sub.add_parser("operations", help="operations commands")
    opssub = ops.add_subparsers(dest="ops_command", required=True)
    for name, extra in (
        ("list", []),
        ("get", [("id", {})]),
        ("wait", [("id", {}), ("nanos", {"nargs": "?", "default": None})]),
        ("cancel", [("id", {})]),
        ("test", [("nanos", {"nargs": "+", "type": int})]),
    ):
        osp = opssub.add_parser(name)
        for arg, kw in extra:
            osp.add_argument(arg, **kw)
        osp.add_argument("--host", default="127.0.0.1")
        osp.add_argument("--grpc-port", type=int, required=True)

    srv = sub.add_parser("server", help="server commands (id, status)")
    srvsub = srv.add_subparsers(dest="server_command", required=True)
    for name, extra in (
        ("get-id", []),
        ("set-id", [("id", {"type": int})]),
        ("status", []),
    ):
        ssp = srvsub.add_parser(name)
        for arg, kw in extra:
            ssp.add_argument(arg, **kw)
        ssp.add_argument("--host", default="127.0.0.1")
        ssp.add_argument("--grpc-port", type=int, required=True)

    # manage configuration about other servers (the reference's
    # `server remote` subcommand, src/commands/server_remote.rs:26-33)
    rem = srvsub.add_parser(
        "remote", help="manage configuration about other servers"
    )
    remsub = rem.add_subparsers(dest="remote_command", required=True)
    for name, extra in (
        ("set", [("id", {"type": int}), ("connection_string", {})]),
        ("remove", [("id", {"type": int})]),
        ("list", []),
    ):
        rsp = remsub.add_parser(name)
        for arg, kw in extra:
            rsp.add_argument(arg, **kw)
        rsp.add_argument("--host", default="127.0.0.1")
        rsp.add_argument("--grpc-port", type=int, required=True)
    return p


def _b64(o):
    """Operation metadata rides as protobuf Any bytes; render base64 like
    JSON-mapped protobuf would."""
    import base64

    if isinstance(o, (bytes, bytearray)):
        return base64.b64encode(bytes(o)).decode()
    return str(o)


def _partition_parts(spec: str) -> list[dict]:
    if spec == "table":
        return [{"table": {}}]
    if spec.startswith("time:"):
        return [{"time": spec.split(":", 1)[1]}]
    if spec.startswith("column:"):
        return [{"column": spec.split(":", 1)[1]}]
    raise SystemExit(f"unknown --partition-by spec {spec!r}")


def _client(args):
    from influxdb_iox_spark.client import IoxClient

    return IoxClient(
        grpc_port=args.grpc_port,
        http_url=getattr(args, "http_url", None),
        host=args.host,
    )


def main(argv: list[str] | None = None, out=None) -> int:
    out = out or sys.stdout
    args = _build_parser().parse_args(argv)

    if args.command == "run":
        from influxdb_iox_spark.rpc_h2 import GrpcH2Server
        from influxdb_iox_spark.rpc_management import (
            IoxMultiDbHttpServer,
            IoxServer,
        )
        from influxdb_iox_spark.session import get_spark

        extra_conf = {}
        for kv in args.conf:
            if "=" not in kv:
                raise SystemExit(f"--conf expects KEY=VALUE, got {kv!r}")
            k, v = kv.split("=", 1)
            extra_conf[k] = v
        spark = get_spark(
            app_name="influxdb-iox-spark-server",
            master=args.master or (f"local[{args.cpus}]" if args.cpus else None),
            extra_conf=extra_conf,
        )
        server = IoxServer(spark, args.base_dir)
        # replay the write-buffer gap BEFORE serving (db.rs:518
        # perform_replay): reading databases catch up to their topics so
        # the first query never sees a pre-crash snapshot
        server.perform_replay()
        grpc = GrpcH2Server(server, port=args.grpc_port)
        http = IoxMultiDbHttpServer(server)
        http_port = http.start(port=args.http_port)
        print(
            json.dumps(
                {"grpc_port": grpc.port, "http_port": http_port,
                 "databases": sorted(server.databases),
                 "master": spark.conf.get("spark.master"),
                 "conf": {k: spark.conf.get(k) for k in sorted(extra_conf)}}
            ),
            file=out,
            flush=True,
        )
        if args.once:
            http.stop()
            grpc.shutdown()
            return 0
        try:  # pragma: no cover - interactive serve loop
            import time

            while True:
                time.sleep(3600)
        except KeyboardInterrupt:
            return 0

    if args.command == "sql":
        from influxdb_iox_spark.repl import Repl

        c = _client(args)
        try:
            repl = Repl(c, out=out if out is not None else sys.stdout)
            repl._print("Connected; HELP for commands, EXIT to leave.")
            repl.run(sys.stdin)
            return 0
        finally:
            c.close()

    if args.command == "database":
        c = _client(args)
        try:
            if args.db_command == "create":
                c.create_database(
                    args.name,
                    partition_template_parts=_partition_parts(args.partition_by),
                )
                print(f"Created database {args.name}", file=out)
            elif args.db_command == "list":
                for name in c.list_databases():
                    print(name, file=out)
            elif args.db_command == "write":
                with open(args.file) as f:
                    n = c.write(args.name, f.read())
                print(f"{n} Lines OK", file=out)
            elif args.db_command == "query":
                if args.http_url:
                    result = c.query(args.name, args.sql, fmt=args.format)
                    print(
                        json.dumps(result) if args.format == "json" else result,
                        file=out,
                    )
                else:
                    table = c.query_flight(args.name, args.sql)
                    print(json.dumps(table.to_pylist(), default=str), file=out)
            elif args.db_command == "get":
                print(json.dumps(c.get_database(args.name), indent=1), file=out)
            elif args.db_command == "chunks":
                print(json.dumps(c.list_chunks(args.name), indent=1), file=out)
            elif args.db_command == "partitions":
                if args.key is None:
                    for key in c.list_partitions(args.name):
                        print(key, file=out)
                else:
                    print(
                        json.dumps(
                            {
                                "partition": c.get_partition(args.name, args.key),
                                "chunks": c.list_partition_chunks(
                                    args.name, args.key
                                ),
                            },
                            indent=1,
                        ),
                        file=out,
                    )
            elif args.db_command == "new-chunk":
                c.new_partition_chunk(args.name, args.table, args.key)
                print("Ok", file=out)
            elif args.db_command == "close-chunk":
                op = c.close_partition_chunk(
                    args.name, args.table, args.key, args.chunk_id
                )
                print(json.dumps(op, indent=1, default=_b64), file=out)
            elif args.db_command == "unload-chunk":
                c.unload_partition_chunk(
                    args.name, args.table, args.key, args.chunk_id
                )
                print("Ok", file=out)
            elif args.db_command == "catalog-wipe":
                if not args.force:
                    raise SystemExit(
                        "catalog-wipe erases every chunk record; pass "
                        "--force to confirm"
                    )
                op = c.wipe_preserved_catalog(args.name)
                print(json.dumps(op, indent=1, default=_b64), file=out)
        finally:
            c.close()
        return 0

    if args.command == "server":
        c = _client(args)
        try:
            if args.server_command == "remote":
                if args.remote_command == "set":
                    c.update_remote(args.id, args.connection_string)
                    print("Ok", file=out)
                elif args.remote_command == "remove":
                    c.delete_remote(args.id)
                    print("Ok", file=out)
                elif args.remote_command == "list":
                    remotes = c.list_remotes()
                    if not remotes:
                        print("no remotes configured", file=out)
                    else:
                        print("ID | Connection string", file=out)
                        for r in remotes:
                            print(
                                f"{r['id']} | {r.get('connection_string', '')}",
                                file=out,
                            )
            elif args.server_command == "get-id":
                print(c.get_server_id(), file=out)
            elif args.server_command == "set-id":
                c.update_server_id(args.id)
                print("Ok", file=out)
            elif args.server_command == "status":
                print(json.dumps(c.server_status(), indent=1), file=out)
        finally:
            c.close()
        return 0

    if args.command == "operations":
        c = _client(args)
        try:
            if args.ops_command == "list":
                for op in c.list_operations():
                    print(
                        json.dumps(
                            {"name": op["name"], "done": op.get("done", False)}
                        ),
                        file=out,
                    )
            elif args.ops_command == "get":
                print(json.dumps(c.get_operation(args.id), indent=1, default=_b64), file=out)
            elif args.ops_command == "wait":
                # the server's WaitOperation returns current status (our
                # jobs record synchronously); nanos rides for CLI parity
                print(json.dumps(c.wait_operation(args.id), indent=1, default=_b64), file=out)
            elif args.ops_command == "cancel":
                c.cancel_operation(args.id)
                print("Ok", file=out)
            elif args.ops_command == "test":
                print(
                    json.dumps(c.create_dummy_job(args.nanos), indent=1, default=_b64),
                    file=out,
                )
        finally:
            c.close()
        return 0

    return 1


if __name__ == "__main__":  # pragma: no cover
    raise SystemExit(main())
