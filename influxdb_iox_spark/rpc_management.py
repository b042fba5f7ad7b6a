"""Management / Write / Operations gRPC services and the IoxServer they drive.

The reference serves four gRPC services on one tonic socket
(src/influxdb_ioxd/rpc.rs): Storage (data plane), ManagementService,
WriteService, and google.longrunning Operations.  This module holds the
three control-plane service handlers (dict request in, dict response
out, protobuf bytes via the protowire codec) and the method-path routing
table; ``rpc_h2.GrpcH2Server`` serves them, with rpc_storage.StorageService
and Arrow Flight, on one h2c gRPC port.

Semantics ported from:

- src/influxdb_ioxd/rpc/management.rs (validation order, NotFound /
  AlreadyExists / FieldViolation cases, the exact "Resource <type>/<name>
  not found" message shape its e2e tests assert on)
- src/influxdb_ioxd/rpc/write.rs (line-protocol write → lines_written)
- src/influxdb_ioxd/rpc/operations.rs (job records → longrunning
  Operation with OperationMetadata Any payloads)
- data_types/src/database_name.rs (name length 1..=64, no control chars)
- server/src/lib.rs serving-readiness gate: data-plane RPCs return
  UNAVAILABLE while serving readiness is off; management always answers

Architecture mapping (documented divergences, not bugs):

- Our chunks are born as sorted parquet ("closed" the moment a write
  lands — streaming/ingest.py docstring), so ChunkStorage is always
  OBJECT_STORE_ONLY, NewPartitionChunk's rollover is a validated no-op
  (there is never an open mutable chunk to roll), and
  UnloadPartitionChunk validates and returns (Spark has no resident
  read-buffer to unload — executors page parquet in per query).
- ClosePartitionChunk records a CloseChunk job that completes
  immediately (the "move to read buffer" is a no-op for chunks already
  in their persisted sorted form) and returns the longrunning Operation
  tracking it, like server.close_chunk.
- WriteEntry accepts flatbuffers Entry payloads (entry/src/entry.fbs)
  via the hand-rolled codec in entry_fb/fbwire; decoded rows route
  through the same store_entry decision table as line protocol.
"""

from __future__ import annotations

import json
import os
import struct
import threading
import time as _time
from dataclasses import dataclass

from pyspark.sql import SparkSession

from influxdb_iox_spark import management_proto as mp
from influxdb_iox_spark.database import Database
from influxdb_iox_spark.protowire import encode_message
from influxdb_iox_spark.schema import InfluxColumnType, IoxSchema
from influxdb_iox_spark.sources.line_protocol import LineProtocolError, parse_lines
from influxdb_iox_spark.sources.store import TableStore
from influxdb_iox_spark.streaming.ingest import LineProtocolIngest, PartitionTemplate

GOOGLE_ANY_PREFIX = "type.googleapis.com/"
OPERATION_METADATA_TYPE_URL = (
    GOOGLE_ANY_PREFIX + "influxdata.iox.management.v1.OperationMetadata"
)
EMPTY_TYPE_URL = GOOGLE_ANY_PREFIX + "google.protobuf.Empty"


class GrpcStatusError(Exception):
    """A gRPC status the transport maps onto the wire error channel."""

    def __init__(self, code: str, message: str):
        super().__init__(f"{code}: {message}")
        self.code = code
        self.message = message


def not_found(resource_type: str, resource_name: str) -> GrpcStatusError:
    # tonic NotFound formatting the reference's e2e tests assert verbatim:
    # "Resource database/<name> not found" (management_api.rs:623,406)
    return GrpcStatusError(
        "NotFound", f"Resource {resource_type}/{resource_name} not found"
    )


def field_violation(fld: str) -> GrpcStatusError:
    return GrpcStatusError("InvalidArgument", f"Field violation: {fld} is required")


def validate_db_name(name: str) -> str:
    """database_name.rs:48-75 — length 1..=64, no control characters."""
    if not 1 <= len(name) <= 64:
        raise GrpcStatusError(
            "InvalidArgument",
            f"Database name {name!r} length must be between 1 and 64 characters",
        )
    import unicodedata

    for i, ch in enumerate(name):
        if unicodedata.category(ch) == "Cc":  # Rust char::is_control
            raise GrpcStatusError(
                "InvalidArgument",
                f"Database name {name!r} contains invalid character. "
                f"Character number {i} is a control which is not allowed.",
            )
    return name


def _template_from_rules(rules: dict) -> PartitionTemplate:
    """Proto PartitionTemplate.Part → streaming.ingest.PartitionTemplate
    (database_rules.rs FromProto: table / column / strftime parts)."""
    parts: list[tuple[str, str]] = []
    tmpl = rules.get("partition_template") or {}
    for part in tmpl.get("parts") or []:
        if part.get("table") is not None:
            parts.append(("table", ""))
        elif part.get("column"):
            parts.append(("column", part["column"]))
        elif part.get("time"):
            parts.append(("time_format", part["time"]))
        elif part.get("strf_time"):
            parts.append(("time_format", part["strf_time"].get("format", "")))
        elif part.get("regex"):
            raise GrpcStatusError(
                "InvalidArgument", "regex partition template parts are not supported"
            )
    if not parts:
        # DatabaseRules::partition_template defaults to no parts → every row
        # lands in the "" partition (data_types database_rules.rs default)
        return PartitionTemplate(parts=[])
    return PartitionTemplate(parts=parts)


_CTYPE_BY_PY = {float: InfluxColumnType.FIELD_FLOAT, bool: InfluxColumnType.FIELD_BOOLEAN,
                int: InfluxColumnType.FIELD_INTEGER, str: InfluxColumnType.FIELD_STRING}


def _infer_schemas(parsed) -> dict[str, tuple[set, dict]]:
    """measurement -> (tags, {field: InfluxColumnType}) from parsed lines —
    the write-path schema inference of the reference's mutable buffer
    (entry.rs builds typed columns from the first value seen; later type
    conflicts are write errors)."""
    out: dict[str, tuple[set, dict]] = {}
    for pl in parsed:
        tags, fields = out.setdefault(pl.measurement, (set(), {}))
        tags.update(pl.tags)
        for fname, fval in pl.fields.items():
            # bool before int: bool is a subclass of int in Python
            ctype = (InfluxColumnType.FIELD_BOOLEAN if isinstance(fval, bool)
                     else _CTYPE_BY_PY[type(fval)])
            prev = fields.setdefault(fname, ctype)
            if prev is not ctype:
                raise GrpcStatusError(
                    "InvalidArgument",
                    f"column {fname!r} of measurement {pl.measurement!r} has "
                    f"conflicting field types: {prev.value} vs {ctype.value}",
                )
    return out


@dataclass
class ManagedDatabase:
    database: Database
    rules: dict
    template: PartitionTemplate


class IoxServer:
    """Server state: databases under one base_dir, server id, readiness,
    remotes — the Python twin of server/src/lib.rs `Server` for the
    control plane.  State that must survive restarts (rules + inferred
    schemas) persists as `<base_dir>/<db>/rules.json`."""

    RULES_FILE = "rules.json"

    def __init__(self, spark: SparkSession, base_dir: str):
        self.spark = spark
        self.base_dir = base_dir
        self.server_id: int | None = None
        self.serving = True
        self.remotes: dict[int, str] = {}
        self.databases: dict[str, ManagedDatabase] = {}
        self._lock = threading.RLock()
        os.makedirs(base_dir, exist_ok=True)
        self._restore()

    # -- persistence -------------------------------------------------------
    def _db_dir(self, name: str) -> str:
        # percent-encode path separators so any valid DatabaseName (which
        # may contain '/') maps to one directory entry; a bare '.'/'..'
        # name must not resolve to the base or parent directory
        safe = name.replace("%", "%25").replace("/", "%2F")
        if safe in (".", ".."):
            safe = safe.replace(".", "%2E")
        return os.path.join(self.base_dir, safe)

    def _restore(self) -> None:
        for entry in sorted(os.listdir(self.base_dir)):
            rules_path = os.path.join(self.base_dir, entry, self.RULES_FILE)
            if not os.path.isfile(rules_path):
                continue
            with open(rules_path) as f:
                state = json.load(f)
            rules = state["rules"]
            db = Database(rules["name"], TableStore(os.path.dirname(rules_path)), self.spark)
            for table, sch in state.get("schemas", {}).items():
                db.register_table(
                    table,
                    IoxSchema.build(
                        sch["tags"],
                        {n: InfluxColumnType(v) for n, v in sch["fields"].items()},
                    ),
                )
            self.databases[rules["name"]] = ManagedDatabase(
                db, rules, _template_from_rules(rules)
            )

    def _save(self, md: ManagedDatabase) -> None:
        state = {
            "rules": md.rules,
            "schemas": {
                t: {
                    "tags": sch.tag_columns,
                    "fields": {
                        f.name: _col_type_value(sch, f.name)
                        for f in sch.struct
                        if _col_type_value(sch, f.name).startswith("field::")
                    },
                }
                for t, sch in md.database.schemas.items()
            },
        }
        d = md.database.store.base_dir
        tmp = os.path.join(d, self.RULES_FILE + ".tmp")
        with open(tmp, "w") as f:
            json.dump(state, f, indent=1)
        os.replace(tmp, os.path.join(d, self.RULES_FILE))

    # -- database lifecycle ------------------------------------------------
    def db(self, name: str) -> ManagedDatabase:
        md = self.databases.get(name)
        if md is None:
            raise not_found("database", name)
        return md

    def create_database(self, rules: dict) -> None:
        name = validate_db_name(rules.get("name") or "")
        with self._lock:
            if name in self.databases:
                raise GrpcStatusError(
                    "AlreadyExists", f"Resource database/{name} already exists"
                )
            d = self._db_dir(name)
            os.makedirs(d, exist_ok=True)
            md = ManagedDatabase(
                Database(name, TableStore(d), self.spark),
                rules,
                _template_from_rules(rules),
            )
            self._save(md)
            self.databases[name] = md

    def update_database(self, rules: dict) -> dict:
        name = validate_db_name(rules.get("name") or "")
        with self._lock:
            md = self.db(name)
            md.rules = rules
            md.template = _template_from_rules(rules)
            self._save(md)
            return md.rules

    # -- write path --------------------------------------------------------
    def write_lp(self, db_name: str, lp_data: str) -> int:
        """Line-protocol write, routed per the store_entry decision table
        (server/src/db.rs store_entry match over (write_buffer, immutable)):

        - writing + immutable  -> produce to the buffer ONLY (pass-through)
        - writing + mutable    -> produce first; local apply only after the
          buffer accepted the payload
        - immutable (no buffer)-> error
        - reading + mutable    -> direct writes rejected; data arrives via
          drain_write_buffer
        - no buffer + mutable  -> local apply
        """
        if not self.serving:
            raise GrpcStatusError("Unavailable", "server is not serving data plane")
        validate_db_name(db_name)
        md = self.db(db_name)
        lifecycle = md.rules.get("lifecycle_rules") or {}
        immutable = bool(lifecycle.get("immutable"))
        writing = md.rules.get("writing") or None
        reading = md.rules.get("reading") or None
        try:
            parsed = list(parse_lines(lp_data))
        except LineProtocolError as e:
            raise GrpcStatusError("InvalidArgument", f"error parsing line protocol: {e}")
        if md.rules.get("shard_config") is not None:
            # routing_rules: the router path — lines are sharded and
            # forwarded to remote connections, never applied locally
            # (server.write_lines routes before any local store_entry)
            return self._route_sharded(md, db_name, lp_data, parsed)
        if md.rules.get("routing_config") is not None:
            # RoutingConfig: the degenerate single-target route — the whole
            # payload forwards to every node of the target group
            from influxdb_iox_spark.streaming.write_buffer import open_write_buffer

            nodes = (
                (md.rules["routing_config"].get("target") or {}).get("nodes") or []
            )
            for node in nodes:
                node_id = node.get("id") or 0
                conn = self.remotes.get(node_id)
                if conn is None:
                    raise GrpcStatusError(
                        "NotFound",
                        f"Resource remote/[ServerId({node_id})] not found",
                    )
                open_write_buffer(conn).produce(db_name, lp_data)
            return len(parsed)
        if writing:
            from influxdb_iox_spark.streaming.write_buffer import open_write_buffer

            open_write_buffer(writing).produce(db_name, lp_data)
            if immutable:
                return len(parsed)
            self._apply_lp(md, db_name, lp_data, parsed)
            return len(parsed)
        if immutable:
            raise GrpcStatusError(
                "FailedPrecondition", f"database {db_name!r} is immutable"
            )
        if reading:
            # exact message shape of write_buffer.rs:244-248
            raise GrpcStatusError(
                "FailedPrecondition",
                f"Cannot write to database {db_name}, it's configured to only "
                "read from the write buffer",
            )
        self._apply_lp(md, db_name, lp_data, parsed)
        return len(parsed)

    def _apply_lp(self, md: ManagedDatabase, db_name: str, lp_data: str, parsed) -> None:
        """Local apply: hard-limit gate, schema inference/merge, then the
        all-or-nothing multi-measurement chunk write."""
        if not parsed:
            return
        # buffer_size_hard: once the database exceeds the hard limit,
        # reject writes with ResourceExhausted (write_api.rs:68-82 floods
        # until tonic::Code::ResourceExhausted).  Our chunks persist on
        # write, so "buffered bytes" maps to total on-disk chunk bytes —
        # an O(chunks) manifest read, no Spark job.
        lifecycle = md.rules.get("lifecycle_rules") or {}
        hard = lifecycle.get("buffer_size_hard") or 0
        if hard:
            store = md.database.store
            total = sum(
                c.estimated_bytes for t in store.tables() for c in store.manifest(t)
            )
            if total >= hard:
                raise GrpcStatusError(
                    "ResourceExhausted",
                    f"database {db_name!r} exceeds the hard buffer limit "
                    f"({total} >= {hard} bytes)",
                )
        with self._lock:
            inferred = _infer_schemas(parsed)
            for table, (tags, fields) in inferred.items():
                new_schema = IoxSchema.build(sorted(tags), fields)
                prev = md.database.schemas.get(table)
                if prev is not None:
                    try:
                        new_schema = prev.merge(new_schema)
                    except ValueError as e:
                        raise GrpcStatusError("InvalidArgument", str(e))
                md.database.register_table(table, new_schema)
            self._save(md)
            default_time = _time.time_ns()
            lines = [(ln,) for ln in lp_data.splitlines() if ln.strip()]
            lines_df = self.spark.createDataFrame(lines, "value string")
            # all-or-nothing across measurements, like the HTTP handler:
            # parse + write unregistered, then register everything
            written = []
            for table in inferred:
                ing = LineProtocolIngest(
                    md.database.store, table, md.database.schemas[table], md.template
                )
                keyed = ing.parse_lines_df(lines_df, default_time_ns=default_time)
                written.append((ing, ing.write_parsed(keyed, register=False)))
            for ing, metas in written:
                ing.store.register_chunks(ing.table, metas)

    def delete_rows(self, db_name: str, table: str, dpred) -> None:
        """Predicate delete: rows of ``table`` matching ``dpred``
        (plans.predicate.DeletePredicate) vanish from subsequent scans
        and are physically folded away at compaction.  The wire shape is
        the reference's per-table Delete{table_name, predicate} entry
        (entry/src/entry.fbs:37-44).

        Convenience wrapper: encodes the entry and hands it to
        ``store_delete_entry`` so the SAME decision table as every other
        delete applies (write-buffer replication, shard/routing fan-out,
        immutable rejection) — applying only to the local store here
        would silently diverge replicas."""
        if not self.serving:
            raise GrpcStatusError("Unavailable", "server is not serving data plane")
        validate_db_name(db_name)
        md = self.db(db_name)
        if table not in md.database.schemas:
            raise GrpcStatusError(
                "NotFound", f"table {table!r} not found in database {db_name!r}"
            )
        from influxdb_iox_spark.entry_fb import encode_delete_entry

        entry = encode_delete_entry(
            # the canonical JSON serialization — DeletePredicate.parse's
            # first accepted form, so drain/replay round-trips exactly
            [{"table_name": table, "predicate": json.dumps(dpred.to_dict())}]
        )
        self.store_delete_entry(db_name, entry, [(table, dpred)])

    def _route_delete_entry(
        self, md: ManagedDatabase, db_name: str, entry: bytes
    ) -> None:
        """Forward a DeleteOperations entry to every node the database
        routes to (all shards' node groups, or the routing target) —
        deduplicated per connection so a node backing several shards
        receives the delete once."""
        from influxdb_iox_spark.streaming.shard import ShardConfig
        from influxdb_iox_spark.streaming.write_buffer import open_write_buffer

        node_ids: list[int] = []
        ignore_errors = False
        if md.rules.get("shard_config") is not None:
            cfg = ShardConfig.from_rules(md.rules["shard_config"])
            ignore_errors = cfg.ignore_errors
            for nodes in cfg.shards.values():
                node_ids.extend(nodes)
        if md.rules.get("routing_config") is not None:
            target = md.rules["routing_config"].get("target") or {}
            node_ids.extend(n.get("id") or 0 for n in target.get("nodes") or [])
        conns: list[str] = []
        for node in dict.fromkeys(node_ids):  # order-preserving dedup
            conn = self.remotes.get(node)
            if conn is None:
                if ignore_errors:
                    continue
                raise GrpcStatusError(
                    "NotFound", f"Resource remote/[ServerId({node})] not found"
                )
            if conn not in conns:
                conns.append(conn)
        if not conns and not ignore_errors:
            # a ShardConfig that resolves shards via hash_ring/matchers
            # but has no shard→node-group entries (or none resolvable)
            # must not return success having forwarded the delete NOWHERE
            raise GrpcStatusError(
                "FailedPrecondition",
                f"database {db_name!r} routes writes but no delete target "
                "resolves (empty/unresolvable shard node groups)",
            )
        for conn in conns:
            open_write_buffer(conn).produce_entry(db_name, entry)

    def _route_sharded(
        self, md: ManagedDatabase, db_name: str, lp_data: str, parsed
    ) -> int:
        """Shard every line per the database's ShardConfig and forward each
        shard's sub-payload to its node group's remote connections
        (write_api.rs test_write_routed topology: matchers / hash ring →
        shard id → node group → remote).  Remote connections resolve
        through the management remotes table; an unresolvable remote is
        the reference's exact "Resource remote/[ServerId(N)] not found"
        unless ignore_errors is set."""
        from influxdb_iox_spark.streaming.shard import ShardConfig, ShardingError
        from influxdb_iox_spark.streaming.write_buffer import open_write_buffer

        cfg = ShardConfig.from_rules(md.rules["shard_config"])
        lines = [
            ln
            for ln in lp_data.splitlines()
            if ln.strip() and not ln.strip().startswith("#")
        ]
        by_shard: dict[int, list[str]] = {}
        for ln, pl in zip(lines, parsed):
            try:
                sid = cfg.shard_of_line(pl)
            except ShardingError as e:
                raise GrpcStatusError("InvalidArgument", str(e))
            by_shard.setdefault(sid, []).append(ln)
        for sid in sorted(by_shard):
            nodes = cfg.shards.get(sid)
            if not nodes:
                if cfg.ignore_errors:
                    continue
                raise not_found("shard", str(sid))
            for node in nodes:
                conn = self.remotes.get(node)
                if conn is None:
                    if cfg.ignore_errors:
                        continue
                    raise GrpcStatusError(
                        "NotFound",
                        f"Resource remote/[ServerId({node})] not found",
                    )
                open_write_buffer(conn).produce(db_name, "\n".join(by_shard[sid]))
        return len(parsed)

    def drain_write_buffer(self, db_name: str) -> int:
        """Consume new write-buffer payloads into a `reading`-configured
        database (the background consumer of db.rs:569-575, pull-driven).

        The consumer offset persists next to the database; it advances
        AFTER each payload applies (at-least-once — replaying identical
        line protocol is idempotent through primary-key dedup).  A
        malformed payload is QUARANTINED (recorded to wb_quarantine.jsonl
        next to the offset) and the offset advances past it, so one
        corrupt payload can never wedge the topic — every valid payload
        behind it still applies.  Sequences parked by the buffer (aged
        empty claims from a slow producer) are persisted alongside the
        offset and re-checked on every drain, so a payload renamed in
        late is still consumed exactly as the at-least-once contract
        promises.  Parking is sound because WRITES commute (PK dedup);
        DELETE entries do not, so a delete behind an unresolved parked
        sequence is a barrier — the drain stops at it (see the loop)
        rather than letting a late write dodge the tombstone.  The one
        residual: a parked claim that itself turns out to be a DELETE
        applies late, tombstoning rows written between its claim and its
        arrival — a superset of the strict-order replay (rows matching
        the user's predicate, exactly what re-issuing the delete would
        do), never a resurrection.  Returns the number of lines ingested
        this drain."""
        from influxdb_iox_spark.streaming.write_buffer import open_write_buffer

        md = self.db(db_name)
        reading = md.rules.get("reading") or None
        if not reading:
            raise GrpcStatusError(
                "FailedPrecondition",
                f"database {db_name!r} has no reading write-buffer connection",
            )
        offset_path = os.path.join(md.database.store.base_dir, "wb_offset.json")
        next_seq, parked = 0, []
        if os.path.exists(offset_path):
            with open(offset_path) as f:
                state = json.load(f)
            next_seq = state["next_seq"]
            parked = state.get("parked") or []
        buf = open_write_buffer(reading)
        total = 0

        def _save(seq_after: int) -> None:
            tmp = offset_path + ".tmp"
            with open(tmp, "w") as f:
                json.dump({"next_seq": seq_after, "parked": parked}, f)
            os.replace(tmp, offset_path)

        def _quarantine(seq: int, payload, e: Exception) -> int:
            qpath = os.path.join(
                md.database.store.base_dir, "wb_quarantine.jsonl"
            )
            rendered = (
                payload.hex() if isinstance(payload, bytes) else payload
            )
            with open(qpath, "a") as qf:
                qf.write(
                    json.dumps(
                        {"seq": seq, "error": str(e), "payload": rendered}
                    )
                    + "\n"
                )
            return 0

        def _apply_one(seq: int, payload, partition: int = 0) -> int:
            """Apply one payload: ``str`` = line protocol, ``bytes`` = a
            flatbuffers Entry (the reference topic's native format) —
            both land through the same schema-inference chunk write.

            Quarantine covers BOTH stages: decode/parse failures AND
            payload-permanent apply failures (InvalidArgument — e.g. a
            schema-merge type conflict, which would fail identically on
            every retry).  Other apply errors (resource limits, Spark
            infrastructure) propagate WITHOUT advancing the offset so a
            later drain retries — quarantining those would drop valid
            data on a transient fault."""
            try:
                if isinstance(payload, bytes):
                    from influxdb_iox_spark.entry_fb import (
                        decode_entry,
                        entry_to_parsed_lines,
                    )
                    from influxdb_iox_spark.sources.line_protocol import (
                        render_line,
                    )

                    decoded = decode_entry(payload)
                    if "deletes" in decoded:
                        # replicated DeleteOperations entry: apply as
                        # tombstones (unknown tables skip — nothing to
                        # delete yet on this side); a malformed predicate
                        # is payload-permanent -> quarantine below
                        from influxdb_iox_spark.plans.predicate import (
                            DeletePredicate,
                        )

                        deletes = [
                            (
                                d.get("table_name") or "",
                                DeletePredicate.parse(d.get("predicate") or ""),
                            )
                            for d in decoded["deletes"]
                        ]
                        self.apply_deletes(db_name, deletes)
                        return 0
                    parsed = list(entry_to_parsed_lines(decoded))
                    lp = "\n".join(render_line(pl) for pl in parsed)
                else:
                    lp = payload
                    parsed = list(parse_lines(payload))
            except (LineProtocolError, ValueError, struct.error) as e:
                return _quarantine(seq, payload, e)
            try:
                self._apply_lp(md, db_name, lp, parsed)
            except GrpcStatusError as e:
                if e.code == "InvalidArgument":
                    return _quarantine(seq, payload, e)
                raise
            self._record_windows(md, parsed, seq, partition)
            return len(parsed)

        # re-check parked sequences first: a slow producer may have
        # renamed its payload in after we advanced past its aged claim
        for seq in list(parked):
            payload = buf.read_one(db_name, seq)
            if payload is not None:
                total += _apply_one(seq, payload, buf.partition_of(db_name, seq))
                parked.remove(seq)
                _save(next_seq)

        def _is_delete_entry(payload) -> bool:
            # cheap pre-check; undecodable bytes are NOT a delete here —
            # _apply_one will quarantine them on its own decode
            if not isinstance(payload, bytes):
                return False
            try:
                from influxdb_iox_spark.entry_fb import decode_entry

                return "deletes" in decode_entry(payload)
            except Exception:
                return False

        payloads, newly_parked = buf.poll(db_name, next_seq, with_partitions=True)
        barrier = None
        for seq, partition, payload in payloads:
            blocked_by = sorted(
                s for s in set(parked) | set(newly_parked) if s < seq
            )
            if blocked_by and _is_delete_entry(payload):
                # A delete is a sequence BARRIER.  Parking (apply later,
                # out of order) is only sound for WRITES, which commute
                # through PK dedup; a delete does not commute — applied
                # before a parked earlier write, that write's rows dodge
                # the tombstone forever, and applied after later writes
                # it would swallow rows a from-scratch replay keeps.  So
                # the drain stops HERE (offset pinned at the delete, like
                # poll()'s young-claim stop) until the parked sequences
                # below resolve.  Liveness: a crashed producer's claim
                # blocks deletes (not prior writes) until the claim file
                # is cleared — the same operator remediation a stuck
                # consumer group needs on any sequenced topic.
                barrier = seq
                break
            total += _apply_one(seq, payload, partition)
            parked = sorted(set(parked) | {s for s in newly_parked if s < seq})
            _save(seq + 1)
        if barrier is not None:
            parked = sorted(
                set(parked) | {s for s in newly_parked if s < barrier}
            )
            _save(barrier)
            return total
        if payloads or newly_parked:
            last = payloads[-1][0] + 1 if payloads else next_seq
            parked = sorted(set(parked) | set(newly_parked))
            _save(max(last, max(newly_parked, default=-1) + 1))
        return total

    def apply_deletes(self, db_name: str, deletes: list[tuple]) -> int:
        """Apply parsed ``(table, DeletePredicate)`` pairs as tombstones.
        Tables this database has never seen are skipped (a replicated
        delete can precede the first write for its table on the reading
        side — there are no rows to delete, and quarantining a valid
        delete would be wrong).  Returns tombstones applied."""
        md = self.db(db_name)
        n = 0
        for table, dp in deletes:
            if table in md.database.schemas:
                md.database.store.delete_predicate(table, dp)
                n += 1
        return n

    def store_delete_entry(
        self, db_name: str, entry: bytes, deletes: list[tuple]
    ) -> None:
        """Route a DeleteOperations entry per the same store_entry
        decision table as writes (server/src/db.rs store_entry — deletes
        are entries and replicate through the write buffer exactly like
        writes):

        - writing + immutable  -> produce the ENTRY BYTES to the buffer only
        - writing + mutable    -> produce, then apply locally
        - immutable (no buffer)-> error
        - reading              -> rejected (deletes arrive via drain)
        - no buffer + mutable  -> apply locally
        """
        if not self.serving:
            raise GrpcStatusError("Unavailable", "server is not serving data plane")
        validate_db_name(db_name)
        md = self.db(db_name)
        if (
            md.rules.get("shard_config") is not None
            or md.rules.get("routing_config") is not None
        ):
            # deletes span partitions/shards by design (entry.fbs:20-21
            # "Deletes can span partitions because they only have a
            # predicate"): a routed database forwards the DELETE ENTRY to
            # EVERY downstream node — each shard applies it to whatever
            # rows it holds (line-sharding is meaningless for a predicate)
            self._route_delete_entry(md, db_name, entry)
            return
        lifecycle = md.rules.get("lifecycle_rules") or {}
        immutable = bool(lifecycle.get("immutable"))
        writing = md.rules.get("writing") or None
        reading = md.rules.get("reading") or None
        if writing:
            from influxdb_iox_spark.streaming.write_buffer import open_write_buffer

            open_write_buffer(writing).produce_entry(db_name, entry)
            if immutable:
                return
            self.apply_deletes(db_name, deletes)
            return
        if immutable:
            raise GrpcStatusError(
                "FailedPrecondition", f"database {db_name!r} is immutable"
            )
        if reading:
            raise GrpcStatusError(
                "FailedPrecondition",
                f"Cannot write to database {db_name}, it's configured to only "
                "read from the write buffer",
            )
        self.apply_deletes(db_name, deletes)

    @staticmethod
    def _record_windows(
        md: ManagedDatabase, parsed, seq: int, partition: int = 0
    ) -> None:
        """Feed an applied write-buffer payload into the database's
        PersistenceWindows (per table): min/max data time + the payload's
        sequence number, so the lifecycle's persist decision is
        sequence-exact (persistence_windows.rs add_range — the reference
        updates its windows on every consumed entry).  Lines without a
        timestamp were assigned apply-instant wall clock by _apply_lp;
        the same instant is used here (bookkeeping, not data)."""
        import time as _t

        now_ns = _t.time_ns()
        late = float(
            (md.rules.get("lifecycle_rules") or {}).get(
                "late_arrive_window_seconds", 300
            )
            or 300
        )
        per_table: dict[str, list] = {}
        for pl in parsed:
            ts = pl.timestamp if pl.timestamp is not None else now_ns
            cur = per_table.get(pl.measurement)
            if cur is None:
                per_table[pl.measurement] = [1, ts, ts]
            else:
                cur[0] += 1
                cur[1] = min(cur[1], ts)
                cur[2] = max(cur[2], ts)
        for table, (n, lo, hi) in per_table.items():
            md.database.record_ingest(
                table, sequencer_id=partition, sequence_number=seq,
                row_count=n, min_time=lo, max_time=hi,
                late_arrival_seconds=late,
            )

    def perform_replay(self) -> dict[str, int]:
        """Startup replay reconciliation (server/src/db.rs:518
        perform_replay): before serving, every database with a reading
        write-buffer connection drains exactly the gap between its
        persisted consumer offset and the topic's head.

        The offset advances only AFTER a payload applies, so a server
        killed mid-apply restarts with the gap still open and replay
        re-applies from the first possibly-unapplied sequence — a payload
        that DID apply before the crash is re-applied harmlessly because
        line-protocol ingest is idempotent through primary-key dedup.
        Results after crash+replay are therefore identical to an
        uninterrupted run (asserted by test_write_buffer's crash test).
        Returns lines replayed per database."""
        out: dict[str, int] = {}
        for name, md in sorted(self.databases.items()):
            if md.rules.get("reading"):
                out[name] = self.drain_write_buffer(name)
        return out

    def run_lifecycle(self, db_name: str) -> dict:
        """One pull-driven background-worker sweep for a database (the
        reference's per-db lifecycle loop, server/src/db.rs:569-620):
        drain the write buffer if a reading connection is configured,
        run the compaction/persist policy under the database's configured
        lifecycle rules, and checkpoint the manifest when the
        catalog_transactions_until_checkpoint rule asks for it.  Safe on
        any schedule — every step is idempotent."""
        from influxdb_iox_spark.streaming.lifecycle import (
            LifecyclePolicy,
            LifecycleRules,
        )

        md = self.db(db_name)
        report: dict = {}
        if md.rules.get("reading"):
            report["drained_lines"] = self.drain_write_buffer(db_name)
        proto = md.rules.get("lifecycle_rules") or {}
        rules = LifecycleRules(
            late_arrive_window_seconds=proto.get("late_arrive_window_seconds")
            or 300,
            buffer_size_soft=proto.get("buffer_size_soft") or None,
        )
        policy = LifecyclePolicy(
            self.spark, md.database.store, md.database.schemas, rules,
            windows=md.database.persistence_windows,
        )
        report["tables"] = policy.check_for_work()
        if proto.get("catalog_transactions_until_checkpoint"):
            report["manifest_folded"] = {
                t: md.database.store.compact_manifest(t)
                for t in md.database.store.tables()
            }
        # continuous downsampling: rules-as-data, swept like compaction
        # (beyond the reference — classic-InfluxDB continuous queries).
        # rules["downsample"] = [{"src": t, "dst": t2, "every_seconds": N,
        #   "agg": "mean"}, ...]; each sweep is tail-incremental and
        # idempotent (streaming/downsample.py).
        if md.rules.get("downsample"):
            from influxdb_iox_spark.streaming.downsample import downsample_table

            ds_report = {}
            for cq in md.rules["downsample"]:
                meta = downsample_table(
                    md.database,
                    cq["src"],
                    cq["dst"],
                    int(cq["every_seconds"]),
                    agg=cq.get("agg", "mean"),
                    late_arrive_window_seconds=int(
                        cq.get(
                            "late_arrive_window_seconds",
                            rules.late_arrive_window_seconds,
                        )
                    ),
                )
                ds_report[cq["dst"]] = meta.row_count if meta else 0
            report["downsampled"] = ds_report
        return report

    # -- operations --------------------------------------------------------
    SERVER_OPS_FILE = "_server_operations.json"

    def record_server_operation(
        self, job: str, wall_nanos: int, description: str = ""
    ) -> dict:
        """Append one server-scoped job record (the reference's JobRegistry
        lives on the Server, not a database — server/src/lib.rs; jobs like
        Dummy have no database at all).  Stored under base_dir so the
        returned operation name is always resolvable by GetOperation /
        ListOperations, even with zero databases."""
        import time as _now
        import uuid as _uuid

        rec = {
            "id": _uuid.uuid4().hex[:16],
            "job": job,
            "status": "Complete",
            "table_name": "",
            "partition_key": "",
            "chunk_ids": [],
            "wall_nanos": wall_nanos,
            "description": description,
            "recorded_at": _now.time(),
        }
        p = os.path.join(self.base_dir, self.SERVER_OPS_FILE)
        entries = self.server_operations()
        entries.append(rec)
        tmp = p + ".tmp"
        with open(tmp, "w") as f:
            json.dump(entries, f, indent=1)
        os.replace(tmp, p)
        return rec

    def server_operations(self) -> list[dict]:
        p = os.path.join(self.base_dir, self.SERVER_OPS_FILE)
        if not os.path.exists(p):
            return []
        with open(p) as f:
            return json.load(f)

    def all_operations(self) -> list[tuple[str, dict]]:
        """(db_name, record) across every database plus the server-level
        registry, oldest first."""
        out = [("", rec) for rec in self.server_operations()]
        for name, md in sorted(self.databases.items()):
            for rec in md.database.store.operations():
                out.append((name, rec))
        out.sort(key=lambda p: p[1].get("recorded_at", 0.0))
        return out

    def find_operation(self, op_name: str) -> tuple[str, dict]:
        for db_name, rec in self.all_operations():
            if rec["id"] == op_name:
                return db_name, rec
        raise not_found("operation", op_name)


def _col_type_value(schema: IoxSchema, name: str) -> str:
    from influxdb_iox_spark.schema import column_type

    for f in schema.struct:
        if f.name == name:
            ct = column_type(f)
            return ct.value if ct is not None else ""
    return ""


def encode_operation(db_name: str, rec: dict) -> dict:
    """store.record_operation entry → google.longrunning.Operation dict
    (operations.rs encode_tracker).  Our background jobs are synchronous
    Spark jobs, so every operation arrives complete."""
    job_field = mp.JOB_FIELD_BY_NAME.get(rec["job"])
    meta: dict = {
        "wall_nanos": rec.get("wall_nanos", 0),
        "task_count": 1,
        "pending_count": 0,
    }
    if job_field == "dummy":
        nanos = []
        try:
            nanos = json.loads(rec.get("description") or "{}").get("nanos", [])
        except (ValueError, AttributeError):
            pass
        meta[job_field] = {"nanos": nanos}
    elif job_field in ("close_chunk", "write_chunk"):
        ids = rec.get("chunk_ids") or [0]
        meta[job_field] = {
            "db_name": db_name,
            "partition_key": rec.get("partition_key", ""),
            "table_name": rec.get("table_name", ""),
            "chunk_id": ids[0],
        }
    elif job_field in ("compact_chunks", "persist_chunks"):
        meta[job_field] = {
            "db_name": db_name,
            "partition_key": rec.get("partition_key", ""),
            "table_name": rec.get("table_name", ""),
            "chunks": rec.get("chunk_ids") or [],
        }
    elif job_field == "wipe_preserved_catalog":
        meta[job_field] = {"db_name": db_name}
    op: dict = {
        "name": rec["id"],
        "metadata": {
            "type_url": OPERATION_METADATA_TYPE_URL,
            "value": encode_message(meta, mp.OPERATION_METADATA),
        },
        "done": rec.get("status") in ("Complete", "Error"),
    }
    if rec.get("status") == "Error":
        op["error"] = {"code": 13, "message": rec.get("description", "")}
    elif op["done"]:
        op["response"] = {"type_url": EMPTY_TYPE_URL, "value": b""}
    return op


def _ts(epoch_seconds: float) -> dict:
    sec = int(epoch_seconds)
    return {"seconds": sec, "nanos": int((epoch_seconds - sec) * 1e9)}


def chunk_to_proto(c) -> dict:
    """ChunkMeta → management Chunk message (chunk.rs From<ChunkSummary>).
    Our chunks are always persisted sorted parquet → OBJECT_STORE_ONLY,
    and first/last write and close coincide with the chunk's creation
    (micro-batch chunks are born closed)."""
    return {
        "partition_key": c.partition_key,
        "table_name": c.table,
        "id": c.chunk_id,
        "storage": mp.CHUNK_STORAGE_OBJECT_STORE_ONLY,
        "lifecycle_action": mp.CHUNK_LIFECYCLE_ACTION_UNSPECIFIED,
        "estimated_bytes": c.estimated_bytes,
        "row_count": c.row_count,
        "time_of_first_write": _ts(c.created_at),
        "time_of_last_write": _ts(c.created_at),
        "time_closed": _ts(c.created_at),
    }


class ManagementService:
    """management.rs ManagementService — dict-in/dict-out handlers; the
    transport codec wraps them."""

    def __init__(self, server: IoxServer):
        self.server = server

    def GetServerId(self, req: dict) -> dict:
        if self.server.server_id is None:
            raise GrpcStatusError("NotFound", "Resource  not found")
        return {"id": self.server.server_id}

    def UpdateServerId(self, req: dict) -> dict:
        if not req.get("id"):
            raise field_violation("id")  # ServerId::try_from(0) fails
        # the reference rejects a second set (Error::SetIdError →
        # FieldViolation, server/src/lib.rs set_id); idempotent re-set of
        # the same id is allowed
        if (
            self.server.server_id is not None
            and self.server.server_id != req["id"]
        ):
            raise GrpcStatusError(
                "InvalidArgument",
                "Violation for field \"id\": id already set",
            )
        self.server.server_id = req["id"]
        return {}

    def SetServingReadiness(self, req: dict) -> dict:
        self.server.serving = bool(req.get("ready"))
        return {}

    def ListDatabases(self, req: dict) -> dict:
        return {"names": sorted(self.server.databases)}

    def GetDatabase(self, req: dict) -> dict:
        name = req.get("name") or ""
        md = self.server.db(name)
        return {"rules": md.rules}

    def CreateDatabase(self, req: dict) -> dict:
        rules = req.get("rules")
        if rules is None:
            raise field_violation("rules")
        self.server.create_database(rules)
        return {}

    def UpdateDatabase(self, req: dict) -> dict:
        rules = req.get("rules")
        if rules is None:
            raise field_violation("rules")
        return {"rules": self.server.update_database(rules)}

    def ListChunks(self, req: dict) -> dict:
        md = self.server.db(req.get("db_name") or "")
        store = md.database.store
        chunks = [
            chunk_to_proto(c) for t in store.tables() for c in store.manifest(t)
        ]
        return {"chunks": chunks}

    def CreateDummyJob(self, req: dict) -> dict:
        nanos = req.get("nanos") or []
        # the reference's dummy job sleeps; ours records the request and
        # completes (all our jobs are synchronous).  Dummy jobs are
        # server-scoped (no database) so they persist in the server-level
        # registry and are always resolvable by GetOperation.
        rec = self.server.record_server_operation(
            "Dummy", sum(nanos), json.dumps({"nanos": nanos})
        )
        return {"operation": encode_operation("", rec)}

    def ListRemotes(self, req: dict) -> dict:
        return {
            "remotes": [
                {"id": i, "connection_string": cs}
                for i, cs in sorted(self.server.remotes.items())
            ]
        }

    def UpdateRemote(self, req: dict) -> dict:
        remote = req.get("remote")
        if remote is None:
            raise field_violation("remote")
        if not remote.get("id"):
            raise field_violation("remote.id")
        self.server.remotes[remote["id"]] = remote.get("connection_string", "")
        return {}

    def DeleteRemote(self, req: dict) -> dict:
        rid = req.get("id")
        if not rid:
            raise field_violation("id")
        if rid not in self.server.remotes:
            raise GrpcStatusError("NotFound", "Resource  not found")
        del self.server.remotes[rid]
        return {}

    def ListPartitions(self, req: dict) -> dict:
        md = self.server.db(req.get("db_name") or "")
        keys = sorted(
            {
                c.partition_key
                for t in md.database.store.tables()
                for c in md.database.store.manifest(t)
            }
        )
        return {"partitions": [{"key": k} for k in keys]}

    def GetPartition(self, req: dict) -> dict:
        md = self.server.db(req.get("db_name") or "")
        key = req.get("partition_key") or ""
        keys = {
            c.partition_key
            for t in md.database.store.tables()
            for c in md.database.store.manifest(t)
        }
        # management.rs:284-289: unknown key → empty response, NOT an error
        return {"partition": {"key": key}} if key in keys else {}

    def ListPartitionChunks(self, req: dict) -> dict:
        md = self.server.db(req.get("db_name") or "")
        key = req.get("partition_key") or ""
        store = md.database.store
        chunks = [
            chunk_to_proto(c)
            for t in store.tables()
            for c in store.manifest(t)
            if c.partition_key == key
        ]
        return {"chunks": chunks}

    def _check_table_partition(self, md: ManagedDatabase, table: str, key: str):
        store = md.database.store
        if table not in store.tables():
            raise not_found("table", table)
        if key not in {c.partition_key for c in store.manifest(table)}:
            raise not_found("partition", f"{table}:{key}")

    def NewPartitionChunk(self, req: dict) -> dict:
        md = self.server.db(req.get("db_name") or "")
        self._check_table_partition(
            md, req.get("table_name") or "", req.get("partition_key") or ""
        )
        # rollover_partition: our micro-batch chunks are born closed, so
        # there is never an open mutable chunk to roll — validated no-op
        return {}

    def ClosePartitionChunk(self, req: dict) -> dict:
        md = self.server.db(req.get("db_name") or "")
        table = req.get("table_name") or ""
        key = req.get("partition_key") or ""
        chunk_id = req.get("chunk_id") or 0
        self._check_table_partition(md, table, key)
        store = md.database.store
        if not any(
            c.chunk_id == chunk_id and c.partition_key == key
            for c in store.manifest(table)
        ):
            raise not_found("chunk", str(chunk_id))
        rec = store.record_operation(
            "CloseChunk", table, key, [chunk_id], "Complete", 0,
            f"Closing chunk {chunk_id} of table '{table}'",
        )
        return {"operation": encode_operation(md.database.name, rec)}

    def UnloadPartitionChunk(self, req: dict) -> dict:
        md = self.server.db(req.get("db_name") or "")
        table = req.get("table_name") or ""
        key = req.get("partition_key") or ""
        chunk_id = req.get("chunk_id") or 0
        self._check_table_partition(md, table, key)
        if not any(
            c.chunk_id == chunk_id and c.partition_key == key
            for c in md.database.store.manifest(table)
        ):
            raise not_found("chunk", str(chunk_id))
        # unload_read_buffer: Spark pages parquet per query; nothing resident
        return {}

    def GetServerStatus(self, req: dict) -> dict:
        # initialized tracks server-id assignment: the reference server
        # only initializes once an id is set (server/src/init.rs); before
        # that databases are not served and initialized=false
        if self.server.server_id is None:
            return {"server_status": {"initialized": False}}
        statuses = [
            {"db_name": name, "state": mp.DATABASE_STATE_INITIALIZED}
            for name in sorted(self.server.databases)
        ]
        return {
            "server_status": {"initialized": True, "database_statuses": statuses}
        }

    def WipePreservedCatalog(self, req: dict) -> dict:
        md = self.server.db(req.get("db_name") or "")
        store = md.database.store
        t0 = _time.perf_counter()
        for t in store.tables():
            ids = [c.chunk_id for c in store.manifest(t)]
            if ids:
                store.drop_chunks(t, ids)
        rec = store.record_operation(
            "WipePreservedCatalog", "", "", [], "Complete",
            int((_time.perf_counter() - t0) * 1e9),
            f"Wiping preserved catalog of database '{md.database.name}'",
        )
        return {"operation": encode_operation(md.database.name, rec)}


class WriteService:
    """write.rs WriteService."""

    def __init__(self, server: IoxServer):
        self.server = server

    def Write(self, req: dict) -> dict:
        n = self.server.write_lp(req.get("db_name") or "", req.get("lp_data") or "")
        return {"lines_written": n}

    def WriteEntry(self, req: dict) -> dict:
        """Flatbuffers Entry write (write_api.rs WriteEntry): decode the
        Entry payload (hand-rolled codec, entry_fb/fbwire) into rows and
        route them through the same write path as line protocol — the
        full store_entry decision table (buffers, immutability, sharding)
        applies identically."""
        from influxdb_iox_spark.entry_fb import (
            EntryError,
            decode_entry,
            entry_to_parsed_lines,
        )
        from influxdb_iox_spark.plans.predicate import DeletePredicate
        from influxdb_iox_spark.sources.line_protocol import render_line

        entry = req.get("entry") or b""
        if not entry:
            raise field_violation("entry")
        try:
            decoded = decode_entry(bytes(entry))
        except (EntryError, ValueError, struct.error) as e:
            raise GrpcStatusError("InvalidArgument", f"invalid entry payload: {e}")
        if "deletes" in decoded:
            # DeleteOperations (entry.fbs:18-23): each Delete targets one
            # table with a predicate string → a store tombstone
            db_name = req.get("db_name") or ""
            parsed_deletes = []
            for d in decoded["deletes"]:
                try:
                    dp = DeletePredicate.parse(d.get("predicate") or "")
                except ValueError as e:
                    raise GrpcStatusError(
                        "InvalidArgument", f"invalid delete predicate: {e}"
                    )
                parsed_deletes.append((d.get("table_name") or "", dp))
            # validate ALL tables before routing ANY tombstone, so a bad
            # second delete cannot leave the first half-applied.  A
            # ROUTED database holds no local tables (writes forward too)
            # — the downstream nodes validate/skip instead.
            validate_db_name(db_name)
            md = self.server.db(db_name)
            routed = (
                md.rules.get("shard_config") is not None
                or md.rules.get("routing_config") is not None
            )
            if not routed:
                for table, _ in parsed_deletes:
                    if table not in md.database.schemas:
                        raise GrpcStatusError(
                            "NotFound",
                            f"table {table!r} not found in database {db_name!r}",
                        )
            # deletes ride the same store_entry routing as writes — a
            # writing buffer replicates the ENTRY BYTES downstream
            self.server.store_delete_entry(db_name, bytes(entry), parsed_deletes)
            return {}
        try:
            # `decoded` from the deletes check above — no second decode
            parsed = list(entry_to_parsed_lines(decoded))
            lp = "\n".join(render_line(pl) for pl in parsed)
        except (EntryError, LineProtocolError, ValueError, struct.error) as e:
            raise GrpcStatusError("InvalidArgument", f"invalid entry payload: {e}")
        self.server.write_lp(req.get("db_name") or "", lp)
        return {}


class PBWriteService:
    """write_pb.rs PBWriteService — the reference's third write path:
    protobuf column batches (influxdata.transfer.column.v1.WriteService).
    Batches convert to rows via entry_fb.pb_batch_to_parsed_lines (the
    pb_to_entry port) and ride the same store_entry decision table as
    line protocol and WriteEntry."""

    def __init__(self, server: IoxServer):
        self.server = server

    def Write(self, req: dict) -> dict:
        from influxdb_iox_spark.entry_fb import EntryError, pb_batch_to_parsed_lines
        from influxdb_iox_spark.sources.line_protocol import render_line

        batch = req.get("database_batch")
        if not batch:
            raise field_violation("database_batch")
        db_name = batch.get("database_name") or ""
        try:
            parsed = list(pb_batch_to_parsed_lines(batch))
            lp = "\n".join(render_line(pl) for pl in parsed)
        except (EntryError, LineProtocolError, ValueError) as e:
            raise GrpcStatusError("InvalidArgument", f"invalid database batch: {e}")
        self.server.write_lp(db_name, lp)
        return {}


class TestingService:
    """testing.rs IOxTesting — TestError.  The reference literally
    panics the process (rpc/testing.rs:15 'This is a test panic'); an
    engine-embedded server answers INTERNAL with the same message and
    keeps serving, which is the deliberate divergence (aborting the
    whole Spark driver to mimic a crash test helps nobody)."""

    def TestError(self, req: dict) -> dict:
        raise GrpcStatusError("Internal", "This is a test panic")


class OperationsService:
    """google.longrunning Operations over the per-store job records
    (operations.rs).  All our jobs run synchronously, so Cancel is a
    validated no-op and Wait returns immediately."""

    def __init__(self, server: IoxServer):
        self.server = server

    def ListOperations(self, req: dict) -> dict:
        ops = [
            encode_operation(db, rec) for db, rec in self.server.all_operations()
        ]
        return {"operations": ops}

    def GetOperation(self, req: dict) -> dict:
        db, rec = self.server.find_operation(req.get("name") or "")
        return encode_operation(db, rec)

    def CancelOperation(self, req: dict) -> dict:
        self.server.find_operation(req.get("name") or "")
        return {}

    def DeleteOperation(self, req: dict) -> dict:
        raise GrpcStatusError("Unimplemented", "DeleteOperation is not supported")

    def WaitOperation(self, req: dict) -> dict:
        db, rec = self.server.find_operation(req.get("name") or "")
        return encode_operation(db, rec)


# -- service routing (served by rpc_h2.GrpcH2Server) ------------------------

SERVICE_PATHS = {
    "influxdata.iox.management.v1.ManagementService": (
        "management", mp.MANAGEMENT_METHODS,
    ),
    "influxdata.iox.write.v1.WriteService": ("write", mp.WRITE_METHODS),
    "influxdata.transfer.column.v1.WriteService": ("pb_write", mp.PB_WRITE_METHODS),
    "influxdata.platform.storage.IOxTesting": ("testing", mp.TESTING_METHODS),
    "google.longrunning.Operations": ("operations", mp.OPERATIONS_METHODS),
}
_SHORT_SERVICE = {short: methods for short, methods in SERVICE_PATHS.values()}
STORAGE_PATH = "influxdata.platform.storage.Storage"

#: Write and storage RPCs are data plane (serving-readiness gated);
#: management and operations always answer (server/src/lib.rs serving
#: readiness scope)
DATA_PLANE_SERVICES = {"write", "pb_write", "storage"}


def route_action(path: str) -> tuple[str, str]:
    """gRPC method path '/<pkg>.<Service>/<Method>' → (service short
    name, method); the storage service's short name is 'storage'."""
    service, _, method = path.lstrip("/").rpartition("/")
    if service == STORAGE_PATH:
        return "storage", method
    if service in SERVICE_PATHS:
        return SERVICE_PATHS[service][0], method
    raise GrpcStatusError("Unimplemented", f"unknown service {service!r}")


# -- multi-database HTTP facade ---------------------------------------------


_LP_TS = __import__("re").compile(rb"^(.*) (-?\d+)[ \t]*(\r?)$")


def _scale_lp_timestamps(body: bytes, factor: int) -> bytes:
    """Scale each line's trailing timestamp token by ``factor`` (the
    write API's precision param).  The timestamp, when present, is always
    the final whitespace-separated integer token of a line — quoted field
    strings cannot end a line unescaped, so the anchored regex cannot
    misfire inside one; lines without timestamps pass through (the server
    assigns ns wall clock downstream).  CRLF-terminated lines (Windows
    clients, HTTP tooling) scale too — the split is on \\n, so the \\r
    rides as line tail and is preserved after the scaled timestamp."""
    out = []
    for line in body.split(b"\n"):
        m = _LP_TS.match(line)
        if m:
            line = (
                m.group(1) + b" "
                + str(int(m.group(2)) * factor).encode() + m.group(3)
            )
        out.append(line)
    return b"\n".join(out)


class IoxMultiDbHttpServer:
    """The v2 HTTP API over an IoxServer's LIVE database set — write to any
    '<org>_<bucket>' database (schema inferred like the gRPC write path)
    and query any database by name, exactly how the reference's HTTP
    router resolves databases per request (http.rs:462-660).  Reuses the
    single-db facade's request handler; only routing differs."""

    DEFAULT_MAX_ROWS = 10_000

    def __init__(
        self,
        server: IoxServer,
        max_rows: int = DEFAULT_MAX_ROWS,
        users: dict[str, str] | None = None,
    ):
        self.server = server
        self.max_rows = max_rows
        #: user -> password; None = anonymous (see IoxHttpServer.users).
        #: An auth.UserRegistry here adds per-statement privileges and the
        #: user-management statements, like the single-db facade.
        self.users = users
        self.registry = users if hasattr(users, "create_user") else None
        from influxdb_iox_spark.query_tracker import QueryTracker
        from influxdb_iox_spark.subscriptions import SubscriptionRegistry

        self.tracker = QueryTracker(server.spark)
        self.subscriptions = SubscriptionRegistry()
        self._httpd = None
        self._thread = None
        self.metrics: dict[str, int] = {
            "ingest_lines_total": 0,
            "ingest_points_bytes_total": 0,
        }
        self.request_counts: dict[tuple[str, int], int] = {}

    def start(self, host: str = "127.0.0.1", port: int = 0) -> int:
        from http.server import ThreadingHTTPServer

        from influxdb_iox_spark.http_api import _make_handler

        self._httpd = ThreadingHTTPServer((host, port), _make_handler(self))
        self._thread = threading.Thread(
            target=self._httpd.serve_forever, daemon=True
        )
        self._thread.start()
        return self._httpd.server_address[1]

    def stop(self) -> None:
        if self._httpd is not None:
            self._httpd.shutdown()
            self._httpd.server_close()
            self._httpd = None

    def handle_write(
        self, org: str, bucket: str, body: bytes,
        precision: str | None = None,
    ) -> None:
        from influxdb_iox_spark.http_api import (
            IoxHttpServer,
            _HttpError,
            org_and_bucket_to_database,
        )

        name = org_and_bucket_to_database(org, bucket)
        if precision is not None and precision not in IoxHttpServer.PRECISION_NS:
            raise _HttpError(400, f"invalid precision {precision!r}")
        factor = IoxHttpServer.PRECISION_NS.get(precision or "ns", 1)
        if factor != 1:
            body = _scale_lp_timestamps(body, factor)
        try:
            n = self.server.write_lp(name, body.decode("utf-8"))
        except GrpcStatusError as e:
            status = {
                "NotFound": 404,
                "Unavailable": 503,
                "ResourceExhausted": 429,
            }.get(e.code, 400)
            raise _HttpError(status, e.message)
        self.metrics["ingest_lines_total"] += n
        self.metrics["ingest_points_bytes_total"] += len(body)
        # body is already ns-scaled here; forward without precision
        self.subscriptions.notify_write(name, body, None)

    # -- InfluxDB 1.x API over the live database set -------------------------
    def _resolve_database(self, name: str):
        """DDL target lookup by STATEMENT name (not the db= param):
        ``DROP DATABASE b`` must resolve b even when the connection
        selected database a."""
        md = self.server.databases.get(name)
        return md.database if md is not None else None

    def _v1_database(self, db: str | None):
        from influxdb_iox_spark.http_api import _HttpError

        if not db:
            return None  # db-less SHOW DATABASES etc. still answer
        md = self.server.databases.get(db)
        if md is None:
            raise _HttpError(404, f"database not found: {db}")
        return md.database

    def handle_v1_query(
        self, db: str | None, q: str, epoch: str | None,
        read_only: bool = False,
        accept: str | None = None,
        identity: str | None = None,
    ) -> tuple[bytes, str]:
        """GET/POST /query against ANY hosted database (the 1.x API's
        ``db`` param picks it); same envelope/CSV semantics as the
        single-db server."""
        from influxdb_iox_spark.http_api import _HttpError
        from influxdb_iox_spark.influxql.v1_api import (
            catalog_from_database,
            render_csv,
            run_statements,
        )

        database = self._v1_database(db)
        want_csv = accept is not None and "application/csv" in accept
        if want_csv and epoch is None:
            epoch = "ns"
        qid = self.tracker.begin(q, db)
        try:
            envelope = run_statements(
                q,
                catalog_from_database(database) if database else {},
                databases=sorted(self.server.databases),
                epoch=epoch,
                max_rows=self.max_rows,
                database=database,
                read_only=read_only,
                resolve_database=self._resolve_database,
                registry=self.registry,
                identity=identity,
                selected_db=db,
                tracker=self.tracker,
                subscriptions=self.subscriptions,
            )
        except ValueError as e:  # bad epoch
            raise _HttpError(400, str(e))
        finally:
            self.tracker.end(qid)
        if want_csv:
            return render_csv(envelope), "application/csv"
        return json.dumps(envelope).encode(), "application/json"

    def iter_v1_query_chunks(
        self, db: str | None, q: str, epoch: str | None,
        chunk_size: int, read_only: bool = False,
        identity: str | None = None,
    ):
        from influxdb_iox_spark.http_api import _HttpError
        from influxdb_iox_spark.influxql.v1_api import (
            _EPOCH_DIV,
            catalog_from_database,
            run_statements_chunked,
        )

        database = self._v1_database(db)
        if chunk_size <= 0:
            raise _HttpError(400, "chunk_size must be positive")
        if epoch is not None and epoch not in _EPOCH_DIV:
            raise _HttpError(400, f"invalid epoch {epoch!r}")
        def _tracked():
            qid = self.tracker.begin(q, db)
            try:
                yield from run_statements_chunked(
                    q,
                    catalog_from_database(database) if database else {},
                    databases=sorted(self.server.databases),
                    epoch=epoch,
                    chunk_size=chunk_size,
                    database=database,
                    read_only=read_only,
                    max_rows=self.max_rows,
                    resolve_database=self._resolve_database,
                    registry=self.registry,
                    identity=identity,
                    selected_db=db,
                    tracker=self.tracker,
                    subscriptions=self.subscriptions,
                )
            finally:
                self.tracker.end(qid)

        return _tracked()

    def handle_write_v1(
        self, db: str | None, body: bytes, precision: str | None = None
    ) -> None:
        """POST /write?db=...&precision=... routed to the named hosted
        database (the 1.x client-library write path)."""
        from influxdb_iox_spark.http_api import IoxHttpServer, _HttpError

        if not db:
            raise _HttpError(400, "db parameter is required")
        if db not in self.server.databases:
            raise _HttpError(404, f"database not found: {db}")
        if precision is not None and precision not in IoxHttpServer.PRECISION_NS:
            raise _HttpError(400, f"invalid precision {precision!r}")
        factor = IoxHttpServer.PRECISION_NS.get(precision or "ns", 1)
        if factor != 1:
            body = _scale_lp_timestamps(body, factor)
        try:
            n = self.server.write_lp(db, body.decode("utf-8"))
        except GrpcStatusError as e:
            status = {
                "NotFound": 404,
                "Unavailable": 503,
                "ResourceExhausted": 429,
            }.get(e.code, 400)
            raise _HttpError(status, e.message)
        self.metrics["ingest_lines_total"] += n
        self.metrics["ingest_points_bytes_total"] += len(body)
        # body is already ns-scaled here; forward without precision
        self.subscriptions.notify_write(db, body, None)

    def handle_query(self, name: str, q: str, fmt: str) -> tuple[bytes, str]:
        from influxdb_iox_spark.http_api import (
            QUERY_FORMATS,
            _HttpError,
            render_query_result,
        )

        md = self.server.databases.get(name)
        if md is None:
            raise _HttpError(404, f"database {name!r} not found")
        if fmt not in QUERY_FORMATS:
            raise _HttpError(400, f"unknown format {fmt!r}")
        df = md.database.query(q)
        rows = df.limit(self.max_rows + 1).collect()
        if len(rows) > self.max_rows:
            raise _HttpError(
                413,
                f"result exceeds max_rows={self.max_rows}; "
                "add a LIMIT clause or page the query",
            )
        return render_query_result(df.columns, rows, fmt)

    def render_metrics(self) -> bytes:
        out = []
        for name, v in sorted(self.metrics.items()):
            out.append(f"# TYPE {name} counter")
            out.append(f"{name} {v}")
        for (path, status), v in sorted(self.request_counts.items()):
            out.append(
                f'http_requests_total{{path="{path}",status="{status}"}} {v}'
            )
        for db_name, md in sorted(self.server.databases.items()):
            for table, fams in sorted(md.database.store.prune_metrics.items()):
                for fam, v in sorted(fams.items()):
                    out.append(
                        f'{fam}{{db_name="{db_name}",table_name="{table}"}} {v}'
                    )
        return ("\n".join(out) + "\n").encode()
