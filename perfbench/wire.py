"""Client side of the wire: HTTP (v2 write, v1 /query), h2c storage gRPC
and stock pyarrow Flight, plus the answer check for every read template.

One ``Conn`` is one client connection set; each client thread owns one.
"""

from __future__ import annotations

import http.client
import json
import math
import urllib.parse

from gen import MEASUREMENT, WINDOW_NS, Read

STORAGE = "influxdata.platform.storage.Storage"


class WireError(Exception):
    """A refused or failed request (non-2xx status or non-OK gRPC status)."""


def db_ids(db: str) -> tuple[int, int]:
    org, bucket = db.split("_")
    return int(org, 16), int(bucket, 16)


class Conn:
    def __init__(self, ready: dict, db: str):
        self.http_port = ready["http_port"]
        self.h2_port = ready["grpc_h2_port"]
        self.db = db
        self._h2 = None
        self._flight = None

    def close(self) -> None:
        if self._h2 is not None:
            self._h2.close()
        if self._flight is not None:
            self._flight.close()

    # -- HTTP ----------------------------------------------------------------
    def _http(self, method: str, path: str, body: bytes | None = None) -> bytes:
        c = http.client.HTTPConnection("127.0.0.1", self.http_port, timeout=120)
        try:
            c.request(method, path, body=body)
            r = c.getresponse()
            data = r.read()
        finally:
            c.close()
        if r.status // 100 != 2:
            raise WireError(f"HTTP {r.status}: {data[:300]!r}")
        return data

    def write(self, body: bytes) -> None:
        org, bucket = self.db.split("_")
        self._http("POST", f"/api/v2/write?org={org}&bucket={bucket}", body)

    def influxql(self, q: str) -> dict:
        qs = urllib.parse.urlencode({"db": self.db, "q": q, "epoch": "ns"})
        env = json.loads(self._http("GET", f"/query?{qs}"))
        res = env["results"][0]
        if "error" in res:
            raise WireError(res["error"])
        return res

    # -- h2c gRPC ------------------------------------------------------------
    def storage(self, method: str, req: dict, schema) -> list[dict]:
        from influxdb_iox_spark import storage_proto as sp
        from influxdb_iox_spark.protowire import decode_message, encode_message
        from influxdb_iox_spark.rpc_h2 import GrpcH2Client

        if self._h2 is None:
            self._h2 = GrpcH2Client(self.h2_port)
        org, bucket = db_ids(self.db)
        src_field = "tags_source" if method == "TagValues" else "read_source"
        req = {src_field: sp.make_read_source(org, bucket, partition_id=0xFFFFFFFF), **req}
        msgs, trailers = self._h2.call_raw(
            f"/{STORAGE}/{method}", encode_message(req, schema)
        )
        if int(trailers.get("grpc-status", -1)) != 0:
            raise WireError(f"gRPC {trailers}")
        out_schema = (
            sp.STRING_VALUES_RESPONSE if method == "TagValues" else sp.READ_RESPONSE
        )
        return [decode_message(m, out_schema) for m in msgs]

    def flight_sql(self, sql: str):
        import pyarrow.flight as fl

        from influxdb_iox_spark.rpc_flight import flight_ticket

        if self._flight is None:
            self._flight = fl.FlightClient(f"grpc://127.0.0.1:{self.h2_port}")
        return self._flight.do_get(fl.Ticket(flight_ticket(self.db, sql))).read_all()

    # -- the dashboard read templates ----------------------------------------
    def read(self, r: Read):
        """Send read ``r`` and return its answer in the model's shape."""
        return getattr(self, "_" + r.template)(*r.params)

    def _iql_mean_by_tag(self, lo, hi, tag):
        res = self.influxql(
            f"SELECT mean(f) FROM {MEASUREMENT} WHERE time >= {lo} AND time < {hi} "
            f"GROUP BY {tag}"
        )
        return {s["tags"][tag]: s["values"][0][-1] for s in res.get("series", [])}

    def _iql_last_where(self, lo, hi, tag, value):
        res = self.influxql(
            f"SELECT last(f) FROM {MEASUREMENT} WHERE {tag} = '{value}' "
            f"AND time >= {lo} AND time < {hi}"
        )
        series = res.get("series", [])
        return tuple(series[0]["values"][0]) if series else None

    def _iql_count_by_time(self, lo, hi, _tag):
        res = self.influxql(
            f"SELECT count(i) FROM {MEASUREMENT} WHERE time >= {lo} AND time < {hi} "
            "GROUP BY time(10m)"
        )
        return {t: n for s in res.get("series", []) for t, n in s["values"]}

    def _iql_tag_values(self, tag):
        res = self.influxql(f'SHOW TAG VALUES FROM {MEASUREMENT} WITH KEY = "{tag}"')
        return sorted(v for s in res.get("series", []) for _, v in s["values"])

    def _sql_group(self, lo, hi, tag):
        t = self.flight_sql(
            f"SELECT {tag} AS k, count(*) AS n, sum(i) AS s FROM {MEASUREMENT} "
            f"WHERE time >= {lo} AND time < {hi} GROUP BY {tag}"
        )
        return sorted(zip(*(t.column(c).to_pylist() for c in ("k", "n", "s"))))

    def _sql_raw(self, lo, hi, tag, value):
        t = self.flight_sql(
            f"SELECT time, f, i FROM {MEASUREMENT} WHERE {tag} = '{value}' "
            f"AND time >= {lo} AND time < {hi} ORDER BY time"
        )
        return list(zip(*(t.column(c).to_pylist() for c in ("time", "f", "i"))))

    def _tag_pred(self, tag, value) -> dict:
        from influxdb_iox_spark import storage_proto as sp

        return {"root": {
            "node_type": sp.NT_COMPARISON, "comparison": sp.CMP_EQUAL,
            "children": [
                {"node_type": sp.NT_TAG_REF, "tag_ref_value": tag.encode()},
                {"node_type": sp.NT_LITERAL, "string_value": value},
            ],
        }}

    def _rpc_read_filter(self, lo, hi, tag, value):
        from influxdb_iox_spark import storage_proto as sp

        resp = self.storage("ReadFilter", {
            "range": {"start": lo, "end": hi},
            "predicate": self._tag_pred(tag, value),
        }, sp.READ_FILTER_REQUEST)
        return series_points(resp)

    def _rpc_read_group(self, lo, hi, tag, value):
        from influxdb_iox_spark import storage_proto as sp

        resp = self.storage("ReadGroup", {
            "range": {"start": lo, "end": hi},
            "predicate": self._tag_pred(tag, value),
            "group_keys": ["t0"], "group": sp.GROUP_BY,
            "aggregate": {"type": sp.AGG_NAMES.index("count")},
        }, sp.READ_GROUP_REQUEST)
        return {k: sum(v for _, v in pts) for k, pts in series_points(resp).items()}

    def _rpc_window_agg(self, lo, hi, tag, value):
        from influxdb_iox_spark import storage_proto as sp

        resp = self.storage("ReadWindowAggregate", {
            "range": {"start": lo, "end": hi},
            "predicate": self._tag_pred(tag, value),
            "window_every": WINDOW_NS,
            "aggregate": [{"type": sp.AGG_NAMES.index("count")}],
        }, sp.READ_WINDOW_AGGREGATE_REQUEST)
        # each point carries its window's stop time; key by window start
        return {
            k: {t - WINDOW_NS: v for t, v in pts}
            for k, pts in series_points(resp).items()
        }

    def _rpc_tag_values(self, tag):
        from influxdb_iox_spark import storage_proto as sp

        resp = self.storage(
            "TagValues", {"tag_key": tag.encode()}, sp.TAG_VALUES_REQUEST
        )
        return sorted(v.decode() for m in resp for v in m.get("values", []))


def series_points(resp: list[dict]) -> dict[tuple, list]:
    """ReadResponse frames -> {(series tags, field): [(time, value)]}."""
    out: dict[tuple, list] = {}
    key = None
    for msg in resp:
        for fr in msg.get("frames", []):
            if fr.get("series") is not None:
                tags = {t["key"].decode(): t["value"].decode()
                        for t in fr["series"].get("tags", [])}
                fld = tags.pop("_field")
                tags.pop("_measurement")
                key = (tuple(sorted(tags.items())), fld)
                out.setdefault(key, [])
            else:
                for kind in ("float_points", "integer_points"):
                    p = fr.get(kind)
                    if p is not None:
                        out[key].extend(zip(p.get("timestamps", []), p.get("values", [])))
    return out


def same(a, b) -> bool:
    """Equality with a relative 1e-9 tolerance on floats (sums and means
    are accumulated in another order than the model's)."""
    if isinstance(a, float) or isinstance(b, float):
        return (
            isinstance(a, (int, float)) and isinstance(b, (int, float))
            and math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
        )
    if isinstance(a, dict) and isinstance(b, dict):
        return a.keys() == b.keys() and all(same(a[k], b[k]) for k in a)
    if isinstance(a, (list, tuple)) and isinstance(b, (list, tuple)):
        return len(a) == len(b) and all(same(x, y) for x, y in zip(a, b))
    return a == b
