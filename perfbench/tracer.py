"""Span recorder, Spark counter harvest and per-layer metrics.

The launcher wraps public functions of the server's layers with
``Recorder.wrap``; each call becomes a span (name, start, end, parent,
thread, label).  Spans are kept in memory and written out when the run
ends.  A span without a parent in its thread is a *root*: it also records
the Spark job ids started inside it, so jobs, stages, tasks, executor time
and shuffle bytes can be attributed to the op that caused them (ops run
one at a time in a traced run).

``layer_metrics(trace)`` turns one trace JSON into every per-layer metric,
so each number can be reproduced from the file:

    python perfbench/tracer.py perfbench_out/trace-dashboard-1.json
"""

from __future__ import annotations

import bisect
import contextlib
import functools
import json
import statistics
import sys
import threading
import time


class Recorder:
    def __init__(self, spark=None):
        self.spark = spark
        self.enabled = False
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()

    # -- recording ---------------------------------------------------------
    def _jobs(self) -> int:
        return self.spark.sparkContext._jsc.sc().dagScheduler().numTotalJobs()

    def _open(self, name: str, label) -> tuple[dict, list]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        span = {
            "name": name, "label": label, "start": time.monotonic(),
            "end": None, "thread": threading.get_ident(),
            "parent": stack[-1]["id"] if stack else None,
        }
        if not stack and self.spark is not None:
            span["jobs"] = [self._jobs(), None]
        with self._lock:
            span["id"] = len(self.spans)
            self.spans.append(span)
        stack.append(span)
        return span, stack

    def _close(self, span: dict, stack: list) -> None:
        stack.pop()
        if "jobs" in span:
            span["jobs"][1] = self._jobs()
        span["end"] = time.monotonic()

    @contextlib.contextmanager
    def span(self, name: str, label=None):
        """A span around the launcher's own calls."""
        if not self.enabled:
            yield
            return
        span, stack = self._open(name, label)
        try:
            yield
        finally:
            self._close(span, stack)

    def wrap(self, owner, attr: str, name: str, *, label=None,
             consume: bool = False, count=None) -> None:
        """Replace ``owner.attr`` with a spanned twin.

        ``consume`` drains a returned iterator inside the span (the
        callers list it at once); ``count(result)`` stores a count on the
        span; ``label(args)`` names the call (e.g. the RPC method).
        """
        fn = getattr(owner, attr)
        rec = self

        @functools.wraps(fn)
        def spanned(*args, **kwargs):
            if not rec.enabled:
                return fn(*args, **kwargs)
            span, stack = rec._open(name, label(args) if label else None)
            try:
                out = fn(*args, **kwargs)
                if consume:
                    out = iter(list(out))
                if count is not None:
                    span["n"] = count(out)
                return out
            finally:
                rec._close(span, stack)

        setattr(owner, attr, spanned)

    # -- Spark counters ----------------------------------------------------
    def harvest(self) -> dict[str, dict]:
        """Per-job counters from the JVM status store, for every job id a
        root span saw: {job_id: {stages, tasks, run_ms, shuffle_bytes}}."""
        from py4j.protocol import Py4JJavaError

        sc = self.spark.sparkContext._jsc.sc()
        sc.listenerBus().waitUntilEmpty()
        store = sc.statusStore()
        ids = sorted({
            j for s in self.spans if s.get("jobs") and s["jobs"][1] is not None
            for j in range(*s["jobs"])
        })
        out: dict[str, dict] = {}
        for jid in ids:
            rec = {"stages": 0, "tasks": 0, "run_ms": 0, "shuffle_bytes": 0}
            try:
                seq = store.job(jid).stageIds()
            except Py4JJavaError:  # evicted or never registered: leave zeros
                out[str(jid)] = rec
                continue
            for k in range(seq.size()):
                attempts = store.stageData(seq.apply(k), False, None, False, None)
                for a in range(attempts.size()):
                    sd = attempts.apply(a)
                    if str(sd.status()) != "COMPLETE":
                        continue
                    rec["stages"] += 1
                    rec["tasks"] += sd.numTasks()
                    rec["run_ms"] += sd.executorRunTime()
                    rec["shuffle_bytes"] += sd.shuffleWriteBytes()
            out[str(jid)] = rec
        return out


def install(rec: Recorder) -> None:
    """Wrap each layer's public entry point where its caller looks it up."""
    from influxdb_iox_spark import database, rpc_h2, rpc_management, rpc_storage
    from influxdb_iox_spark.influxql import planner, v1_api
    from influxdb_iox_spark.sources import store
    from influxdb_iox_spark.streaming import ingest

    w = rec.wrap
    # roots: one per served op
    w(rpc_management.IoxMultiDbHttpServer, "handle_v1_query", "http_api.v1_query")
    w(rpc_management.IoxMultiDbHttpServer, "handle_write", "http_api.write")
    w(rpc_storage.StorageService, "call", "rpc_storage.call",
      label=lambda a: a[1], consume=True)
    w(rpc_h2.GrpcH2Server, "_flight_call", "rpc_h2.flight_call",
      label=lambda a: a[1])
    w(rpc_management.IoxServer, "run_lifecycle", "lifecycle.sweep")
    # layers below the roots
    w(v1_api, "run_statements", "influxql.run_statements")
    w(v1_api, "plan_select_with_tags", "influxql.plan")
    w(planner, "plan_select", "influxql.plan")
    w(database.Database, "query", "database.query")
    w(rpc_h2, "flight_data_messages", "rpc_h2.encode")
    w(store.TableStore, "scan", "store.scan")
    w(store.TableStore, "prune_chunks", "store.prune_chunks", count=len)
    w(store, "deduplicate", "dedup.deduplicate")
    w(rpc_management.IoxServer, "write_lp", "server.write_lp")
    w(rpc_management, "parse_lines", "line_protocol.parse", consume=True)
    w(ingest.LineProtocolIngest, "parse_lines_df", "ingest.parse_df")
    w(ingest.LineProtocolIngest, "write_parsed", "ingest.write_parsed")
    w(store.TableStore, "register_chunks", "store.register")


# -- analysis ----------------------------------------------------------------


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> its duration minus the part its children cover."""
    kids: dict[int, list] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in sorted(kids.get(s["id"], [])):
            lo, hi = max(lo, s["start"]), min(hi, s["end"])
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def attach_ops(trace: dict) -> None:
    """Give each server span the client op whose interval holds its root."""
    ops = sorted(trace["ops"], key=lambda o: o["start"])
    by_id = {s["id"]: s for s in trace["spans"]}
    starts = [o["start"] for o in ops]
    for s in trace["spans"]:
        root = s
        while root["parent"] is not None:
            root = by_id[root["parent"]]
        k = bisect.bisect_right(starts, root["start"]) - 1
        s["op"] = ops[k]["id"] if k >= 0 and root["start"] <= ops[k]["end"] else None


def _med(xs) -> float:
    return statistics.median(xs) if xs else 0.0


#: per-layer span metrics: metric name -> span name (per-op sum, median)
SPAN_MS = {
    "influxql.run_statements_ms": "influxql.run_statements",
    "influxql.plan_ms": "influxql.plan",
    "database.query_ms": "database.query",
    "rpc_storage.call_ms": "rpc_storage.call",
    "rpc_h2.encode_ms": "rpc_h2.encode",
    "store.scan_ms": "store.scan",
    "server.write_lp_ms": "server.write_lp",
    "line_protocol.parse_ms": "line_protocol.parse",
    "ingest.parse_df_ms": "ingest.parse_df",
    "ingest.write_parsed_ms": "ingest.write_parsed",
    "store.register_ms": "store.register",
    "lifecycle.sweep_ms": "lifecycle.sweep",
}
CLIENT_P50 = {
    "http_api.influxql_p50_ms": "influxql",
    "rpc_h2.flight_sql_p50_ms": "flight_sql",
    "rpc_h2.storage_p50_ms": "storage",
}
SPARK = ("jobs", "stages", "tasks", "run_ms", "shuffle_bytes")
SPARK_NAMES = {
    "jobs": "spark.jobs_per_op", "stages": "spark.stages_per_op",
    "tasks": "spark.tasks_per_op", "run_ms": "spark.executor_run_ms_per_op",
    "shuffle_bytes": "spark.shuffle_bytes_per_op",
}


def op_counters(trace: dict) -> dict:
    """Op id -> summed Spark counters of its root spans."""
    jobs = trace["jobs"]
    out: dict = {}
    for s in trace["spans"]:
        if s.get("jobs") is None or s.get("op") is None:
            continue
        c = out.setdefault(s["op"], dict.fromkeys(SPARK, 0))
        for j in range(*s["jobs"]):
            c["jobs"] += 1
            for k in SPARK[1:]:
                c[k] += jobs.get(str(j), {}).get(k, 0)
    return out


def layer_metrics(trace: dict, batch_queries=()) -> dict[str, dict]:
    """Every per-layer metric from one trace (see README for the table)."""
    attach_ops(trace)
    spans = trace["spans"]
    ops = trace["ops"]
    spans = [s for s in spans if s["op"] is not None]  # spans outside any op
    selft = self_times(spans)
    per_op: dict[str, dict] = {}
    for s in spans:
        d = per_op.setdefault(s["name"], {})
        d[s["op"]] = d.get(s["op"], 0.0) + (s["end"] - s["start"])
    m: dict[str, tuple] = {}
    for metric, span in SPAN_MS.items():
        m[metric] = (_med(list(per_op.get(span, {}).values())) * 1e3, "ms")
    for metric, frontend in CLIENT_P50.items():
        lat = [o["end"] - o["start"] for o in ops if o.get("frontend") == frontend]
        m[metric] = (_med(lat) * 1e3, "ms")
    # client write wall time minus the server's write_lp span
    wl = per_op.get("server.write_lp", {})
    m["http_api.write_self_ms"] = (_med([
        (o["end"] - o["start"] - wl[o["id"]]) for o in ops
        if o["kind"] == "write" and o["id"] in wl
    ]) * 1e3, "ms")
    scans = [s for s in spans if s["name"] == "store.scan"]
    pruned = [s for s in spans if s["name"] == "store.prune_chunks"]
    dedups = [s for s in spans if s["name"] == "dedup.deduplicate"]
    n_scan = len(scans)
    m["store.chunks_per_scan"] = (
        sum(s.get("n", 0) for s in pruned) / n_scan if n_scan else 0.0, "count")
    m["dedup.calls_per_scan"] = (len(dedups) / n_scan if n_scan else 0.0, "count")
    sweeps = [o for o in ops if o["kind"] == "lifecycle"]
    m["lifecycle.sweeps"] = (len(sweeps), "count")
    m["lifecycle.chunks_before"] = (
        statistics.fmean(o["chunks_before"] for o in sweeps) if sweeps else 0.0, "count")
    m["lifecycle.chunks_after"] = (
        statistics.fmean(o["chunks_after"] for o in sweeps) if sweeps else 0.0, "count")
    counters = op_counters(trace)
    units = {"run_ms": "ms", "shuffle_bytes": "B"}
    prim = [o for o in ops if o["kind"] == trace["unit"]]  # the foreground op
    for k in SPARK:
        vals = [counters.get(o["id"], {}).get(k, 0) for o in prim]
        m[SPARK_NAMES[k]] = (statistics.fmean(vals) if vals else 0.0, units.get(k, "count"))
    by_kind: dict[str, list] = {}
    for o in ops:
        by_kind.setdefault(o.get("template") or o.get("query") or o["kind"], []).append(o)
    trace["spark_by_kind"] = {
        kind: {k: statistics.fmean(counters.get(o["id"], {}).get(k, 0) for o in os_)
               for k in SPARK}
        for kind, os_ in sorted(by_kind.items())
    }
    for q in batch_queries:
        for phase in ("build", "exec"):
            name = f"batch.{q}.{phase}"
            ss = [s for s in spans if s["name"] == name]
            m[f"{name}_ms"] = (_med([s["end"] - s["start"] for s in ss]) * 1e3, "ms")
            jobs = [s["jobs"][1] - s["jobs"][0] for s in ss]
            m[f"{name}_jobs"] = (statistics.fmean(jobs) if jobs else 0.0, "count")
    m["trace.overhead_pct"] = (trace.get("overhead_pct", 0.0), "%")
    # Blocking-path accounting: an op's client latency is the self time of
    # its server spans plus the client/wire remainder outside any root span.
    self_ms: dict[str, float] = {}
    server_ms: dict[int, float] = {}
    for s in spans:
        self_ms[s["name"]] = self_ms.get(s["name"], 0.0) + selft[s["id"]] * 1e3
        if s["parent"] is None:
            server_ms[s["op"]] = server_ms.get(s["op"], 0.0) + (s["end"] - s["start"]) * 1e3
    trace["self_ms_total"] = dict(sorted(self_ms.items(), key=lambda kv: -kv[1]))
    trace["path_p50_ms"] = {
        "client": _med([(o["end"] - o["start"]) * 1e3 for o in prim]),
        "server_spans": _med([server_ms.get(o["id"], 0.0) for o in prim]),
        "wire_and_client": _med([
            (o["end"] - o["start"]) * 1e3 - server_ms.get(o["id"], 0.0) for o in prim
        ]),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


if __name__ == "__main__":
    with open(sys.argv[1]) as f:
        t = json.load(f)
    metrics = layer_metrics(t, t.get("batch_queries", ()))
    print(json.dumps({k: t[k] for k in ("spark_by_kind", "self_ms_total", "path_p50_ms")}
                     | {"metrics": metrics}, indent=1))
