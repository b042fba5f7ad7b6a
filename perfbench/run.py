"""Serving-path benchmark: one command per workload.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 18 --trace 0

Run from the repository root.  It starts the server (``launcher.py``) in
its own process, drives it from this process over HTTP, h2c gRPC and
Arrow Flight (or the control channel, for declared queries), checks every
answer, and prints the result as one JSON line, last on stdout.  With
``--trace 1`` it prints the per-layer metrics instead of the end-to-end
ones and writes the trace to ``perfbench_out/``.  See README.md.
"""

from __future__ import annotations

import argparse
import contextlib
import itertools
import json
import math
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import threading
import time
from multiprocessing.connection import Client

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import tracer  # noqa: E402
from wire import Conn, same  # noqa: E402

DB = "0000000000000001_0000000000000002"  # org 1, bucket 2
#: Spark cores and client threads per workload: together 3 of the 4 cores
#: (nproc), which leaves one to the JIT, GC and the server's Python threads
#: (ingest's third thread only triggers sweeps); more Spark cores made no
#: op faster, only the runs noisier
CORES = {"dashboard": 1, "ingest": 1, "batch": 2}
THREADS = {"dashboard": 2, "ingest": 3, "batch": 1}
SWEEP_EVERY = 4  # ingest: one lifecycle sweep per this many accepted writes
#: The timed window is whole rounds (dashboard: the 10 read templates;
#: ingest: SWEEP_EVERY writes and reads and a sweep; batch: a pass), as
#: many as ``--seconds`` holds at these nominal round times (4-core box):
#: every run of a seed does the same work, so no run ends mid-round.
ROUND_S = {"dashboard": 3.3, "ingest": 5.0, "batch": 8.5}
#: ... but on a host slowed down by other tenants no round starts after
#: this many times ``--seconds``, so a run stays within its time budget
MAX_WINDOW = 1.3
#: traced runs: a fixed number of rounds, so counts repeat exactly
TRACE_ROUNDS = {"dashboard": 1, "ingest": 2, "batch": 1}
BATCH_QUERIES = (
    "tpch_q3_shipping_priority", "dedup_last_non_null", "rpc_read_filter",
    "influxql_ema", "events_lttb_downsample", "minhash_near_dup",
    "doc_dsir_weights", "doc_dup_span_removal",
)
MARKER_Q = f"SELECT last(seq) FROM {gen.INGEST_TABLE} WHERE host = 'marker'"
RUN_LIMIT_S = 175


# -- the server process ---------------------------------------------------------


class Server:
    """Handle on the launcher process and its control channel."""

    def __init__(self, tmp: str, cores: int, data_dir: str | None = None):
        self.tmp = tmp
        self.authkey = os.urandom(16)
        env = dict(os.environ)
        # Spark's Python workers import the package from the checkout
        env["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, env.get("PYTHONPATH")) if p
        )
        env["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
        env["TMPDIR"] = tmp
        # every JVM the server starts keeps its temp files in the run's dir
        env["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
        env["PERFBENCH_AUTHKEY"] = self.authkey.hex()
        cmd = [sys.executable, os.path.join(HERE, "launcher.py"),
               "--tmp", tmp, "--cores", str(cores)]
        if data_dir:
            cmd += ["--data-dir", data_dir]
        self.log_path = os.path.join(tmp, "launcher.log")
        with open(self.log_path, "wb") as log:
            self.proc = subprocess.Popen(
                cmd, cwd=ROOT, env=env, stdout=log, stderr=subprocess.STDOUT,
                stdin=subprocess.DEVNULL, start_new_session=True,
            )
        self.ready: dict = {}
        self._local = threading.local()
        self._conns: list = []

    def wait_ready(self, timeout: float = 150) -> dict:
        path = os.path.join(self.tmp, "ready.json")
        deadline = time.monotonic() + timeout
        while not os.path.exists(path):
            if self.proc.poll() is not None or time.monotonic() > deadline:
                raise RuntimeError("server did not start:\n" + self.log_tail())
            time.sleep(0.05)
        with open(path) as f:
            self.ready = json.load(f)
        return self.ready

    def log_tail(self, n: int = 4000) -> str:
        with open(self.log_path, "rb") as f:
            return f.read()[-n:].decode(errors="replace")

    def call(self, *cmd):
        conn = getattr(self._local, "conn", None)
        if conn is None:
            conn = Client(("127.0.0.1", self.ready["control_port"]), authkey=self.authkey)
            self._local.conn = conn
            self._conns.append(conn)
        conn.send(cmd)
        status, value = conn.recv()
        if status != "ok":
            raise RuntimeError(f"control {cmd[0]} failed: {value}")
        return value

    def peak_rss_mb(self) -> float:
        """VmHWM of the server process plus its JVM child."""
        pids = [self.proc.pid] + [
            p for p in _pids() if _stat(p)[1] == self.proc.pid and _stat(p)[0] == "java"
        ]
        kb = 0
        for p in pids:
            try:
                with open(f"/proc/{p}/status") as f:
                    for line in f:
                        if line.startswith("VmHWM:"):
                            kb += int(line.split()[1])
            except OSError:
                pass
        return kb / 1024

    def cpu_s(self) -> float:
        """User plus system CPU seconds of every live process of the server's
        group: the server, its JVM and Spark's Python workers."""
        tick = os.sysconf("SC_CLK_TCK")
        total = 0
        for p in _pids():
            try:
                with open(f"/proc/{p}/stat") as f:
                    rest = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            if int(rest[2]) == self.proc.pid:
                total += int(rest[11]) + int(rest[12])
        return total / tick

    def stop(self) -> None:
        """Kill the server's process group: everything it kept lives in the
        run's temp dir, which the caller removes, so nothing needs a clean
        shutdown."""
        for conn in self._conns:
            conn.close()
        _kill_group(self.proc)


def _pids() -> list[int]:
    return [int(p) for p in os.listdir("/proc") if p.isdigit()]


def _stat(pid: int) -> tuple[str, int, int]:
    """(comm, ppid, pgrp) of a process, or ("", -1, -1) once it is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return "", -1, -1
    comm = s[s.index("(") + 1:s.rindex(")")]
    rest = s[s.rindex(")") + 2:].split()
    return comm, int(rest[1]), int(rest[2])


def _kill_group(proc: subprocess.Popen) -> None:
    """Kill every process of the server's group and wait until all ended."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    deadline = time.monotonic() + 10
    while [p for p in _pids() if _stat(p)[2] == proc.pid] and time.monotonic() < deadline:
        time.sleep(0.02)


# -- measurement helpers ----------------------------------------------------------


_op_ids = itertools.count()  # op ids are unique across phases


class Ops:
    """Client-side op records of one phase: kind, times, result, error."""

    def __init__(self):
        self.items: list[dict] = []
        self._lock = threading.Lock()

    def timed(self, kind: str, fn, **extra) -> dict:
        t0 = time.monotonic()
        try:
            out, err = fn(), None
        except Exception as e:  # a failed or refused op is counted, not raised
            out, err = None, f"{type(e).__name__}: {e}"
        rec = dict(kind=kind, start=t0, end=time.monotonic(), result=out,
                   error=err, **extra)
        with self._lock:
            rec["id"] = next(_op_ids)
            self.items.append(rec)
        return rec


class PairedOps(Ops):
    """The traced run's recorder.  Each read or query runs twice, once
    untraced (recorded in ``plain``) and once traced, the order alternating
    ABBA so both see the same warm-up; writes cannot be repeated and
    alternate instead.  Sweeps are always traced."""

    def __init__(self, srv, plain: Ops):
        super().__init__()
        self.srv = srv
        self.plain = plain
        self.pairs: list[tuple[dict, dict]] = []  # (untraced, traced)
        self._n = 0

    def _one(self, traced: bool, kind: str, fn, extra: dict) -> dict:
        self.srv.call("trace", traced)
        return Ops.timed(self if traced else self.plain, kind, fn, **extra)

    def timed(self, kind: str, fn, **extra) -> dict:
        traced_first = self._n % 4 in (1, 2)
        self._n += 1
        if kind == "lifecycle":
            return self._one(True, kind, fn, extra)
        if kind == "write":
            return self._one(traced_first, kind, fn, extra)
        recs = [self._one(t, kind, fn, extra) for t in (traced_first, not traced_first)]
        pair = (recs[1], recs[0]) if traced_first else (recs[0], recs[1])
        self.pairs.append(pair)
        return pair[1]

    def overhead_pct(self, unit: str, op_times) -> float:
        """Median traced/untraced ratio over the paired ops of ``unit``,
        else (writes) the ratio of the two medians."""
        ratios = [
            (t["end"] - t["start"]) / (p["end"] - p["start"]) - 1
            for p, t in self.pairs
            if p["kind"] == unit and p["error"] is None and t["error"] is None
        ]
        if ratios:
            return statistics.median(ratios) * 100
        base = pct(op_times(self.plain.items), .5)
        return (pct(op_times(self.items), .5) / base - 1) * 100 if base else 0.0


def pct(xs, q: float) -> float:
    """The q-quantile (0..1) of xs, linear interpolation."""
    xs = sorted(xs)
    if not xs:
        return 0.0
    k = (len(xs) - 1) * q
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def ms(xs) -> list[float]:
    return [x * 1e3 for x in xs]


def durations(ops: list[dict], kind: str) -> list[float]:
    """Seconds taken by each correct op of ``kind``."""
    return [o["end"] - o["start"] for o in ops if o["kind"] == kind and o["error"] is None]


def run_threads(*fns) -> None:
    """Run each function on its own thread and join them all."""
    ts = [threading.Thread(target=f) for f in fns]
    for t in ts:
        t.start()
    for t in ts:
        t.join()


# -- workloads --------------------------------------------------------------------


class Workload:
    """What the run loop asks of a workload; the defaults do nothing."""

    unit = ""  # the op kind that traces account per op
    deadline = math.inf  # the timed window starts no round after this

    def prepare(self) -> None:
        """Client-side inputs, made while the server starts."""

    def op_times(self, ops: list[dict]) -> list[float]:
        """Latencies of the foreground op, the one the end-to-end metrics
        are about: by default each correct op of ``unit``."""
        return durations(ops, self.unit)

    def op_p50_ms(self, ops: list[dict]) -> float:
        """The median latency of the foreground op."""
        return pct(ms(self.op_times(ops)), .5)

    def check(self, ops: list[dict]) -> None:
        """Mark each wrong answer in ``ops`` as an error."""

    def final_check(self, srv, ops: Ops) -> None:
        """Checks after the window, recorded as ops."""

    def metrics(self, ops: Ops, window: float, srv) -> dict:
        """Workload figures for the notes: name -> (value, unit, samples)."""
        return {}

    def close(self) -> None:
        pass


class Dashboard(Workload):
    """Read-only Grafana-style session over a preloaded, overlapping store."""

    unit = "read"

    def __init__(self, ctx):
        self.ctx = ctx
        self._next = 0
        self._lock = threading.Lock()

    def prepare(self) -> None:
        self.pre = gen.make_preload(self.ctx.seed, self.ctx.size)
        self.model = gen.AnswerModel(self.pre)
        self.reads = gen.session(self.ctx.seed, self.pre, rounds=400)

    def setup(self, srv: Server) -> None:
        """Preload over HTTP with one lifecycle sweep half-way, like a live
        database whose older chunks were compacted while new ones still
        overlap; a traced run traces this part (the write path and the
        lifecycle).  Then warm up."""
        srv.call("create_db", DB)
        self.conn = Conn(srv.ready, DB)
        load = self.ctx.load
        srv.call("trace", bool(self.ctx.trace))
        n = len(self.pre.batches)
        for k in range(n):
            load.timed("write", lambda k=k: self.conn.write(self.pre.body(k)), seq=k)
            if k == n // 2 - 1:
                load.timed("lifecycle", lambda: srv.call("lifecycle", DB))
        srv.call("trace", False)
        # warm-up: one untimed read of every template, checked like the rest
        self._clients(srv, self.ctx.warm, lambda k: k < len(gen.TEMPLATES))

    def _take(self, n: int) -> list:
        with self._lock:
            out = self.reads[self._next:self._next + n]
            self._next += n
        return out

    def _clients(self, srv, ops: Ops, more) -> None:
        """Closed loop on THREADS connections; each sends the session's next
        read while ``more(reads taken so far)`` holds."""
        start = self._next

        def client():
            conn = Conn(srv.ready, DB)
            try:
                while True:
                    with self._lock:
                        if not more(self._next - start):
                            return
                        r = self.reads[self._next]
                        self._next += 1
                    ops.timed("read", lambda: conn.read(r), read=r, frontend=r.frontend)
            finally:
                conn.close()

        run_threads(*[client] * THREADS["dashboard"])

    def run(self, srv, ops: Ops, n: int) -> None:
        """``n`` session rounds on THREADS connections."""
        t = len(gen.TEMPLATES)
        self._clients(srv, ops, lambda k: k < n * t and (
            k % t or time.monotonic() < self.deadline))

    def rounds(self, srv, ops: Ops, n: int) -> None:
        for r in self._take(n * len(gen.TEMPLATES)):
            ops.timed("read", lambda: self.conn.read(r), read=r, frontend=r.frontend)

    def check(self, ops: list[dict]) -> None:
        for o in ops:
            if (o["kind"] == "read" and o["error"] is None
                    and not same(o["result"], self.model.expected(o["read"]))):
                o["error"] = "wrong answer"

    def metrics(self, ops: Ops, window: float, srv) -> dict:
        """Client latency by frontend and by template, for the notes."""
        out = {}
        for key in ("frontend", "template"):
            groups: dict[str, list] = {}
            for o in ops.items:
                if o["kind"] == "read" and o["error"] is None:
                    name = o["frontend"] if key == "frontend" else o["read"].template
                    groups.setdefault(name, []).append(o["end"] - o["start"])
            for name, lat in sorted(groups.items()):
                out[f"{key}.{name}_p50_ms"] = (pct(ms(lat), .5), "ms", len(lat))
        return out

    def close(self) -> None:
        self.conn.close()


class Ingest(Workload):
    """Telegraf-style writer, a last-point reader and write-counted sweeps."""

    unit = "write"

    def __init__(self, ctx):
        self.ctx = ctx
        self.k = 0  # next write number; write 0 is the warm-up
        self.points = 0  # accepted non-marker points
        self.acked: list[tuple[float, int]] = [(0.0, -1)]  # (ack time, k)
        self.sent: list[tuple[float, int]] = []  # (send time, k)
        self._lock = threading.Condition()
        # Reads and sweeps take turns.  A read that overlaps a sweep can
        # fail with FILE_NOT_EXIST: compaction deletes retired chunk files
        # at once (TableStore.drop_chunks without defer_delete_seconds)
        # while the read's plan still lists them.  A read that waits for a
        # sweep is timed from when it was due, so the stall still shows.
        self._gate = threading.Condition()
        self._reads = 0
        self._sweep_pending = False

    def _write(self, ops: Ops):
        k = self.k
        self.k += 1
        body, n = gen.ingest_batch(self.ctx.seed, k, self.ctx.size)
        with self._lock:
            self.sent.append((time.monotonic(), k))
        rec = ops.timed("write", lambda: self.conn.write(body), seq=k, points=n)
        if rec["error"] is None:
            with self._lock:
                self.points += n - 1
                self.acked.append((rec["end"], k))
                self._lock.notify_all()
        return rec

    @contextlib.contextmanager
    def _read_turn(self):
        with self._gate:
            self._gate.wait_for(lambda: not self._sweep_pending)
            self._reads += 1
        try:
            yield
        finally:
            with self._gate:
                self._reads -= 1
                self._gate.notify_all()

    @contextlib.contextmanager
    def _sweep_turn(self):
        with self._gate:
            self._sweep_pending = True  # new reads wait from here on
            self._gate.wait_for(lambda: self._reads == 0)
        try:
            yield
        finally:
            with self._gate:
                self._sweep_pending = False
                self._gate.notify_all()

    def _read(self, conn, ops: Ops):
        def q():
            with self._read_turn():
                res = conn.influxql(MARKER_Q)
            seq = res["series"][0]["values"][0][1] if res.get("series") else None
            return -1 if seq is None else seq  # -1: no marker visible

        return ops.timed("read", q, frontend="influxql")

    def _sweep(self, srv, ops: Ops):
        def sweep():
            with self._sweep_turn():
                return srv.call("lifecycle", DB)

        return ops.timed("lifecycle", sweep)

    def setup(self, srv: Server) -> None:
        srv.call("create_db", DB)
        self.conn = Conn(srv.ready, DB)
        warm = self.ctx.warm
        self._write(warm)
        self._read(self.conn, warm)
        self._sweep(srv, warm)

    def run(self, srv, ops: Ops, n: int) -> None:
        """``n`` rounds, concurrently: the writer posts SWEEP_EVERY * n
        accepted writes, the reader reads once after each acknowledged
        write, and the sweeper sweeps after every SWEEP_EVERY of them."""
        start = len(self.acked)
        total = n * SWEEP_EVERY

        def acked() -> int:
            return len(self.acked) - start

        def writer():
            for _ in range(2 * total):  # failed writes are retried, within bounds
                if acked() >= total or (
                        acked() % SWEEP_EVERY == 0 and time.monotonic() > self.deadline):
                    break
                self._write(ops)
            with self._lock:
                self.writing = False
                self._lock.notify_all()

        def reader():
            conn = Conn(srv.ready, DB)
            try:
                for i in range(1, total + 1):
                    with self._lock:
                        self._lock.wait_for(lambda: acked() >= i or not self.writing)
                        if acked() < i:
                            return
                    self._read(conn, ops)
            finally:
                conn.close()

        def sweeper():
            for i in range(1, n + 1):
                with self._lock:
                    self._lock.wait_for(
                        lambda: acked() >= i * SWEEP_EVERY or not self.writing)
                    if acked() < i * SWEEP_EVERY:
                        return
                self._sweep(srv, ops)

        self.writing = True
        run_threads(writer, reader, sweeper)

    def rounds(self, srv, ops: Ops, n: int) -> None:
        for _ in range(n):
            for _ in range(SWEEP_EVERY):
                self._write(ops)
                self._read(self.conn, ops)
            self._sweep(srv, ops)

    def check(self, ops: list[dict]) -> None:
        """A read must see at least the last write acked before it started
        and at most the last write sent before it ended."""
        for o in ops:
            if o["kind"] != "read" or o["error"] is not None:
                continue
            lo = max(k for t, k in self.acked if t <= o["start"])
            hi = max((k for t, k in self.sent if t <= o["end"]), default=-1)
            if not lo <= o["result"] <= hi:
                o["error"] = f"wrong answer: seq {o['result']} outside [{lo}, {hi}]"

    def final_check(self, srv, ops: Ops) -> None:
        """Every accepted point is stored exactly once."""
        def count():
            res = self.conn.influxql(f"SELECT count(usage) FROM {gen.INGEST_TABLE}")
            got = res["series"][0]["values"][0][-1]
            if got != self.points:
                raise ValueError(
                    f"wrong answer: {got} points stored, {self.points} accepted")

        ops.timed("check", count)

    def metrics(self, ops: Ops, window: float, srv) -> dict:
        reads = [o for o in ops.items if o["kind"] == "read" and o["error"] is None]
        writes = [o for o in ops.items if o["kind"] == "write" and o["error"] is None]
        sweeps = [o for o in ops.items if o["kind"] == "lifecycle" and o["error"] is None]
        # visibility: from sending write k to the first read answer holding k
        visible = []
        for w in writes:
            first = min((r["end"] for r in reads
                         if r["result"] >= w["seq"] and r["start"] >= w["start"]),
                        default=None)
            if first is not None:
                visible.append(first - w["start"])
        def stalled_by_sweep(r):
            return any(s["start"] < r["end"] and r["start"] < s["end"] for s in sweeps)

        stalled = [r["end"] - r["start"] for r in reads if stalled_by_sweep(r)]
        clear = [r["end"] - r["start"] for r in reads if not stalled_by_sweep(r)]
        store_bytes = srv.call("store_bytes", DB)
        return {
            "read_p50_ms": (pct(ms(r["end"] - r["start"] for r in reads), .5), "ms", len(reads)),
            "read_p90_ms": (pct(ms(r["end"] - r["start"] for r in reads), .9), "ms", len(reads)),
            "points_per_s": (sum(w["points"] for w in writes) / window, "1/s", len(writes)),
            "visible_p50_ms": (pct(ms(visible), .5), "ms", len(visible)),
            "stored_bytes_per_point": (store_bytes / max(1, self.points), "B", self.points),
            "lifecycle.sweeps": (len(sweeps), "count", len(sweeps)),
            "lifecycle.stalled_read_p50_ms": (pct(ms(stalled), .5), "ms", len(stalled)),
            "lifecycle.clear_read_p50_ms": (pct(ms(clear), .5), "ms", len(clear)),
        }

    def close(self) -> None:
        self.conn.close()


def _norm(v):
    """Canonical cell value, as tests/test_oracle_parity.py normalises it."""
    import datetime
    import math

    import numpy as np
    import pandas as pd

    if isinstance(v, (pd.Timestamp, datetime.datetime, datetime.date)):
        return pd.Timestamp(v).isoformat()
    if isinstance(v, (np.ndarray, list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, np.generic):
        v = v.item()
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v + 0.0)
    return v


def normalize_pdf(pdf) -> tuple:
    pdf = pdf[sorted(pdf.columns)]
    rows = sorted(
        (tuple(_norm(v) for v in t) for t in pdf.itertuples(index=False, name=None)),
        key=repr,
    )
    return tuple(pdf.columns), tuple(rows)


class Batch(Workload):
    """Declared queries built and run to the noop sink, pass after pass.
    The foreground op is one pass over all queries: its time sums eight
    queries, which makes it steadier than any one of them."""

    unit = "query"

    def __init__(self, ctx):
        self.ctx = ctx
        self.data_dir = os.path.join(ctx.tmp, "batch_data")
        self.rng = random.Random(ctx.seed * 1_000_003 + 5)
        self.passes = 0

    def prepare(self) -> None:
        """Write the tables and compute the oracle answers."""
        import duckdb

        import __spark_entry__

        os.makedirs(self.data_dir)
        gen.write_batch_tables(self.ctx.seed, self.ctx.size, self.data_dir)
        con = duckdb.connect()
        for f in sorted(os.listdir(self.data_dir)):
            con.execute(
                f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                f"read_parquet('{os.path.join(self.data_dir, f)}')"
            )
        sql = __spark_entry__.oracle_sql()
        self.expected = {q: normalize_pdf(con.execute(sql[q]).df()) for q in BATCH_QUERIES}

    def _order(self) -> list[str]:
        order = list(BATCH_QUERIES)
        self.rng.shuffle(order)
        return order

    def setup(self, srv: Server) -> None:
        # warm-up pass doubles as the once-per-run oracle comparison
        for q in self._order():
            rec = self.ctx.warm.timed(
                "query", lambda q=q: srv.call("batch", q, "collect"), query=q)
            if rec["error"] is None and normalize_pdf(rec["result"]) != self.expected[q]:
                rec["error"] = f"wrong answer: {q} differs from the DuckDB oracle"
            rec["result"] = None

    def _pass(self, srv, ops: Ops) -> None:
        n = self.passes
        self.passes += 1
        for q in self._order():
            ops.timed("query", lambda q=q: srv.call("batch", q, "noop"), query=q, pass_no=n)

    def _passes(self, ops: list[dict]) -> list[list[dict]]:
        """The timed passes whose queries were all correct."""
        by_pass: dict[int, list] = {}
        for o in ops:
            if o["kind"] == "query" and "pass_no" in o:
                by_pass.setdefault(o["pass_no"], []).append(o)
        return [p for p in by_pass.values() if all(o["error"] is None for o in p)]

    def op_times(self, ops: list[dict]) -> list[float]:
        """Seconds taken by each correct pass: the sum of its query times."""
        return [sum(o["end"] - o["start"] for o in p) for p in self._passes(ops)]

    def op_p50_ms(self, ops: list[dict]) -> float:
        """The time of a pass whose every query takes its median time over
        the window's passes.  A burst of load from another tenant slows one
        query of one pass, which this drops; the median of three whole
        passes keeps it whenever a second pass is slowed too."""
        lat: dict[str, list] = {}
        for p in self._passes(ops):
            for o in p:
                lat.setdefault(o["query"], []).append(o["end"] - o["start"])
        return sum(pct(ms(xs), .5) for xs in lat.values())

    def rounds(self, srv, ops: Ops, n: int) -> None:
        for _ in range(n):
            if time.monotonic() > self.deadline:
                break
            self._pass(srv, ops)

    run = rounds  # one client: the timed window runs passes one at a time

    def metrics(self, ops: Ops, window: float, srv) -> dict:
        """Latency of each query, for the notes."""
        out = {}
        for q in BATCH_QUERIES:
            lat = [o["end"] - o["start"] for o in ops.items
                   if o.get("query") == q and o["error"] is None]
            out[f"query.{q}_p50_ms"] = (pct(ms(lat), .5), "ms", len(lat))
        return out


WORKLOADS = {"dashboard": Dashboard, "ingest": Ingest, "batch": Batch}


# -- the run ----------------------------------------------------------------------


class Ctx:
    def __init__(self, args, tmp):
        self.seed = args.seed
        self.size = gen.SIZES[args.size]
        self.tmp = tmp
        self.trace = args.trace
        self.load = Ops()  # data loading in setup, traced in a traced run
        self.warm = Ops()


def run(args) -> tuple[dict, list[str]]:
    os.makedirs(os.path.join(ROOT, ".perfbench_tmp"), exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=os.path.join(ROOT, ".perfbench_tmp"))
    load0 = os.getloadavg()
    t_start = time.monotonic()
    ctx = Ctx(args, tmp)
    srv = None

    def give_up():  # a hung server must not outlive the run's time limit
        print(f"perfbench: run exceeded {RUN_LIMIT_S} s", file=sys.stderr, flush=True)
        if srv is not None:
            _kill_group(srv.proc)
        shutil.rmtree(tmp, ignore_errors=True)
        os._exit(3)

    timer = threading.Timer(RUN_LIMIT_S, give_up)
    timer.daemon = True
    timer.start()
    try:
        wl = WORKLOADS[args.workload](ctx)
        srv = Server(tmp, CORES[args.workload], getattr(wl, "data_dir", None))
        wl.prepare()  # client-side inputs, made while the server starts
        srv.wait_ready()
        ready_s = time.monotonic() - t_start
        wl.setup(srv)
        setup_s = time.monotonic() - t_start
        notes = [
            f"# workload={args.workload} seed={args.seed} size={args.size} "
            f"trace={args.trace} nproc={len(os.sched_getaffinity(0))} "
            f"master={srv.ready['master']} client_threads={THREADS[args.workload]} "
            f"loadavg_start={load0[0]:.2f} server_ready_s={ready_s:.2f}"
        ]
        if args.trace:
            metrics, ops = traced(args, wl, srv, notes)
        else:
            ops = Ops()
            n = max(1, math.ceil(args.seconds / ROUND_S[args.workload]))
            cpu0, t0 = srv.cpu_s(), time.monotonic()
            wl.deadline = t0 + MAX_WINDOW * args.seconds
            wl.run(srv, ops, n)
            window = max(o["end"] for o in ops.items) - t0
            cpu = srv.cpu_s() - cpu0
        wl.final_check(srv, ops)
        # a traced run's untraced twins are checked and counted too
        all_ops = (ctx.load.items + ctx.warm.items + ops.items
                   + getattr(ops, "plain", Ops()).items)
        wl.check(all_ops)
        if not args.trace:
            metrics = untraced(wl, srv, ops, window, setup_s, cpu, notes)
        wl.close()
    finally:
        if srv is not None:
            srv.stop()
        shutil.rmtree(tmp, ignore_errors=True)
        timer.cancel()
    failed = [o for o in all_ops if o["error"] is not None]
    for o in failed[:5]:
        notes.append(f"# failed {o['kind']}: {o['error'][:300]}")
    notes.append(f"# loadavg_end={os.getloadavg()[0]:.2f} attempted={len(all_ops)} "
                 f"failed={len(failed)} error_rate={len(failed) / len(all_ops):.4f}")
    return {
        "correct": not failed,
        "attempted": len(all_ops),
        "failed": len(failed),
        "metrics": metrics,
    }, notes


def untraced(wl, srv, ops: Ops, window: float, setup_s: float, cpu: float,
             notes) -> dict:
    lat = ms(wl.op_times(ops.items))
    m = {
        "setup_s": (setup_s, "s", 1),
        "op_p50_ms": (wl.op_p50_ms(ops.items), "ms", len(lat)),
        "ops_per_s": (len(lat) / window, "1/s", len(lat)),
        "cpu_ms_per_op": (cpu * 1e3 / max(1, len(lat)), "ms", len(lat)),
        "peak_rss_mb": (srv.peak_rss_mb(), "MB", 1),
    }
    # too few samples per run for a bounded tail metric; printed for reading
    extra = {"op_p90_ms": (pct(lat, .9), "ms", len(lat)),
             "window_s": (window, "s", 1), **wl.metrics(ops, window, srv)}
    for name, (v, unit, n) in {**m, **extra}.items():
        notes.append(f"# {name}={v:.4f} {unit} (n={n})")
    return {k: {"value": v, "unit": u} for k, (v, u, _) in m.items()}


def traced(args, wl, srv, notes) -> tuple[dict, Ops]:
    """A fixed number of rounds, one op at a time, each op untraced and
    traced (``PairedOps``); per-layer metrics from the trace, which is also
    written to perfbench_out/."""
    plain = Ops()
    ops = PairedOps(srv, plain)
    wl.rounds(srv, ops, TRACE_ROUNDS[args.workload])
    dump = srv.call("trace_dump")

    def p50(o):
        return pct(ms(wl.op_times(o.items)), .5)

    base, with_trace = p50(plain), p50(ops)
    traced_ops = wl.ctx.load.items + ops.items
    trace = {
        "workload": args.workload, "seed": args.seed, "size": args.size,
        "batch_queries": BATCH_QUERIES, "unit": wl.unit,
        "overhead_pct": ops.overhead_pct(wl.unit, wl.op_times),
        "untraced_p50_ms": base, "traced_p50_ms": with_trace,
        "ops": [{**{k: v for k, v in o.items() if k not in ("result", "read")},
                 **({"template": o["read"].template} if "read" in o else {})}
                for o in traced_ops],
        **dump,
    }
    for o, rec in zip(trace["ops"], traced_ops):
        if rec["kind"] == "lifecycle" and rec["error"] is None:
            o.update(rec["result"])
    metrics = tracer.layer_metrics(trace, BATCH_QUERIES)
    out_dir = os.path.join(ROOT, "perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"trace-{args.workload}-{args.seed}.json")
    with open(path, "w") as f:
        json.dump(trace, f)
    notes.append(f"# trace={os.path.relpath(path, ROOT)} untraced_p50_ms={base:.3f} "
                 f"traced_p50_ms={with_trace:.3f} overhead_pct={trace['overhead_pct']:.2f} "
                 f"untraced_ops={len(plain.items)} traced_ops={len(ops.items)}")
    path_ms = " ".join(f"{k}={v:.1f}" for k, v in trace["path_p50_ms"].items())
    notes.append(f"# {wl.unit} path p50 ms: {path_ms}")
    top = list(trace["self_ms_total"].items())[:6]
    notes.append("# self ms (total): " + " ".join(f"{k}={v:.0f}" for k, v in top))
    return metrics, ops


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=sorted(gen.SIZES), default="full")
    args = p.parse_args(argv)
    for need in ("influxdb_iox_spark", "__spark_entry__.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found next to perfbench/; run it from "
                  "a checkout of the repository", file=sys.stderr)
            return 2
    sys.path.insert(0, ROOT)
    # a terminated run still stops the server (run's finally clause)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    result, notes = run(args)
    for line in notes:
        print(line)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
