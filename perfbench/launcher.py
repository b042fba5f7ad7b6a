"""The server process of the benchmark.

Builds the server the way ``python -m influxdb_iox_spark run`` does (a
Spark session, ``IoxServer``, the multi-database HTTP API and the h2c
gRPC endpoint), writes its ports to ``<tmp>/ready.json`` and then serves
a small control channel (``multiprocessing.connection``) that the client
process uses for what has no wire API: creating the database, lifecycle
sweeps, running declared queries and tracing.  It serves until the client
kills its process group.

Run by ``perfbench/run.py``; not meant to be started by hand.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import threading
import traceback
from multiprocessing.connection import Listener

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from tracer import Recorder, install  # noqa: E402


class Launcher:
    def __init__(self, args):
        from influxdb_iox_spark.rpc_h2 import GrpcH2Server
        from influxdb_iox_spark.rpc_management import IoxMultiDbHttpServer, IoxServer
        from influxdb_iox_spark.session import get_spark

        tmp = args.tmp
        # A fixed, pre-touched heap: the JVM's RSS then no longer depends on
        # when G1 chose to grow the heap, and peak_rss_mb moves with memory
        # outside the Java heap (this process, Arrow and other off-heap
        # buffers, metaspace, code cache).
        java_opts = "-XX:ReservedCodeCacheSize=1g -XX:+UseG1GC -Xms1g -XX:+AlwaysPreTouch"
        self.spark = get_spark(
            app_name="perfbench-server",
            master=f"local[{args.cores}]",
            shuffle_partitions=args.cores,
            extra_conf={
                "spark.driver.memory": "1g",
                "spark.driver.extraJavaOptions": java_opts,
                "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
                "spark.local.dir": os.path.join(tmp, "spark-local"),
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.rec = Recorder(self.spark)
        install(self.rec)
        self.server = IoxServer(self.spark, os.path.join(tmp, "iox"))
        self.grpc_h2 = GrpcH2Server(self.server)
        self.http = IoxMultiDbHttpServer(self.server)
        self.http_port = self.http.start()
        self.data_dir = args.data_dir
        self._queries = None

    # -- control handlers ----------------------------------------------------
    def do_create_db(self, name: str) -> None:
        self.server.create_database({"name": name})

    def _chunks(self, db: str) -> int:
        store = self.server.db(db).database.store
        return sum(len(store.manifest(t)) for t in store.tables())

    def do_lifecycle(self, db: str) -> dict:
        before = self._chunks(db)
        self.server.run_lifecycle(db)
        return {"chunks_before": before, "chunks_after": self._chunks(db)}

    def do_store_bytes(self, db: str) -> int:
        return sum(
            os.path.getsize(os.path.join(d, f))
            for d, _, files in os.walk(self.server.db(db).database.store.base_dir)
            for f in files
        )

    def do_batch(self, name: str, mode: str):
        """Build declared query ``name`` and run it: ``noop`` writes to the
        noop sink (the timed form); ``collect`` returns the pandas frame
        for the oracle comparison."""
        if self._queries is None:
            import __spark_entry__

            self._queries = __spark_entry__.queries()
        with self.rec.span(f"batch.{name}.build"):
            df = self._queries[name](self.spark, self.data_dir)
        with self.rec.span(f"batch.{name}.exec"):
            if mode == "noop":
                df.write.format("noop").mode("overwrite").save()
                return None
            return df.toPandas()

    def do_trace(self, on: bool) -> None:
        self.rec.enabled = on

    def do_trace_dump(self) -> dict:
        self.rec.enabled = False
        return {"spans": self.rec.spans, "jobs": self.rec.harvest()}

    # -- serving -------------------------------------------------------------
    def serve_conn(self, conn) -> None:
        with conn:
            while True:
                try:
                    cmd, *args = conn.recv()
                except EOFError:
                    return
                try:
                    reply = ("ok", getattr(self, "do_" + cmd)(*args))
                except Exception as e:  # reported to the client, which fails the op
                    reply = ("error", f"{type(e).__name__}: {e}\n{traceback.format_exc()}")
                conn.send(reply)


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--tmp", required=True)
    p.add_argument("--cores", type=int, required=True)
    p.add_argument("--data-dir", default=None)
    args = p.parse_args()
    authkey = bytes.fromhex(os.environ["PERFBENCH_AUTHKEY"])
    launcher = Launcher(args)
    listener = Listener(("127.0.0.1", 0), authkey=authkey)

    ready = {
        "http_port": launcher.http_port,
        "grpc_h2_port": launcher.grpc_h2.port,
        "control_port": listener.address[1],
        "master": launcher.spark.conf.get("spark.master"),
    }
    tmp_path = os.path.join(args.tmp, "ready.json.tmp")
    with open(tmp_path, "w") as f:
        json.dump(ready, f)
    os.replace(tmp_path, os.path.join(args.tmp, "ready.json"))
    while True:
        conn = listener.accept()
        threading.Thread(target=launcher.serve_conn, args=(conn,), daemon=True).start()


if __name__ == "__main__":
    raise SystemExit(main())
