"""One end-to-end user journey across the whole surface — the switch test:
everything a reference deployment does, run back-to-back against one
server pair.

    create database (gRPC) → write LP (gRPC + HTTP) → query (SQL over
    HTTP, Arrow Flight, storage RPC) → introspect (chunks, partitions,
    tag values, metrics) → lifecycle sweep (compaction) → replicate to a
    second server through the write buffer → import legacy TSM data →
    dedup the replicated corpus against a fingerprint index.

Each piece has its own focused battery elsewhere; this test pins that
they COMPOSE — same stores, same session, no seams.
"""

from __future__ import annotations

import json
import urllib.request

import pytest

pytest.importorskip("pyarrow.flight")

import pyarrow.flight as flight

from influxdb_iox_spark.client import IoxClient
from influxdb_iox_spark.protowire import decode_message, encode_message
from influxdb_iox_spark.rpc_flight import flight_ticket
from influxdb_iox_spark.rpc_h2 import GrpcH2Client, GrpcH2Server
from influxdb_iox_spark.rpc_management import IoxMultiDbHttpServer, IoxServer
from influxdb_iox_spark import storage_proto as sp


def test_full_user_journey(spark, tmp_path):
    org, bucket = 0xABC, 0xDEF
    db = f"{org:016x}_{bucket:016x}"
    buf_dir = str(tmp_path / "wb")

    # primary server: gRPC (all services + Flight) and HTTP on live state
    primary = IoxServer(spark, str(tmp_path / "primary"))
    grpc = GrpcH2Server(primary)
    http = IoxMultiDbHttpServer(primary)
    http_port = http.start()
    client = IoxClient(grpc_port=grpc.port, http_url=f"http://127.0.0.1:{http_port}")
    try:
        # 1. create a database that mirrors every write into the buffer
        client.create_database(
            db,
            partition_template_parts=[{"table": {}}],
            lifecycle_rules={"late_arrive_window_seconds": 1},
        )
        primary.databases[db].rules["writing"] = buf_dir

        # 2. write over gRPC (schema inferred) and over HTTP v2; the two
        # chunks overlap in time (distinct primary keys) so the lifecycle
        # sweep below has real compaction work
        assert client.write(db, "cpu,region=west user=23.2 100\ncpu,region=east user=24.0 250\ncpu,region=west user=25.0 300") == 3
        req = urllib.request.Request(
            f"http://127.0.0.1:{http_port}/api/v2/write"
            f"?org={org:016x}&bucket={bucket:016x}",
            data=b"cpu,region=west user=21.0 150",
        )
        with urllib.request.urlopen(req, timeout=120) as r:
            assert r.status == 204

        # 3a. SQL over HTTP
        rows = client.query(db, "SELECT region, user, time FROM cpu ORDER BY time")
        assert rows == [
            {"region": "west", "user": 23.2, "time": 100},
            {"region": "west", "user": 21.0, "time": 150},
            {"region": "east", "user": 24.0, "time": 250},
            {"region": "west", "user": 25.0, "time": 300},
        ]
        # 3b. the same SQL over Arrow Flight on the gRPC socket
        conn = flight.connect(f"grpc://127.0.0.1:{grpc.port}")
        table = conn.do_get(
            flight.Ticket(flight_ticket(db, "SELECT count(*) AS n FROM cpu"))
        ).read_all()
        assert table.to_pylist() == [{"n": 4}]
        conn.close()
        # 3c. the storage RPC menu
        storage = GrpcH2Client(grpc.port)
        msgs = storage.call_ok(
            "/influxdata.platform.storage.Storage/TagValues",
            encode_message(
                {
                    "tags_source": sp.make_read_source(org, bucket, partition_id=0),
                    "range": {"start": 1, "end": 1000},
                    "tag_key": b"region",
                },
                sp.TAG_VALUES_REQUEST,
            ),
        )
        vals = [decode_message(m, sp.STRING_VALUES_RESPONSE) for m in msgs]
        assert [v for f in vals for v in f["values"]] == [b"east", b"west"]
        storage.close()

        # 4. introspection: two chunks (one per write), one partition
        chunks = client.list_chunks(db)
        assert len(chunks) == 2 and sum(c["row_count"] for c in chunks) == 4
        assert client.list_partitions(db) == ["cpu"]
        with urllib.request.urlopen(
            f"http://127.0.0.1:{http_port}/metrics", timeout=30
        ) as r:
            assert "ingest_lines_total 1" in r.read().decode()

        # 5. lifecycle sweep compacts the overlapping chunks to one
        report = primary.run_lifecycle(db)
        assert report["tables"]["cpu"]["compacted"]
        assert len(client.list_chunks(db)) == 1
        ops = client.list_operations()
        assert any(o["done"] for o in ops)

        # 6. replication: a second server follows the buffer
        replica = IoxServer(spark, str(tmp_path / "replica"))
        replica.create_database(
            {
                "name": db,
                "partition_template": {"parts": [{"table": {}}]},
                "reading": buf_dir,
            }
        )
        # only the gRPC+HTTP writes produced (4 lines across 2 payloads)
        assert replica.drain_write_buffer(db) == 4
        rep_rows = sorted(
            (r.region, r.user, r.time)
            for r in replica.databases[db].database.table("cpu").collect()
        )
        assert rep_rows == [
            ("east", 24.0, 250),
            ("west", 21.0, 150),
            ("west", 23.2, 100),
            ("west", 25.0, 300),
        ]

        # 7. legacy migration: TSM files import into the SAME database
        from influxdb_iox_spark.sources.tsm import export_tsm, import_tsm

        tsm_dir = str(tmp_path / "tsm")
        md = primary.databases[db]
        export_tsm(
            md.database.table("cpu"), "cpu", md.database.table_schema("cpu"), tsm_dir
        )
        import glob

        import_tsm(spark, md.database.store, sorted(glob.glob(tsm_dir + "/*.tsm")))
        assert md.database.store.manifest("cpu")  # imported points registered

        # 8. pipeline over served data: fingerprint-index dedup of the
        # replicated "corpus" (region strings as toy documents)
        from influxdb_iox_spark.pipeline.dedup_index import (
            build_exact_index,
            dedup_against_index,
        )
        from pyspark.sql import functions as F

        corpus = (
            replica.databases[db]
            .database.table("cpu")
            .select(
                F.col("time").alias("doc_id"), F.col("region").alias("text")
            )
        )
        idx = str(tmp_path / "fpidx")
        build_exact_index(corpus, idx, n_buckets=4)
        fresh = dedup_against_index(
            spark,
            idx,
            spark.createDataFrame(
                [(900, "west"), (901, "north")], "doc_id long, text string"
            ),
        )
        assert [r.doc_id for r in fresh.collect()] == [901]

        # 9. the third write path: PB column batches over the same gRPC
        # port, then the series-transform library over the served table
        from influxdb_iox_spark.operators import transforms as T

        req = {"database_batch": {"database_name": db, "table_batches": [{
            "table_name": "mem", "row_count": 3, "columns": [
                {"column_name": "host", "semantic_type": 2,
                 "values": {"string_values": ["a", "a", "a"]},
                 "null_mask": b""},
                {"column_name": "used", "semantic_type": 3,
                 "values": {"f64_values": [1.0, 3.0, 6.0]},
                 "null_mask": b""},
                {"column_name": "time", "semantic_type": 4,
                 "values": {"i64_values": [10**9, 2 * 10**9, 3 * 10**9]},
                 "null_mask": b""},
            ]}]}}
        client.call("pb_write", "Write", req)
        mem = primary.databases[db].database.table("mem")
        w = T.series_window(["host"], ["time"])
        diffs = {
            r.time: r.d
            for r in mem.select(
                "time", T.difference(F.col("used"), w).alias("d")
            ).collect()
        }
        assert diffs == {10**9: None, 2 * 10**9: 2.0, 3 * 10**9: 3.0}
    finally:
        client.close()
        http.stop()
        grpc.shutdown()
