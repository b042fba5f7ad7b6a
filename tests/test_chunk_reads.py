"""Chunk reads take their schema from the manifest, not from a Spark job.

- Building a scan (``TableStore.scan``, ``Database.table``, the InfluxQL
  catalog) starts no Spark job: every chunk is read with the registered
  table schema projected onto the chunk's own columns.
- A chunk written before a field was added to the table keeps its column
  set through scans, compaction and persist: dedup answers and output
  columns match what schema-inferring reads gave.
- Chunks a lifecycle sweep rewrites are parked, not deleted, so a frame
  planned before the sweep still reads after it.
"""

from __future__ import annotations

import dataclasses
import os

import pyarrow.parquet as pq

from influxdb_iox_spark.database import Database
from influxdb_iox_spark.influxql.v1_api import catalog_from_database
from influxdb_iox_spark.plans.predicate import DeleteExpr, DeletePredicate
from influxdb_iox_spark.plans.reorg import compact_chunks, persist_split
from influxdb_iox_spark.rpc_management import IoxServer
from influxdb_iox_spark.schema import InfluxColumnType, IoxSchema
from influxdb_iox_spark.sources.store import TableStore

F64 = InfluxColumnType.FIELD_FLOAT
#: the table before and after the ``temp`` field was added
CPU_V1 = IoxSchema.build(["host"], {"usage": F64})
CPU = IoxSchema.build(["host"], {"usage": F64, "temp": F64})


def _write(spark, store, schema, rows, register=True):
    df = spark.createDataFrame(rows, schema.struct)
    return store.write_chunk(df, "cpu", schema, register=register)


# pre-extension chunk: no ``temp`` column
OLD = [
    {"host": "a", "time": 100, "usage": 1.0},
    {"host": "a", "time": 200, "usage": 2.0},
    {"host": "b", "time": 100, "usage": 5.0},
]
# written after ``temp`` was added; PK-overlaps OLD
NEW = [
    {"host": "a", "time": 100, "usage": None, "temp": 10.0},
    {"host": "a", "time": 200, "usage": 3.0, "temp": None},
    {"host": "c", "time": 150, "usage": 7.0, "temp": 8.0},
]
# last-non-null over chunk order OLD < NEW, as (host, time, usage, temp)
MERGED = [
    ("a", 100, 1.0, 10.0),
    ("a", 200, 3.0, None),
    ("b", 100, 5.0, None),
    ("c", 150, 7.0, 8.0),
]


def _answer(df):
    return sorted((r.host, r.time, r.usage, r.temp) for r in df.collect())


def _parquet_columns(store, meta):
    d = os.path.join(store.base_dir, meta.path)
    return {
        name
        for f in os.listdir(d)
        if f.endswith(".parquet")
        for name in pq.read_schema(os.path.join(d, f)).names
    }


def _jobs_in(sc, group):
    """Job ids the status store holds for ``group``, once the listener
    bus has delivered every event posted so far."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return list(sc.statusTracker().getJobIdsForGroup(group))


def test_scan_builds_start_no_spark_job(spark, tmp_path):
    """Scan, Database.table and the InfluxQL catalog over one clean chunk
    and one overlapping pair are driver work only.  One chunk of the pair
    is registered without ``column_bytes`` (as before that manifest field
    existed), so its columns come from a driver-side footer read."""
    store = TableStore(str(tmp_path / "s"))
    clean = {"host": "z", "time": 10_000, "usage": 9.0, "temp": 1.0}
    _write(spark, store, CPU, [clean])
    legacy = _write(spark, store, CPU_V1, OLD, register=False)
    store.register_chunks("cpu", [dataclasses.replace(legacy, column_bytes={})])
    _write(spark, store, CPU, NEW)
    assert [c.column_bytes == {} for c in store.manifest("cpu")] == [
        False, True, False,
    ]
    db = Database("db", store, spark)
    db.register_table("cpu", CPU)

    sc = spark.sparkContext
    group = "scan-build-guard"
    sc.setJobGroup(group, "scan builds only", False)
    try:
        frames = [
            store.scan(spark, "cpu", CPU),
            db.table("cpu"),
            catalog_from_database(db)["cpu"].df,
        ]
    finally:
        sc.setJobGroup("", "", False)
    assert _jobs_in(sc, group) == []

    want = sorted(MERGED + [("z", 10_000, 9.0, 1.0)])
    sc.setJobGroup("scan-build-control", "collect", False)
    try:
        assert all(_answer(df) == want for df in frames)
    finally:
        sc.setJobGroup("", "", False)
    # the counter sees jobs when there are some
    assert _jobs_in(sc, "scan-build-control")


def test_read_chunk_projects_registered_schema_onto_chunk_columns(spark, tmp_path):
    store = TableStore(str(tmp_path / "s"))
    old = _write(spark, store, CPU_V1, OLD)
    assert store.chunk_columns(old) == ["host", "time", "usage"]
    legacy = dataclasses.replace(old, column_bytes={})
    assert store.chunk_columns(legacy) == ["host", "time", "usage"]
    df = store.read_chunk(spark, old, CPU)
    assert [(f.name, f.dataType) for f in df.schema] == [
        (f.name, f.dataType) for f in CPU.project(["usage", "host", "time"])
    ]
    assert sorted(tuple(r) for r in df.collect()) == [
        ("a", 100, 1.0), ("a", 200, 2.0), ("b", 100, 5.0),
    ]


def _pre_extension_store(spark, tmp_path, delete=None):
    store = TableStore(str(tmp_path / "s"))
    old = _write(spark, store, CPU_V1, OLD)
    new = _write(spark, store, CPU, NEW)
    if delete is not None:
        store.delete_predicate("cpu", delete)
    return store, old, new


def test_pre_extension_chunk_in_overlap_group(spark, tmp_path):
    store, _, _ = _pre_extension_store(spark, tmp_path)
    assert _answer(store.scan(spark, "cpu", CPU)) == MERGED


def test_compact_pre_extension_chunk_keeps_column_union(spark, tmp_path):
    store, old, new = _pre_extension_store(spark, tmp_path)
    out = compact_chunks(spark, store, "cpu", CPU, [old.chunk_id, new.chunk_id])
    assert _parquet_columns(store, out) == {"host", "time", "usage", "temp"}
    assert _answer(store.scan(spark, "cpu", CPU)) == MERGED



def test_overlap_group_of_pre_extension_chunks_only(spark, tmp_path):
    """No input holds the later tag ``rack`` or field ``temp``: the scan
    answers them as null and the compacted chunk is written without them."""
    later = IoxSchema.build(["host", "rack"], {"usage": F64, "temp": F64})
    store = TableStore(str(tmp_path / "s"))
    a = _write(spark, store, CPU_V1, OLD)
    b = _write(spark, store, CPU_V1, [{"host": "a", "time": 100, "usage": 4.0}])
    want = [("a", 100, 4.0, None), ("a", 200, 2.0, None), ("b", 100, 5.0, None)]

    def answer():
        df = store.scan(spark, "cpu", later)
        assert df.columns == later.struct.fieldNames()
        assert df.filter("rack IS NOT NULL").count() == 0
        return _answer(df)

    assert answer() == want
    out = compact_chunks(spark, store, "cpu", later, [a.chunk_id, b.chunk_id])
    assert _parquet_columns(store, out) == {"host", "time", "usage"}
    assert answer() == want


def test_persist_pre_extension_chunk_keeps_column_union(spark, tmp_path):
    store, _, _ = _pre_extension_store(spark, tmp_path)
    cold, hot = persist_split(spark, store, "cpu", CPU, split_time_ns=120)
    assert _parquet_columns(store, cold) == {"host", "time", "usage", "temp"}
    assert _parquet_columns(store, hot) == {"host", "time", "usage", "temp"}
    assert _answer(store.scan(spark, "cpu", CPU)) == MERGED


def test_tombstone_on_missing_column(spark, tmp_path):
    """``temp = 10.0`` deletes nothing in the chunk without ``temp`` and
    removes NEW's (a, 100) row, so that key keeps OLD's usage only —
    in the scan and through compaction and persist."""
    drop_temp_10 = DeletePredicate(exprs=[DeleteExpr("temp", "=", 10.0)])
    want = [("a", 100, 1.0, None)] + MERGED[1:]

    store, _, _ = _pre_extension_store(spark, tmp_path / "scan", drop_temp_10)
    assert _answer(store.scan(spark, "cpu", CPU)) == want

    store, old, new = _pre_extension_store(spark, tmp_path / "c", drop_temp_10)
    out = compact_chunks(spark, store, "cpu", CPU, [old.chunk_id, new.chunk_id])
    assert store.tombstones("cpu") == []  # folded into the output
    assert _parquet_columns(store, out) == {"host", "time", "usage", "temp"}
    assert _answer(store.scan(spark, "cpu", CPU)) == want

    store, _, _ = _pre_extension_store(spark, tmp_path / "p", drop_temp_10)
    persist_split(spark, store, "cpu", CPU, split_time_ns=120)
    assert store.tombstones("cpu") == []
    assert _answer(store.scan(spark, "cpu", CPU)) == want


def test_frame_planned_before_lifecycle_sweep_reads_after_it(spark, tmp_path):
    """A sweep's compaction parks its inputs instead of deleting them, so a
    frame built before the sweep collects the same rows after it; the
    parked directories go once their grace period is over."""
    srv = IoxServer(spark, str(tmp_path / "srv"))
    srv.create_database(
        {
            "name": "ldb",
            "partition_template": {"parts": [{"table": {}}]},
            "lifecycle_rules": {"late_arrive_window_seconds": 1},
        }
    )
    srv.write_lp("ldb", "cpu,region=west user=1.0 100\ncpu,region=west user=2.0 200")
    srv.write_lp("ldb", "cpu,region=west user=9.0 150\ncpu,region=west user=4.0 200")
    database = srv.databases["ldb"].database
    store = database.store
    inputs = store.manifest("cpu")
    assert len(inputs) == 2

    before = database.table("cpu")
    report = srv.run_lifecycle("ldb")
    assert report["tables"]["cpu"]["compacted"]
    assert not {c.chunk_id for c in inputs} & {
        c.chunk_id for c in store.manifest("cpu")
    }
    want = [("west", 100, 1.0), ("west", 150, 9.0), ("west", 200, 4.0)]
    assert sorted((r.region, r.time, r.user) for r in before.collect()) == want

    parked = [os.path.join(store.base_dir, c.path) for c in inputs]
    assert all(os.path.isdir(p) for p in parked)
    assert store.gc_retired("cpu", 0) >= len(inputs)
    assert not any(os.path.exists(p) for p in parked)
    after = database.table("cpu")
    assert sorted((r.region, r.time, r.user) for r in after.collect()) == want
