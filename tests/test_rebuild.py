"""Catalog rebuild from data files (sources/rebuild.py) — the disaster
path: delete the ENTIRE manifest, rebuild from chunk sidecars + parquet
footers, and prove scans (including overlap dedup) and system tables are
identical to the pre-deletion twin.  Mirrors the contract of the
reference's parquet_file/src/rebuild.rs, on both manifest backends.
"""

from __future__ import annotations

import os

import pytest

from influxdb_iox_spark.database import Database
from influxdb_iox_spark.schema import InfluxColumnType, IoxSchema
from influxdb_iox_spark.sources.objstore import (
    InMemoryObjectStore,
    ObjectStoreManifestBackend,
)
from influxdb_iox_spark.sources.rebuild import RebuildError, rebuild_manifest
from influxdb_iox_spark.sources.store import TableStore

CPU = IoxSchema.build(
    ["host", "region"], {"usage": InfluxColumnType.FIELD_FLOAT}
)


def _store(tmp_path, backend_kind):
    base = str(tmp_path / "data")
    if backend_kind == "objstore":
        return TableStore(base, backend=ObjectStoreManifestBackend(InMemoryObjectStore()))
    return TableStore(base)


def _populate(spark, store):
    """Three chunks: A and B overlap on the PK (same partition, same
    rows at t=100 — dedup must pick B, the later chunk); C is clean in
    another partition."""
    def df(rows):
        return spark.createDataFrame(
            rows, "host string, region string, usage double, time long"
        )

    a = store.write_chunk(
        df([("h1", "w", 1.0, 100), ("h2", "w", 2.0, 200)]), "cpu", CPU,
        partition_key="2020-01-01",
    )
    b = store.write_chunk(
        df([("h1", "w", 5.0, 100), ("h2", "w", None, 200)]), "cpu", CPU,
        partition_key="2020-01-01",
    )
    c = store.write_chunk(
        df([("h3", "e", 9.0, 300)]), "cpu", CPU, partition_key="2020-01-02",
    )
    return a, b, c


def _scan_rows(spark, store):
    return sorted(
        (r.host, r.region, r.usage, r.time)
        for r in store.scan(spark, "cpu", CPU).collect()
    )


def _chunk_rows(db):
    # order-insensitive, full system.chunks content
    return sorted(map(tuple, db.system_chunks().collect()))


@pytest.mark.parametrize("backend_kind", ["posix", "objstore"])
def test_wipe_rebuild_identical_results(spark, tmp_path, backend_kind):
    store = _store(tmp_path, backend_kind)
    _populate(spark, store)
    db = Database("db", store, spark)
    db.register_table("cpu", CPU)

    before_scan = _scan_rows(spark, store)
    before_chunks = _chunk_rows(db)
    before_tags = store.catalog_tag_values("cpu", "host")
    # sanity: the overlap dedup really bites (B wins at t=100; last
    # non-null keeps usage=2.0 at t=200 where B wrote null)
    assert ("h1", "w", 5.0, 100) in before_scan
    assert ("h1", "w", 1.0, 100) not in before_scan
    assert ("h2", "w", 2.0, 200) in before_scan
    assert before_tags == ["h1", "h2", "h3"]

    store.wipe_manifest("cpu")
    assert store.manifest("cpu") == []
    assert _scan_rows(spark, store) == []  # truly gone

    n = rebuild_manifest(store)
    assert n == {"cpu": 3}
    assert _scan_rows(spark, store) == before_scan
    assert _chunk_rows(db) == before_chunks
    assert store.catalog_tag_values("cpu", "host") == before_tags
    # the rebuild is logged like any background job
    assert any(o["job"] == "rebuild_manifest" for o in store.operations())


@pytest.mark.parametrize("backend_kind", ["posix", "objstore"])
def test_rebuilt_ids_never_reissued(spark, tmp_path, backend_kind):
    store = _store(tmp_path, backend_kind)
    metas = _populate(spark, store)
    max_id = max(m.chunk_id for m in metas)
    store.wipe_manifest("cpu")
    rebuild_manifest(store)
    # a fresh store instance (cold id cache) must allocate ABOVE every
    # recovered id — reuse would corrupt dedup's chunk-order tiebreak
    store2 = _store_reopen(store, tmp_path)
    nxt = store2._alloc_chunk_id("cpu")
    assert nxt > max_id


def _store_reopen(store, tmp_path):
    if isinstance(store.backend, ObjectStoreManifestBackend):
        return TableStore(
            store.base_dir,
            backend=ObjectStoreManifestBackend(store.backend.store),
        )
    return TableStore(store.base_dir)


def test_rebuild_refuses_live_manifest(spark, tmp_path):
    store = _store(tmp_path, "posix")
    _populate(spark, store)
    with pytest.raises(RebuildError, match="wipe"):
        rebuild_manifest(store)


def test_footer_only_rebuild_when_sidecar_lost(spark, tmp_path):
    """A chunk whose sidecar is gone re-registers from parquet footers
    alone: scan results (incl. the dedup tiebreak) are still identical;
    the conservative fields (partition key, tag catalog) degrade to
    unknown exactly as documented."""
    store = _store(tmp_path, "posix")
    a, b, c = _populate(spark, store)
    before = _scan_rows(spark, store)
    os.remove(os.path.join(store.base_dir, b.path, store.IOX_META_FILE))
    store.wipe_manifest("cpu")
    assert rebuild_manifest(store) == {"cpu": 3}
    assert _scan_rows(spark, store) == before
    rebuilt_b = [m for m in store.manifest("cpu") if m.chunk_id == b.chunk_id][0]
    assert rebuilt_b.partition_key == ""  # unknowable without the sidecar
    assert rebuilt_b.tag_values == {}  # metadata ops fall back to scans
    assert rebuilt_b.row_count == b.row_count  # footers still authoritative
    assert rebuilt_b.stats["time"] == b.stats["time"]
    # the sidecar-less chunk poisons the catalog fast path conservatively
    assert store.catalog_tag_values("cpu", "host", "2020-01-01") is None


def test_garbage_dir_errors_unless_ignored(spark, tmp_path):
    store = _store(tmp_path, "posix")
    _populate(spark, store)
    junk = os.path.join(store.base_dir, "cpu", "chunk-000099-deadbeef")
    os.makedirs(junk)
    with open(os.path.join(junk, "not-parquet.txt"), "w") as f:
        f.write("junk")
    store.wipe_manifest("cpu")
    with pytest.raises(RebuildError, match="no parquet"):
        rebuild_manifest(store)
    # reference's ignore_metadata_read_failure flag: skip the garbage
    assert rebuild_manifest(store, ignore_metadata_read_failure=True) == {"cpu": 3}


def test_sidecar_identity_mismatch_is_corruption(spark, tmp_path):
    """A sidecar disagreeing with the directory it sits in (hand-copied
    chunk dir) must raise, not silently register under the wrong id."""
    import shutil

    store = _store(tmp_path, "posix")
    a, b, c = _populate(spark, store)
    clone = os.path.join(store.base_dir, "cpu", "chunk-000050-aaaaaaaa")
    shutil.copytree(os.path.join(store.base_dir, a.path), clone)
    store.wipe_manifest("cpu")
    with pytest.raises(RebuildError, match="identity mismatch"):
        rebuild_manifest(store)
    assert rebuild_manifest(store, ignore_metadata_read_failure=True) == {"cpu": 3}


def test_ignore_flag_covers_unreadable_metadata(spark, tmp_path):
    """Review finding: rebuild.rs's ignore_metadata_read_failure skips
    ANY unreadable metadata — truncated sidecar JSON and corrupt parquet
    footers must be skippable, not just identity/no-parquet cases."""
    store = _store(tmp_path, "posix")
    a, b, c = _populate(spark, store)
    # truncate b's sidecar mid-JSON
    p = os.path.join(store.base_dir, b.path, store.IOX_META_FILE)
    with open(p, "w") as f:
        f.write('{"chunk_id": 1, "tab')
    # corrupt c's parquet footer AND remove its sidecar
    os.remove(os.path.join(store.base_dir, c.path, store.IOX_META_FILE))
    for fname in os.listdir(os.path.join(store.base_dir, c.path)):
        if fname.endswith(".parquet"):
            fp = os.path.join(store.base_dir, c.path, fname)
            with open(fp, "r+b") as f:
                f.seek(-8, os.SEEK_END)
                f.write(b"XXXXXXXX")
    store.wipe_manifest("cpu")
    with pytest.raises(RebuildError, match="cannot read metadata"):
        rebuild_manifest(store)
    # with the flag: the two damaged chunks skip, the good one recovers
    # (b's PARQUET is fine — only its sidecar died — so it rebuilds from
    # footers; c is fully unreadable and drops)
    assert rebuild_manifest(store, ignore_metadata_read_failure=True) == {"cpu": 2}
    got = {m.chunk_id for m in store.manifest("cpu")}
    assert got == {a.chunk_id, b.chunk_id}


# -- predicate deletes survive the disaster ------------------------------
# The reference's rebuild documents "No Removals" (rebuild.rs:53-55):
# logically deleted data reappears.  Tombstone sidecars on the data
# plane close exactly that window for predicate deletes.

from influxdb_iox_spark.plans.predicate import DeleteExpr, DeletePredicate


@pytest.mark.parametrize("backend_kind", ["posix", "objstore"])
def test_rebuild_preserves_predicate_deletes(spark, tmp_path, backend_kind):
    store = _store(tmp_path, backend_kind)
    _populate(spark, store)
    store.delete_predicate(
        "cpu", DeletePredicate(exprs=[DeleteExpr("host", "=", "h1")])
    )
    before = _scan_rows(spark, store)
    assert all(h != "h1" for h, *_ in before)  # delete really bit

    store.wipe_manifest("cpu")
    rebuild_manifest(store)

    # the delete survives total manifest loss — no resurrection
    assert _scan_rows(spark, store) == before
    stones = store.tombstones("cpu")
    assert len(stones) == 1
    assert stones[0]["predicate"]["exprs"][0]["column"] == "host"


def test_rebuild_does_not_resurrect_retired_tombstones(spark, tmp_path):
    """A tombstone retired by gc (all snapshot chunks gone) loses its
    sidecar too; a later rebuild must not bring it back as scan-time
    overhead."""
    store = _store(tmp_path, "posix")
    _populate(spark, store)
    rec = store.delete_predicate(
        "cpu", DeletePredicate(exprs=[DeleteExpr("host", "=", "h1")])
    )
    # compaction folds the delete into rewritten chunks, then gc retires
    # the tombstone (its whole snapshot was dropped by the rewrite)
    from influxdb_iox_spark.plans.reorg import compact_chunks

    compact_chunks(spark, store, "cpu", CPU)
    assert store.tombstones("cpu") == []
    sidecar_dir = os.path.join(store.base_dir, "cpu", store.DELETES_DIR)
    assert not os.path.exists(os.path.join(sidecar_dir, f"{rec['chunk_id']}.json"))

    before = _scan_rows(spark, store)
    store.wipe_manifest("cpu")
    rebuild_manifest(store)
    assert _scan_rows(spark, store) == before
    assert store.tombstones("cpu") == []


def test_retargeted_tombstone_sidecar_follows_replacement(spark, tmp_path):
    """retarget_tombstones swaps a tombstone's snapshot to rewrite
    successors; the data-plane sidecar must follow (old removed, new
    written) so a rebuild recovers the RETARGETED delete."""
    store = _store(tmp_path, "posix")
    _populate(spark, store)
    old = store.delete_predicate(
        "cpu", DeletePredicate(exprs=[DeleteExpr("host", "=", "h1")])
    )
    dropped = old["chunk_ids"][:1]
    store.retarget_tombstones("cpu", dropped, [999], exclude_ids=set())
    live = store.tombstones("cpu")
    assert len(live) == 1 and live[0]["chunk_id"] != old["chunk_id"]
    side = {r["chunk_id"] for r in store.tombstone_sidecars("cpu")}
    assert side == {live[0]["chunk_id"]}
    assert 999 in live[0]["chunk_ids"]


def test_rebuild_skips_chunks_parked_by_compaction(spark, tmp_path):
    """Compaction parks its inputs for deferred deletion; a manifest loss
    inside the grace period takes ``_retired.json`` with it, and the
    rebuild must still register only the compacted output."""
    from influxdb_iox_spark.plans.reorg import compact_chunks

    store = _store(tmp_path, "posix")
    _populate(spark, store)
    inputs = store.manifest("cpu")
    out = compact_chunks(spark, store, "cpu", CPU)
    assert all(os.path.isdir(os.path.join(store.base_dir, c.path)) for c in inputs)

    before = _scan_rows(spark, store)
    store.wipe_manifest("cpu")
    rebuild_manifest(store)
    assert [c.chunk_id for c in store.manifest("cpu")] == [out.chunk_id]
    assert _scan_rows(spark, store) == before
