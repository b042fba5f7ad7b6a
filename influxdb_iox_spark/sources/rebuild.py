"""Catalog rebuild from data files — disaster recovery for a lost or
corrupted manifest.

The reference can reconstruct its preserved catalog by scanning object
storage and reading the IOx metadata embedded in every parquet footer
(parquet_file/src/rebuild.rs:42-67 ``rebuild_catalog``;
parquet_file/src/metadata.rs IoxParquetMetaData).  Here each chunk
directory carries the same facts in a ``_iox_metadata.json`` sidecar
(Spark's distributed parquet writer owns the footers — see
``TableStore._write_chunk_sidecar``), and the parquet footers themselves
carry row counts and per-column min/max, so a chunk remains
re-registrable even when its sidecar is gone.

Limitations — the same four the reference documents (rebuild.rs:46-59),
plus one of our own:

- **Garbage susceptibility**: parquet files present on the data plane
  but never part of the catalog (orphans of a crashed unregistered
  write) are re-registered as live chunks.  Known staging dirs
  (``_bulk-*``) are skipped; a chunk dir with NO parquet files errors
  unless ``ignore_metadata_read_failure`` (matching the reference's
  flag of the same name).
- **No removals**: a chunk that was dropped from the manifest but whose
  directory still exists (``drop_chunks(delete_files=False)``, or a
  crash between the drop and the file deletion) comes BACK.
  Dedup-on-read masks duplicate rows, but logically deleted data
  reappears — exactly the reference's caveat.  Chunk dirs parked for
  deferred deletion (every compaction and persist parks its inputs)
  carry a ``TableStore.RETIRED_MARKER`` file and are skipped.  PREDICATE
  deletes are the exception: live tombstones ride data-plane sidecars
  (``<table>/_deletes/*.json``) and are re-registered here, so rows an
  acknowledged ``delete_predicate`` removed stay removed through a
  total manifest loss — strictly better than the reference's rebuild.
- **Single transaction**: all chunks re-register in one pass; manifest
  history is not reconstructed.
- **No fork detection**: files written by two store instances against
  the same base_dir are indistinguishable.
- **Sidecar-less chunks register conservatively**: stats/row counts come
  from footers, but partition key, sort key, and tag catalogs are
  unknowable — they rebuild as ``""``/``[]``/``{}``, which is CORRECT
  but slower (no partition pruning, scan-side sort, metadata ops fall
  back to scans) until the lifecycle compactor rewrites the chunk.
"""

from __future__ import annotations

import json
import os
import re
import time as _time

from influxdb_iox_spark.sources.store import (
    ChunkMeta,
    TableStore,
    _dir_parquet_bytes,
)

#: chunk directory name, as minted by TableStore.write_chunk
_CHUNK_DIR_RE = re.compile(r"^chunk-(\d+)-[0-9a-f]+$")


class RebuildError(RuntimeError):
    pass


def _meta_from_sidecar(store: TableStore, table: str, rel: str, chunk_id: int):
    """ChunkMeta from the chunk dir's sidecar, or None when absent.
    A sidecar whose identity fields disagree with the directory it sits
    in is corruption (a hand-copied dir?) and raises."""
    p = os.path.join(store.base_dir, rel, store.IOX_META_FILE)
    if not os.path.exists(p):
        return None
    with open(p) as f:
        data = json.load(f)
    meta = ChunkMeta(**data)
    if meta.chunk_id != chunk_id or meta.table != table:
        raise RebuildError(
            f"sidecar in {rel!r} claims chunk {meta.chunk_id} of table "
            f"{meta.table!r} — identity mismatch with its directory"
        )
    meta.path = rel  # the directory's actual location wins
    return meta


def _meta_from_footers(store: TableStore, table: str, rel: str, chunk_id: int):
    """Conservative ChunkMeta reconstructed from parquet footers alone
    (rebuild.rs reads IoxParquetMetaData; without our sidecar the
    footers still give row count + min/max for every column)."""
    import pyarrow.parquet as pq

    abs_dir = os.path.join(store.base_dir, rel)
    parquets = [f for f in os.listdir(abs_dir) if f.endswith(".parquet")]
    if not parquets:
        raise RebuildError(f"chunk dir {rel!r} holds no parquet files")
    cols = [
        c.name
        for c in pq.ParquetFile(os.path.join(abs_dir, parquets[0])).schema_arrow
    ]
    row_count, stats, col_bytes = store._stats_from_footers(abs_dir, cols)
    return ChunkMeta(
        chunk_id=chunk_id,
        path=rel,
        table=table,
        partition_key="",  # unknowable → conservatively matches any
        row_count=row_count,
        stats=stats,
        sorted_by=[],  # unknowable → scan re-sorts where order matters
        created_at=os.stat(abs_dir).st_mtime,
        tag_values={},  # unknowable → metadata ops fall back to scans
        estimated_bytes=_dir_parquet_bytes(abs_dir),
        persisted=False,
        column_bytes=col_bytes,
    )


def rebuild_manifest(
    store: TableStore,
    tables: list[str] | None = None,
    ignore_metadata_read_failure: bool = False,
) -> dict[str, int]:
    """Re-register every chunk found on the data plane into a fresh
    manifest.  Returns {table: chunks registered}.

    Precondition (reference parity, rebuild.rs:44-45): the target
    tables' manifests must be EMPTY — wipe first via
    ``store.wipe_manifest(table)`` (after a backup).  Refusing to merge
    into a live manifest keeps the operation idempotent and prevents
    double-registration.

    Chunk order — and therefore dedup's last-writer-wins tiebreak — is
    preserved because chunk ids are parsed back out of the directory
    names the original allocation minted.  Id-block claims are
    re-derived by claiming the block containing the highest observed id,
    so post-rebuild writers can never re-issue a recovered id.
    """
    if tables is None:
        tables = sorted(
            d
            for d in os.listdir(store.base_dir)
            if d != "_manifest"
            and os.path.isdir(os.path.join(store.base_dir, d))
            and any(
                _CHUNK_DIR_RE.match(f)
                for f in os.listdir(os.path.join(store.base_dir, d))
            )
        )
    out: dict[str, int] = {}
    for table in tables:
        if store.manifest(table):
            raise RebuildError(
                f"manifest for {table!r} is not empty — wipe_manifest() "
                "first (after a backup), like PreservedCatalog::wipe"
            )
        t0 = _time.time_ns()
        tdir = os.path.join(store.base_dir, table)
        metas: list[ChunkMeta] = []
        for fname in sorted(os.listdir(tdir)):
            m = _CHUNK_DIR_RE.match(fname)
            if not m:
                continue  # _bulk-* staging and foreign files are not chunks
            rel = os.path.join(table, fname)
            if os.path.exists(
                os.path.join(store.base_dir, rel, store.RETIRED_MARKER)
            ):
                continue  # parked for deferred deletion: not a live chunk
            chunk_id = int(m.group(1))
            # rebuild.rs's ignore_metadata_read_failure must cover ANY
            # unreadable metadata: truncated sidecar JSON (JSONDecodeError
            # ⊂ ValueError), a sidecar with foreign keys (TypeError from
            # ChunkMeta(**data)), a corrupt parquet footer (pyarrow
            # ArrowInvalid ⊂ ValueError), unreadable files (OSError) —
            # not just the identity/no-parquet cases.  An unreadable
            # SIDECAR with intact parquet degrades to footer-only
            # reconstruction under the flag (strictly better than
            # dropping the chunk); identity mismatches never fall back
            # (guessing from footers would register under a wrong story).
            meta = None
            try:
                meta = _meta_from_sidecar(store, table, rel, chunk_id)
            except RebuildError:
                if ignore_metadata_read_failure:
                    continue
                raise
            except (ValueError, TypeError, KeyError, OSError) as e:
                if not ignore_metadata_read_failure:
                    raise RebuildError(
                        f"cannot read metadata sidecar of {rel!r}: {e}"
                    ) from e
            if meta is None:
                try:
                    meta = _meta_from_footers(store, table, rel, chunk_id)
                except RebuildError:
                    if ignore_metadata_read_failure:
                        continue
                    raise
                except (ValueError, TypeError, KeyError, OSError) as e:
                    if ignore_metadata_read_failure:
                        continue
                    raise RebuildError(
                        f"cannot read metadata of chunk dir {rel!r}: {e}"
                    ) from e
            metas.append(meta)
        # ascending chunk-id order = original registration order: the scan's
        # dedup tiebreak (chunk order) survives the rebuild
        metas.sort(key=lambda c: c.chunk_id)
        for meta in metas:
            store._append_manifest(table, meta)
        # Predicate deletes survive the disaster: every live tombstone
        # left a data-plane sidecar (TableStore._write_tombstone_sidecar,
        # removed again when the tombstone is retired), so re-appending
        # them here closes the resurrection window the reference accepts
        # under rebuild.rs's "No Removals" caveat.  Snapshot chunk ids
        # stay valid because chunk ids are parsed back out of directory
        # names above; a sidecar pointing only at chunks that no longer
        # exist applies to nothing and the next gc_tombstones folds it.
        stones = store.tombstone_sidecars(table)
        for rec in stones:
            store.backend.append_record(table, store.TOMBSTONE_LOG, rec)
        if metas:
            max_id = metas[-1].chunk_id
            base = (max_id // store.ID_BLOCK) * store.ID_BLOCK
            store.backend.claim_id_block(table, base)
            store.backend.set_id_hint(table, base + store.ID_BLOCK)
        # fold the single-transaction log into a base snapshot — the
        # reference creates a checkpoint after rebuild (rebuild.rs:
        # CheckpointFailure path) for the same fast-startup reason
        store.compact_manifest(table)
        store.record_operation(
            job="rebuild_manifest",
            table=table,
            partition_key="",
            chunk_ids=[c.chunk_id for c in metas],
            status="Success",
            wall_nanos=_time.time_ns() - t0,
            description=(
                f"re-registered {len(metas)} chunks and {len(stones)} "
                "delete tombstones from data files"
            ),
        )
        out[table] = len(metas)
    return out
