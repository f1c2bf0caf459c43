"""Snapshot expiry + orphan file cleanup.

moonlink never expires snapshots — its ``FileCatalog`` keeps every
``v{N}.metadata.json`` forever (``table/iceberg/file_catalog.rs:606-624``)
— but the north rule mandates retention-honoring expiry.  Semantics follow
Iceberg's ``expireSnapshots``:

- retain the newest ``retain_last`` versions (always >= 1);
- reachable = every data/DV/manifest file referenced by a retained
  version; computed as a DataFrame union-distinct over the retained
  manifests (at 10^12-file scale the manifests are big data — the
  reachability set never materializes on the driver);
- the on-disk listing is a DISTRIBUTED job: one task per hash-shard
  directory (the ``shard_rel`` layout; cf. the per-prefix LIST contract
  object stores expose), plus the flat legacy roots — never a serial
  driver ``os.walk`` (at 10^12 files that walk is a driver OOM and a
  days-long single thread, in the one operator whose job is touching
  every file);
- orphans (listing LEFT ANTI reachable) stream to the driver in
  batches and are deleted by a pooled worker set (DELETE round-trips
  overlap; cf. the detached deletion tasks in ``table_handler.rs:187-200``);
  the audit list is the only thing the driver accumulates, and it can
  be disabled for huge cleanups;
- expired snapshot headers + manifests are dropped last.

Readers pinned to a *retained* version are untouched (their manifests are
immutable); that is the retention contract — cf. reader pinning keeping
compacted-away files alive until release in the reference
(``union_read/read_state.rs:20-50``).
"""

from __future__ import annotations

import os
import time

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from moonlink_spark import refs
from moonlink_spark.fs import remove_many
from moonlink_spark.operators.scan import local_df
from moonlink_spark.snapshotstore import DATA_DIR, DV_DIR, SnapshotStore

_DELETE_BATCH = 1024


def _listing_units(store: SnapshotStore) -> list[tuple[str, bool]]:
    """Independent listing units: ``(dir, recurse)``.  One unit per
    shard subdirectory (parallel LIST-by-prefix) + the flat root of each
    data/DV dir for legacy unsharded files.  Driver cost is O(shards):
    two ``list`` calls, never a file walk."""
    units: list[tuple[str, bool]] = []
    for sub in (DATA_DIR, DV_DIR):
        root = os.path.join(store.warehouse, sub)
        if not store.fs.is_dir(root):
            continue
        units.append((root, False))  # flat legacy files directly in root
        for name in sorted(store.fs.list(root)):
            p = os.path.join(root, name)
            if store.fs.is_dir(p):
                units.append((p, True))
    return units


def list_files_df(spark: SparkSession, store: SnapshotStore):
    """Every file under data/ + dv/ as a one-column (``f``,
    warehouse-relative) DataFrame, listed by a distributed job — one
    task per shard directory.  The filesystem accessor ships to the
    executors (it is stateless/picklable by contract)."""
    units = _listing_units(store)
    fs = store.fs
    wh = store.warehouse

    def _ls(unit: tuple[str, bool]) -> list[tuple[str]]:
        path, recurse = unit
        if recurse:
            return [(os.path.relpath(f, wh),) for f in fs.walk_files(path)]
        return [(os.path.relpath(os.path.join(path, n), wh),)
                for n in fs.list(path)
                if fs.is_file(os.path.join(path, n))]

    if not units:
        return local_df(spark, "f string")
    rdd = (spark.sparkContext
           .parallelize(units, len(units))
           .flatMap(_ls))
    return spark.createDataFrame(rdd, "f string")


def _clean_stale_tmp(store: SnapshotStore, older_than_seconds: float,
                     now: float) -> list[str]:
    """Remove ``tmp/{job}`` work directories whose newest file is older
    than the threshold — the leftovers of jobs that crashed between
    writing their spark output and renaming it into place (the reference
    deletes evicted/abandoned cache files from detached tasks,
    ``table_handler.rs:187-200``).  Age-gated so a concurrent in-flight
    job's live tmp dir is never pulled out from under it (same contract
    as Iceberg's ``remove_orphan_files(older_than)``)."""
    root = os.path.join(store.warehouse, "tmp")
    removed = []
    if not store.fs.is_dir(root):
        return removed
    for job in sorted(store.fs.list(root)):
        jdir = os.path.join(root, job)
        try:
            newest = max((store.fs.mtime(p)
                          for p in store.fs.walk_files(jdir)),
                         default=store.fs.mtime(jdir))
        except OSError:
            continue  # vanished concurrently (its owner finished)
        if now - newest >= older_than_seconds:
            store.fs.rmtree(jdir)
            removed.append(os.path.join("tmp", job))
    return removed


def expire_snapshots(
    spark: SparkSession,
    store: SnapshotStore,
    *,
    retain_last: int = 2,
    clean_tmp_older_than_seconds: float = 24 * 3600,
    collect_audit: bool = True,
    delete_workers: int = 16,
) -> dict:
    """Expire all but the newest ``retain_last`` versions; delete orphaned
    data/DV files and stale crashed-job tmp directories.  Returns
    {"expired_versions", "deleted_files", "deleted_count",
    "deleted_tmp_dirs"}; ``collect_audit=False`` keeps the driver's
    memory O(batch) for huge cleanups (``deleted_files`` then holds only
    the first batch as a sample)."""
    retain_last = max(1, retain_last)
    versions = store.versions()
    # Live refs (unexpired scan leases + tags, moonlink_spark/refs.py)
    # pin their versions beyond retain_last — the retention half of the
    # reference's reader-pinning contract (union_read/read_state.rs:20-50:
    # compacted-away files stay alive until every reader releases).
    pinned = sorted(refs.pinned_versions(store) & set(versions))
    keep = sorted(set(versions[-retain_last:]) | set(pinned))
    drop = [v for v in versions if v not in keep]

    reachable = None
    for v in keep:
        m = spark.read.parquet(
            *store.read_snapshot(v).manifest_paths)
        files = m.select(F.col("path").alias("f")).union(
            m.filter(F.col("dv_path").isNotNull())
            .select(F.col("dv_path").alias("f")))
        reachable = files if reachable is None else reachable.union(files)
    reachable = reachable.distinct()

    on_disk = list_files_df(spark, store)
    orphans_df = on_disk.join(reachable, on="f", how="left_anti")

    # deletes overlap in a worker pool, batch by batch; the driver
    # never holds more than one batch (plus the optional audit list)
    deleted: list[str] = []
    n_deleted = 0
    batch: list[str] = []

    def _flush(b: list[str]) -> None:
        remove_many(store.fs, [store.abs(rel) for rel in b],
                    max_workers=delete_workers)

    for r in orphans_df.toLocalIterator():
        batch.append(r["f"])
        if len(batch) >= _DELETE_BATCH:
            _flush(batch)
            n_deleted += len(batch)
            if collect_audit or not deleted:
                deleted.extend(batch)
            batch = []
    if batch:
        _flush(batch)
        n_deleted += len(batch)
        if collect_audit or not deleted:
            deleted.extend(batch)

    # manifest segments are SHARED between versions (delta commits carry
    # unchanged segments by reference): a dropped version's segment is
    # deleted only when no retained version still references it.
    retained_segs: set[str] = set()
    for v in keep:
        retained_segs.update(s["path"] for s in store.manifest_segments(v))
    for v in drop:
        for s in store.manifest_segments(v):
            if s["path"] not in retained_segs:
                p = store.abs(s["path"])
                if store.fs.exists(p):
                    store.fs.remove(p)
        store.fs.remove(store.header_path(v))
        lst = store.manifest_list_path(v)
        if store.fs.is_file(lst):
            store.fs.remove(lst)
        getattr(store, "_seg_cache", {}).pop(v, None)
    # backend-specific per-version artifacts (Delta backend: action
    # files) — after header/list/segments so a crash mid-expire leaves
    # the version merely partially dropped, not inconsistent
    store.on_expire_versions(drop)
    tmp_removed = _clean_stale_tmp(store, clean_tmp_older_than_seconds,
                                   now=time.time())
    reaped = refs.reap_stale_leases(store)  # hygiene; correctness never
    # depends on it (pinned_versions already ignored stale leases above)
    return {"expired_versions": drop, "deleted_files": sorted(deleted),
            "deleted_count": n_deleted, "deleted_tmp_dirs": tmp_removed,
            "pinned_versions": pinned, "reaped_leases": sorted(reaped)}
