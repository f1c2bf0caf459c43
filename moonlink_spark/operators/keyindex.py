"""Persisted bucketed key-hash index: point-lookup pruning for MERGE.

The Spark-native analogue of moonlink's ``GlobalIndex`` persisted bucket
hash map (``storage/index/persisted_bucket_hash_map.rs:288-318``): the
reference hashes each identity key with splitmix64, splits the hash into
bucket bits + verify bits, and stores per-bucket files so a delete's
position lookup touches one bucket, not the table.  Its file indices
are built at flush/compaction time and merged by the index-merge
maintenance op (``snapshot_maintenance.rs:227-309``).

Here the index is *data*, planned with DataFrames:

- **Entries**: ``(key_hash, file)`` pairs — ``xxhash64`` over the
  table's identity-key columns — written as parquet under
  ``idx/b{bucket:04d}/`` where ``bucket = pmod(key_hash, n_buckets)``.
  A MERGE batch hashes its keys, reads ONLY the touched buckets'
  files (a listing, like the reference's bucket addressing), and
  semi-joins to learn which data files can contain any batch key.
- **Coverage**: the index also records *which data files it covers*
  (``idx/files/cov-*.parquet``).  Pruning treats non-covered files as
  always-candidates, so the index is pure optimization — losing or
  lacking index files can never drop a matching row, only widen the
  scan.  (The reference gets the same safety from requiring an index
  per file; we allow mixed tables — e.g. bulk-adopted parquet — to
  stay correct without one.)
- **Lifecycle**: entries are written at file birth (compaction rewrite,
  MERGE insert files, appends) — one projection-pruned job over the
  just-written files.  Entries referencing data files that later leave
  the manifest are *stale, not wrong*: candidates intersect the live
  manifest.  ``optimize("index")`` consolidates the bucket files and
  drops stale entries — the index-merge analogue.  Hash collisions are
  harmless by construction: a false candidate file is scanned and the
  real key equi-join finds nothing (the reference verifies collisions
  against the full row the same way, ``snapshot.rs:925-968``).

Concurrency note: a MERGE whose candidate lookup listed bucket parts
that ``optimize("index")`` then superseded mid-job fails LOUDLY
(file-not-found) and succeeds on rerun against the fresh listing.  That
is deliberate — ``ignoreMissingFiles`` would silently read a partial
index and prune wrongly; the reference likewise keeps index merge
mutually exclusive with other maintenance in one snapshot task
(``snapshot_maintenance.rs:227-309``).
"""

from __future__ import annotations

import json
import os
import warnings

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from moonlink_spark.snapshotstore import SnapshotStore
from moonlink_spark.fs import part_files, remove_many, rename_many
from moonlink_spark.operators.scan import local_df

IDX_DIR = "idx"
COV_DIR = os.path.join(IDX_DIR, "files")
META_NAME = "meta.json"
HASH_COL = "key_hash"
FILE_ENT_COL = "file"


def _meta_path(store: SnapshotStore) -> str:
    return os.path.join(store.warehouse, IDX_DIR, META_NAME)


def read_meta(store: SnapshotStore) -> dict | None:
    """The index's addressing parameters as persisted at first write.

    Bucket count and key columns are *addressing*, not preference: an
    entry hashed/bucketed under one ``(key_columns, n_buckets)`` pair is
    unreachable — or, worse, silently wrong — under another (a covered
    file containing a batch key would be pruned from the MERGE scan).
    The marker makes a config change detectable; every consumer treats
    a mismatch as "index absent" until ``optimize('index')`` rebuilds."""
    p = _meta_path(store)
    if not store.fs.is_file(p):
        return None
    return json.loads(store.fs.read_bytes(p))


def _write_meta(store: SnapshotStore, key_columns: list[str],
                n_buckets: int) -> None:
    store.fs.makedirs(os.path.join(store.warehouse, IDX_DIR))
    store.fs.write_atomic(_meta_path(store), json.dumps({
        "format_version": 1,
        "key_columns": list(key_columns),
        "n_buckets": int(n_buckets),
    }, indent=1, sort_keys=True).encode())


def _meta_matches(meta: dict | None, key_columns: list[str],
                  n_buckets: int) -> bool:
    return (meta is not None
            and meta.get("key_columns") == list(key_columns)
            and meta.get("n_buckets") == int(n_buckets))


def key_hash(key_columns: list[str]):
    """The identity-key hash expression (JVM xxhash64 over the key
    tuple; the splitmix64 analogue)."""
    return F.xxhash64(*[F.col(c) for c in key_columns])


def _bucket_dir(store: SnapshotStore, bucket: int) -> str:
    return os.path.join(store.warehouse, IDX_DIR, f"b{bucket:04d}")


def _bucket_parts(store: SnapshotStore, bucket: int) -> list[str]:
    d = _bucket_dir(store, bucket)
    if not store.fs.is_dir(d):
        return []
    return [os.path.join(d, n) for n in sorted(store.fs.list(d))
            if n.endswith(".parquet")]


def coverage_parts(store: SnapshotStore) -> list[str]:
    d = os.path.join(store.warehouse, COV_DIR)
    if not store.fs.is_dir(d):
        return []
    return [os.path.join(d, n) for n in sorted(store.fs.list(d))
            if n.endswith(".parquet")]


def write_index(spark: SparkSession, store: SnapshotStore,
                data_rels: list[str], key_columns: list[str], *,
                n_buckets: int, job_id: str) -> None:
    """Index the just-written ``data_rels``: one projection-pruned job
    (key columns only — ``content`` is never read) producing distinct
    ``(key_hash, file)`` pairs partitioned by bucket, plus a coverage
    record.  Idempotent under re-runs: duplicate entries/coverage rows
    are harmless (every consumer is a semi-join or distinct)."""
    from moonlink_spark.operators.scan import _with_relative_file

    if not data_rels:
        return
    meta = read_meta(store)
    if meta is None:
        if coverage_parts(store):
            # entries of unknown provenance (pre-marker index): extending
            # them could mix addressing schemes.  Leave the new files
            # uncovered (always-candidates — safe, just wider scans)
            # until optimize("index") rebuilds under the current config.
            warnings.warn(
                "key index has entries but no meta marker; new files "
                "left uncovered — run optimize('index') to rebuild")
            return
        _write_meta(store, key_columns, n_buckets)
    elif not _meta_matches(meta, key_columns, n_buckets):
        warnings.warn(
            f"key index addressing changed (persisted {meta}, config "
            f"key_columns={key_columns} n_buckets={n_buckets}); new "
            "files left uncovered — run optimize('index') to rebuild")
        return
    ent = (_with_relative_file(
               spark.read.parquet(*[store.abs(r) for r in data_rels])
               .select(*key_columns, "_metadata"), store)
           .select(key_hash(key_columns).alias(HASH_COL),
                   F.col("_mlfile").alias(FILE_ENT_COL))
           .distinct()
           .withColumn("bucket",
                       F.pmod(F.col(HASH_COL), F.lit(n_buckets))))
    tmp = os.path.join(store.warehouse, "tmp", f"idx-{job_id}")
    (ent.repartition(n_buckets, F.col("bucket"))
     .write.mode("overwrite").partitionBy("bucket")
     .option("compression", "zstd").parquet(tmp))
    pairs = []
    for name in sorted(store.fs.list(tmp)):
        if not name.startswith("bucket="):
            continue
        b = int(name.split("=", 1)[1])
        store.fs.makedirs(_bucket_dir(store, b))
        for j, part in enumerate(part_files(store.fs,
                                            os.path.join(tmp, name))):
            pairs.append((os.path.join(tmp, name, part),
                          os.path.join(_bucket_dir(store, b),
                                       f"idx-{job_id}-{j:04d}.parquet")))
    rename_many(store.fs, pairs)
    store.fs.rmtree(tmp)

    import pyarrow as pa
    import pyarrow.parquet as pq
    cov_dir = os.path.join(store.warehouse, COV_DIR)
    store.fs.makedirs(cov_dir)
    cov_path = os.path.join(cov_dir, f"cov-{job_id}.parquet")
    table = pa.Table.from_arrays(
        [pa.array(sorted(data_rels), type=pa.string())], names=["path"])
    pq.write_table(table, cov_path + ".idx-tmp")
    store.fs.rename(cov_path + ".idx-tmp", cov_path)


def candidate_files(spark: SparkSession, store: SnapshotStore,
                    manifest: DataFrame, changes: DataFrame,
                    key_columns: list[str], *,
                    n_buckets: int) -> DataFrame | None:
    """Data files that may contain any of the change batch's keys, as a
    one-column (``path``) DataFrame: index hits over the touched buckets
    ∪ every non-covered file (conservative).  ``None`` when no index
    exists (caller scans everything, the pre-index behavior)."""
    cov = coverage_parts(store)
    if not cov:
        return None
    if not _meta_matches(read_meta(store), key_columns, n_buckets):
        # unknown or mismatched addressing: hashing/bucketing with the
        # current config against entries written under another would
        # prune covered files wrongly (missed deletes).  The index can
        # only widen a scan, never narrow it incorrectly — so it is
        # simply absent until optimize("index") rebuilds it.
        warnings.warn(
            "key index addressing mismatch or missing marker; index "
            "ignored — run optimize('index') to rebuild")
        return None
    hashes = (changes.select(key_hash(key_columns).alias(HASH_COL))
              .distinct())
    # touched buckets: change-batch-sized driver list, ≤ n_buckets ints
    # (the reference's bucket addressing, persisted_bucket_hash_map.rs)
    buckets = sorted(r["b"] for r in hashes.select(
        F.pmod(F.col(HASH_COL), F.lit(n_buckets)).alias("b"))
        .distinct().collect())
    parts: list[str] = []
    for b in buckets:
        parts.extend(_bucket_parts(store, b))
    if parts:
        hits = (spark.read.parquet(*parts)
                .join(hashes, on=HASH_COL, how="left_semi")
                .select(F.col(FILE_ENT_COL).alias("path"))
                .distinct())
    else:
        hits = local_df(spark, "path string")
    covered = spark.read.parquet(*cov).select("path").distinct()
    uncovered = (manifest.select("path")
                 .join(covered, on="path", how="left_anti"))
    return hits.union(uncovered).distinct()


def rebuild_index(spark: SparkSession, store: SnapshotStore,
                  live_paths: DataFrame, key_columns: list[str], *,
                  n_buckets: int, job_id: str) -> dict:
    """Drop the whole index and re-derive it from the live data files
    under the CURRENT addressing config — the recovery path for an
    addressing change (old entries are unreachable under new hashing
    and cannot be transformed: the hash input changed).  Batched over
    the live file list so the driver holds one batch of paths."""
    store.fs.rmtree(os.path.join(store.warehouse, IDX_DIR))
    _write_meta(store, key_columns, n_buckets)
    n = 0
    batch: list[str] = []
    bno = 0
    for r in live_paths.select("path").orderBy("path").toLocalIterator():
        batch.append(r["path"])
        if len(batch) >= 4096:
            write_index(spark, store, batch, key_columns,
                        n_buckets=n_buckets, job_id=f"{job_id}-rb{bno:04d}")
            n += len(batch)
            batch, bno = [], bno + 1
    if batch:
        write_index(spark, store, batch, key_columns,
                    n_buckets=n_buckets, job_id=f"{job_id}-rb{bno:04d}")
        n += len(batch)
    return {"rebuilt": True, "files_indexed": n}


def consolidate_index(spark: SparkSession, store: SnapshotStore,
                      live_paths: DataFrame, *, key_columns: list[str],
                      n_buckets: int, job_id: str) -> dict | None:
    """Index merge (``snapshot_maintenance.rs:227-309`` analogue):
    rewrite all bucket files into one part per bucket, dropping stale
    entries (data files no longer in the live manifest) and duplicate
    pairs; consolidate coverage the same way.  New parts land before old
    parts are removed, so a crash mid-swap leaves duplicates — harmless
    — never a gap.

    When the persisted addressing marker disagrees with the current
    config (or entries predate the marker), the index is rebuilt from
    scratch instead — entries hashed under the old addressing are not
    transformable."""
    meta = read_meta(store)
    old_parts: list[str] = []
    for b in range(max(n_buckets,
                       int((meta or {}).get("n_buckets", 0)))):
        old_parts.extend(_bucket_parts(store, b))
    old_cov = coverage_parts(store)
    if not old_parts and not old_cov:
        return None
    if not _meta_matches(meta, key_columns, n_buckets):
        return rebuild_index(spark, store, live_paths, key_columns,
                             n_buckets=n_buckets, job_id=job_id)

    new_parts = 0
    if old_parts:
        ent = (spark.read.parquet(*old_parts)
               .join(live_paths.withColumnRenamed("path", FILE_ENT_COL),
                     on=FILE_ENT_COL, how="left_semi")
               .distinct()
               .withColumn("bucket",
                           F.pmod(F.col(HASH_COL), F.lit(n_buckets))))
        tmp = os.path.join(store.warehouse, "tmp", f"idx-{job_id}")
        (ent.repartition(n_buckets, F.col("bucket"))
         .write.mode("overwrite").partitionBy("bucket")
         .option("compression", "zstd").parquet(tmp))
        pairs = []
        for name in sorted(store.fs.list(tmp)):
            if not name.startswith("bucket="):
                continue
            b = int(name.split("=", 1)[1])
            store.fs.makedirs(_bucket_dir(store, b))
            for j, part in enumerate(part_files(store.fs,
                                                os.path.join(tmp, name))):
                pairs.append((os.path.join(tmp, name, part),
                              os.path.join(_bucket_dir(store, b),
                                           f"idx-{job_id}-{j:04d}.parquet")))
                new_parts += 1
        rename_many(store.fs, pairs)
        store.fs.rmtree(tmp)

    if old_cov:
        merged_cov = (spark.read.parquet(*old_cov)
                      .join(live_paths, on="path", how="left_semi")
                      .distinct().orderBy("path"))
        import pyarrow as pa
        import pyarrow.parquet as pq
        cov_dir = os.path.join(store.warehouse, COV_DIR)
        cov_path = os.path.join(cov_dir, f"cov-{job_id}.parquet")
        schema = pa.schema([("path", pa.string())])
        writer = pq.ParquetWriter(cov_path + ".idx-tmp", schema)
        try:
            # streamed in batches — the consolidated coverage list is
            # O(live files) and never materializes on the driver
            batch: list[str] = []
            for r in merged_cov.toLocalIterator():
                batch.append(r["path"])
                if len(batch) >= 65_536:
                    writer.write_batch(pa.RecordBatch.from_arrays(
                        [pa.array(batch, type=pa.string())],
                        schema=schema))
                    batch = []
            writer.write_batch(pa.RecordBatch.from_arrays(
                [pa.array(batch, type=pa.string())], schema=schema))
        finally:
            writer.close()
        store.fs.rename(cov_path + ".idx-tmp", cov_path)
        old_cov = [p for p in old_cov if p != cov_path]

    # swap: new files are durable; remove superseded ones
    remove_many(store.fs, old_parts + old_cov)
    return {"index_parts_in": len(old_parts), "index_parts_out": new_parts}
