"""MERGE INTO: apply a change batch as merge-on-read delete vectors.

The DataFrame expression of moonlink's delete→position matching + DV
commit (``storage/mooncake_table/snapshot.rs:811-892,925-998``) and DV
merge-on-sync (``iceberg_table_syncer.rs:376-435``):

- a change batch carries ``_op`` ∈ {'delete','upsert'} plus the table's
  key columns (moonlink's ``IdentityProp::Keys``,
  ``row/moonlink_row.rs:271-291``); CDC ``Update`` arrives as
  ``Delete`` + ``Append`` (``pg_replicate/moonlink_sink.rs:295-327``),
  i.e. 'upsert' here = delete-matched + append-new;
- matched row positions come from an equi-join of the change keys against
  the snapshot scan (moonlink's hash-index point lookup becomes a
  broadcast join when the change set is small — the common CDC case — or
  a salted shuffle join for huge batches over skewed keys);
- the batch's matched positions are grouped into one row per affected
  file and unioned with that file's CURRENT DV row (the sidecar its
  manifest entry names), so every new sidecar row is a superset of the
  file's previous DV;
- inserted rows land in fresh snappy "ingest" files (tiny-file MoR debt,
  by design — a later ``optimize()`` folds everything copy-on-write).

Scale shape: the table's manifest is never collected to the driver.
Only change-batch-sized artifacts touch it: the affected file list,
those files' manifest rows, their new DV pointers as Arrow columns read
from the sidecars just written (pyarrow, no Spark job), and the ingest
file stats.  The commit patches only the manifest segments that hold an
affected file, as Arrow, and carries every other segment by reference
(cf. the reference's manifest-rewrite-as-data design,
``puffin_writer_proxy.rs:253-364``); there is no second commit path.

Concurrency: artifact names embed a per-attempt random nonce, so two
committers racing from the same base version can never overwrite each
other's already-published DV/data files — the loser's files are simply
orphans, collected by a later ``expire_snapshots`` (mirrors the unique
uuids in moonlink's puffin/data file names,
``iceberg_table_syncer.rs:482-557``).

The result is a new snapshot version; the base version is untouched
(snapshot isolation).
"""

from __future__ import annotations

import math
import os
import time as _time
import uuid
from typing import Mapping

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from moonlink_spark import metrics as mtr
from moonlink_spark.config import TableConfig
from moonlink_spark.operators import keyindex, skew
from moonlink_spark.fs import rename_many
from moonlink_spark.operators.rewrite import assign_positions, footer_stats_many
from moonlink_spark.operators.scan import (
    FILE_COL,
    POS_COL,
    _with_relative_file,
    local_df,
    scan,
)
from moonlink_spark.snapshotstore import (
    DATA_DIR,
    DV_DIR,
    Snapshot,
    SnapshotStore,
    read_pinned,
    staged_names,
)

OP_COL = "_op"


def dv_pointers(store: SnapshotStore, rels: list[str]) -> pa.Table:
    """``(path, dv_path, dv_cardinality)`` for every row of the
    just-written DV sidecars ``rels`` — the ``updated`` table
    ``commit_delta`` takes: each sidecar's ``referenced_file`` and
    ``cardinality`` columns, read on the driver with pyarrow, beside the
    sidecar's own path."""
    parts = []
    for rel in rels:
        t = pq.read_table(store.abs(rel),
                          columns=["referenced_file", "cardinality"])
        parts.append(pa.table({"path": t["referenced_file"],
                               "dv_path": pa.repeat(rel, t.num_rows),
                               "dv_cardinality": t["cardinality"]}))
    return pa.concat_tables(parts)


def merge_into(
    spark: SparkSession,
    store: SnapshotStore,
    snapshot: Snapshot,
    changes: DataFrame,
    *,
    key_columns: list[str],
    config: TableConfig,
    broadcast_changes: bool = True,
    job_tag: str = "merge",
    extra_properties: Mapping[str, object] | None = None,
) -> Snapshot:
    """Apply ``changes`` to ``snapshot``; returns the committed successor.

    ``changes`` columns: ``_op`` ('delete' | 'upsert'), the key columns,
    and for upserts the full table payload.  One batch is one atomic
    commit (one LSN in moonlink terms); the caller pre-dedups keys within
    a batch.  ``extra_properties`` are merged into the committed
    snapshot's properties atomically with the commit (used by the
    streaming CDC apply to stamp its exactly-once watermark).
    """
    nonce = uuid.uuid4().hex[:8]
    job_id = f"{job_tag}-v{snapshot.version:06d}-{nonce}"
    data_cols = [c for c in snapshot.schema if c != POS_COL]
    changes = changes.persist()
    new_dv = None
    try:
        # -- 1. match change keys to live row positions ------------------
        # manifest-bounds pruning: files whose [min,max] range on the
        # lead key column cannot intersect the change batch's key range
        # are never scanned — the engine's stand-in for moonlink's
        # point-lookup key index (persisted_bucket_hash_map.rs): at
        # 10^12 files a CDC batch touches a tiny key range, so this is
        # the difference between scanning thousands of files and
        # scanning all of them.
        predicates = None
        k0 = key_columns[0]
        # one pass over the persisted batch yields both the key range
        # (bounds pruning) and the upsert count (ingest-file sizing) —
        # no separate count job later
        stats = changes.agg(
            F.min(k0).alias("lo"), F.max(k0).alias("hi"),
            F.sum(F.when(F.col(OP_COL) == "upsert", 1)
                  .otherwise(0)).alias("n_ins")).collect()[0]
        n_ins = int(stats["n_ins"] or 0)
        if k0 in config.stats_columns and stats["lo"] is not None:
            predicates = {k0: ("between", stats["lo"], stats["hi"])}
        # key-index candidate pruning (the actual point-lookup index,
        # operators/keyindex.py): bounds pruning handles key-local
        # batches; the bucket hash index handles SCATTERED point keys —
        # 100 random deletes over 10^6 files range-prune to everything
        # but index-prune to <=100 files + any non-covered file.
        keep = None
        if (config.index_key_columns
                and tuple(key_columns) == tuple(config.index_key_columns)):
            keep = keyindex.candidate_files(
                spark, store, read_pinned(spark, snapshot.manifest_paths),
                changes, list(key_columns),
                n_buckets=config.index_buckets)
        loc = scan(spark, store, snapshot, with_location=True,
                   predicates=predicates, keep_files=keep).select(
            *key_columns, FILE_COL, POS_COL)
        # no distinct(): a repeated key matches the same positions
        # twice, and collect_set below keeps each once
        keys = changes.select(*key_columns)
        if broadcast_changes:
            matched = loc.join(F.broadcast(keys), on=key_columns,
                               how="inner")
        else:
            # huge change batch: salt the (possibly skewed) first key col
            plan = skew.plan_salts(loc, key_columns[0])
            probe = skew.with_salt(loc, key_columns[0], plan,
                                   salt_source=key_columns[1:]
                                   or key_columns)
            build = skew.explode_salts(keys, key_columns[0], plan)
            # build side was replicated per salt; probe rows carry one
            # salt — every probe row meets exactly one replica of its key
            matched = probe.join(build, on=[*key_columns, skew.SALT_COL],
                                 how="inner").drop(skew.SALT_COL)

        # -- 2. merge with existing DVs per affected file ----------------
        # One row per affected file: the matched positions grouped once
        # and cached, so the DV write below reads the cache.  `affected`
        # is its file column — change-batch-sized (the files a CDC batch
        # touches), not table-sized, so safe to plan with driver-side.
        new_dv = (matched.groupBy(F.col(FILE_COL).alias("referenced_file"))
                  .agg(F.array_sort(F.collect_set(POS_COL))
                       .alias("positions"))
                  .persist())
        affected = [r[0] for r in
                    new_dv.select("referenced_file").collect()]
        updated = None
        t_dv = _time.monotonic()
        if affected:
            # each affected file's current sidecar, and its row count:
            # DV sidecars record it (DV-bitmap sizing parity with the
            # puffin blob property ``mooncake-deletion-vector-max-num-rows``)
            # — driver lookups in the manifest segments commit_delta
            # patches anyway
            ents = store.manifest_lookup(snapshot.version, affected,
                                         ("dv_path", "rows"))
            cur = F.broadcast(local_df(
                spark, "referenced_file string, dv_path string, "
                       "max_row_count long",
                [affected, [ents[f]["dv_path"] for f in affected],
                 [ents[f]["rows"] for f in affected]]))
            old_dv_paths = sorted({e["dv_path"] for e in ents.values()
                                   if e["dv_path"]})
            merged = new_dv.join(cur, on="referenced_file")
            if old_dv_paths:
                # each file's row in its CURRENT sidecar only, paired on
                # (file, sidecar): superseded rows of the file in older
                # sidecars never join, so there is nothing to explode
                # and deduplicate — one array union per file
                old = (_with_relative_file(
                           read_pinned(spark, [store.abs(p)
                                               for p in old_dv_paths]),
                           store, "dv_path")
                       .select("referenced_file", "dv_path",
                               F.col("positions").alias("_old")))
                merged = (merged.join(old, how="left",
                                      on=["referenced_file", "dv_path"])
                          .withColumn("positions", F.coalesce(
                              F.array_sort(F.array_union("positions",
                                                         "_old")),
                              F.col("positions"))))
            merged = merged.select(
                "referenced_file", "positions",
                F.size("positions").cast("long").alias("cardinality"),
                "max_row_count")

            tmp = os.path.join(store.warehouse, "tmp", job_id, "dv")
            n_dv = max(1, math.ceil(len(affected) / 512))
            (merged.repartitionByRange(n_dv, "referenced_file")
             .sortWithinPartitions("referenced_file")
             .write.mode("overwrite").option("compression", "zstd")
             .parquet(tmp))
            pairs, new_rels = staged_names(store, tmp, DV_DIR,
                                           f"dv-{job_id}")
            rename_many(store.fs, pairs)
            # the new pointers, read from the sidecars just renamed
            updated = dv_pointers(store, new_rels)
            store.fs.rmtree(os.path.join(store.warehouse, "tmp", job_id))
            # DV build + publish wall (OTEL sync_deletion_vectors
            # analogue, iceberg_persistence.rs:59-86)
            mtr.observe("sync_deletion_vectors_latency",
                       (_time.monotonic() - t_dv) * 1000.0)

        # -- 3. write inserted rows as fresh ingest files ----------------
        inserts = changes.filter(F.col(OP_COL) == "upsert") \
            .select(*data_cols)
        new_entries: list[dict] = []
        if n_ins:
            tmp = os.path.join(store.warehouse, "tmp", job_id, "ins")
            # roll ingest files at ~the mem-slice flush row budget
            # (131072 rows, mooncake_table_config.rs:158-163)
            n_files = max(1, math.ceil(n_ins / 131_072))
            final = assign_positions(
                inserts.repartitionByRange(n_files, *key_columns)
                .sortWithinPartitions(*key_columns))
            (final.write.mode("overwrite")
             .option("compression", config.ingest_compression).parquet(tmp))
            pairs, rels = staged_names(store, tmp, DATA_DIR,
                                       f"data-{job_id}")
            rename_many(store.fs, pairs)
            for rel, st in zip(rels, footer_stats_many(
                    [store.abs(r) for r in rels], config.stats_columns)):
                if st["rows"]:
                    new_entries.append({"path": rel, **st})
            store.fs.rmtree(os.path.join(store.warehouse, "tmp", job_id))
            if config.index_key_columns:
                # index the fresh ingest files at birth (the reference
                # builds a file index per flushed slice,
                # disk_slice.rs:183-254) — written BEFORE the commit, so
                # a covered file can never be published un-indexed
                keyindex.write_index(
                    spark, store, [e["path"] for e in new_entries],
                    list(config.index_key_columns),
                    n_buckets=config.index_buckets, job_id=job_id)

        # -- 4. commit: manifest DELTA -----------------------------------
        # A MERGE's metadata footprint is exactly its working set: the
        # affected files' new DV pointers (``updated``, an Arrow table
        # the size of the change batch's file set) plus the fresh
        # ingest entries.  commit_delta patches only the manifest
        # segments those files live in; the rest of a 10^12-entry
        # manifest is carried by reference.
        props = dict(snapshot.properties)
        props.update({
            "flush_lsn": snapshot.flush_lsn + 1,
            "job_id": job_id,
            "operation": "merge",
            "merged_deletes": len(affected),
            "inserted_rows": n_ins,
        })
        if extra_properties:
            props.update(extra_properties)
        return store.commit_delta(
            snapshot.version,
            added=new_entries,
            updated=updated,
            schema=snapshot.schema,
            stats_columns=config.stats_columns,
            properties=props,
            expected_parent=snapshot.version,
        )
    finally:
        if new_dv is not None:
            new_dv.unpersist()
        changes.unpersist()
