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
those files' manifest rows, their new DV pointers and the ingest file
stats.  The batch is persisted, and a key-sized read of at most
``FLUSH_ROWS`` + 1 of its rows (keys, ``_op`` and each upsert's
estimated bytes) picks the write path.  A batch of at most
``FLUSH_ROWS`` rows (one ingest file) whose upserts fit
``scan.driver_budget`` (a sixteenth of the smaller of
``spark.driver.maxResultSize`` and the driver heap) is written on the
driver: its keys go to the broadcast join as a local relation, the
matched positions come back as Arrow, the driver unions each affected
file's positions with its current sidecar row and writes the one DV
sidecar with pyarrow, and the upserts are read once as Arrow and
written as the one ingest file — no Spark job after the match and that
read (the reference builds and merges DVs in-process per commit,
``snapshot.rs:925-998``).  A larger or wider batch, or
``broadcast_changes=False``, takes the Spark path: the DV merge and the
ingest write are Spark jobs, and the new DV pointers are read back
from the sidecars just written.  The commit patches only the manifest
segments that hold an affected file, as Arrow, and carries every other
segment by reference (cf. the reference's manifest-rewrite-as-data
design, ``puffin_writer_proxy.rs:253-364``); there is no second commit
path.

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

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    MapType,
    StringType,
    StructType,
)

from moonlink_spark import metrics as mtr
from moonlink_spark.config import TableConfig
from moonlink_spark.operators import keyindex, skew
from moonlink_spark.fs import rename_many
from moonlink_spark.operators.rewrite import assign_positions, footer_stats_many
from moonlink_spark.operators.scan import (
    FILE_COL,
    POS_COL,
    _with_relative_file,
    driver_budget,
    dv_positions,
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
# the mem-slice flush row budget (mooncake_table_config.rs:158-163):
# ingest files roll at it, so a batch of at most this many rows is one
# ingest file on either write path
FLUSH_ROWS = 131_072
# affected files per DV sidecar part (Spark) or row group (driver): a
# scan reading one file's DV row prunes the rest by footer stats
DV_FILES_PER_PART = 512


def _row_bytes(schema: StructType, cols: list[str]) -> Column:
    """A row's size over ``cols`` as the driver read holds it: the
    encoded length of a string or binary, the JSON length of a nested
    value, and 16 bytes (the widest fixed-width Arrow value, a decimal)
    for any other type."""
    parts = []
    for c in cols:
        t = schema[c].dataType
        if isinstance(t, (StringType, BinaryType)):
            size = F.octet_length(c)
        elif isinstance(t, (ArrayType, MapType, StructType)):
            size = F.octet_length(F.to_json(c))
        else:
            size = F.lit(16)
        parts.append(F.coalesce(size, F.lit(0)))
    return sum(parts[1:], parts[0])


def _pointers(sidecar: pa.Table, rel: str) -> pa.Table:
    """``(path, dv_path, dv_cardinality)`` of every row of the sidecar
    ``rel``: its ``referenced_file`` and ``cardinality`` columns beside
    its own path."""
    return pa.table({"path": sidecar["referenced_file"],
                     "dv_path": pa.repeat(rel, sidecar.num_rows),
                     "dv_cardinality": sidecar["cardinality"]})


def dv_pointers(store: SnapshotStore, rels: list[str]) -> pa.Table:
    """The ``updated`` table ``commit_delta`` takes for the just-written
    DV sidecars ``rels``, read on the driver with pyarrow."""
    return pa.concat_tables([
        _pointers(pq.read_table(store.abs(rel),
                                columns=["referenced_file", "cardinality"]),
                  rel)
        for rel in rels])


def _publish(store: SnapshotStore, table: pa.Table, sub_dir: str,
             stem: str, job_id: str, **write_options) -> str:
    """Write ``table`` as one parquet file and publish it as a one-part
    Spark write is published: the job's tmp directory, then the rename
    to ``staged_names``' final name.  Returns that name."""
    tmp = os.path.join(store.warehouse, "tmp", job_id, sub_dir)
    store.fs.makedirs(tmp)
    pq.write_table(table, os.path.join(tmp, "part-00000.parquet"),
                   **write_options)
    pairs, rels = staged_names(store, tmp, sub_dir, stem)
    rename_many(store.fs, pairs)
    return rels[0]


def _key_range(col: pa.ChunkedArray) -> tuple:
    """``(lo, hi)`` of the batch's lead key (a ``timestamp`` as an aware
    UTC datetime); ``(None, None)`` — no pruning — for a batch without a
    non-null key, a type Arrow cannot order, or a float NaN (Spark
    orders NaN last, Arrow's ``min_max`` skips it)."""
    try:
        if (pa.types.is_floating(col.type)
                and pc.any(pc.is_nan(col)).as_py()):
            return None, None
        mm = pc.min_max(col)
    except pa.ArrowNotImplementedError:
        return None, None
    lo, hi = mm["min"], mm["max"]
    if not lo.is_valid:
        return None, None
    return lo.as_py(), hi.as_py()


def _positions_by_file(hits: pa.Table) -> dict[str, np.ndarray]:
    """Matched ``(file, position)`` pairs as file → sorted unique
    positions, in file order."""
    files = hits[FILE_COL].to_numpy()
    order = np.argsort(files, kind="stable")
    names, starts = np.unique(files[order], return_index=True)
    groups = np.split(hits[POS_COL].to_numpy()[order], starts[1:])
    return {f: np.unique(g) for f, g in zip(names, groups)}


def _driver_dv(store: SnapshotStore, ents: dict, new_pos: dict,
               job_id: str) -> pa.Table:
    """Union each affected file's new positions with its row in its
    current sidecar, write the rows as one zstd sidecar sorted on
    ``referenced_file`` and return its pointers."""
    files = sorted(new_pos)
    old = dv_positions(store, {f: ents[f]["dv_path"] for f in files
                               if ents[f]["dv_path"]})
    positions = [np.union1d(new_pos[f], old[f]) if f in old else new_pos[f]
                 for f in files]
    sizes = np.array([len(p) for p in positions], dtype=np.int64)
    sidecar = pa.table({
        "referenced_file": pa.array(files, pa.string()),
        "positions": pa.ListArray.from_arrays(
            pa.array(np.concatenate([[0], np.cumsum(sizes)]), pa.int32()),
            pa.array(np.concatenate(positions), pa.int64())),
        "cardinality": pa.array(sizes, pa.int64()),
        "max_row_count": pa.array([ents[f]["rows"] for f in files],
                                  pa.int64()),
    })
    rel = _publish(store, sidecar, DV_DIR, f"dv-{job_id}", job_id,
                   compression="zstd", row_group_size=DV_FILES_PER_PART)
    return _pointers(sidecar, rel)


def _spark_dv(spark: SparkSession, store: SnapshotStore, new_dv: DataFrame,
              ents: dict, job_id: str) -> pa.Table:
    """The same sidecar rows as :func:`_driver_dv` from ``new_dv`` (one
    ``referenced_file, positions`` row per affected file), merged and
    written by Spark; the pointers are read back from the sidecars."""
    affected = sorted(ents)
    # each affected file's current sidecar, and its row count: DV
    # sidecars record it (DV-bitmap sizing parity with the puffin blob
    # property ``mooncake-deletion-vector-max-num-rows``)
    cur = F.broadcast(local_df(
        spark, "referenced_file string, dv_path string, max_row_count long",
        [affected, [ents[f]["dv_path"] for f in affected],
         [ents[f]["rows"] for f in affected]]))
    old_dv_paths = sorted({e["dv_path"] for e in ents.values()
                           if e["dv_path"]})
    merged = new_dv.join(cur, on="referenced_file")
    if old_dv_paths:
        # each file's row in its CURRENT sidecar only, paired on
        # (file, sidecar): superseded rows of the file in older sidecars
        # never join, so there is nothing to explode and deduplicate —
        # one array union per file
        old = (_with_relative_file(
                   read_pinned(spark, [store.abs(p) for p in old_dv_paths]),
                   store, "dv_path")
               .select("referenced_file", "dv_path",
                       F.col("positions").alias("_old")))
        merged = (merged.join(old, how="left",
                              on=["referenced_file", "dv_path"])
                  .withColumn("positions", F.coalesce(
                      F.array_sort(F.array_union("positions", "_old")),
                      F.col("positions"))))
    merged = merged.select(
        "referenced_file", "positions",
        F.size("positions").cast("long").alias("cardinality"),
        "max_row_count")

    tmp = os.path.join(store.warehouse, "tmp", job_id, "dv")
    n_dv = max(1, math.ceil(len(affected) / DV_FILES_PER_PART))
    (merged.repartitionByRange(n_dv, "referenced_file")
     .sortWithinPartitions("referenced_file")
     .write.mode("overwrite").option("compression", "zstd")
     .parquet(tmp))
    pairs, new_rels = staged_names(store, tmp, DV_DIR, f"dv-{job_id}")
    rename_many(store.fs, pairs)
    return dv_pointers(store, new_rels)


def _driver_ingest(store: SnapshotStore, inserts: pa.Table,
                   key_columns: list[str], job_id: str,
                   compression: str) -> list[str]:
    """The upserts as one ingest file: sorted on the keys with nulls
    first (Spark's ascending order), ``_pos`` = row number."""
    ins = inserts.sort_by([(k, "ascending") for k in key_columns],
                          null_placement="at_start")
    ins = ins.append_column(
        POS_COL, pa.array(np.arange(ins.num_rows, dtype=np.int64)))
    return [_publish(store, ins, DATA_DIR, f"data-{job_id}", job_id,
                     compression={"uncompressed": "none"}.get(
                         compression, compression))]


def _spark_ingest(store: SnapshotStore, inserts: DataFrame,
                  key_columns: list[str], n_ins: int, job_id: str,
                  compression: str) -> list[str]:
    """The upserts as ingest files written by Spark, rolled at
    ``FLUSH_ROWS`` rows."""
    tmp = os.path.join(store.warehouse, "tmp", job_id, "ins")
    n_files = max(1, math.ceil(n_ins / FLUSH_ROWS))
    final = assign_positions(
        inserts.repartitionByRange(n_files, *key_columns)
        .sortWithinPartitions(*key_columns))
    (final.write.mode("overwrite")
     .option("compression", compression).parquet(tmp))
    pairs, rels = staged_names(store, tmp, DATA_DIR, f"data-{job_id}")
    rename_many(store.fs, pairs)
    return rels


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
    k0 = key_columns[0]
    is_up = F.col(OP_COL) == "upsert"
    changes = changes.persist()
    new_dv = None
    try:
        # a batch that is one ingest file and whose upserts fit the
        # driver's budget is written on the driver.  A key-sized read of
        # at most FLUSH_ROWS + 1 rows decides it, and gives that batch's
        # key range (bounds pruning), upsert count (ingest-file sizing)
        # and keys
        key_rows = None
        if broadcast_changes:
            key_rows = changes.select(
                *key_columns, OP_COL,
                F.when(is_up, _row_bytes(changes.schema, data_cols))
                .alias("_bytes")).limit(FLUSH_ROWS + 1).toArrow()
            if (key_rows.num_rows > FLUSH_ROWS
                    or (pc.sum(key_rows["_bytes"]).as_py() or 0)
                    > driver_budget(spark)):
                key_rows = None
        on_driver = key_rows is not None

        # -- 1. match change keys to live row positions ------------------
        if on_driver:
            lo, hi = _key_range(key_rows[k0])
            n_ins = (pc.sum(pc.equal(key_rows[OP_COL], "upsert")).as_py()
                     or 0)
            keys = spark.createDataFrame(
                key_rows.select(key_columns),
                schema=StructType([changes.schema[k] for k in key_columns]))
        else:
            # one pass over the persisted batch yields both the key
            # range and the upsert count — no separate count job later
            stats = changes.agg(
                F.min(k0).alias("lo"), F.max(k0).alias("hi"),
                F.sum(F.when(is_up, 1).otherwise(0)).alias("n_ins")
            ).collect()[0]
            lo, hi = stats["lo"], stats["hi"]
            n_ins = int(stats["n_ins"] or 0)
            keys = changes.select(*key_columns)
        # manifest-bounds pruning: files whose [min,max] range on the
        # lead key column cannot intersect the change batch's key range
        # are never scanned — the engine's stand-in for moonlink's
        # point-lookup key index (persisted_bucket_hash_map.rs): at
        # 10^12 files a CDC batch touches a tiny key range, so this is
        # the difference between scanning thousands of files and
        # scanning all of them.
        predicates = None
        if k0 in config.stats_columns and lo is not None:
            predicates = {k0: ("between", lo, hi)}
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
                keys, list(key_columns), n_buckets=config.index_buckets)
        loc = scan(spark, store, snapshot, with_location=True,
                   predicates=predicates, keep_files=keep).select(
            *key_columns, FILE_COL, POS_COL)
        # no distinct(): a repeated key matches the same positions
        # twice, and the grouping below keeps each once
        if broadcast_changes:
            matched = loc.join(F.broadcast(keys), on=key_columns,
                               how="inner")
        else:
            # huge change batch: salt the (possibly skewed) first key col
            plan = skew.plan_salts(loc, k0)
            probe = skew.with_salt(loc, k0, plan,
                                   salt_source=key_columns[1:]
                                   or key_columns)
            build = skew.explode_salts(keys, k0, plan)
            # build side was replicated per salt; probe rows carry one
            # salt — every probe row meets exactly one replica of its key
            matched = probe.join(build, on=[*key_columns, skew.SALT_COL],
                                 how="inner").drop(skew.SALT_COL)

        # -- 2. merge with existing DVs per affected file ----------------
        # One row per affected file — change-batch-sized (the files a
        # CDC batch touches), not table-sized, so safe to plan with
        # driver-side: an Arrow read of the matched positions, or a
        # grouped frame cached for the Spark DV write
        if on_driver:
            new_pos = _positions_by_file(
                matched.select(FILE_COL, POS_COL).toArrow())
            affected = list(new_pos)
        else:
            new_dv = (matched.groupBy(F.col(FILE_COL)
                                      .alias("referenced_file"))
                      .agg(F.array_sort(F.collect_set(POS_COL))
                           .alias("positions"))
                      .persist())
            affected = [r[0] for r in
                        new_dv.select("referenced_file").collect()]
        updated = None
        t_dv = _time.monotonic()
        if affected:
            # driver lookups in the manifest segments commit_delta
            # patches anyway
            ents = store.manifest_lookup(snapshot.version, affected,
                                         ("dv_path", "rows"))
            if on_driver:
                updated = _driver_dv(store, ents, new_pos, job_id)
            else:
                updated = _spark_dv(spark, store, new_dv, ents, job_id)
            store.fs.rmtree(os.path.join(store.warehouse, "tmp", job_id))
            # DV build + publish wall (OTEL sync_deletion_vectors
            # analogue, iceberg_persistence.rs:59-86)
            mtr.observe("sync_deletion_vectors_latency",
                       (_time.monotonic() - t_dv) * 1000.0)

        # -- 3. write inserted rows as fresh ingest files ----------------
        new_entries: list[dict] = []
        if n_ins:
            inserts = changes.filter(is_up).select(*data_cols)
            if on_driver:
                rels = _driver_ingest(store, inserts.toArrow(), key_columns,
                                      job_id, config.ingest_compression)
            else:
                rels = _spark_ingest(store, inserts, key_columns, n_ins,
                                     job_id, config.ingest_compression)
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
