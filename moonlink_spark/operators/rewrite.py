"""Per-bin compaction rewrite: read → DV anti-join → Z-order → write.

The Spark expression of moonlink's compaction executor
(``storage/compaction/compactor.rs:180-331``): stream the bin's input
files, drop DV-deleted rows, emit size-capped ZSTD output files
(``parquet_utils.rs:15-20``; roll at ``data_file_final_size``,
``compactor.rs:286-292``), with the sanity check ``rows_out == rows_in −
rows_deleted`` (``compactor.rs:277-279``).  Differences by design:

- moonlink preserves input order and builds an old→new row remap for
  still-pending deletes (``compactor.rs:388-465``); we compact *at a
  snapshot* in copy-on-write style — every DV is folded in, so no remap
  exists afterwards, and rows are re-clustered by Z-order key
  (``repartitionByRange`` on the Morton key + sort within partitions),
  which moonlink does not do at all (north-rule addition).
- output row positions (`_pos`) are re-assigned per bin partition
  (JVM-side, see :func:`assign_positions`); they are unique within each
  rolled output file — all any future delete vector needs (DVs address
  rows by the (file, _pos) *value*, not by contiguity).
- per-file min/max bounds for the manifest are read back from parquet
  footers (the same footer statistics moonlink aggregates in
  ``parquet_stats_utils.rs:34-174``) — a metadata-only pass.

Every bin writes a **lineage record** (inputs, outputs, row/byte
counters) atomically into the job's checkpoint directory *before*
commit; a restarted job validates and skips completed bins — the
engine's WAL-recovery analogue (``storage/wal.rs:710-780``).

Determinism: input file order, range-partitioner sampling (seeded per
partition in Spark), and a total sort key (zkey, cluster cols, source
file, source position) make reruns byte-stable, so resumed and fresh
runs commit identical manifests.
"""

from __future__ import annotations

import json
import math
import os
import time

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from moonlink_spark.config import TableConfig
from moonlink_spark.functions.zorder import ZCUTS_KEY, with_zorder_key
from moonlink_spark.operators.planner import CompactionBin
from moonlink_spark.operators.scan import FILE_COL, POS_COL, scan_files
from moonlink_spark.fs import rename_many
from moonlink_spark.snapshotstore import (DATA_DIR, SnapshotStore,
                                          staged_names)

ZKEY_COL = "_zkey"
OLDPOS_COL = "_oldpos"
OFILE_COL = "_ofile"
# zstd recompresses snappy input roughly ~0.7×; used only to size the
# output partition count, actual rolling is by partition.
RECOMPRESS_FACTOR = 0.75


def _murmur3_int32(v: int, seed: int = 42) -> int:
    """Spark's ``hash()`` for IntegerType: Murmur3 x86_32 of the 4-byte
    value (parity asserted against ``F.hash`` in tests)."""
    c1, c2 = 0xCC9E2D51, 0x1B873593
    k = v & 0xFFFFFFFF
    k = (k * c1) & 0xFFFFFFFF
    k = ((k << 15) | (k >> 17)) & 0xFFFFFFFF
    k = (k * c2) & 0xFFFFFFFF
    h = (seed ^ k) & 0xFFFFFFFF
    h = ((h << 13) | (h >> 19)) & 0xFFFFFFFF
    h = (h * 5 + 0xE6546B64) & 0xFFFFFFFF
    h ^= 4
    h ^= h >> 16
    h = (h * 0x85EBCA6B) & 0xFFFFFFFF
    h ^= h >> 13
    h = (h * 0xC2B2AE35) & 0xFFFFFFFF
    h ^= h >> 16
    return h - (1 << 32) if h >= (1 << 31) else h


def range_salts(n: int) -> list[int]:
    """``salts[i]`` is an int whose Spark hash places it in partition
    ``i`` of an ``n``-way hash repartition (``pmod(murmur3(salt), n)``).

    Lets a DataFrame route each of ``n`` zkey ranges to exactly one
    shuffle partition deterministically — perfect packing.  Plain
    ``repartition(k, range_id)`` hashes the range ids, and at k ≈ 2n the
    birthday collisions co-locate two ranges in one task (a 2× straggler
    tail measured at ~10 % of the rewrite wall) while leaving other
    tasks empty.  The search is coupon-collector cheap (~n·ln n probes,
    driver-side, no Spark job)."""
    salts: list[int | None] = [None] * n
    found, s = 0, 0
    while found < n:
        p = _murmur3_int32(s) % n  # python % is already non-negative
        if salts[p] is None:
            salts[p] = s
            found += 1
        s += 1
    return salts  # type: ignore[return-value]


def assign_positions(df: DataFrame, pos_col: str = POS_COL) -> DataFrame:
    """Append a 0-based row position within each partition (= within each
    output file, since one task writes one file).

    Uses ``monotonically_increasing_id`` — partition id in the upper 31
    bits, per-partition record counter in the lower 33 — and masks off
    the partition id.  Pure JVM expression: the hot rewrite path never
    leaves whole-stage codegen (vs. a mapInPandas counter, which would
    Arrow-round-trip every payload byte through Python).  The expression
    is nondeterministic-tagged, so Catalyst will not reorder it across
    the preceding sort; row order within the partition is the sorted
    order."""
    local_mask = F.lit((1 << 33) - 1).cast("long")
    return df.withColumn(
        pos_col, F.monotonically_increasing_id().bitwiseAND(local_mask))


def _footer_stats(path: str, stats_columns: tuple[str, ...]) -> dict:
    """rows/bytes/bounds from the parquet footer only (no data read).

    Bounds keep the footer statistics' native type (int stays int, …) —
    the manifest stores them typed (``snapshotstore.bound_type``) so
    pruning compares in column type, never lexicographically.  Writers
    that cannot emit a spec-valid truncated max omit min/max entirely
    (``has_min_max`` false), so footer bounds are always safe to prune
    on."""
    md = pq.ParquetFile(path).metadata
    name_to_idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
    bounds: dict[str, tuple] = {}
    null_counts: dict[str, int] = {}
    for c in stats_columns:
        idx = name_to_idx.get(c)
        if idx is None:
            continue
        mn = mx = None
        bounds_ok = True
        nulls: int | None = 0
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            if st is None or not st.has_null_count:
                nulls = None  # unknown for the whole file
            elif nulls is not None:
                nulls += st.null_count
            if st is None or not st.has_min_max:
                bounds_ok = False  # usable only if EVERY row group has them
                continue
            mn = st.min if mn is None else min(mn, st.min)
            mx = st.max if mx is None else max(mx, st.max)
        if mn is not None and bounds_ok:
            bounds[c] = (mn, mx)
        if nulls is not None:
            null_counts[c] = nulls
    return {
        "rows": md.num_rows,
        "bytes": os.path.getsize(path),
        "bounds": bounds,
        "null_counts": null_counts,
    }


def collect_ndv(spark: SparkSession, store: SnapshotStore,
                rels: list[str],
                stats_columns: tuple[str, ...]) -> dict[str, dict[str, int]]:
    """Per-output-file approx-distinct counts for the stats columns —
    the Iceberg ``distinct_counts`` analogue, as ONE projection-pruned
    Spark job over the files just written.

    ``approx_count_distinct`` is an HLL++ sketch: map-side partial per
    file split, tiny final shuffle keyed by file path (skew-free — one
    group per output file), never a row expansion.  An exact
    COUNT(DISTINCT) would shuffle every distinct value; at 100 TB the
    sketch is the only shape that stays one-pass."""
    from moonlink_spark.operators.scan import _with_relative_file
    if not rels:
        return {}
    df = spark.read.parquet(*[store.abs(r) for r in rels])
    cols = [c for c in stats_columns if c in df.columns]
    if not cols:
        return {}
    per_file = (
        _with_relative_file(df, store)
        .groupBy(FILE_COL)
        .agg(*[F.approx_count_distinct(c, rsd=0.02).alias(c) for c in cols]))
    return {r[FILE_COL]: {c: int(r[c]) for c in cols}
            for r in per_file.collect()}


def footer_stats_many(paths: list[str],
                      stats_columns: tuple[str, ...]) -> list[dict]:
    """Footer stats for many files, concurrently.

    Each footer read is a few ms of I/O; done sequentially on the driver
    it becomes the finalization bottleneck at thousands of output files
    (hours at 100k).  Footer decoding releases the GIL inside pyarrow, so
    a thread pool gets near-linear speedup without any Spark job."""
    if len(paths) <= 4:
        return [_footer_stats(p, stats_columns) for p in paths]
    from concurrent.futures import ThreadPoolExecutor
    with ThreadPoolExecutor(max_workers=min(16, len(paths))) as pool:
        return list(pool.map(lambda p: _footer_stats(p, stats_columns),
                             paths))


# -- lineage ---------------------------------------------------------------

def lineage_path(store: SnapshotStore, job_id: str, bin_id: int) -> str:
    return os.path.join(store.checkpoint_dir(job_id), f"bin-{bin_id:05d}.json")


def load_valid_lineage(store: SnapshotStore, job_id: str,
                       bin_id: int) -> dict | None:
    """Return the bin's lineage record iff it exists and its outputs are
    all present with the recorded sizes (crash-during-rename safety)."""
    path = lineage_path(store, job_id, bin_id)
    if not store.fs.is_file(path):
        return None
    rec = json.loads(store.fs.read_bytes(path))
    for out in rec["outputs"]:
        p = store.abs(out["path"])
        if not store.fs.is_file(p) or store.fs.size(p) != out["bytes"]:
            return None
    return rec


def rewrite_bin(
    spark: SparkSession,
    store: SnapshotStore,
    bin: CompactionBin,
    *,
    config: TableConfig,
    boundaries: dict,
    job_id: str,
    schema_ddl: str | None = None,
    project: list[str] | None = None,
    column_defaults: dict | None = None,
    deletes: DataFrame | None = None,
) -> dict:
    """Execute (or resume past) one bin; returns its lineage record."""
    cached = load_valid_lineage(store, job_id, bin.bin_id)
    if cached is not None:
        return cached

    t_entry = time.monotonic()
    live = scan_files(spark, store, bin.files, bin.dv_paths,
                      bin.deleted_rows, with_location=True,
                      schema_ddl=schema_ddl, project=project,
                      column_defaults=column_defaults, deletes=deletes,
                      dv_files=bin.dv_files)
    live = live.withColumnRenamed(POS_COL, OLDPOS_COL)

    zcols = [c for c in config.zorder_columns]
    if zcols:
        live = with_zorder_key(live, zcols, boundaries,
                               bits=config.zorder_bits, out_col=ZKEY_COL,
                               curve=config.zorder_curve)
    else:  # compaction without clustering: preserve (file, pos) order
        live = live.withColumn(ZKEY_COL, F.lit(0).cast("long"))

    # Deterministic parallel split: the global zkey cutpoints (computed
    # once per job from the boundary sample) are carved into n_out
    # contiguous ranges; each row's range id is a JVM array-filter over
    # the (small) literal cut array.  NOT repartitionByRange: its
    # sampler seeds off the RDD id, so a resumed run would split outputs
    # differently than the original — violating the resume-determinism
    # invariant.  The range id is mapped through a salt table
    # (:func:`range_salts`) so the hash shuffle places each range in its
    # own partition — one range = one task = one target-sized output
    # file, no collision stragglers, no empty tasks.  maxRecordsPerFile
    # still rolls any oversized task's sorted output (the analogue of
    # moonlink's size-rolled writer, disk_slice.rs:183-254).  The sort
    # key is total ((zkey, cluster cols, source file, source pos) is
    # unique), so outputs are byte-stable across reruns.
    target = config.compaction.target_file_bytes
    n_out = max(1, math.ceil(bin.live_bytes_est * RECOMPRESS_FACTOR / target))
    rows_per_file = max(1, math.ceil(bin.live_rows / n_out))
    zcuts = boundaries.get(ZCUTS_KEY)
    if n_out > 1 and zcuts is not None and len(zcuts):
        idx = [int(round(j * len(zcuts) / n_out))
               for j in range(1, n_out)]
        cuts = sorted({int(zcuts[min(i, len(zcuts) - 1)]) for i in idx})
        cut_arr = F.array(*[F.lit(c).cast("long") for c in cuts])
        # Plateau sub-splitting: the cut set dedups, so when the zkey
        # distribution has heavy plateaus (hot repos / shared path
        # prefixes bucket to one zkey) the n_out requested cutpoints can
        # collapse to a handful of distinct values — leaving a few huge
        # ranges that serialize the write stage (measured: 10 tasks
        # where 39 target files were asked for).  Each range is
        # therefore sub-split by a deterministic hash of the source
        # (file, position) into as many partitions as its sampled mass
        # warrants (zcuts markers are ~uniform mass), restoring one
        # task = one target-sized file even under plateau skew.  Rows
        # sharing a zkey carry no ordering information between them, so
        # spreading a plateau across adjacent files does not loosen any
        # file's clustering bounds; the hash input is the stable source
        # identity, so resumed runs still commit byte-identical output.
        marks = np.asarray(zcuts, dtype=np.int64)
        below = np.searchsorted(marks, np.asarray(cuts, dtype=np.int64),
                                side="left")
        mass = (np.diff(np.concatenate(([0], below, [marks.size])))
                / max(1, marks.size))
        subs = np.maximum(1, np.rint(mass * n_out).astype(np.int64))
        offs = np.concatenate(([0], np.cumsum(subs)[:-1]))
        n_parts = int(subs.sum())
        salt_arr = F.array(*[F.lit(s) for s in range_salts(n_parts)])
        subs_arr = F.array(*[F.lit(int(s)) for s in subs])
        offs_arr = F.array(*[F.lit(int(o)) for o in offs])
        rid = (F.size(F.filter(cut_arr,
                               lambda c: c <= F.col(ZKEY_COL))) + 1)
        sub = F.pmod(F.xxhash64(F.col(FILE_COL), F.col(OLDPOS_COL)),
                     F.element_at(subs_arr, rid))
        ranged = live.withColumn(
            OFILE_COL,
            F.element_at(
                salt_arr,
                (F.element_at(offs_arr, rid) + sub + 1).cast("int")))
        clustered = (
            ranged.repartition(n_parts, OFILE_COL)
            .sortWithinPartitions(ZKEY_COL, *zcols, FILE_COL, OLDPOS_COL)
            .drop(ZKEY_COL, FILE_COL, OLDPOS_COL, OFILE_COL)
        )
    else:
        clustered = (
            live.repartition(1)
            .sortWithinPartitions(ZKEY_COL, *zcols, FILE_COL, OLDPOS_COL)
            .drop(ZKEY_COL, FILE_COL, OLDPOS_COL)
        )
    final = assign_positions(clustered)

    t0 = time.monotonic()
    tmp_dir = os.path.join(store.warehouse, "tmp", job_id,
                           f"bin-{bin.bin_id:05d}")
    (final.write.mode("overwrite")
     .option("compression", config.compact_compression)
     .option("maxRecordsPerFile", rows_per_file)
     .parquet(tmp_dir))
    t_rewrite = time.monotonic() - t0

    # deterministic final names (assigned in part order before any
    # rename runs), renamed concurrently — the finalization tail
    pairs, rels = staged_names(store, tmp_dir, DATA_DIR,
                               f"data-{job_id}-b{bin.bin_id:05d}")
    rename_many(store.fs, pairs)
    t_finalize = time.monotonic() - t0 - t_rewrite
    stats = footer_stats_many([store.abs(r) for r in rels],
                              config.stats_columns)
    outputs = []
    rows_out = 0
    for rel, st in zip(rels, stats):
        if st["rows"] == 0:
            store.fs.remove(store.abs(rel))
            continue
        rows_out += st["rows"]
        outputs.append({"path": rel, **st})

    store.fs.rmtree(tmp_dir)

    if config.collect_ndv and outputs:
        ndv_map = collect_ndv(spark, store, [o["path"] for o in outputs],
                              config.stats_columns)
        for o in outputs:
            o["ndv"] = ndv_map.get(o["path"], {})

    if config.index_key_columns and outputs:
        # key-index entries for the compacted outputs (GlobalIndex build
        # at compaction, compactor.rs:347-381 analogue); written before
        # the lineage record, so a resumed bin is never covered-but-empty
        from moonlink_spark.operators import keyindex
        keyindex.write_index(
            spark, store, [o["path"] for o in outputs],
            list(config.index_key_columns),
            n_buckets=config.index_buckets,
            job_id=f"{job_id}-b{bin.bin_id:05d}")

    # compactor.rs:277-279 sanity: every input row is either deleted or out
    expected = bin.live_rows
    if rows_out != expected:
        raise AssertionError(
            f"bin {bin.bin_id}: rows_out={rows_out} != "
            f"rows_in({bin.rows}) - deleted({bin.deleted_rows})={expected}")

    rec = {
        "job_id": job_id,
        "bin_id": bin.bin_id,
        "inputs": bin.files,
        "dv_paths": bin.dv_paths,
        "outputs": outputs,
        "rows_in": bin.rows,
        "rows_deleted": bin.deleted_rows,
        "rows_out": rows_out,
        "bytes_in": bin.bytes,
        "bytes_out": sum(o["bytes"] for o in outputs),
        # per-phase wall seconds — the OTEL latency-histogram analogue
        # (observability/iceberg_persistence.rs:59-86): at cluster scale
        # the first triage question is which phase got slow
        "phase_seconds": {
            "graph_build": round(t0 - t_entry, 3),
            "rewrite": round(t_rewrite, 3),
            "finalize": round(t_finalize, 3),
            "stats_and_index": round(
                time.monotonic() - t0 - t_rewrite - t_finalize, 3),
        },
    }
    store.fs.makedirs(store.checkpoint_dir(job_id))
    store.fs.write_atomic(lineage_path(store, job_id, bin.bin_id),
                          json.dumps(rec, indent=1, sort_keys=True).encode())
    return rec
