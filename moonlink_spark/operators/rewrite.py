"""Per-bin compaction rewrite: read → drop deleted rows → Z-order → write.

moonlink's compaction executor (``storage/compaction/compactor.rs:
180-331``) as one Arrow kernel: stream the bin's input files, drop
DV-deleted rows, emit size-capped ZSTD output files
(``parquet_utils.rs:15-20``; roll at ``data_file_final_size``,
``compactor.rs:286-292``), with the sanity check ``rows_out == rows_in −
rows_deleted`` (``compactor.rs:277-279``).  The kernel is two functions:

1. :func:`key_files`, input files → their live rows, each keyed with
   its zkey (``_z``), its output partition (``_p``, from
   :meth:`BinLayout.partitions`) and its file's rank (``_f``);
2. :func:`write_partition`, one partition's rows → its part files:
   one sort by (zkey, Z-order columns, file, position), a new file
   every ``rows_per_file`` rows, positions renumbered from 0.

The kernel runs in one of two placements, chosen per job by its planned
input bytes alone (``DRIVER_REWRITE_BYTES``): in-process on the driver,
or in Spark tasks — ``mapInArrow`` of stage 1 over the bin's file list,
then ``groupBy("_p").applyInArrow`` of stage 2 (:func:`_write_in_tasks`).
Both run the same code on the same Arrow types, so they lay out the
same rows in the same files by construction.

Differences from the reference, by design:

- moonlink preserves input order and builds an old→new row remap for
  still-pending deletes (``compactor.rs:388-465``); we compact *at a
  snapshot* in copy-on-write style — every DV is folded in, so no remap
  exists afterwards, and rows are re-clustered by Z-order key, which
  moonlink does not do at all (north-rule addition).
- output row positions (`_pos`) are re-assigned per output file; they
  are unique within each file — all any future delete vector needs (DVs
  address rows by the (file, _pos) *value*, not by contiguity).
- per-file min/max bounds for the manifest are read back from parquet
  footers (the same footer statistics moonlink aggregates in
  ``parquet_stats_utils.rs:34-174``) — a metadata-only pass.

Every bin writes a **lineage record** (inputs, outputs, row/byte
counters) atomically into the job's checkpoint directory *before*
commit; a restarted job validates and skips completed bins — the
engine's WAL-recovery analogue (``storage/wal.rs:710-780``).

Determinism: the layout is a function of the plan and the job's
boundaries, and the sort key is total, so reruns and resumes write
byte-identical files and commit identical manifests.
"""

from __future__ import annotations

import datetime
import json
import math
import os
import tempfile
import time
from dataclasses import dataclass
from decimal import Decimal
from typing import Iterator, Mapping

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import from_arrow_schema, to_arrow_type

from moonlink_spark.config import TableConfig
from moonlink_spark.functions.zorder import CURVES, ZCUTS_KEY, zorder_proxy
from moonlink_spark.operators.distscan import (grouped_sidecar_positions,
                                               live_file_batches)
from moonlink_spark.operators.planner import CompactionBin
# scan_files is not called here; perfbench/trace.py resolves
# ``operators.rewrite.scan_files`` by name
from moonlink_spark.operators.scan import (FILE_COL, POS_COL, dv_positions,
                                           local_df, scan_files)  # noqa: F401
from moonlink_spark.fs import rename_many
from moonlink_spark.snapshotstore import (DATA_DIR, SnapshotStore,
                                          bound_type, staged_names)

# zstd recompresses snappy input roughly ~0.7×; used only to size the
# output partition count, actual rolling is by partition.
RECOMPRESS_FACTOR = 0.75


def assign_positions(df: DataFrame, pos_col: str = POS_COL) -> DataFrame:
    """Append a 0-based row position within each partition (= within each
    output file, since one task writes one file) — the Spark writes of
    append and merge.

    Uses ``monotonically_increasing_id`` — partition id in the upper 31
    bits, per-partition record counter in the lower 33 — and masks off
    the partition id.  Pure JVM expression: the write never leaves
    whole-stage codegen (vs. a mapInPandas counter, which would
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
        # pyarrow cannot decode the statistics of a decimal stored as an
        # INT32/INT64 (Spark's layout up to 18 digits): scale the raw
        # unscaled integers instead
        col = md.schema.column(idx)
        logical = json.loads(col.logical_type.to_json())
        scale = (logical["scale"] if logical["Type"] == "Decimal"
                 and col.physical_type in ("INT32", "INT64") else None)
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
            lo, hi = ((st.min, st.max) if scale is None else
                      (Decimal(v).scaleb(-scale)
                       for v in (st.min_raw, st.max_raw)))
            mn = lo if mn is None else min(mn, lo)
            mx = hi if mx is None else max(mx, hi)
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

# footer bounds JSON cannot hold, tagged in a lineage record by type
_TAGGED = {"$decimal": Decimal, "$date": datetime.date.fromisoformat,
           "$datetime": datetime.datetime.fromisoformat}


def _tag(v):
    if isinstance(v, Decimal):
        return {"$decimal": str(v)}
    if isinstance(v, datetime.datetime):
        return {"$datetime": v.isoformat()}
    if isinstance(v, datetime.date):
        return {"$date": v.isoformat()}
    raise TypeError(f"{type(v).__name__} in a lineage record")


def _untag(d: dict):
    if len(d) == 1:
        k, v = next(iter(d.items()))
        if k in _TAGGED:
            return _TAGGED[k](v)
    return d


def lineage_path(store: SnapshotStore, job_id: str, bin_id: int) -> str:
    return os.path.join(store.checkpoint_dir(job_id), f"bin-{bin_id:05d}.json")


def load_valid_lineage(store: SnapshotStore, job_id: str,
                       bin_id: int) -> dict | None:
    """Return the bin's lineage record iff it exists and its outputs are
    all present with the recorded sizes (crash-during-rename safety)."""
    path = lineage_path(store, job_id, bin_id)
    if not store.fs.is_file(path):
        return None
    rec = json.loads(store.fs.read_bytes(path), object_hook=_untag)
    for out in rec["outputs"]:
        p = store.abs(out["path"])
        if not store.fs.is_file(p) or store.fs.size(p) != out["bytes"]:
            return None
    return rec


# -- layout ----------------------------------------------------------------

@dataclass(frozen=True)
class BinLayout:
    """Where a bin's live rows go: ``cuts``
    (ascending zkeys; empty: the whole bin is partition 0) carve the zkey
    line into ranges, range ``r`` owns partitions ``offs[r]`` to
    ``offs[r] + subs[r] - 1`` and picks among them by the row's source
    hash (:func:`xxhash64`), and each partition's sorted rows roll into
    a new file every ``rows_per_file`` rows."""

    rows_per_file: int
    cuts: np.ndarray
    subs: np.ndarray
    offs: np.ndarray

    @property
    def n_parts(self) -> int:
        return int(self.subs.sum())

    def partitions(self, zkey: np.ndarray,
                   source_hash: np.ndarray) -> np.ndarray:
        """Each row's partition from its zkey and the hash of its source
        (file, position) (:func:`xxhash64`)."""
        if not len(self.cuts):
            return np.zeros(len(zkey), dtype=np.int64)
        r = np.searchsorted(self.cuts, zkey, side="right")
        return self.offs[r] + np.mod(source_hash, self.subs[r])


def bin_layout(bin: CompactionBin, config: TableConfig,
               boundaries: dict) -> BinLayout:
    """The bin's output layout: ``n_out`` target-sized files of the bin's
    estimated live bytes, split at the job's global zkey cutpoints.

    Deterministic parallel split: the global zkey cutpoints (computed
    once per job from the boundary sample) are carved into ``n_out``
    contiguous ranges.  NOT Spark's ``repartitionByRange``: its sampler
    seeds off the RDD id, so a resumed run would split outputs
    differently than the original — violating the resume-determinism
    invariant.

    Plateau sub-splitting: the cut set dedups, so when the zkey
    distribution has heavy plateaus (hot repos / shared path prefixes
    bucket to one zkey) the ``n_out`` requested cutpoints can collapse
    to a handful of distinct values — leaving a few huge ranges that
    serialize the write stage (measured: 10 tasks where 39 target files
    were asked for).  Each range is therefore sub-split by a
    deterministic hash of the source (file, position) into as many
    partitions as its sampled mass warrants (zcuts markers are ~uniform
    mass), restoring one task = one target-sized file even under plateau
    skew.  Rows sharing a zkey carry no ordering information between
    them, so spreading a plateau across adjacent files does not loosen
    any file's clustering bounds; the hash input is the stable source
    identity, so resumed runs still commit byte-identical output."""
    target = config.compaction.target_file_bytes
    n_out = max(1, math.ceil(bin.live_bytes_est * RECOMPRESS_FACTOR / target))
    rows_per_file = max(1, math.ceil(bin.live_rows / n_out))
    zcuts = boundaries.get(ZCUTS_KEY)
    one = np.ones(1, dtype=np.int64)
    if n_out == 1 or zcuts is None or not len(zcuts):
        return BinLayout(rows_per_file, np.empty(0, np.int64), one, one - 1)
    idx = [int(round(j * len(zcuts) / n_out)) for j in range(1, n_out)]
    cuts = np.array(sorted({int(zcuts[min(i, len(zcuts) - 1)])
                            for i in idx}), dtype=np.int64)
    marks = np.asarray(zcuts, dtype=np.int64)
    below = np.searchsorted(marks, cuts, side="left")
    mass = (np.diff(np.concatenate(([0], below, [marks.size])))
            / max(1, marks.size))
    subs = np.maximum(1, np.rint(mass * n_out).astype(np.int64))
    offs = np.concatenate(([0], np.cumsum(subs)[:-1])).astype(np.int64)
    return BinLayout(rows_per_file, cuts, subs, offs)


# -- Spark's xxhash64, in numpy ----------------------------------------------

_P1, _P2, _P3 = 0x9E3779B185EBCA87, 0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9
_P4, _P5 = 0x85EBCA77C2B2AE63, 0x27D4EB2F165667C5
_M64 = (1 << 64) - 1


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _fmix(h: int) -> int:
    """XXH64's final avalanche."""
    h = (h ^ (h >> 33)) * _P2 & _M64
    h = (h ^ (h >> 29)) * _P3 & _M64
    return h ^ (h >> 32)


def _xxh64_bytes(data: bytes, seed: int) -> int:
    """XXH64 of ``data`` (unsigned), as Spark's ``XXH64.hashUnsafeBytes``
    computes it for a string column."""
    n, i = len(data), 0

    def word(k: int) -> int:
        return _rotl(k * _P2 & _M64, 31) * _P1 & _M64

    if n >= 32:
        v = [(seed + _P1 + _P2) & _M64, (seed + _P2) & _M64, seed & _M64,
             (seed - _P1) & _M64]
        while i <= n - 32:
            for j in range(4):
                k = int.from_bytes(data[i:i + 8], "little")
                v[j] = _rotl((v[j] + k * _P2) & _M64, 31) * _P1 & _M64
                i += 8
        h = (_rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12)
             + _rotl(v[3], 18)) & _M64
        for x in v:
            h = ((h ^ word(x)) * _P1 + _P4) & _M64
    else:
        h = (seed + _P5) & _M64
    h = (h + n) & _M64
    while i <= n - 8:
        h ^= word(int.from_bytes(data[i:i + 8], "little"))
        h = (_rotl(h, 27) * _P1 + _P4) & _M64
        i += 8
    if i <= n - 4:
        h ^= int.from_bytes(data[i:i + 4], "little") * _P1 & _M64
        h = (_rotl(h, 23) * _P2 + _P3) & _M64
        i += 4
    for b in data[i:]:
        h ^= b * _P5 & _M64
        h = _rotl(h, 11) * _P1 & _M64
    return _fmix(h)


def _xxh64_longs(values: np.ndarray, seeds: np.ndarray) -> np.ndarray:
    """Spark's ``XXH64.hashLong(values[i], seeds[i])`` (signed), vectorized
    over uint64 arrays (their products wrap mod 2**64, as Java's do)."""
    u = np.uint64
    k = np.asarray(values, dtype=np.int64).view(np.uint64) * u(_P2)
    k = ((k << u(31)) | (k >> u(33))) * u(_P1)
    h = (np.asarray(seeds, dtype=np.uint64) + u(_P5) + u(8)) ^ k
    h = ((h << u(27)) | (h >> u(37))) * u(_P1) + u(_P4)
    h ^= h >> u(33)
    h *= u(_P2)
    h ^= h >> u(29)
    h *= u(_P3)
    return (h ^ (h >> u(32))).view(np.int64)


def xxhash64(file: str, pos: np.ndarray, seed: int = 42) -> np.ndarray:
    """Spark's ``xxhash64(file, pos)`` for one string ``file`` and an
    int64 array ``pos``: each column's hash seeds the next one's."""
    h = _xxh64_bytes(file.encode("utf-8"), seed)
    return _xxh64_longs(pos, np.full(len(pos), h, dtype=np.uint64))


# -- the rewrite kernel ------------------------------------------------------

# The most planned input bytes (summed over all of a job's bins) that an
# optimize job rewrites in-process on the driver; a larger job runs the
# same kernel in Spark tasks.  In-process won every pair at every size
# measured against the task placement on a 4-core host with a 1 GiB
# driver: 0.11 against 1.10 s at the benchmark's 3 MB, 3.49 against
# 4.89 s at 172 MB, and 1.32 against 1.57 s over 2,000 tiny files, so
# no file-count cap.  Its peak RSS (process plus driver JVM) was 2.1 GB
# at 172 MB and grows with the input, where the task placement's
# Python workers peak per task, so the switch stays at the largest size
# measured, rounded down (tools/rewrite_path_bench.py,
# REWRITE_PATH_CROSSOVER.json)
DRIVER_REWRITE_BYTES = 160 << 20

# the most Arrow bytes of one row group: parquet-mr's block size, and so
# the row group Spark's writer rolls
ROW_GROUP_BYTES = 128 << 20
# stage 1 keys live rows in blocks of about this many Arrow bytes, so
# tiny files share one keying pass; stage 2 chooses a partition's
# dictionary columns from its first rows of about as many
_BLOCK_BYTES = 8 << 20
# the key columns stage 1 appends: zkey, output partition, file rank
_Z, _P, _F = "_z", "_p", "_f"


@dataclass(frozen=True)
class RewriteKernel:
    """One bin's rewrite parameters, built on the driver
    (:func:`rewrite_kernel`) and shipped to the tasks as is: ``schema``
    is the output files' schema (the table's columns under their pinned
    Arrow types, ``_pos`` last), ``defaults`` the Arrow scalars that fill
    added columns' nulls."""

    schema: pa.Schema
    defaults: Mapping[str, pa.Scalar]
    zorder_columns: tuple[str, ...]
    boundaries: Mapping[str, np.ndarray]
    bits: int
    curve: str
    layout: BinLayout
    compression: str
    stats_columns: tuple[str, ...]

    @property
    def keyed_schema(self) -> pa.Schema:
        """Stage 1's output: the data columns with the source ``_pos``
        (nullable), then the three key columns."""
        fields = [f.with_nullable(True) for f in self.schema]
        return pa.schema(fields + [pa.field(_Z, pa.int64()),
                                   pa.field(_P, pa.int64()),
                                   pa.field(_F, pa.int64())])


# the DDL types the rewrite writes as other than their manifest bounds
# type: a ``timestamp`` as UTC-adjusted microseconds (so its footer
# carries min/max, whatever ``outputTimestampType`` says), the narrow
# integers as Spark writes them
_WRITE_TYPES = {"timestamp": pa.timestamp("us", "UTC"), "tinyint": pa.int8(),
                "smallint": pa.int16()}


def column_type(ddl: str | None) -> pa.DataType | None:
    """The Arrow type a column of DDL type ``ddl`` is rewritten as: a
    scalar as :data:`_WRITE_TYPES` or the manifest bounds type it, any
    other DDL as Spark's Arrow mapping; None for no DDL."""
    if ddl is None:
        return None
    return (_WRITE_TYPES.get(ddl.split("(")[0].strip().lower())
            or bound_type(ddl)
            or to_arrow_type(T._parse_datatype_string(ddl)))


def rewrite_kernel(store: SnapshotStore, bin: CompactionBin,
                   config: TableConfig, boundaries: dict,
                   schema: list[str], types: Mapping[str, str] | None,
                   column_defaults: Mapping[str, object] | None
                   ) -> RewriteKernel:
    """The kernel parameters of ``bin``.  A column without a pinned DDL
    type is typed by the first input file's footer, as Spark's inference
    types it."""
    types = types or {}
    cols = [c for c in schema if c != POS_COL]
    footer = None
    fields = []
    for c in cols:
        t = column_type(types.get(c))
        if t is None:
            footer = footer or pq.read_schema(store.abs(bin.files[0]))
            t = footer.field(c).type
        fields.append(pa.field(c, t))
    out = pa.schema(fields + [pa.field(POS_COL, pa.int64(), False)])
    zcols = tuple(config.zorder_columns)
    return RewriteKernel(
        schema=out,
        defaults={c: pa.scalar(v, out.field(c).type)
                  for c, v in (column_defaults or {}).items()
                  if v is not None and c in cols},
        zorder_columns=zcols,
        boundaries={c: np.asarray(boundaries[c], dtype=np.float64)
                    for c in zcols},
        bits=config.zorder_bits, curve=config.zorder_curve,
        layout=bin_layout(bin, config, boundaries),
        compression={"uncompressed": "none"}.get(
            config.compact_compression, config.compact_compression),
        stats_columns=tuple(c for c in config.stats_columns
                            if c in out.names))


def key_files(kernel: RewriteKernel, files) -> Iterator[pa.RecordBatch]:
    """Stage 1: the live rows of ``files`` (``(path, manifest name, rank
    among the bin's files by name, deleted positions or None)``), keyed.

    Each file streams a batch at a time under the kernel's types through
    the scan's per-file reader (``distscan.live_file_batches``), which
    drops its deleted positions and skips wholly-deleted row groups.
    The batches gather into blocks of about ``_BLOCK_BYTES``, so tiny
    files share one keying pass (:func:`_key_block`)."""
    names = kernel.schema.names
    fields = list(kernel.keyed_schema)[:len(names)]
    block, held = [], 0
    for path, rel, rank, dels in files:
        seed = _xxh64_bytes(rel.encode("utf-8"), 42)
        for rb in live_file_batches(path, fields, dels, names):
            if rb.num_rows:
                block.append((rb, rank, seed))
                held += rb.nbytes
            if held >= _BLOCK_BYTES:
                yield _key_block(kernel, block)
                block, held = [], 0
    if block:
        yield _key_block(kernel, block)


def _key_block(kernel: RewriteKernel, block: list) -> pa.RecordBatch:
    """One block of ``(live batch, file rank, file hash seed)``, keyed:
    added columns' nulls take their defaults, and each row gets its zkey
    (the proxy's ranks among the boundaries, interleaved by the curve),
    its output partition from its zkey and the ``xxhash64`` of its
    source (file, position) — a null position hashes as its file alone —
    and its file's rank."""
    names = kernel.schema.names
    counts = [rb.num_rows for rb, _r, _s in block]
    cols = [c.combine_chunks() for c in pa.Table.from_batches(
        [rb for rb, _r, _s in block]).columns]
    for c, v in kernel.defaults.items():
        i = names.index(c)
        cols[i] = pc.fill_null(cols[i], v)
    n = sum(counts)
    if kernel.zorder_columns:
        zkey = np.asarray(CURVES[kernel.curve](
            [np.searchsorted(kernel.boundaries[c],
                             zorder_proxy(cols[names.index(c)]),
                             side="right")
             for c in kernel.zorder_columns], kernel.bits), np.int64)
    else:
        zkey = np.zeros(n, np.int64)
    pos = cols[names.index(POS_COL)]
    seeds = np.repeat(np.array([s for _rb, _r, s in block], np.uint64),
                      counts)
    source = _xxh64_longs(pc.fill_null(pos, 0).to_numpy(), seeds)
    if pos.null_count:
        source = np.where(pc.is_valid(pos).to_numpy(zero_copy_only=False),
                          source, seeds.view(np.int64))
    ranks = np.repeat(np.array([r for _rb, r, _s in block], np.int64),
                      counts)
    return pa.RecordBatch.from_arrays(
        cols + [pa.array(zkey), pa.array(kernel.layout.partitions(
            zkey, source), pa.int64()), pa.array(ranks)],
        schema=kernel.keyed_schema)


def _dictionary_columns(table: pa.Table) -> list[str]:
    """The columns parquet-mr (Spark's writer) keeps dictionary-encoded
    in ``table``: those whose dictionary plus indices come out smaller
    than the plain values (``isCompressionSatisfying``, which parquet-mr
    checks on a column's first page); an all-distinct ``content`` or
    ``commit`` column is written plain."""
    def size(a) -> int:  # plain-encoded bytes
        if pa.types.is_string(a.type) or pa.types.is_binary(a.type):
            return (pc.sum(pc.binary_length(a)).as_py() or 0) + 4 * len(a)
        return max(1, a.type.bit_width // 8) * len(a)

    out = []
    for name, col in zip(table.column_names, table.columns):
        if pa.types.is_nested(col.type):
            continue  # pc.unique cannot hash it: written plain
        uniq = pc.unique(col)
        index_bits = max(1, math.ceil(math.log2(len(uniq) + 1)))
        if size(uniq) + len(col) * index_bits / 8 < size(col):
            out.append(name)
    return out


def _take(batches: list[pa.RecordBatch], starts: np.ndarray,
          idx: np.ndarray) -> pa.Table:
    """Rows ``idx`` of the table made of ``batches`` (which start at rows
    ``starts``), in the order of ``idx``.  pyarrow's ``Table.take``
    first concatenates a many-batch table's columns — a copy of every
    row, on every call — so each batch is taken from alone, and the
    pieces, gathered, are put back in ``idx`` order."""
    chunk = np.searchsorted(starts, idx, side="right") - 1
    by_chunk = np.argsort(chunk, kind="stable")
    cs = chunk[by_chunk]
    edges = np.concatenate(([0], np.flatnonzero(np.diff(cs)) + 1,
                            [len(cs)]))
    gathered = pa.Table.from_batches([
        batches[cs[a]].take(pa.array(idx[by_chunk[a:b]] - starts[cs[a]]))
        for a, b in zip(edges[:-1], edges[1:])])
    if len(edges) == 2:  # one batch: already in ``idx`` order
        return gathered
    gathered = gathered.combine_chunks()  # frees the pieces
    return gathered.take(pa.array(np.argsort(by_chunk)))


def write_partition(kernel: RewriteKernel, rows: pa.Table, part: int,
                    out_dir: str) -> list[tuple[str, int]]:
    """Stage 2: write one layout partition's keyed ``rows`` (stage 1's
    output, in any order) as part files into ``out_dir``; returns each
    file's name and row count.

    One sort by (zkey, Z-order columns, file rank, source position),
    nulls first — a total key, so the files are byte-stable across
    reruns — orders the rows; a new file starts every ``rows_per_file``
    rows, its positions renumbered from 0.  Each row group is one
    :func:`_take` of at most ``ROW_GROUP_BYTES`` of Arrow bytes in
    sorted order, so a memory-mapped ``rows`` is never copied whole.
    Columns are dictionary-encoded as parquet-mr would for the
    partition's first ``_BLOCK_BYTES`` of sorted rows — all of a
    benchmark-sized one."""
    keys = [_Z, *kernel.zorder_columns, _F, POS_COL]
    order = pc.sort_indices(rows, sort_keys=[(k, "ascending") for k in keys],
                            null_placement="at_start").to_numpy().view(
                                np.int64)
    data = rows.select(kernel.schema.names[:-1])
    batches = data.to_batches()
    starts = np.cumsum([0] + [b.num_rows for b in batches[:-1]])
    n, per_file = rows.num_rows, kernel.layout.rows_per_file
    row_bytes = max(1, data.nbytes) / max(1, n)
    group = max(1, int(ROW_GROUP_BYTES / row_bytes))
    head = _take(batches, starts,
                 order[:max(1, int(_BLOCK_BYTES / row_bytes))])
    opts = dict(compression=kernel.compression,
                compression_level=(3 if kernel.compression == "zstd"
                                   else None),
                use_dictionary=_dictionary_columns(head),
                write_statistics=list(kernel.stats_columns))
    pos_field = kernel.schema.field(POS_COL)
    out = []
    for k, first in enumerate(range(0, n, per_file)):
        end = min(n, first + per_file)
        name = f"part-{part:05d}-c{k:03d}.parquet"
        with pq.ParquetWriter(os.path.join(out_dir, name), kernel.schema,
                              **opts) as w:
            for lo in range(first, end, group):
                hi = min(end, lo + group)
                # one row group held at a time
                w.write_table(_take(batches, starts, order[lo:hi])
                              .append_column(pos_field, pa.array(
                                  np.arange(lo - first, hi - first),
                                  pa.int64())), row_group_size=hi - lo)
        out.append((name, end - first))
    return out


def _write_on_driver(store: SnapshotStore, bin: CompactionBin,
                     kernel: RewriteKernel, tmp_dir: str) -> None:
    """The driver placement: stage 1 over the bin's files in-process
    (their deleted positions read by one ``dv_positions`` call), the
    rows split by partition, stage 2 per partition."""
    dels = dv_positions(store, bin.dv_files) if bin.dv_files else {}
    live = pa.Table.from_batches(list(key_files(kernel, [
        (store.abs(f), f, i, dels.get(f))
        for i, f in enumerate(sorted(bin.files))])),
        schema=kernel.keyed_schema)
    store.fs.makedirs(tmp_dir)
    parts = live[_P].to_numpy()
    ids = np.unique(parts)
    for p in ids:
        write_partition(kernel, live.filter(parts == p) if len(ids) > 1
                        else live, int(p), tmp_dir)


def _key_files(kernel: RewriteKernel):
    """mapInArrow body of the task placement's stage 1: :func:`key_files`
    over the plan rows (the bin's input files), each file's deleted
    positions read from the sidecar its row names, one read per sidecar
    and plan batch.  The keyed rows leave as they are, in blocks of about
    ``_BLOCK_BYTES``, and Spark shuffles them as typed rows."""
    def stage1(plans: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for plan in plans:
            paths, rels, dvs, ranks = (plan.column(c).to_pylist()
                                       for c in ("path", "rel", "dv", "rank"))
            dels = grouped_sidecar_positions(
                {r: dv for r, dv in zip(rels, dvs) if dv is not None})
            yield from key_files(kernel, [(path, r, k, dels.get(r))
                                          for path, r, k in zip(paths, rels,
                                                                ranks)])
    return stage1


def _spill(batches: Iterator[pa.RecordBatch], schema: pa.Schema,
           local_dir: str | None) -> pa.Table:
    """A group's batches, cast back to stage 1's ``schema`` (Spark hands
    a timestamp over in the session's zone), written one at a time to an
    Arrow IPC file under ``local_dir`` and read back memory-mapped: the
    task holds one of Spark's row-capped batches at a time, and stage 2's
    sort reads only the key columns' pages.  The file is unlinked at
    once; the mapping keeps it readable until the table is released."""
    fd, path = tempfile.mkstemp(suffix=".arrow", dir=local_dir)
    os.close(fd)
    try:
        with pa.OSFile(path, "wb") as sink, \
                pa.ipc.new_file(sink, schema) as w:
            for rb in batches:
                w.write_batch(rb.cast(schema))
        return pa.ipc.open_file(pa.memory_map(path)).read_all()
    finally:
        os.unlink(path)


def _write_groups(kernel: RewriteKernel, tmp_dir: str):
    """applyInArrow body of the task placement's stage 2: spill the
    group (:func:`_spill`, into the executor's first local dir), then
    :func:`write_partition`; returns the written files' names and
    rows."""
    def stage2(key: tuple, batches: Iterator[pa.RecordBatch]
               ) -> Iterator[pa.RecordBatch]:
        local = (os.environ.get("SPARK_LOCAL_DIRS") or "").split(",")[0]
        rows = _spill(batches, kernel.keyed_schema, local or None)
        written = write_partition(kernel, rows, key[0].as_py(), tmp_dir)
        yield pa.RecordBatch.from_arrays(
            [pa.array([f for f, _ in written], pa.string()),
             pa.array([r for _, r in written], pa.int64())],
            names=["file", "rows"])
    return stage2


def _write_in_tasks(spark: SparkSession, store: SnapshotStore,
                    bin: CompactionBin, kernel: RewriteKernel,
                    tmp_dir: str) -> None:
    """The task placement, one Spark job per bin: a plan frame of one
    row per input file (path, manifest name, sidecar, rank) →
    ``mapInArrow`` of stage 1 → ``groupBy("_p").applyInArrow`` of stage
    2, under the caller's session conf.  A group is one layout partition,
    about one target-sized file."""
    files = sorted(bin.files)
    plan = local_df(spark, "path string, rel string, dv string, rank long", [
        [store.abs(f) for f in files], files,
        [store.abs(bin.dv_files[f]) if f in bin.dv_files else None
         for f in files], list(range(len(files)))])
    store.fs.makedirs(tmp_dir)
    keyed = from_arrow_schema(kernel.keyed_schema, prefer_timestamp_ntz=True)
    (plan.mapInArrow(_key_files(kernel), keyed)
     .groupBy(_P)
     .applyInArrow(_write_groups(kernel, tmp_dir), "file string, rows long")
     .collect())


def rewrite_bin(
    spark: SparkSession,
    store: SnapshotStore,
    bin: CompactionBin,
    *,
    config: TableConfig,
    boundaries: dict,
    job_id: str,
    project: list[str],
    column_defaults: Mapping[str, object] | None = None,
    schema_types: Mapping[str, str] | None = None,
    on_driver: bool = False,
) -> dict:
    """Execute (or resume past) one bin; returns its lineage record.
    The kernel writes the bin's files in-process when ``on_driver``,
    else in Spark tasks; either way they go through the same
    finalization."""
    cached = load_valid_lineage(store, job_id, bin.bin_id)
    if cached is not None:
        return cached

    t_entry = time.monotonic()
    kernel = rewrite_kernel(store, bin, config, boundaries, project,
                            schema_types, column_defaults)
    tmp_dir = os.path.join(store.warehouse, "tmp", job_id,
                           f"bin-{bin.bin_id:05d}")
    t0 = time.monotonic()
    if on_driver:
        _write_on_driver(store, bin, kernel, tmp_dir)
    else:
        _write_in_tasks(spark, store, bin, kernel, tmp_dir)
    t_rewrite = time.monotonic() - t0

    # deterministic final names (assigned in part order before any
    # rename runs), renamed concurrently — the finalization tail
    pairs, rels = staged_names(store, tmp_dir, DATA_DIR,
                               f"data-{job_id}-b{bin.bin_id:05d}")
    rename_many(store.fs, pairs)
    t_finalize = time.monotonic() - t0 - t_rewrite
    stats = footer_stats_many([store.abs(r) for r in rels],
                              config.stats_columns)
    outputs = [{"path": rel, **st} for rel, st in zip(rels, stats)]
    rows_out = sum(o["rows"] for o in outputs)

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
        "writer": "driver" if on_driver else "spark",
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
                          json.dumps(rec, indent=1, sort_keys=True,
                                     default=_tag).encode())
    return rec
