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
- a job whose planned input is at most ``DRIVER_REWRITE_BYTES`` writes
  its bins with pyarrow on the driver instead (:func:`driver_rewrite`),
  in one process like moonlink's compactor: the same rows in the same
  files as the Spark plan (:func:`bin_layout` places rows for both, the
  driver hashes with a numpy port of Spark's ``xxhash64``), through the
  same finalization; it starts no Spark job.

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

import datetime
import json
import math
import os
import time
from dataclasses import dataclass
from decimal import Decimal
from typing import Mapping

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from moonlink_spark.config import TableConfig
from moonlink_spark.functions.zorder import (CURVES, ZCUTS_KEY,
                                             _string_proxy_np,
                                             with_zorder_key)
from moonlink_spark.operators.planner import CompactionBin
from moonlink_spark.operators.scan import (FILE_COL, POS_COL, column_batches,
                                           dv_positions, scan_files)
from moonlink_spark.fs import rename_many
from moonlink_spark.snapshotstore import (DATA_DIR, SnapshotStore,
                                          bound_type, staged_names)

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
    """Where a bin's live rows go, shared by both writers: ``cuts``
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
        (file, position) (:func:`xxhash64`): the numpy twin of the Spark
        writer's salted range id."""
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


# -- the driver writer -------------------------------------------------------

# The most planned input bytes (summed over all of a job's bins) that an
# optimize job rewrites with pyarrow on the driver; a larger job runs
# every bin as a Spark job.  The driver rewrite won every run at every
# size measured on a 4-core host with a 1 GiB driver: 0.10 against 1.22 s
# at the benchmark's 3 MB, 2.86 against 6.62 s at 172 MB, and 1.55
# against 2.77 s over 2,000 tiny files, so no file-count cap.  Its peak
# RSS (process plus driver JVM) was 3.6 GB against 2.5 GB at 172 MB,
# and grows with the input, so the switch stays at the largest size
# measured, rounded down (tools/rewrite_path_bench.py,
# REWRITE_PATH_CROSSOVER.json)
DRIVER_REWRITE_BYTES = 160 << 20

# DDL types the driver writer reads and writes as Spark does (decimals:
# every ``decimal(p, s)`` with bounds, i.e. up to 38 digits).
_DRIVER_TYPES = {"string", "boolean", "int", "integer", "bigint", "long",
                 "float", "double", "date", "timestamp", "timestamp_ntz",
                 "decimal"}
# Z-order column types whose zkey proxy (``cast(double)``) and sort
# order are the same in numpy and pyarrow as in Spark.  Floats are not:
# pyarrow sorts NaN before the numbers under nulls-first, Spark after.
_DRIVER_ZORDER_TYPES = {"string", "int", "integer", "bigint", "long"}
# Spark's parquet codec names, as pyarrow spells them
_DRIVER_CODECS = {"zstd": "zstd", "snappy": "snappy", "gzip": "gzip",
                  "none": "none", "uncompressed": "none"}
# a default Spark's ``coalesce(col, lit(default))`` fills without widening
# the column's type: the JSON value types and the columns they fit
_DEFAULT_TYPES = {str: ("string",), bool: ("boolean",),
                  int: ("int", "integer", "bigint", "long"),
                  float: ("double",)}


def _base(ddl: str) -> str:
    return ddl.split("(")[0].strip().lower()


def _default_scalar(default, ddl: str) -> pa.Scalar | None:
    """``default`` as the Arrow scalar of the column's type, if Spark's
    ``coalesce`` keeps that type (else None)."""
    if _base(ddl) not in _DEFAULT_TYPES.get(type(default), ()):
        return None
    if (_base(ddl) in ("int", "integer")
            and not -(1 << 31) <= default < (1 << 31)):
        return None  # a long literal widens an int column to bigint
    return pa.scalar(default, bound_type(ddl))


def driver_rewrite(spark: SparkSession, bins: list[CompactionBin],
                   config: TableConfig, schema: list[str],
                   types: Mapping[str, str] | None,
                   column_defaults: Mapping[str, object] | None) -> bool:
    """Whether a job rewrites its ``bins`` on the driver: their planned
    input is at most ``DRIVER_REWRITE_BYTES``, and the driver writer
    lays out the table's rows as the Spark plan does.  It does for typed
    columns of :data:`_DRIVER_TYPES`, Z-order columns of
    :data:`_DRIVER_ZORDER_TYPES` with a curve numpy keys, defaults that
    keep their column's type, and a codec pyarrow writes; and for
    ``timestamp`` columns written as Spark writes them under
    ``spark.sql.parquet.outputTimestampType`` (INT96 timestamps only
    where no ``timestamp_ntz`` column needs INT64).  A function of the
    plan, the table and the session's conf: a resumed job takes the same
    path."""
    types = types or {}
    kinds = {c: _base(types.get(c) or "") for c in schema}
    zcols = config.zorder_columns
    if (sum(b.bytes for b in bins) > DRIVER_REWRITE_BYTES
            or POS_COL not in schema
            or config.compact_compression not in _DRIVER_CODECS
            or any(k not in _DRIVER_TYPES
                   or (k == "decimal" and bound_type(types[c]) is None)
                   for c, k in kinds.items())
            or any(kinds.get(c) not in _DRIVER_ZORDER_TYPES for c in zcols)
            or len(zcols) > 1 and (config.zorder_bits > 16
                                   or len(zcols) > 4)
            or any(_default_scalar(v, types[c]) is None
                   for c, v in (column_defaults or {}).items()
                   if v is not None and c in kinds)):
        return False
    return "timestamp" not in kinds.values() or _timestamps_as_spark(
        spark, "timestamp_ntz" in kinds.values()) is not None


def _timestamps_as_spark(spark: SparkSession, ntz: bool) -> bool | None:
    """Whether pyarrow writes ``timestamp`` columns as INT96, as Spark's
    ``spark.sql.parquet.outputTimestampType`` does (None: pyarrow cannot
    write them as Spark does)."""
    out = spark.conf.get("spark.sql.parquet.outputTimestampType", "INT96")
    if out.upper() == "INT96":
        return None if ntz else True
    return False if out.upper() == "TIMESTAMP_MICROS" else None


def _dictionary_columns(table: pa.Table) -> list[str]:
    """The columns parquet-mr (Spark's writer) keeps dictionary-encoded:
    those whose dictionary plus indices come out smaller than the plain
    values (``isCompressionSatisfying``); an all-distinct ``content`` or
    ``commit`` column is written plain."""
    def size(a) -> int:  # plain-encoded bytes
        if pa.types.is_string(a.type) or pa.types.is_binary(a.type):
            return (pc.sum(pc.binary_length(a)).as_py() or 0) + 4 * len(a)
        return max(1, a.type.bit_width // 8) * len(a)

    out = []
    for name, col in zip(table.column_names, table.columns):
        uniq = pc.unique(col)
        index_bits = max(1, math.ceil(math.log2(len(uniq) + 1)))
        if size(uniq) + len(col) * index_bits / 8 < size(col):
            out.append(name)
    return out


def _driver_write(spark: SparkSession, store: SnapshotStore,
                  bin: CompactionBin, layout: BinLayout, *,
                  config: TableConfig, boundaries: dict, tmp_dir: str,
                  schema: list[str], types: Mapping[str, str],
                  column_defaults: Mapping[str, object] | None) -> None:
    """Write the bin's part files into ``tmp_dir`` with pyarrow: the rows
    and files of the Spark plan (:func:`_spark_write`), named so
    ``staged_names`` orders them as it orders Spark's.

    Each input file is read under the table's column types
    (``scan.column_batches``, a missing column as nulls), its deleted
    positions (``scan.dv_positions``) are masked out and the column
    defaults filled in.  The zkey is the numpy twin of
    :func:`with_zorder_key` (string proxy, ``searchsorted`` ranks, the
    curve's interleave); the layout assigns partitions
    (:meth:`BinLayout.partitions`); one sort by (partition, zkey, Z-order
    columns, file, position), nulls first, orders the rows; each
    partition's rows take positions 0.. and roll into a new file every
    ``rows_per_file`` rows."""
    cols = [c for c in schema if c != POS_COL] + [POS_COL]
    dels = dv_positions(store, bin.dv_files) if bin.dv_files else {}
    # a file's rank orders it as its string does
    rank = {f: i for i, f in enumerate(sorted(bin.files))}
    parts, ranks, seeds = [], [], []
    for f in bin.files:
        t = pa.Table.from_batches(
            list(column_batches([store.abs(f)], cols, types)))
        if f in dels:
            t = t.filter(pc.invert(pc.is_in(
                t[POS_COL], pa.array(dels[f], pa.int64()))))
        parts.append(t)
        ranks.append(np.full(t.num_rows, rank[f], np.int64))
        seeds.append(np.full(t.num_rows, _xxh64_bytes(f.encode(), 42),
                             np.uint64))
    live = pa.concat_tables(parts)
    store.fs.makedirs(tmp_dir)
    if not live.num_rows:
        return
    for c, v in (column_defaults or {}).items():
        if v is not None and c in cols:
            i = live.column_names.index(c)
            live = live.set_column(i, c, pc.fill_null(
                live[c], _default_scalar(v, types[c])))
    oldpos = live[POS_COL]
    zcols = list(config.zorder_columns)
    if zcols:
        buckets = []
        for c in zcols:
            if pa.types.is_string(live[c].type):
                proxy = _string_proxy_np(live[c].to_pandas())
            else:
                proxy = pc.fill_null(live[c], 0).to_numpy().astype(
                    np.float64)
            buckets.append(np.searchsorted(
                np.asarray(boundaries[c], dtype=np.float64), proxy,
                side="right"))
        zkey = CURVES[config.zorder_curve](buckets, config.zorder_bits)
    else:
        zkey = np.zeros(live.num_rows, np.int64)
    # Spark's xxhash64 skips a null column: a null position hashes as
    # its file alone
    seed = np.concatenate(seeds)
    part = layout.partitions(zkey, np.where(
        pc.is_valid(oldpos).to_numpy(),
        _xxh64_longs(pc.fill_null(oldpos, 0).to_numpy(), seed),
        seed.view(np.int64)))
    keys = pa.table({"p": part, "z": np.asarray(zkey, np.int64),
                     **{f"c{i}": live[c] for i, c in enumerate(zcols)},
                     "f": np.concatenate(ranks),
                     "o": oldpos})
    order = pc.sort_indices(keys, sort_keys=[(k, "ascending")
                                             for k in keys.column_names],
                            null_placement="at_start")
    out = live.drop_columns([POS_COL]).take(order)
    counts = np.bincount(part, minlength=layout.n_parts)
    fields = [pa.field(c, pa.timestamp("us", "UTC"))
              if _base(types.get(c) or "") == "timestamp"
              else out.schema.field(c) for c in out.column_names]
    schema_out = pa.schema(fields + [pa.field(POS_COL, pa.int64(), False)])
    opts = dict(
        compression=_DRIVER_CODECS[config.compact_compression],
        compression_level=(3 if config.compact_compression == "zstd"
                           else None),
        use_dictionary=_dictionary_columns(out),
        write_statistics=[c for c in config.stats_columns if c in cols],
        use_deprecated_int96_timestamps=bool(
            "timestamp" in (_base(v) for v in types.values())
            and _timestamps_as_spark(spark, False)))
    start = 0
    for p, n in enumerate(counts):
        # Spark's first task writes a file even when it has no row; the
        # finalization drops it, but it takes the first staged name
        for k, first in enumerate(range(0, max(n, p == 0),
                                        layout.rows_per_file)):
            rows = out.slice(start + first,
                             min(layout.rows_per_file, n - first))
            rows = rows.append_column(
                POS_COL, pa.array(np.arange(first, first + rows.num_rows),
                                  pa.int64()))
            pq.write_table(rows.cast(schema_out), os.path.join(
                tmp_dir, f"part-{p:05d}-c{k:03d}.parquet"), **opts)
        start += n


def _spark_write(spark: SparkSession, store: SnapshotStore,
                 bin: CompactionBin, layout: BinLayout, *,
                 config: TableConfig, boundaries: dict, tmp_dir: str,
                 schema_ddl: str | None, project: list[str] | None,
                 column_defaults: dict | None,
                 deletes: DataFrame | None) -> None:
    """Write the bin's part files into ``tmp_dir`` with one Spark job:
    read → DV anti-join → zkey → salted repartition → sort → write.

    Each row's partition is its range's first partition plus
    ``pmod(xxhash64(file, pos), subs)`` (:func:`bin_layout`), mapped
    through a salt table (:func:`range_salts`) so the hash shuffle places
    each partition in its own task — one task = one target-sized output
    file, no collision stragglers, no empty tasks.  ``maxRecordsPerFile``
    rolls a task's sorted output (the analogue of moonlink's size-rolled
    writer, disk_slice.rs:183-254).  The sort key is total ((zkey,
    cluster cols, source file, source pos) is unique), so outputs are
    byte-stable across reruns."""
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

    if len(layout.cuts):
        cut_arr = F.array(*[F.lit(int(c)).cast("long") for c in layout.cuts])
        salt_arr = F.array(*[F.lit(s) for s in range_salts(layout.n_parts)])
        subs_arr = F.array(*[F.lit(int(s)) for s in layout.subs])
        offs_arr = F.array(*[F.lit(int(o)) for o in layout.offs])
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
            ranged.repartition(layout.n_parts, OFILE_COL)
            .sortWithinPartitions(ZKEY_COL, *zcols, FILE_COL, OLDPOS_COL)
            .drop(ZKEY_COL, FILE_COL, OLDPOS_COL, OFILE_COL)
        )
    else:
        clustered = (
            live.repartition(1)
            .sortWithinPartitions(ZKEY_COL, *zcols, FILE_COL, OLDPOS_COL)
            .drop(ZKEY_COL, FILE_COL, OLDPOS_COL)
        )
    (assign_positions(clustered).write.mode("overwrite")
     .option("compression", config.compact_compression)
     .option("maxRecordsPerFile", layout.rows_per_file)
     .parquet(tmp_dir))


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
    schema_types: Mapping[str, str] | None = None,
    on_driver: bool = False,
) -> dict:
    """Execute (or resume past) one bin; returns its lineage record.
    ``on_driver`` (:func:`driver_rewrite`, which needs ``project`` and
    ``schema_types``) writes its files with pyarrow on the driver
    instead of a Spark job; either way they go through the same
    finalization."""
    cached = load_valid_lineage(store, job_id, bin.bin_id)
    if cached is not None:
        return cached

    t_entry = time.monotonic()
    layout = bin_layout(bin, config, boundaries)
    tmp_dir = os.path.join(store.warehouse, "tmp", job_id,
                           f"bin-{bin.bin_id:05d}")
    t0 = time.monotonic()
    if on_driver:
        _driver_write(spark, store, bin, layout, config=config,
                      boundaries=boundaries, tmp_dir=tmp_dir,
                      schema=project, types=schema_types,
                      column_defaults=column_defaults)
    else:
        _spark_write(spark, store, bin, layout, config=config,
                     boundaries=boundaries, tmp_dir=tmp_dir,
                     schema_ddl=schema_ddl, project=project,
                     column_defaults=column_defaults, deletes=deletes)
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
