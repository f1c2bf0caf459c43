"""Versioned snapshot store: manifests + atomic commit.

Plays the role of moonlink's Iceberg persistence layer
(``storage/table/iceberg/iceberg_table_manager.rs`` /
``iceberg_table_syncer.rs:723-838`` in the reference): every table version
is an immutable *snapshot* consisting of

- a small JSON header  ``snapshots/v{N}.json``
  (version, parent, schema, properties such as ``flush_lsn`` — cf. the
  ``moonlink.table-flush-lsn`` snapshot property,
  ``iceberg_table_manager.rs:32-35``), and
- a columnar manifest ``snapshots/manifest-v{N}.parquet`` with one row per
  data file: path, rows, bytes, delete-vector pointer + cardinality, and
  per-column min/max bounds (cf. ``DiskFileEntry``,
  ``storage/mooncake_table.rs:142-153``, and the per-file stats the syncer
  computes, ``parquet_stats_utils.rs:327-412``).

The manifest is *parquet on purpose*: at 10^12-file scale the manifest is
itself big data, and the maintenance planner reads it with
``spark.read.parquet`` and plans with DataFrame ops — never collecting the
file list to the driver.

Since format_version 2 a version's manifest is a LIST of immutable
parquet *segments* (each path-sorted, rolled at ``SEGMENT_ROWS``
entries) named by ``snapshots/manifest-list-v{N}.parquet`` — the
Iceberg manifest-list/manifest-file split.  Segments are SHARED between
versions: a delta commit (:meth:`SnapshotStore.commit_delta`) rewrites
only the segments whose path range contains a removed/updated entry and
carries every other segment over by reference, so a 100-row MERGE on a
10^12-entry manifest costs O(segments hit), not O(table).  Metadata-only
commits (create_snapshot, rollback, schema evolution) reuse the parent's
segment list verbatim (:meth:`SnapshotStore.commit_reuse`) — O(1).
Version-1 snapshots (single ``manifest-v{N}.parquet``, no list file)
remain readable: the list falls back to that one segment.

Commit protocol (cf. the etag-CAS version hint,
``storage/table/iceberg/file_catalog.rs:78,640-665``):

1. write manifest parquet + header json to temp names, fsync-rename into
   place (immutable once named);
2. compare-and-swap ``snapshots/VERSION_HINT`` (tmp write + atomic
   ``os.rename``) after re-reading it to detect a concurrent committer —
   the local-FS analogue of the object-store conditional PUT.

Snapshot isolation falls out: old versions' headers/manifests are never
mutated, so a reader pinned to version ``v`` plans from ``manifest-v{v}``
regardless of later commits (cf. pinned ``ReadState``,
``union_read/read_state.rs:20-50``).
"""

from __future__ import annotations

import json
import os
import re
import time
from dataclasses import dataclass
from typing import Any, Iterable, Mapping

import pyarrow as pa
import pyarrow.parquet as pq

from moonlink_spark.fs import DEFAULT_FS, PosixFileSystem, part_files

SNAPSHOT_DIR = "snapshots"
DATA_DIR = "data"
DV_DIR = "dv"
CHECKPOINT_DIR = "checkpoints"
VERSION_HINT = "VERSION_HINT"
COMMIT_LOCK = "COMMIT_LOCK"

# Commit-lock lease: how long a holder may sit on the lock before
# another committer may take it over (a crashed committer's lock must
# not wedge the table), and how long an acquirer waits before giving up
# with CommitConflict (callers' retry loops handle it).
COMMIT_LOCK_TTL_SECONDS = 120.0
COMMIT_LOCK_ACQUIRE_SECONDS = 30.0

# Hash-prefixed object layout (the public Iceberg
# ``ObjectStoreLocationProvider`` pattern: a short hash component in
# every data path).  Two jobs at 10^12-file scale: (1) object stores
# throttle per key prefix — hashing spreads request rate across
# OBJECT_SHARDS prefixes instead of hammering ``data/``; (2) LIST is
# per-prefix, so orphan scans fan out one task per shard instead of one
# serial listing.  Files are always addressed via the manifest, so the
# layout is invisible to readers; legacy flat files under ``data/`` /
# ``dv/`` keep working (expire lists both).
OBJECT_SHARDS = 64


def shard_rel(sub_dir: str, name: str,
              n_shards: int = OBJECT_SHARDS) -> str:
    """Manifest-relative path for a new data/DV object: hash-sharded
    subdirectory + file name.  The shard is a pure function of the name
    so resumed/idempotent jobs land files at identical paths."""
    import zlib
    h = zlib.crc32(name.encode("utf-8")) % n_shards
    return os.path.join(sub_dir, f"s{h:02x}", name)


def staged_names(store: SnapshotStore, tmp_dir: str, sub_dir: str,
                 stem: str) -> tuple[list[tuple[str, str]], list[str]]:
    """Final names for the part files a Spark write left in
    ``tmp_dir``: part ``j`` (in part order) becomes
    ``shard_rel(sub_dir, f"{stem}-{j:04d}.parquet")``.  Returns the
    ``(src, dst)`` rename pairs and the manifest-relative names; the
    caller runs the renames.  Names are fixed before any rename runs, so
    completion order cannot change the result."""
    pairs, rels = [], []
    for j, part in enumerate(part_files(store.fs, tmp_dir)):
        rel = shard_rel(sub_dir, f"{stem}-{j:04d}.parquet")
        pairs.append((os.path.join(tmp_dir, part), store.abs(rel)))
        rels.append(rel)
    return pairs, rels


class CommitConflict(RuntimeError):
    """Another committer advanced the table between plan and commit."""


@dataclass
class Snapshot:
    """Immutable view of one table version."""

    version: int
    parent: int | None
    schema: list[str]
    properties: dict[str, Any]
    manifest_paths: list[str]  # absolute paths of the manifest segments
    # epoch-seconds commit stamp from the header (None only for
    # pre-upgrade snapshots written before the stamp existed)
    committed_at: float | None = None
    # total manifest entries summed from the segment descriptors (None
    # when any segment predates per-segment counts).  Lets the scan
    # planner pick driver vs distributed planning without running a
    # count job over the manifest parquet (it is an UPPER bound on any
    # pruned manifest, so the decision is conservative the safe way:
    # never plan on the driver something bigger than the header says).
    entry_count: int | None = None

    @property
    def flush_lsn(self) -> int:
        return int(self.properties.get("flush_lsn", 0))


# Manifest parquet schema. Bounds columns are appended as
# ``min_<col>`` / ``max_<col>``, typed in the stats column's native type
# (cf. the typed Iceberg ``Datum`` bounds moonlink aggregates,
# ``parquet_stats_utils.rs:180-320``) — string bounds on a numeric
# column would prune lexicographically ("9" > "10") and silently drop
# matching files.
_BASE_FIELDS = [
    ("path", pa.string()),
    ("rows", pa.int64()),
    ("bytes", pa.int64()),
    ("dv_path", pa.string()),
    ("dv_cardinality", pa.int64()),
]

# DDL type name (lowercased, parameters stripped) → arrow bound type.
_DDL_TO_ARROW = {
    "string": pa.string(),
    "varchar": pa.string(),
    "boolean": pa.bool_(),
    "tinyint": pa.int32(),
    "smallint": pa.int32(),
    "int": pa.int32(),
    "integer": pa.int32(),
    "bigint": pa.int64(),
    "long": pa.int64(),
    "float": pa.float32(),
    "double": pa.float64(),
    "date": pa.date32(),
    "timestamp": pa.timestamp("us"),
    "timestamp_ntz": pa.timestamp("us"),
}


def bound_type(ddl: str | None) -> pa.DataType | None:
    """Arrow type for a bounds column given the column's DDL type.

    Covers the reference's Datum universe
    (``parquet_stats_utils.rs:180-320``): bool/int/long/float/double/
    date/timestamp/string plus parameterized ``decimal(p,s)``, whose
    bounds keep the column's exact precision and scale.  ``None`` means
    bounds are not representable losslessly for that type (nested,
    binary, uuid …): the manifest stores NULL bounds and the pruner
    conservatively keeps the file — never a wrong answer, only a wider
    scan."""
    if not ddl:
        return pa.string()
    base = ddl.split("(")[0].strip().lower()
    if base in ("decimal", "numeric"):
        m = re.match(r"^\s*\w+\s*\(\s*(\d+)\s*(?:,\s*(\d+)\s*)?\)", ddl)
        if not m:
            return pa.decimal128(10, 0)
        prec, scale = int(m.group(1)), int(m.group(2) or 0)
        if prec > 38:
            return None
        return pa.decimal128(prec, scale)
    return _DDL_TO_ARROW.get(base)


def _as_nullable(dt):
    """``dt`` with every field and element nullable — what Spark makes
    of any file source schema (``StructType.asNullable``)."""
    from pyspark.sql import types as T
    if isinstance(dt, T.StructType):
        return T.StructType([T.StructField(f.name, _as_nullable(f.dataType))
                             for f in dt.fields])
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_as_nullable(dt.elementType))
    if isinstance(dt, T.MapType):
        return T.MapType(_as_nullable(dt.keyType),
                         _as_nullable(dt.valueType))
    return dt


def footer_schema(spark, path: str):
    """The Spark read schema of a parquet file, from its footer alone (a
    driver read, no Spark job), or ``None`` where the footer's types do
    not map one-to-one onto what Spark would infer (INT96 and nanosecond
    timestamps, unsigned ints, …) and only Spark's own inference is
    right."""
    import pyarrow.types as pat
    from pyspark.sql.pandas.types import from_arrow_schema

    md = pq.read_metadata(path)
    if any(md.schema.column(i).physical_type == "INT96"
           for i in range(md.num_columns)):
        return None

    ntz = str(spark.conf.get("spark.sql.parquet.inferTimestampNTZ.enabled",
                             "true")).lower() == "true"
    # pyarrow restores dictionary-encoded columns from the arrow schema
    # it stored; Spark reads their values
    arrow = [pa.field(f.name, f.type.value_type if pat.is_dictionary(f.type)
                      else f.type)
             for f in md.schema.to_arrow_schema()]
    if any(pat.is_timestamp(f.type) and f.type.unit == "ns" for f in arrow):
        return None
    try:
        struct = from_arrow_schema(pa.schema(arrow),
                                   prefer_timestamp_ntz=ntz)
    except (TypeError, ValueError, NotImplementedError):
        return None
    return _as_nullable(struct)


def read_pinned(spark, paths):
    """``spark.read.parquet(*paths)`` with the read schema pinned from the
    first file's footer (:func:`footer_schema`).  Without a schema every
    read starts a schema-inference job (``parquet at …``) that costs
    more than reading a small manifest segment or DV sidecar itself.
    Spark infers from one file too, so the result is the same: this is
    for files the engine writes, where every file of one read shares
    one schema (a version's manifest segments, DV sidecars, index
    parts)."""
    paths = list(paths)
    reader = spark.read
    struct = footer_schema(spark, paths[0])
    if struct is not None:
        reader = reader.schema(struct)
    return reader.parquet(*paths)


_MANIFEST_BATCH_ROWS = 65_536


def _segment_rows(path: str):
    """The rows of one manifest segment as dicts, in file (ascending
    ``path``) order, one ``_MANIFEST_BATCH_ROWS`` batch at a time."""
    for batch in pq.ParquetFile(path).iter_batches(
            batch_size=_MANIFEST_BATCH_ROWS):
        yield from batch.to_pylist()


def _pointer_table(updated) -> pa.Table:
    """``commit_delta``'s ``updated`` as an Arrow table ``(path, dv_path,
    dv_cardinality)`` in path order; a ``{path: (dv_path,
    dv_cardinality)}`` mapping is converted once."""
    schema = pa.schema([_BASE_FIELDS[0], *_BASE_FIELDS[3:5]])
    if updated is None:
        return schema.empty_table()
    if isinstance(updated, Mapping):
        updated = pa.table([list(updated),
                            [d for d, _ in updated.values()],
                            [c for _, c in updated.values()]],
                           names=schema.names)
    return updated.select(schema.names).cast(schema).sort_by("path")


def _span(paths: pa.Array, seg: dict) -> tuple[int, int]:
    """The slice of the sorted ``paths`` inside a segment's [min_path,
    max_path] range; all of them for a segment of unknown range (v1)."""
    import bisect
    lo, hi = seg.get("min_path"), seg.get("max_path")
    if lo is None or hi is None:
        return 0, len(paths)
    return (bisect.bisect_left(paths, lo, key=pa.StringScalar.as_py),
            bisect.bisect_right(paths, hi, key=pa.StringScalar.as_py))


def _entry_schema(stats_columns: list[str], stats_types: dict | None,
                  arrow_schema: pa.Schema | None = None):
    """Arrow schema + per-column bound types for manifest rows.  An
    ``arrow_schema`` pins both to an existing segment's: delta commits
    write with the BASE segments' exact parquet schema — mixed bound
    types across segments of one version would break the unioned
    manifest read."""
    if arrow_schema is not None:
        return arrow_schema, {c: arrow_schema.field(f"min_{c}").type
                              for c in stats_columns}
    stats_types = stats_types or {}
    fields = list(_BASE_FIELDS)
    btypes: dict[str, pa.DataType | None] = {}
    for c in stats_columns:
        bt = bound_type(stats_types.get(c, "string"))
        btypes[c] = bt
        t = bt if bt is not None else pa.string()
        fields.append((f"min_{c}", t))
        fields.append((f"max_{c}", t))
    # per-column null counts (Iceberg null_value_counts analogue, free
    # from parquet footers): NULL = unknown, never pruned on
    for c in stats_columns:
        fields.append((f"null_{c}", pa.int64()))
    # per-column approx distinct counts (HLL++, Iceberg distinct_counts
    # analogue) when the table opts into ``collect_ndv``; NULL = not
    # collected
    for c in stats_columns:
        fields.append((f"ndv_{c}", pa.int64()))
    return pa.schema(fields), btypes


def _entries_batch(entries: list[dict], schema: pa.Schema,
                   stats_columns: list[str], btypes: dict
                   ) -> pa.RecordBatch:
    """Manifest entries as one record batch of ``schema``.  Entries
    carry bounds nested (``bounds={col: (mn, mx)}``) or flat
    (``min_<col>``/``max_<col>`` keys, i.e. manifest-row shape); a
    column without a bound type gets NULL bounds."""
    cols: dict[str, list] = {name: [] for name in schema.names}
    for e in entries:
        cols["path"].append(e["path"])
        cols["rows"].append(int(e["rows"]))
        cols["bytes"].append(int(e["bytes"]))
        cols["dv_path"].append(e.get("dv_path"))
        cols["dv_cardinality"].append(int(e.get("dv_cardinality") or 0))
        bounds = e.get("bounds")
        for c in stats_columns:
            if bounds is not None:
                mn, mx = bounds.get(c, (None, None))
            else:
                mn, mx = e.get(f"min_{c}"), e.get(f"max_{c}")
            if btypes[c] is None:
                mn = mx = None
            cols[f"min_{c}"].append(mn)
            cols[f"max_{c}"].append(mx)
        nulls = e.get("null_counts")
        ndv = e.get("ndv")
        for c in stats_columns:
            nv = nulls.get(c) if nulls is not None else e.get(f"null_{c}")
            cols[f"null_{c}"].append(int(nv) if nv is not None else None)
            dv = ndv.get(c) if ndv is not None else e.get(f"ndv_{c}")
            cols[f"ndv_{c}"].append(int(dv) if dv is not None else None)
    return pa.RecordBatch.from_arrays(
        [pa.array(cols[f.name], type=f.type) for f in schema],
        schema=schema)


# Entries per manifest segment.  Segments are the unit a delta commit
# rewrites and the unit the list file tracks: smaller segments mean a
# point-MERGE rewrites less metadata; larger segments mean a shorter
# manifest list.  ~262k entries ≈ 10-25 MB zstd — the Iceberg manifest
# sweet spot, scaled up for the 10^12-entry design regime.
SEGMENT_ROWS = 1 << 18

# Delta commits accumulate ~1-2 segments each; optimize() consolidates.
# Between optimizes, a commit whose segment count would exceed MAX
# k-way-merges the smallest segments back down to TARGET.
MAX_MANIFEST_SEGMENTS = 64
COALESCE_TARGET_SEGMENTS = 48


class SnapshotStore:
    """Filesystem-backed snapshot store rooted at a warehouse directory.

    Every driver-side I/O goes through the ``fs`` accessor
    (:mod:`moonlink_spark.fs`) — the posix default in the sandbox, an
    object-store implementation on a real cluster."""

    def __init__(self, warehouse: str, fs: PosixFileSystem | None = None):
        self.warehouse = os.path.abspath(warehouse)
        self.fs = fs or DEFAULT_FS

    # -- paths -----------------------------------------------------------
    def abs(self, relpath: str) -> str:
        return os.path.join(self.warehouse, relpath)

    def rel(self, abspath: str) -> str:
        p = abspath
        if p.startswith("file://"):
            p = p[len("file://"):]
        return os.path.relpath(p, self.warehouse)

    @property
    def snapshot_dir(self) -> str:
        return os.path.join(self.warehouse, SNAPSHOT_DIR)

    def header_path(self, version: int) -> str:
        return os.path.join(self.snapshot_dir, f"v{version:06d}.json")

    def manifest_path(self, version: int) -> str:
        """Legacy single-segment manifest name (format_version 1 and the
        single-segment fast path of full commits)."""
        return os.path.join(self.snapshot_dir, f"manifest-v{version:06d}.parquet")

    def manifest_list_path(self, version: int) -> str:
        return os.path.join(self.snapshot_dir,
                            f"manifest-list-v{version:06d}.parquet")

    def segment_path(self, version: int, idx: int) -> str:
        return os.path.join(
            self.snapshot_dir, f"manifest-v{version:06d}-p{idx:04d}.parquet")

    def checkpoint_dir(self, job_id: str) -> str:
        return os.path.join(self.warehouse, CHECKPOINT_DIR, job_id)

    # -- lifecycle -------------------------------------------------------
    def init_warehouse(self) -> None:
        for d in (SNAPSHOT_DIR, DATA_DIR, DV_DIR, CHECKPOINT_DIR):
            self.fs.makedirs(os.path.join(self.warehouse, d))

    def exists(self) -> bool:
        return self.fs.is_file(
            os.path.join(self.snapshot_dir, VERSION_HINT))

    def current_version(self) -> int:
        hint = os.path.join(self.snapshot_dir, VERSION_HINT)
        return int(self.fs.read_bytes(hint).decode().strip())

    def versions(self) -> list[int]:
        out = []
        for name in self.fs.list(self.snapshot_dir):
            if name.startswith("v") and name.endswith(".json"):
                out.append(int(name[1:-5]))
        return sorted(out)

    # -- read ------------------------------------------------------------
    def manifest_segments(self, version: int) -> list[dict]:
        """Segment descriptors of one version, in list order:
        ``{path (warehouse-relative), entries, min_path, max_path,
        bytes}``.  From the manifest-list parquet; version-1 snapshots
        (no list file) fall back to their single legacy manifest with
        unknown stats (``entries``/ranges None → a delta commit treats
        it as always-intersecting, conservatively).  Cached: segment
        lists are immutable once committed."""
        cache = getattr(self, "_seg_cache", None)
        if cache is None:
            cache = self._seg_cache = {}
        if version in cache:
            return cache[version]
        lst = self.manifest_list_path(version)
        if self.fs.is_file(lst):
            segs = pq.read_table(lst).to_pylist()
        else:
            segs = [{"path": os.path.relpath(self.manifest_path(version),
                                             self.warehouse),
                     "entries": None, "min_path": None, "max_path": None,
                     "bytes": None}]
        cache[version] = segs
        return segs

    def read_snapshot(self, version: int | None = None) -> Snapshot:
        if version is None:
            version = self.current_version()
        hdr = json.loads(self.fs.read_bytes(self.header_path(version)))
        ts = hdr.get("committed_at")
        segs = self.manifest_segments(version)
        counts = [s.get("entries") for s in segs]
        return Snapshot(
            version=hdr["version"],
            parent=hdr.get("parent"),
            schema=hdr["schema"],
            properties=hdr.get("properties", {}),
            manifest_paths=[self.abs(s["path"]) for s in segs],
            committed_at=float(ts) if ts is not None else None,
            entry_count=(sum(counts)
                         if all(c is not None for c in counts) else None),
        )

    def commit_time(self, version: int) -> float:
        """Epoch seconds the version was committed.  From the header's
        ``committed_at`` stamp; pre-upgrade snapshots (no stamp) fall
        back to the header object's mtime — the old, migration-fragile
        behavior, kept only for them."""
        hdr = json.loads(self.fs.read_bytes(self.header_path(version)))
        ts = hdr.get("committed_at")
        return float(ts) if ts is not None \
            else self.fs.mtime(self.header_path(version))

    def manifest_df(self, spark, version: int | None = None):
        """The manifest as a Spark DataFrame — the planner's input.  Its
        schema is pinned from the first segment's footer
        (:func:`read_pinned`): building the frame starts no Spark job;
        the segments are read only by the query that uses it."""
        snap = self.read_snapshot(version)
        return read_pinned(spark, snap.manifest_paths)

    def manifest_lookup(self, version: int, paths: Iterable[str],
                        columns: Iterable[str]) -> dict[str, dict]:
        """``columns`` of the manifest entries of ``paths``, driver-side:
        path → {column: value}.  Reads only the segments whose path range
        can hold one of them — the segments :meth:`commit_delta` reads
        and rewrites when it updates the same paths — with a vectorized
        arrow filter.  For change-sized path sets; raises
        ``RuntimeError`` if a path is not in the manifest."""
        import pyarrow.compute as pc

        wanted = pa.array(sorted(set(paths)), type=pa.string())
        cols = ["path", *columns]
        out: dict[str, dict] = {}
        for seg in self.manifest_segments(version):
            lo, hi = _span(wanted, seg)
            if seg.get("entries") == 0 or lo == hi:
                continue
            t = pq.read_table(self.abs(seg["path"]), columns=cols)
            t = t.filter(pc.is_in(t["path"], value_set=wanted[lo:hi]))
            for row in t.to_pylist():
                out[row.pop("path")] = row
        if len(out) != len(wanted):
            missing = [p for p in wanted.to_pylist() if p not in out]
            raise RuntimeError(
                f"v{version} manifest lacks {len(missing)} paths "
                f"(first: {missing[:3]})")
        return out

    def manifest_entries(self, version: int | None = None) -> list[dict]:
        """Driver-side manifest rows, globally path-sorted, as one list
        (test/inspection helper; the scan and compaction planners read
        only the segment columns they need with pyarrow)."""
        return list(self.manifest_rows_iter(version))

    def manifest_rows_iter(self, version: int | None = None):
        """Stream manifest rows (dicts, ascending ``path``) with bounded
        memory: a k-way merge of the per-segment iterators (each segment
        is written path-sorted); the driver holds one batch per segment,
        regardless of entry count."""
        import heapq

        snap = self.read_snapshot(version)
        yield from heapq.merge(
            *[_segment_rows(p) for p in snap.manifest_paths],
            key=lambda e: e["path"])

    # -- write -----------------------------------------------------------
    def _commit_lock(self):
        """Serialize commits per table (context manager).

        The reference serializes all table mutations through one event
        loop per table (``table_handler.rs``); this lease is the
        multi-process analogue.  Why it must exist: snapshot artifacts
        (header, manifest list, segments) have DETERMINISTIC names per
        version, so two committers racing for version N would overwrite
        each other's artifacts BEFORE the VERSION_HINT CAS decides the
        winner — the loser could corrupt the winner's already-published
        version.  The CAS alone protects only the pointer, not the
        artifacts it points at.

        Lease semantics: exclusive create through the fs seam (posix
        ``O_EXCL`` / object-store ``If-None-Match``); a holder older
        than ``COMMIT_LOCK_TTL_SECONDS`` is presumed crashed and taken
        over; acquirers give up with :class:`CommitConflict` after
        ``COMMIT_LOCK_ACQUIRE_SECONDS`` (callers' retry loops handle
        it)."""
        import contextlib
        import uuid

        store = self

        @contextlib.contextmanager
        def _ctx():
            path = os.path.join(store.snapshot_dir, COMMIT_LOCK)
            token = uuid.uuid4().hex.encode()
            deadline = time.monotonic() + COMMIT_LOCK_ACQUIRE_SECONDS
            while not store.fs.create_exclusive(path, token):
                try:
                    age = time.time() - store.fs.mtime(path)
                except (FileNotFoundError, OSError):
                    continue  # released between check and stat: retry
                if age > COMMIT_LOCK_TTL_SECONDS:
                    # Presumed-crashed holder: takeover by RENAME to a
                    # unique tombstone, not remove — rename is atomic
                    # and exactly one of N racing takeover attempts
                    # wins, so a waiter can never delete the FRESH lock
                    # another takeover just created (the stat→remove
                    # window).  Object-store mapping: conditional
                    # delete on the etag/generation read at the stat
                    # (S3 ``If-Match`` DELETE / GCS
                    # ``if-generation-match``).
                    tomb = f"{path}.stale-{uuid.uuid4().hex}"
                    try:
                        store.fs.rename(path, tomb)
                    except (FileNotFoundError, OSError):
                        continue  # someone else won the takeover: retry
                    try:
                        store.fs.remove(tomb)
                    except (FileNotFoundError, OSError):
                        pass
                    continue
                if time.monotonic() >= deadline:
                    raise CommitConflict(
                        f"commit lock held for {age:.1f}s by another "
                        "committer")
                time.sleep(0.02)
            try:
                yield
            finally:
                # release only our own lease (a TTL takeover may have
                # replaced it while we were stalled)
                try:
                    if store.fs.read_bytes(path) == token:
                        store.fs.remove(path)
                except (FileNotFoundError, OSError):
                    pass

        return _ctx()

    def write_manifest(self, version: int, entries: Iterable[dict],
                       stats_columns: Iterable[str],
                       stats_types: dict | None = None,
                       presorted: bool = False,
                       start_idx: int = 0,
                       allow_legacy_name: bool = True,
                       arrow_schema: "pa.Schema | None" = None
                       ) -> list[dict]:
        """Write ``entries`` as one or more path-sorted manifest
        segments, rolled every ``SEGMENT_ROWS`` rows, and return their
        descriptors ``[{path, entries, min_path, max_path, bytes}]``.
        Does NOT publish the version.

        ``entries`` is an *iterable* and is streamed to parquet in
        batches: with ``presorted=True`` (caller guarantees ascending
        ``path`` order) the driver never holds more than one batch of
        manifest rows, which is what makes a 10^8-entry manifest commit
        feasible.  Entries carry bounds either nested
        (``bounds={col: (mn, mx)}``) or flat (``min_<col>``/``max_<col>``
        keys, i.e. manifest-row shape).

        ``stats_types`` maps stats column → DDL type; bounds columns are
        written in the matching native arrow type (typed pruning).
        Unsupported types get NULL bounds (conservatively never pruned).

        A run that fits one segment (and starts at index 0) keeps the
        legacy single-file name ``manifest-v{N}.parquet`` so external
        readers of small tables see the familiar object.
        """
        stats_columns = list(stats_columns)
        schema, btypes = _entry_schema(stats_columns, stats_types,
                                       arrow_schema)
        if not presorted:
            entries = sorted(entries, key=lambda e: e["path"])

        descs: list[dict] = []
        state = {"writer": None, "tmp": None, "n": 0,
                 "min": None, "max": None, "idx": start_idx}

        def _open() -> None:
            final = self.segment_path(version, state["idx"])
            state["tmp"] = final + ".manifest-tmp"
            state["writer"] = pq.ParquetWriter(
                state["tmp"], schema, compression="zstd")
            state["n"] = 0
            state["min"] = None
            state["max"] = None

        def _finalize() -> None:
            state["writer"].close()
            final = self.segment_path(version, state["idx"])
            self.fs.rename(state["tmp"], final)
            descs.append({
                "path": os.path.relpath(final, self.warehouse),
                "entries": state["n"],
                "min_path": state["min"], "max_path": state["max"],
                "bytes": self.fs.size(final)})
            state["idx"] += 1
            state["writer"] = None

        def _flush(batch: pa.RecordBatch) -> None:
            if state["writer"] is None:
                _open()
            state["writer"].write_batch(batch)
            n = batch.num_rows
            if n:
                if state["min"] is None:
                    state["min"] = batch["path"][0].as_py()
                state["max"] = batch["path"][n - 1].as_py()
            state["n"] += n
            if state["n"] >= SEGMENT_ROWS:
                _finalize()

        try:
            chunk: list[dict] = []
            for e in entries:
                chunk.append(e)
                if len(chunk) >= _MANIFEST_BATCH_ROWS:
                    _flush(_entries_batch(chunk, schema, stats_columns,
                                          btypes))
                    chunk = []
            if chunk or (not descs and state["writer"] is None):
                _flush(_entries_batch(chunk, schema, stats_columns, btypes))
            if state["writer"] is not None:
                _finalize()
        finally:
            if state["writer"] is not None:
                state["writer"].close()
        if (allow_legacy_name and start_idx == 0 and len(descs) == 1):
            legacy = self.manifest_path(version)
            self.fs.rename(self.abs(descs[0]["path"]), legacy)
            descs[0]["path"] = os.path.relpath(legacy, self.warehouse)
        return descs

    def write_manifest_list(self, version: int,
                            descs: list[dict]) -> str:
        """Write the manifest-list parquet for ``version``."""
        schema = pa.schema([("path", pa.string()),
                            ("entries", pa.int64()),
                            ("min_path", pa.string()),
                            ("max_path", pa.string()),
                            ("bytes", pa.int64())])
        t = pa.Table.from_pylist(
            [{k: d.get(k) for k in schema.names} for d in descs],
            schema=schema)
        path = self.manifest_list_path(version)
        tmp = path + ".manifest-tmp"
        pq.write_table(t, tmp, compression="zstd")
        self.fs.rename(tmp, path)
        return path

    def commit(
        self,
        entries: Iterable[dict],
        *,
        schema: list[str],
        stats_columns: Iterable[str],
        properties: dict[str, Any] | None = None,
        expected_parent: int | None = None,
        presorted: bool = False,
    ) -> Snapshot:
        """Publish a new version whose manifest is ``entries``.

        ``expected_parent`` implements the CAS: if another committer has
        advanced the table past it, raise :class:`CommitConflict` (caller
        retries by replanning — same contract as moonlink's 5-retry commit
        loop, ``table_property.rs:14-24``).

        Bound-column types come from ``properties['schema_types']`` (DDL
        names per column, maintained by schema evolution / bulk load);
        absent that, bounds are string-typed (the north-rule table).
        """
        with self._commit_lock():
            current = self.current_version() if self.exists() else None
            if expected_parent is not None and current != expected_parent:
                raise CommitConflict(
                    f"expected parent v{expected_parent}, found v{current}")
            version = 0 if current is None else current + 1

            stats_types = (properties or {}).get("schema_types")
            descs = self.write_manifest(version, entries, stats_columns,
                                        stats_types=stats_types,
                                        presorted=presorted)
            # a full commit REPLACES the table state: log-replay
            # consumers restart from this version's checkpoint
            return self._publish(version, current, descs, schema,
                                 properties,
                                 actions=lambda: [{"reset": True}])

    def _publish(self, version: int, current: int | None,
                 descs: list[dict], schema: list[str],
                 properties: dict | None,
                 actions=None) -> Snapshot:
        """Write the manifest list + header, then make the version
        visible through :meth:`_commit_pointer` (the backend-specific
        commit point).

        ``actions`` is an optional zero-arg callable producing the
        commit's logical action list (``add``/``remove``/``dv``/
        ``reset``/``reuse`` dicts).  This backend ignores it (the
        manifest list IS the state); the Delta-log backend
        (:class:`moonlink_spark.deltastore.DeltaLogStore`) materializes
        it into the commit's action file.  Lazy on purpose: building
        per-file action dicts for a 10^5-file optimize commit is wasted
        work on a backend that never reads them."""
        t0 = time.monotonic()
        self.write_manifest_list(version, descs)
        header = {
            "format_version": 2,
            "version": version,
            "parent": current,
            "schema": schema,
            # stamped at commit, not derived from file mtime: mtimes do
            # not survive object-store copies/backups/migrations, so
            # timestamp time travel must come from the header itself
            "committed_at": time.time(),
            "properties": properties or {},
        }
        self.fs.write_atomic(
            self.header_path(version),
            json.dumps(header, indent=1, sort_keys=True).encode())
        self._commit_pointer(version, current, descs=descs,
                             header=header, actions=actions)
        # every backend's commit transaction (list + header + pointer
        # CAS) lands here — the transaction_commit_latency histogram
        # (``observability``, iceberg_persistence.rs:59-86 analogue)
        from moonlink_spark import metrics as _mx
        _mx.observe("transaction_commit_latency",
                    (time.monotonic() - t0) * 1000.0)
        return self.read_snapshot(version)

    def _commit_pointer(self, version: int, current: int | None, *,
                        descs: list[dict], header: dict,
                        actions=None) -> None:
        """THE commit point: make ``version`` the table's current
        version, failing with :class:`CommitConflict` if another
        committer got there first.  This backend: CAS on the version
        hint (posix: re-read + atomic rename; object store: etag-CAS
        conditional PUT — see ``fs.publish_cas``; cf. the reference's
        conditional-write version hint,
        ``file_catalog.rs:640-665``).  The Delta-log backend overrides
        this with put-if-absent on the next log file."""
        hint = os.path.join(self.snapshot_dir, VERSION_HINT)
        expected = None if current is None else str(current).encode()
        if not self.fs.publish_cas(hint, str(version).encode(), expected):
            raise CommitConflict("concurrent commit detected at publish")

    def on_expire_versions(self, versions: list[int]) -> None:
        """Backend hook: per-version artifacts beyond header/list/
        segments to drop when ``expire_snapshots`` removes a version.
        Base backend has none; the Delta-log backend drops the
        versions' action files."""

    def commit_reuse(
        self,
        base_version: int,
        *,
        schema: list[str],
        properties: dict[str, Any] | None = None,
        expected_parent: int | None = None,
    ) -> Snapshot:
        """Metadata-only commit: publish a new version whose manifest is
        ``base_version``'s SEGMENT LIST, verbatim — zero manifest I/O
        beyond one small list file.  The Iceberg metadata-only snapshot:
        create_snapshot, rollback, and schema evolution (add/drop column
        never touch data files) all commit this way, so they are O(1)
        regardless of table size."""
        with self._commit_lock():
            current = self.current_version() if self.exists() else None
            if expected_parent is not None and current != expected_parent:
                raise CommitConflict(
                    f"expected parent v{expected_parent}, found v{current}")
            version = 0 if current is None else current + 1
            descs = [dict(d) for d in self.manifest_segments(base_version)]
            return self._publish(
                version, current, descs, schema, properties,
                actions=lambda: [{"reuse": int(base_version)}])

    def commit_delta(
        self,
        base_version: int,
        *,
        added: Iterable[dict] = (),
        removed: Iterable[str] = (),
        updated: pa.Table | Mapping[str, tuple] | None = None,
        schema: list[str],
        stats_columns: Iterable[str],
        properties: dict[str, Any] | None = None,
        expected_parent: int | None = None,
    ) -> Snapshot:
        """Publish a new version as a DELTA against ``base_version``:
        ``added`` manifest entries appear, ``removed`` paths disappear,
        and ``updated`` is an Arrow table ``(path, dv_path,
        dv_cardinality)`` of the entries whose delete-vector pointer
        changed (a ``{path: (dv_path, dv_cardinality)}`` mapping is
        converted to one).

        Only the segments whose [min_path, max_path] range contains an
        affected path are rewritten; every other segment is carried into
        the new version BY REFERENCE.  A hit segment is patched in place
        with one vectorized lookup of its paths: removed rows drop out,
        updated rows take their new pointer, and the segment keeps its
        path order.  A point MERGE therefore commits in O(segments hit +
        delta), never O(table) — the manifest-file granularity Iceberg
        commits have (and the reason the reference's iceberg syncer only
        writes changed manifests, ``iceberg_table_syncer.rs:723-838``).

        Raises ``RuntimeError`` if a removed/updated path is not found
        in the base manifest — a delta against the wrong base is a
        correctness bug, never silently absorbed."""
        with self._commit_lock():
            return self._commit_delta_locked(
                base_version, added=added, removed=removed,
                updated=updated, schema=schema,
                stats_columns=stats_columns, properties=properties,
                expected_parent=expected_parent)

    def _commit_delta_locked(self, base_version, *, added, removed,
                             updated, schema, stats_columns, properties,
                             expected_parent):
        import pyarrow.compute as pc

        current = self.current_version() if self.exists() else None
        if expected_parent is not None and current != expected_parent:
            raise CommitConflict(
                f"expected parent v{expected_parent}, found v{current}")
        version = 0 if current is None else current + 1

        added = sorted(added, key=lambda e: e["path"])
        updated = _pointer_table(updated)
        removed = pa.array(sorted(set(removed)), type=pa.string())
        overlap = removed.filter(pc.is_in(removed,
                                          value_set=updated["path"]))
        if len(overlap):
            raise ValueError(f"paths both removed and updated: "
                             f"{overlap[:3].to_pylist()}...")
        upd_paths = updated["path"].combine_chunks()

        base_segs = self.manifest_segments(base_version)
        # added segments must carry the base segments' exact parquet
        # schema (bound-column types) — read it once from the first one
        base_schema = (pq.ParquetFile(self.abs(base_segs[0]["path"]))
                       .schema_arrow if base_segs else None)
        kept_descs: list[dict] = []
        next_idx = 0

        # a hit segment: one whose path range holds an updated or a
        # removed path; it looks up only the paths in its own range
        candidates = []
        for seg in base_segs:
            if seg.get("entries") == 0:
                continue  # empty segment: nothing to carry
            u, r = _span(upd_paths, seg), _span(removed, seg)
            if u[0] == u[1] and r[0] == r[1]:
                kept_descs.append(dict(seg))
                continue
            candidates.append((seg, u, r))

        def _patch(cand):
            """The segment's rows with its removed paths dropped and its
            updated paths' new pointers, and the paths it holds among
            them; None for rows when it holds none (carried as is)."""
            seg, (u0, u1), (r0, r1) = cand
            upd = updated.slice(u0, u1 - u0)
            # one lookup: index < upd.num_rows is an update, the rest
            # removals
            keys = pa.chunked_array([*upd["path"].chunks, removed[r0:r1]],
                                    type=pa.string())
            t = pq.read_table(self.abs(seg["path"]))
            pos = pc.index_in(t["path"], value_set=keys)
            hits = t["path"].filter(pc.is_valid(pos))
            if not len(hits):
                return None, hits
            keep = pc.fill_null(pc.less(pos, upd.num_rows), True)
            t, pos = t.filter(keep), pos.filter(keep)
            is_upd = pc.is_valid(pos)
            for name in ("dv_path", "dv_cardinality"):
                t = t.set_column(
                    t.schema.get_field_index(name), name,
                    pc.if_else(is_upd, upd[name].take(pos), t[name]))
            return t, hits

        found = []
        stats_types = (properties or {}).get("schema_types")
        if sum(SEGMENT_ROWS if seg.get("entries") is None else seg["entries"]
               for seg, _, _ in candidates) < SEGMENT_ROWS:
            # hit segments that hold fewer than SEGMENT_ROWS entries
            # together are written as ONE path-sorted run with the added
            # entries: repeated point commits fold the small ingest
            # segments they hit instead of rewriting each of them again
            seg_schema, btypes = _entry_schema(
                list(stats_columns), stats_types, base_schema)
            parts = [pa.Table.from_batches([_entries_batch(
                added, seg_schema, list(stats_columns), btypes)])]
            for cand in candidates:
                t, hits = _patch(cand)
                found.extend(hits.chunks)
                if t is None:
                    kept_descs.append(dict(cand[0]))
                else:
                    parts.append(t.cast(seg_schema))
            run = pa.concat_tables(parts).sort_by("path")
            for off in range(0, run.num_rows, SEGMENT_ROWS):
                kept_descs.append(self._write_segment(
                    version, next_idx, run.slice(off, SEGMENT_ROWS)))
                next_idx += 1
        else:
            # patch and write the hit segments in a thread pool (bounded
            # arrow filter+write each — the same pooling shape as footer
            # stats / finalization renames); indices are reserved up
            # front so names stay deterministic per segment
            def _rewrite(cand, idx: int):
                t, hits = _patch(cand)
                if t is None:
                    return dict(cand[0]), hits
                return (self._write_segment(version, idx, t)
                        if t.num_rows else None), hits

            from concurrent.futures import ThreadPoolExecutor
            with ThreadPoolExecutor(
                    max_workers=min(16, len(candidates))) as pool:
                results = list(pool.map(
                    _rewrite, candidates, range(len(candidates))))
            for desc, hits in results:
                if desc is not None:
                    kept_descs.append(desc)
                found.extend(hits.chunks)
            next_idx = len(candidates)
            if added:
                kept_descs.extend(self.write_manifest(
                    version, added, stats_columns,
                    stats_types=stats_types, presorted=True,
                    start_idx=next_idx, allow_legacy_name=False,
                    arrow_schema=base_schema))

        keys = pa.chunked_array([upd_paths, removed], type=pa.string())
        missing = keys.filter(pc.invert(pc.is_in(
            keys, value_set=pa.chunked_array(found, type=pa.string()))))
        if len(missing):
            raise RuntimeError(
                f"delta commit against v{base_version}: "
                f"{len(missing)} removed/updated paths not in the base "
                f"manifest (first: {missing[:3].to_pylist()})")

        if not kept_descs:
            # empty table: one empty segment keeps every reader trivial
            kept_descs = self.write_manifest(
                version, [], stats_columns, stats_types=stats_types,
                presorted=True, start_idx=next_idx,
                allow_legacy_name=False, arrow_schema=base_schema)

        kept_descs = self._coalesce_segments(
            version, kept_descs, stats_columns, stats_types,
            arrow_schema=base_schema)

        def _delta_actions() -> list[dict]:
            # per-file add/remove/dv actions (Delta-log vocabulary);
            # only evaluated by backends that persist an action log
            acts: list[dict] = []
            for e in added:
                acts.append({"add": {
                    "path": e["path"], "rows": int(e["rows"]),
                    "bytes": int(e["bytes"]),
                    "dv_path": e.get("dv_path"),
                    "dv_cardinality": int(e.get("dv_cardinality") or 0)}})
            for p in removed.to_pylist():
                acts.append({"remove": {"path": p}})
            for p, dv_path, dv_card in zip(
                    *(updated[c].to_pylist() for c in updated.column_names)):
                acts.append({"dv": {"path": p, "dv_path": dv_path,
                                    "dv_cardinality": dv_card}})
            return acts

        return self._publish(version, current, kept_descs, schema,
                             properties, actions=_delta_actions)

    def _write_segment(self, version: int, idx: int, t: pa.Table) -> dict:
        """Write the path-sorted rows ``t`` as segment ``idx`` of
        ``version`` (tmp name, then rename) and return its descriptor."""
        final = self.segment_path(version, idx)
        tmp = final + ".manifest-tmp"
        pq.write_table(t, tmp, compression="zstd")
        self.fs.rename(tmp, final)
        return {"path": os.path.relpath(final, self.warehouse),
                "entries": t.num_rows,
                "min_path": t["path"][0].as_py(),
                "max_path": t["path"][t.num_rows - 1].as_py(),
                "bytes": self.fs.size(final)}

    def _coalesce_segments(self, version: int, descs: list[dict],
                           stats_columns, stats_types,
                           arrow_schema=None) -> list[dict]:
        """Keep the segment count bounded between optimizes: when a
        commit would exceed ``MAX_MANIFEST_SEGMENTS``, k-way-merge the
        smallest segments down to ``COALESCE_TARGET_SEGMENTS``.  Bounded
        driver work (the merged segments are the smallest by entry
        count) amortized across many delta commits."""
        import heapq

        if len(descs) <= MAX_MANIFEST_SEGMENTS:
            return descs
        by_size = sorted(
            descs, key=lambda d: d["entries"]
            if d.get("entries") is not None else 1 << 62)
        n_merge = len(descs) - COALESCE_TARGET_SEGMENTS + 1
        victims = by_size[:n_merge]
        survivors = [d for d in descs if d not in victims]

        used = {int(d["path"].rsplit("-p", 1)[1].split(".")[0])
                for d in descs
                if f"manifest-v{version:06d}-p" in d["path"]}
        start = (max(used) + 1) if used else 0
        merged = self.write_manifest(
            version,
            heapq.merge(*[_segment_rows(self.abs(d["path"]))
                          for d in victims],
                        key=lambda e: e["path"]),
            stats_columns, stats_types=stats_types, presorted=True,
            start_idx=start, allow_legacy_name=False,
            arrow_schema=arrow_schema)
        return survivors + merged
