"""Distributed scan planning: the file list never lands on the driver.

The default read path (``operators/scan.py``) plans like Iceberg's
driver does — read the manifest segments' (path, dv_path,
dv_cardinality) columns with pyarrow, pruned by the bounds, and hand the
path list to Spark's parquet source.  That is the right call up to a few
million manifest entries; past it, even the *pruned* list can exceed
driver heap at the 10^12-file design point.

This module is the scale path: the pruned manifest STAYS a DataFrame.
Planning work (fully-deleted-file skip, the plan's entry count) runs as
distributed relational ops; each executor task then reads the files
named by its own slice of the plan via pyarrow inside ``mapInArrow`` —
Arrow record batches end to end, no pandas detour and no per-row
Python.  This is the PySpark-native analogue of what a DataSourceV2
relation with distributed split planning (Iceberg's
``SparkBatchQueryScan``) does on the JVM: the driver holds O(1) state
(a plan DataFrame lineage + one aggregate row), never O(files).

Semantics are identical to ``scan.scan``:

- positions are row ordinals within each data file (pyarrow preserves
  parquet row order; ordinals accumulate across row-group batches);
- a file's deleted rows are its row in the sidecar its manifest entry
  names (``dv_path``) — newer sidecar rows are supersets, so that row
  alone is the file's deleted set.  The reader reads it once per file,
  skips the row groups it fully covers and drops the deleted positions
  from every batch it yields: no DV side, no join (the reference
  attaches a per-file ``RowSelection`` the same way,
  ``moonlink_datafusion/src/table_provider.rs:96-130``);
- fully-deleted files (dv_cardinality == rows) are dropped at planning
  time — here by a distributed filter instead of a driver loop;
- schema evolution: files predating an added column yield typed nulls;
  dropped columns are never read (the pyarrow reader is handed the
  projected column list, so pruning happens at the footer).

Object-store note: the reader uses ``pyarrow.parquet`` against the
warehouse-prefixed path, which resolves through pyarrow's filesystem
layer — local posix in the sandbox, s3://-style URIs on a cluster.
"""

from __future__ import annotations

import operator
import os
from collections.abc import Iterator, Mapping
from functools import reduce

import numpy as np
import pyarrow as pa
import pyarrow.dataset as pds
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import from_arrow_schema, to_arrow_schema

from moonlink_spark.operators.scan import (FILE_COL, POS_COL, fill_defaults,
                                           parse_ddl, predicate_exprs)
from moonlink_spark.snapshotstore import SnapshotStore

# Manifest entry count (the snapshot header's unpruned total,
# ``Snapshot.entry_count``) above which scan() switches from the
# driver-read plan to this module.  ~100 bytes/entry puts the default at
# ~100 MB of driver heap — far below the point of pain, so the switch
# happens well before the driver is at risk.  Tests lower it to force
# the distributed path on small warehouses.
PLAN_DISTRIBUTED_FILES = 1_000_000

_READ_BATCH_ROWS = 1 << 16


def _spark_schema_for(spark: SparkSession, store: SnapshotStore,
                      manifest: DataFrame,
                      schema_ddl: str | None) -> T.StructType:
    """The logical read schema as a Spark StructType.  Prefer the
    snapshot's pinned DDL (schema evolution source of truth); fall back
    to ONE file footer — an O(1) driver read, not a footer sweep."""
    if schema_ddl:
        return parse_ddl(schema_ddl)
    sample = manifest.select("path").limit(1).collect()
    if not sample:
        raise ValueError("empty manifest and no schema_ddl: cannot "
                         "derive a read schema")
    return from_arrow_schema(pq.read_schema(store.abs(sample[0]["path"])))


def surviving_row_groups(group_rows: list[int],
                         deleted) -> list[tuple[int, int]]:
    """Which row groups still hold at least one live row.

    ``group_rows`` = per-group row counts in file order; ``deleted`` =
    sorted unique deleted row ordinals (the file's DV).  Returns
    ``[(group_index, start_ordinal)]`` for every group NOT fully
    covered by the DV — the per-file analogue of DataFusion building a
    ``ParquetAccessPlan`` that drops fully-deleted ranges
    (``moonlink_datafusion/src/table_provider.rs:96-130``).  Pure
    (numpy searchsorted over the cumulative ranges) so the decision is
    unit-testable without Spark or files."""
    out = []
    start = 0
    for g, n in enumerate(group_rows):
        end = start + n
        lo = np.searchsorted(deleted, start, side="left")
        hi = np.searchsorted(deleted, end, side="left")
        if hi - lo < n:  # at least one live ordinal in [start, end)
            out.append((g, start))
        start = end
    return out


def sidecar_positions(path: str, files) -> dict:
    """``{file: sorted unique deleted positions}`` for each of ``files``
    with a row in the DV sidecar at ``path``.  Sidecars are shared by
    many files but written sorted by ``referenced_file`` (merge.py /
    engine._optimize_index), so the dataset filter prunes foreign row
    groups by footer stats — a reader reads ~its own files' slice, not
    the whole shared sidecar."""
    t = pds.dataset(path, format="parquet").to_table(
        columns=["referenced_file", "positions"],
        filter=pds.field("referenced_file").isin(list(files)))
    out: dict = {}
    for f, row in zip(t["referenced_file"].to_pylist(), t["positions"]):
        if row.values is not None:
            pos = row.values.to_numpy(zero_copy_only=False)
            out[f] = np.union1d(out.get(f, pos[:0]), pos)
    return out


def grouped_sidecar_positions(dv_files: Mapping[str, str]) -> dict:
    """``{file: sorted unique deleted positions}`` of each file
    ``dv_files`` maps to its sidecar's path, one read per sidecar (a
    file without a row there is left out)."""
    by_sidecar: dict[str, list[str]] = {}
    for f, path in dv_files.items():
        by_sidecar.setdefault(path, []).append(f)
    out: dict = {}
    for path, named in sorted(by_sidecar.items()):
        out.update(sidecar_positions(path, named))
    return out


def file_deletes(dv_path: str, relpath: str):
    """Sorted unique deleted positions of the file ``relpath`` per the
    sidecar at ``dv_path`` (its manifest entry's), or None when it
    deletes none."""
    pos = sidecar_positions(dv_path, [relpath]).get(relpath)
    return pos if pos is not None and len(pos) else None


def _file_batches(path, pf, avail, cols, dels, expr, filter_cols):
    """Yield the (record_batch, start_ordinal) pairs of the file at
    ``path`` (opened as ``pf``; column names ``avail``) read as
    ``cols``."""
    if dels is not None:
        md = pf.metadata
        sizes = [md.row_group(g).num_rows for g in range(md.num_row_groups)]
        surv = surviving_row_groups(sizes, dels)
        if len(surv) < len(sizes):
            for g, start in surv:
                pos = start
                for rb in pf.iter_batches(batch_size=_READ_BATCH_ROWS,
                                          row_groups=[g], columns=cols):
                    yield rb, pos
                    pos += rb.num_rows
            return
    # push only when _pos is a REAL file column AND it is being read: the
    # output schema always carries positions (the DV key), and
    # synthesized ordinals over a filtered read would renumber —
    # including when a caller's projection omitted _pos from ``cols``
    # even though the file has it
    can_push = (expr is not None and POS_COL in avail
                and filter_cols <= avail
                and (cols is None or POS_COL in cols))
    pos = 0
    if not can_push:
        for rb in pf.iter_batches(batch_size=_READ_BATCH_ROWS, columns=cols):
            yield rb, pos
            pos += rb.num_rows
        return
    scanner = pds.Scanner.from_dataset(
        pds.dataset(path, format="parquet"), columns=cols, filter=expr,
        batch_size=_READ_BATCH_ROWS, use_threads=False)
    for rb in scanner.to_batches():
        # ordinals are never synthesized here (can_push guarantees _pos
        # is read); the counter is unused
        yield rb, pos
        pos += rb.num_rows


def live_file_batches(path: str, fields: list[pa.Field], dels,
                      read_cols: list[str] | None = None, expr=None,
                      filter_cols: frozenset = frozenset()
                      ) -> Iterator[pa.RecordBatch]:
    """The live rows of the parquet file at ``path`` as record batches
    of ``fields``: each column cast to its field's type, a column the
    file lacks as nulls, and ``_pos`` as row ordinals where the file
    carries none (writers materialize it as a data column, the DV key;
    positions ARE row ordinals).  Everything inside is Arrow-native
    C++ — the Python layer only routes batches.

    ``dels`` (sorted unique deleted positions, or None) is used twice:
    row groups whose ordinal range it fully covers are never read (the
    common CDC aftermath — a wholly-deleted commit file's worth of rows
    inside a partially dirty bin), and every yielded batch drops the
    rows whose position is among them.  The skip is exact when ``dels``
    is the file's whole deleted set.

    ``expr``, a dataset expression over ``filter_cols`` rendered on the
    caller's side (where a naive datetime literal reads as local time,
    as Spark's does), is pushed into the pyarrow dataset scanner
    (row-level, single-threaded per file so row order — and with it
    positional semantics — is preserved).  Pushdown is skipped for a
    file that needs SYNTHESIZED ordinals (no materialized ``_pos``
    column): filtering there would renumber positions; such files read
    unfiltered and the caller's filter finishes the job."""
    schema = pa.schema(fields)
    pf = pq.ParquetFile(path)
    avail = set(pf.schema_arrow.names)
    cols = ([c for c in read_cols if c in avail]
            if read_cols is not None else None)
    for rb, pos in _file_batches(path, pf, avail, cols, dels, expr,
                                 filter_cols):
        n = rb.num_rows
        arrays = []
        for fld in fields:
            if rb.schema.get_field_index(fld.name) >= 0:
                arrays.append(rb.column(fld.name).cast(fld.type))
            elif fld.name == POS_COL:
                arrays.append(pa.array(np.arange(pos, pos + n), pa.int64()))
            else:
                arrays.append(pa.nulls(n, fld.type))
        out = pa.RecordBatch.from_arrays(arrays, schema=schema)
        if dels is not None:
            positions = out.column(POS_COL).to_numpy(zero_copy_only=False)
            out = out.filter(pa.array(~np.isin(positions, dels)))
        yield out


def _file_reader(warehouse: str, arrow_schema, read_cols: list[str] | None,
                 expr=None, filter_cols: frozenset = frozenset()):
    """mapInArrow body: read each plan row's parquet file with pyarrow
    (:func:`live_file_batches`), emit its live rows cast to the target
    schema with (file, pos) attached.  A plan row's ``dv_path`` names
    the sidecar holding the file's deleted positions
    (:func:`file_deletes`): the named row is the file's whole deleted
    set."""
    def reader(batches) -> Iterator:
        logical = [f for f in arrow_schema if f.name != FILE_COL]
        file_field = arrow_schema.field(FILE_COL)
        for b in batches:
            for relpath, dv_relpath in zip(b.column("path").to_pylist(),
                                           b.column("dv_path").to_pylist()):
                dels = (file_deletes(os.path.join(warehouse, dv_relpath),
                                     relpath)
                        if dv_relpath is not None else None)
                for out in live_file_batches(
                        os.path.join(warehouse, relpath), logical, dels,
                        read_cols, expr, filter_cols):
                    yield out.append_column(file_field, pa.array(
                        [relpath] * out.num_rows, pa.string()))
    return reader


def _read_plan(spark: SparkSession, store: SnapshotStore, plan: DataFrame,
               n_files: int, struct: T.StructType,
               read_cols: list[str] | None,
               row_filters: Mapping[str, object] | None = None,
               schema_types: Mapping[str, str] | None = None
               ) -> DataFrame:
    """Turn a ``(path, dv_path)`` plan DataFrame into the live rows of
    those files.  Parallelism: one task per plan partition;
    round-robin repartition spreads files so stragglers are
    single-file, not single-task-many-files."""
    expr = (reduce(operator.and_, predicate_exprs(
        row_filters, pds.field, schema_types)) if row_filters else None)
    fields = list(struct.fields)
    if POS_COL not in {f.name for f in fields}:
        fields.append(T.StructField(POS_COL, T.LongType()))
    out = T.StructType(fields + [T.StructField(FILE_COL, T.StringType())])
    nparts = max(1, min(n_files,
                        spark.sparkContext.defaultParallelism * 2))
    return (plan.repartition(nparts)
            .mapInArrow(_file_reader(store.warehouse, to_arrow_schema(out),
                                     read_cols, expr,
                                     frozenset(row_filters or ())),
                        schema=out))


def scan_distributed(
    spark: SparkSession,
    store: SnapshotStore,
    manifest: DataFrame,
    *,
    schema_ddl: str | None = None,
    project: list[str] | None = None,
    column_defaults: Mapping[str, object] | None = None,
    with_location: bool = False,
    row_filters: Mapping[str, object] | None = None,
    schema_types: Mapping[str, str] | None = None,
) -> DataFrame:
    """Scan the (already pruned) manifest without collecting its file
    list.  Driver-side state: one aggregate row (the entry count) and,
    when no schema DDL is pinned, one sample footer.  Everything else —
    the fully-deleted skip, the reads, each file's deletes — is the
    distributed plan.

    ``row_filters`` (scan's predicate mini-language, typed by
    ``schema_types``) is pushed into the pyarrow reader per file
    (row-level) AND re-applied as a Spark filter on the result; the
    pushdown is the scale win a post-``mapInArrow`` filter cannot
    reach."""
    live = manifest.filter(
        ~(F.col("rows").isNotNull()
          & (F.coalesce("dv_cardinality", F.lit(0)) >= F.col("rows"))))
    n_files = int(live.agg(F.count(F.lit(1)).alias("n")).first()["n"])

    struct = _spark_schema_for(spark, store, live, schema_ddl)
    # the pushdown keeps the rows the Spark re-filter keeps (one typed
    # comparison core renders both), but a defaulted column's nulls are
    # backfilled AFTER the read: its predicate stays Spark-side only
    push_filters = {c: p for c, p in (row_filters or {}).items()
                    if c not in (column_defaults or {})} or None
    if project:
        by_name = {f.name: f for f in struct.fields}
        struct = T.StructType([by_name[c] for c in project if c in by_name])
    read_cols = [f.name for f in struct.fields]

    out = _read_plan(spark, store, live.select("path", "dv_path"),
                     n_files, struct, read_cols, push_filters, schema_types)
    out = fill_defaults(out, column_defaults)
    if row_filters:
        for cond in predicate_exprs(row_filters, schema_types=schema_types):
            out = out.filter(cond)
    if not with_location:
        # mirror scan.scan: FILE_COL is scan metadata, always shed;
        # POS_COL stays when it is a logical table column
        out = out.drop(FILE_COL)
        if POS_COL not in read_cols:
            out = out.drop(POS_COL)
    return out
