"""Snapshot-pinned scan: data files ∪ delete-vector anti-join + pruning.

The Spark expression of moonlink's read path:

- moonlink's union read assembles persisted parquet + persisted DV blobs +
  committed position deletes (``storage/mooncake_table/snapshot_read.rs:69-241``)
  and its DataFusion provider skips deleted rows via per-file
  ``RowSelection`` (``moonlink_datafusion/src/table_provider.rs:96-130``).
- here the same semantics are one declarative plan: read the snapshot's
  file list, anti-join ``(file, _pos)`` against the exploded delete
  vectors.  Catalyst keeps predicate pushdown / column pruning on the
  parquet scan.  While the manifest's deleted-row cardinality is small
  (``DRIVER_DV_ROWS``; the common case — DVs are per-file bitmaps), the
  DV side is read from the sidecars on the driver with pyarrow and
  broadcast as a local relation; above it Spark reads the sidecars, and
  past ``BROADCAST_DV_ROWS`` the join is a regular shuffled one on a
  high-cardinality key (no skew: the key is (file, position)).
- file pruning via manifest min/max bounds happens *before* the scan,
  as the plan is read from the manifest segments on the driver
  (:func:`driver_plan`; cf. per-file stats pruning,
  ``parquet_stats_utils.rs:327-412``) — files whose bound range cannot
  contain the predicate value are never listed to the reader.
- bound pruning (:func:`bound_exprs`) and row filters
  (:func:`predicate_exprs`) compile through one comparison core typed by
  the table's ``schema_types`` (:func:`_keep`), on Spark and pyarrow.

Snapshot isolation is structural: the plan is built from one immutable
manifest version, so concurrent maintenance commits never change what a
pinned reader sees (cf. ``union_read/read_state.rs:20-50``).
"""

from __future__ import annotations

import datetime
import operator
from decimal import Decimal
from functools import lru_cache, reduce
from typing import Callable, Mapping, Sequence

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as pds
import pyarrow.parquet as pq
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import (from_arrow_schema, from_arrow_type,
                                      to_arrow_schema)
from pyspark.sql.types import (BooleanType, DataType, DateType, DecimalType,
                               FractionalType, IntegralType, StringType,
                               StructType, TimestampNTZType, TimestampType)

from moonlink_spark.snapshotstore import (Snapshot, SnapshotStore,
                                         bound_type, read_pinned)

# Below this many deleted rows (summed manifest dv_cardinality) the DV
# side is broadcast.  8M (file,pos) pairs ≈ a few hundred MB broadcast —
# comfortably under typical executor memory.
BROADCAST_DV_ROWS = 8_000_000
# The most deleted rows a DV side is read on the driver for.  The driver
# read hands its rows to Spark as a local relation, whose broadcast ships
# them out in a job's tasks and collects them back.  Up to 46k rows a
# scan took as long either way; at 92k the driver read was slower in
# every run, and at 288k a scan took 2.7x as long as with Spark's read
# of the sidecars (tools/driver_read_bench.py, DRIVER_READ_SCALE.json)
DRIVER_DV_ROWS = 32_768

FILE_COL = "_mlfile"
POS_COL = "_pos"
_DV_SIDE = f"`{FILE_COL}` string, `{POS_COL}` long"


def _with_relative_file(df: DataFrame, store: SnapshotStore,
                        col: str = FILE_COL) -> DataFrame:
    """Attach, as ``col``, the manifest-relative path of the parquet file
    each row was read from (JVM-side expression on the scan metadata,
    no UDF).  Spark percent-encodes that path as a URI (a space reads
    ``%20``, a ``%`` ``%25``) and leaves ``+`` as it is; ``url_decode``
    would read a ``+`` as a space, so it is escaped first."""
    uri = F.regexp_replace(F.col("_metadata.file_path"), "^file:/*", "/")
    return df.withColumn(
        col,
        F.replace(F.url_decode(F.replace(uri, F.lit("+"), F.lit("%2B"))),
                  F.lit(store.warehouse + "/"), F.lit("")),
    )


# A predicate value must fall in its column's comparison group; the
# first match wins (a bool is an int, a datetime a date, a decimal
# fractional).
_BOUND_GROUPS = ((StringType, "string"), (BooleanType, "boolean"),
                 (IntegralType, "integral"), (DecimalType, "decimal"),
                 (FractionalType, "numeric"), (DateType, "date"),
                 ((TimestampType, TimestampNTZType), "timestamp"))
_VALUE_GROUPS = ((bool, "boolean"), (int, "integral"), (float, "numeric"),
                 (Decimal, "decimal"), (str, "string"),
                 (datetime.datetime, "timestamp"), (datetime.date, "date"))


_SPARK_DECIMAL_DIGITS = 38


def _fits_spark_decimal(v: Decimal) -> bool:
    """Whether ``F.lit(v)`` makes a Spark decimal: its precision (digits
    and trailing zeros of a positive exponent, at least its scale) is at
    most 38.  A longer literal raises there while pyarrow compares it,
    so both backends refuse it."""
    if not v.is_finite():
        return False
    _sign, digits, exp = v.as_tuple()
    precision = (len(digits) + exp if exp > 0
                 else max(len(digits), -exp))
    return precision <= _SPARK_DECIMAL_DIGITS


def _check_pred_type(bound: DataType, col: str, values: tuple) -> None:
    """Refuse type-mismatched predicates loudly: comparing a numeric
    value against a string column (or vice versa) would compare
    lexicographically ("9" > "10") and silently drop matching files.
    Columns are typed (``schema_types``, else the manifest's bounds,
    covering the reference's Datum universe,
    ``parquet_stats_utils.rs:180-320``); a value's Python type must land
    in its column type's comparison group.  An aware datetime (an
    instant) is refused against a ``timestamp_ntz`` column, and a
    decimal Spark cannot hold (:func:`_fits_spark_decimal`) everywhere."""
    expected = next((g for t, g in _BOUND_GROUPS if isinstance(bound, t)),
                    None)
    for v in values:
        got = next((g for t, g in _VALUE_GROUPS if isinstance(v, t)), None)
        if got == "decimal" and not _fits_spark_decimal(v):
            raise TypeError(
                f"predicate on {col!r}: decimal value {v!r} has more than "
                f"{_SPARK_DECIMAL_DIGITS} digits (or is not finite); "
                "no Spark decimal holds it")
        if v is None or got == expected and not (
                isinstance(bound, TimestampNTZType) and v.tzinfo):
            continue
        # an int predicate against float/double/decimal columns is
        # exact; a float against a decimal column is NOT (binary vs
        # decimal rounding) and stays refused
        if got == "integral" and expected in ("numeric", "decimal"):
            continue
        raise TypeError(
            f"predicate on {col!r}: value {v!r} is incompatible with the "
            f"column's {bound.simpleString()} type — the comparison "
            "would be implicitly cast and silently wrong")


_COMPARE = {"==": operator.eq, "<": operator.lt, "<=": operator.le,
            ">": operator.gt, ">=": operator.ge}
_NULL_OPS = ("is_null", "not_null")


def _is_null(c):
    """The null test, spelled per backend."""
    return c.isNull() if isinstance(c, Column) else c.is_null()


def _forms(predicates: Mapping[str, object] | None,
           schema_types: Mapping[str, str] | None):
    """``(column, op, values, type)`` per predicate (a bare value is
    ``==``), ``type`` the column's Spark type in ``schema_types``, if it
    carries bounds (``snapshotstore.bound_type``), else None."""
    for col, pred in (predicates or {}).items():
        op, *values = pred if isinstance(pred, tuple) else ("==", pred)
        if op not in _COMPARE and op not in ("between", *_NULL_OPS):
            raise ValueError(f"unknown predicate op {op!r}")
        ddl = (schema_types or {}).get(col) or ""
        arrow = bound_type(ddl) if ddl else None
        yield col, op, tuple(values), (
            TimestampNTZType() if ddl.strip().lower() == "timestamp_ntz"
            else None if arrow is None else from_arrow_type(arrow))


def _keep(col: str, op: str, values: tuple, lo, hi, dtype):
    """The one comparison core: whether some value in ``[lo, hi]`` (a
    file's bounds, or a row's value twice; Spark or pyarrow) satisfies
    ``(op, values)``.  A known column type ``dtype`` checks the literals
    and recasts the operands so every backend orders as the type does:
    decimals at ``decimal256(76, s)`` in pyarrow (it misorders unequal
    scales); a ``timestamp`` at its UTC instant (a naive literal is local
    time, as pyspark reads it; pyarrow casts a ``tz=UTC`` or naive file
    column and the bounds to naive UTC times; Spark reads the bounds at
    the session zone, UTC in the engine); a ``timestamp_ntz`` at wall
    clock (in Spark a zone-free NTZ literal, not ``F.lit``'s instant)."""
    if dtype is not None:
        _check_pred_type(dtype, col, values)
        ntz = isinstance(dtype, TimestampNTZType)
        if isinstance(lo, Column):
            values = [F.lit(v.isoformat()).cast(dtype) if ntz and v else v
                      for v in values]
        elif isinstance(dtype, DecimalType):
            t = pa.decimal256(76, max([dtype.scale] + [
                -Decimal(v).as_tuple().exponent for v in values
                if v is not None]))
            lo, hi = lo.cast(t), hi.cast(t)
            values = [pa.scalar(v if v is None else Decimal(v), t)
                      for v in values]
        elif isinstance(dtype, (TimestampType, TimestampNTZType)):
            lo, hi = lo.cast(pa.timestamp("us")), hi.cast(pa.timestamp("us"))
            if not ntz:
                values = [v if v is None else v.astimezone(
                    datetime.timezone.utc).replace(tzinfo=None)
                    for v in values]
    if op in ("==", "between"):  # == v is between v and v
        return (hi >= values[0]) & (lo <= values[-1])
    # some value can be < v only if the least one is (> v: the greatest)
    return _COMPARE[op](lo if op[0] == "<" else hi, values[0])


def bound_exprs(predicates: Mapping[str, object] | None,
                schema: StructType,
                field: Callable = F.col,
                schema_types: Mapping[str, str] | None = None) -> list:
    """File pruning by manifest bounds: one keep-expression per
    predicate, :func:`_keep` over ``(min_<c>, max_<c>)`` built on
    ``field(name)`` as in :func:`predicate_exprs`; ``schema`` is the
    manifest's, as Spark types.  Unknown bounds (nulls) are
    conservatively kept.  The table's ``schema_types`` type the
    comparison, else the bounds' types do (both timestamps as UTC).

    Predicate forms per column:
      value                  — equality
      ("==" | "<" | "<=" | ">" | ">=", value)
      ("between", lo, hi)    — closed range
      ("is_null",)           — keep files that may contain NULLs
      ("not_null",)          — keep files that may contain non-NULLs

    NULL-ness pruning uses the per-column ``null_<col>`` counts
    (Iceberg ``null_value_counts`` analogue): a file whose recorded
    null count is 0 cannot satisfy IS NULL; one whose null count equals
    its row count cannot satisfy IS NOT NULL.  Unknown (NULL) counts are
    conservatively kept.
    """
    types = {f.name: f.dataType for f in schema}
    out = []
    for col, op, values, dtype in _forms(predicates, schema_types):
        if op in _NULL_OPS:
            nc = f"null_{col}"
            if nc not in types:
                continue  # manifest predates null counts: keep all
            n = field(nc)
            keep = n > 0 if op == "is_null" else n < field("rows")
            out.append(_is_null(n) | keep)
            continue
        bound = types.get(f"min_{col}")
        if bound is None:
            raise ValueError(f"no bounds for column {col!r} in manifest")
        if isinstance(bound, TimestampNTZType):
            bound = TimestampType()
        lo, hi = field(f"min_{col}"), field(f"max_{col}")
        out.append(_is_null(lo) | _is_null(hi)
                   | _keep(col, op, values, lo, hi, dtype or bound))
    return out


def prune_manifest(manifest: DataFrame,
                   predicates: Mapping[str, object] | None,
                   schema_types: Mapping[str, str] | None = None
                   ) -> DataFrame:
    """Filter manifest entries whose [min,max] bounds can satisfy the
    predicates (:func:`bound_exprs` rendered on Spark Columns)."""
    for keep in bound_exprs(predicates, manifest.schema,
                            schema_types=schema_types):
        manifest = manifest.filter(keep)
    return manifest


def predicate_exprs(predicates: Mapping[str, object] | None,
                    field: Callable = F.col,
                    schema_types: Mapping[str, str] | None = None) -> list:
    """The same predicate mini-language as :func:`bound_exprs`,
    rendered as row filters: one expression per column, :func:`_keep`
    over ``(field(col), field(col))`` typed by ``schema_types`` (else
    as the literal).  ``F.col`` renders Spark Columns;
    ``pyarrow.dataset.field`` dataset expressions for the reader."""
    out = []
    for col, op, values, dtype in _forms(predicates, schema_types):
        c = field(col)
        if op in _NULL_OPS:
            out.append(_is_null(c) if op == "is_null" else ~_is_null(c))
        else:
            out.append(_keep(col, op, values, c, c, dtype))
    return out


@lru_cache(maxsize=None)
def parse_ddl(ddl: str) -> StructType:
    """``StructType.fromDDL``, once per DDL string per process (a py4j
    round trip of 6-16 ms); callers share the result unmodified."""
    return StructType.fromDDL(ddl)


def local_df(spark: SparkSession, schema: str | StructType,
             columns: Sequence[Sequence] | pa.Table = ()) -> DataFrame:
    """A driver-built DataFrame from an Arrow table or column value
    lists (none: empty), handed to Spark as one Arrow table.

    ``spark.createDataFrame`` on Python rows plans as ``Scan
    ExistingRDD``: the rows are pickled into a ``PythonRDD``, and every
    job that reads the frame starts Python workers to unpickle them
    again (0.2-0.5 s per job on a 4-core host, even for a handful of
    rows).  An Arrow table never leaves the JVM once handed over, and
    starts no Python worker.  It is not free of jobs, though: a
    broadcast of the frame still starts one job of one task per core
    (the no-input 4-task stages of both benchmark workloads' traces on
    a 4-core host)."""
    if isinstance(schema, str):
        schema = parse_ddl(schema)
    arrow_schema = to_arrow_schema(schema)
    if isinstance(columns, pa.Table):
        table = columns
    elif columns:
        table = pa.table([pa.array(vals, type=f.type)
                          for vals, f in zip(columns, arrow_schema)],
                         schema=arrow_schema)
    else:
        table = arrow_schema.empty_table()
    return spark.createDataFrame(table, schema=schema)


def file_list_df(spark: SparkSession, files: list[str],
                 col: str = FILE_COL) -> DataFrame:
    """A one-column DataFrame of file paths, for semi-joining instead of
    a literal ``isin`` list: an IN-expression over thousands of paths
    bloats the plan tree (and its codegen) linearly, while a broadcast
    semi-join against this DataFrame stays O(1) in plan size no matter
    how many files the manifest selected.  Built from Arrow
    (:func:`local_df`), so the semi-join's jobs start no Python
    worker."""
    return local_df(spark, f"`{col}` string", [files])


def driver_budget(spark: SparkSession) -> int:
    """Bytes of change- or delete-sized data a driver-side read may
    hold: a sixteenth of the smaller of ``spark.driver.maxResultSize``
    (what one job may return to the driver; 0 = unlimited) and the
    driver heap.  The JVM holds such a read more than once (a merge's
    cached batch, a task's Arrow buffer and the collected result; a DV
    side's local relation and its broadcast copy), and in local mode the
    executors share that heap.  On a 1 GiB driver the budget is 64 MiB;
    the widest merge batch ``tools/merge_path_bench.py`` measured (63
    MiB of upserts) completed there on the driver path, faster than the
    Spark write (``MERGE_PATH_CROSSOVER.json``)."""
    conf = spark.sparkContext._jsc.sc().conf()
    limits = [conf.getSizeAsBytes(k, "1g")
              for k in ("spark.driver.maxResultSize", "spark.driver.memory")]
    return min(b for b in limits if b > 0) // 16


def dv_side_on_driver(spark: SparkSession, dv_rows: int, files) -> bool:
    """Whether a DV side of ``dv_rows`` deleted rows over ``files`` is
    read on the driver (:func:`driver_deletes`) rather than by Spark:
    at most ``DRIVER_DV_ROWS`` rows, whose ``UnsafeRow`` bytes (a null
    word, the position and the path's offset word, 24 bytes, plus the
    path) fit :func:`driver_budget`.  The budget binds only in a
    session whose ``spark.driver.maxResultSize`` or heap is a few MiB."""
    width = 24 + max((len(f) for f in files), default=0)
    return (dv_rows <= DRIVER_DV_ROWS
            and dv_rows * width <= driver_budget(spark))


def dv_positions(store: SnapshotStore,
                 dv_files: Mapping[str, str]) -> dict[str, np.ndarray]:
    """``{file: sorted unique deleted positions}`` of each file
    ``dv_files`` maps to the sidecar its manifest entry names, read on
    the driver with pyarrow, one read per sidecar (a file without a row
    there is left out)."""
    from moonlink_spark.operators.distscan import sidecar_positions
    by_sidecar: dict[str, list[str]] = {}
    for f, rel in dv_files.items():
        by_sidecar.setdefault(rel, []).append(f)
    out: dict[str, np.ndarray] = {}
    for rel, named in sorted(by_sidecar.items()):
        out.update(sidecar_positions(store.abs(rel), named))
    return out


def driver_deletes(spark: SparkSession, store: SnapshotStore,
                   dv_files: Mapping[str, str]) -> DataFrame:
    """The rows :func:`deletes_df` returns, read on the driver
    (:func:`dv_positions`) and handed to Spark as one Arrow table whose
    file column is dictionary-encoded: no Spark job reads a sidecar."""
    pos = dv_positions(store, dv_files)
    sizes = [len(p) for p in pos.values()]
    table = pa.table({
        FILE_COL: pa.DictionaryArray.from_arrays(
            np.repeat(np.arange(len(pos), dtype=np.int32), sizes),
            pa.array(list(pos), pa.string())),
        POS_COL: pa.array(np.concatenate([np.empty(0, np.int64),
                                          *pos.values()]), pa.int64()),
    })
    return local_df(spark, _DV_SIDE, table)


def deletes_df(spark: SparkSession, store: SnapshotStore,
               dv_paths: list[str],
               data_files: Mapping[str, str]) -> DataFrame:
    """Exploded delete vectors of ``data_files``: one row per deleted
    (file, position), read from the sidecars ``dv_paths``.

    ``data_files`` maps each file to the sidecar its manifest entry
    names (``dv_path``), and a file's positions are read from that
    sidecar only: a newer sidecar row for a file is a superset of the
    older ones (merge-on-write, cf. ``iceberg_table_syncer.rs:376-435``),
    so it alone is the file's deleted set.  Older sidecars may still hold
    a superseded row for the file; pairing on (file, sidecar) skips
    those, so no (file, position) repeats and nothing needs
    deduplicating."""
    if not dv_paths or not data_files:
        return local_df(spark, _DV_SIDE)
    dv = _with_relative_file(
        read_pinned(spark, [store.abs(p) for p in dv_paths]), store,
        "dv_path")
    wanted = local_df(spark, "referenced_file string, dv_path string",
                      [list(data_files), list(data_files.values())])
    return (
        dv.join(F.broadcast(wanted), on=["referenced_file", "dv_path"],
                how="left_semi")
        .select(
            F.col("referenced_file").alias(FILE_COL),
            F.explode("positions").alias(POS_COL),
        )
    )


def scan_files(
    spark: SparkSession,
    store: SnapshotStore,
    data_files: list[str],
    dv_paths: list[str],
    dv_cardinality: int,
    *,
    with_location: bool = False,
    schema_ddl: str | None = None,
    project: list[str] | None = None,
    column_defaults: Mapping[str, object] | None = None,
    deletes: DataFrame | None = None,
    dv_files: Mapping[str, str],
) -> DataFrame:
    """Read an explicit file set applying its delete vectors.

    ``dv_files`` maps each file of ``data_files`` that carries a DV to
    the sidecar its manifest entry names (``dv_path``); each file's
    deletes come from that sidecar only (see :func:`deletes_df`).  Only
    those files go through the anti-join; clean files are read plainly
    and unioned in.  This matters at scale: after maintenance most files
    carry no DVs, and above ``BROADCAST_DV_ROWS`` the anti-join is a
    shuffle — without the split every row of every clean file would
    shuffle on (file, pos) just to survive a join that cannot touch it
    (the per-file routing mirrors the reference attaching a
    ``RowSelection`` only to files that have one,
    ``moonlink_datafusion/src/table_provider.rs:96-130``).

    A DV side of at most ``DRIVER_DV_ROWS`` deleted rows
    (``dv_cardinality``; :func:`dv_side_on_driver`) is read on the
    driver and broadcast as a local relation (:func:`driver_deletes`); a
    larger one is read by Spark (:func:`deletes_df`).  ``deletes``, a
    prebuilt (file, pos) DataFrame, takes the place of that Spark read:
    callers running many concurrent scans whose deletes together are
    too many for the driver read (the compaction fan-out) build and
    persist it once, and each scan semi-joins its own files out of it.

    ``schema_ddl`` pins the read schema (schema evolution: files written
    before an added column came along simply yield nulls for it — no
    ``mergeSchema`` footer sweep, which would touch every footer at
    planning time); ``project`` selects/orders the logical columns, so
    columns dropped from the table schema are never read (column
    pruning does the work); ``column_defaults`` backfills added columns
    for pre-existing rows (coalesce semantics: genuine nulls in new data
    are filled too — the documented approximation of Iceberg's
    initial-default)."""
    def _read(paths: list[str]) -> DataFrame:
        reader = spark.read
        if schema_ddl:
            reader = reader.schema(schema_ddl)
        d = reader.parquet(*[store.abs(p) for p in paths])
        d = _with_relative_file(d, store)
        if project:
            d = d.select(*project, FILE_COL)
        if column_defaults:
            for col, default in column_defaults.items():
                if default is not None and col in d.columns:
                    d = d.withColumn(col, F.coalesce(F.col(col),
                                                     F.lit(default)))
        return d

    dirty = [f for f in data_files if f in dv_files]
    clean = [f for f in data_files if f not in dv_files]
    if not dirty or (deletes is None and not dv_paths):
        live = _read(data_files)  # no delete row can touch any file
    else:
        if deletes is not None:
            dels = deletes.join(
                F.broadcast(file_list_df(spark, dirty)),
                on=FILE_COL, how="left_semi")
        elif dv_side_on_driver(spark, dv_cardinality, dirty):
            dels = driver_deletes(
                spark, store, {f: dv_files[f] for f in dirty})
        else:
            dels = deletes_df(spark, store, dv_paths, dv_files)
        if dv_cardinality <= BROADCAST_DV_ROWS:
            dels = F.broadcast(dels)
        live = _read(dirty).join(dels, on=[FILE_COL, POS_COL],
                                 how="left_anti")
        if clean:
            live = live.unionByName(_read(clean))
    if not with_location:
        live = live.drop(FILE_COL)
    return live


def column_batches(paths: list[str], columns: list[str],
                    types: Mapping[str, str] | None):
    """``columns`` of the parquet files ``paths`` as Arrow record
    batches, one file after another in the order given, streamed a
    batch at a time (a consumer that stops early reads no further), cast
    to the table's column types (``types``: column → DDL type, the
    snapshot's ``schema_types``) as Spark reads them under the pinned
    schema: a column a file lacks reads as nulls.  A column without a
    known type is typed by the first file's footer, as Spark's
    inference types it."""
    first = pq.read_schema(paths[0])
    types = types or {}
    schema = pa.schema([
        (c, (bound_type(types[c]) if c in types else None)
         or first.field(c).type) for c in columns])
    for path in paths:
        pf = pq.ParquetFile(path)
        have = [c for c in columns if c in pf.schema_arrow.names]
        for part in pf.iter_batches(columns=have):
            yield pa.record_batch(
                [part.column(f.name).cast(f.type) if f.name in have
                 else pa.nulls(part.num_rows, f.type) for f in schema],
                schema=schema)


def driver_plan(manifest_paths: Sequence[str],
                predicates: Mapping[str, object] | None,
                schema_types: Mapping[str, str] | None = None) -> pa.Table:
    """``(path, dv_path, dv_cardinality)`` of the manifest entries whose
    bounds can satisfy ``predicates`` (:func:`bound_exprs`) and that hold
    a live row, read on the driver with pyarrow (no Spark job), as every
    table format's planner reads its manifests.  A file whose DV covers
    every row is skipped (DVs are exact positional deletes; common in CDC
    aftermath, where a short-lived key set lands in one tiny file and is
    deleted wholesale before compaction reclaims it)."""
    segments = pds.dataset(list(manifest_paths), format="parquet")
    live = ~(pds.field("rows").is_valid()
             & (pc.coalesce(pds.field("dv_cardinality"), 0)
                >= pds.field("rows")))
    return segments.to_table(
        columns=["path", "dv_path", "dv_cardinality"],
        filter=reduce(operator.and_,
                      bound_exprs(predicates,
                                  from_arrow_schema(segments.schema),
                                  pds.field, schema_types), live))


def scan(
    spark: SparkSession,
    store: SnapshotStore,
    snapshot: Snapshot,
    *,
    predicates: Mapping[str, str] | None = None,
    with_location: bool = False,
    keep_files: DataFrame | None = None,
    apply_row_filters: bool = False,
) -> DataFrame:
    """Scan one snapshot version (optionally pruned by equality predicates
    on stats columns).  Returns live rows only.

    ``keep_files`` (one-column ``path`` DataFrame) restricts the scan to
    those manifest entries — the key-index candidate set computed by
    MERGE (``operators/keyindex.py``).  Below the distscan switch its
    paths are collected once and filter the driver plan; above it, it
    is semi-joined to the manifest DataFrame.

    ``apply_row_filters=True`` additionally applies ``predicates`` as
    ROW filters (default: file pruning only — surviving files return
    all their rows and the caller filters).  The point is pushdown
    symmetry at scale: on this driver-planned path a caller's
    ``.filter`` already reaches the parquet source through Catalyst,
    but on the distributed-planning path (``distscan``) a filter above
    ``mapInArrow`` cannot cross the Python boundary — passing it here
    hands the predicate to the pyarrow reader (row-level dataset
    filter at the scan) on that path instead."""
    # the switch reads the header's entry count, an upper bound on the
    # pruned plan (``Snapshot.entry_count``); pre-upgrade snapshots sum
    # the segment footers' row counts
    from moonlink_spark.operators import distscan
    props = snapshot.properties
    types = props.get("schema_types")
    read = dict(schema_ddl=props.get("schema_ddl"), project=snapshot.schema,
                column_defaults=props.get("column_defaults"),
                with_location=with_location)
    n_entries = snapshot.entry_count
    if n_entries is None:
        n_entries = sum(pq.read_metadata(p).num_rows
                        for p in snapshot.manifest_paths)
    if n_entries > distscan.PLAN_DISTRIBUTED_FILES:
        # the manifest stays a DataFrame end to end: executors read
        # their own plan slices
        manifest = prune_manifest(
            read_pinned(spark, snapshot.manifest_paths), predicates, types)
        if keep_files is not None:
            manifest = manifest.join(keep_files, on="path", how="left_semi")
        return distscan.scan_distributed(
            spark, store, manifest, schema_types=types, **read,
            row_filters=predicates if apply_row_filters else None)
    plan = driver_plan(snapshot.manifest_paths, predicates, types)
    if keep_files is not None:
        keep = keep_files.select("path").toArrow()["path"]
        plan = plan.filter(pc.is_in(plan["path"], value_set=keep))
    files = plan["path"].to_pylist()
    dv_files = {f: d for f, d in zip(files, plan["dv_path"].to_pylist())
                if d is not None}
    dv_paths = sorted(set(dv_files.values()))
    dv_card = pc.sum(plan["dv_cardinality"]).as_py() or 0
    if not files:
        # Empty scan (empty table, or pruning eliminated every file —
        # e.g. a MERGE batch of brand-new keys outside all file bounds).
        # The shape must match scan_files output exactly: callers like
        # merge_into select the location columns unconditionally.
        empty = local_df(spark, read["schema_ddl"] or ", ".join(
            f"`{c}` string" for c in snapshot.schema))
        if with_location:
            empty = empty.withColumn(FILE_COL, F.lit(None).cast("string"))
            if POS_COL not in empty.columns:
                empty = empty.withColumn(POS_COL, F.lit(None).cast("long"))
        return empty
    out = scan_files(spark, store, files, dv_paths, dv_card,
                     dv_files=dv_files, **read)
    if apply_row_filters:
        for cond in predicate_exprs(predicates, schema_types=types):
            out = out.filter(cond)  # Catalyst pushes to the parquet scan
    return out
