"""Snapshot-pinned scan: data files ∪ delete-vector anti-join + pruning.

The Spark expression of moonlink's read path:

- moonlink's union read assembles persisted parquet + persisted DV blobs +
  committed position deletes (``storage/mooncake_table/snapshot_read.rs:69-241``)
  and its DataFusion provider skips deleted rows via per-file
  ``RowSelection`` (``moonlink_datafusion/src/table_provider.rs:96-130``).
- here the same semantics are one declarative plan: read the snapshot's
  file list, anti-join ``(file, _pos)`` against the exploded delete
  vectors.  Catalyst keeps predicate pushdown / column pruning on the
  parquet scan; the DV side is broadcast when the manifest says total
  deleted-row cardinality is small (the common case — DVs are per-file
  bitmaps), else it is a regular shuffled join on a high-cardinality key
  (no skew: the key is (file, position)).
- file pruning via manifest min/max bounds happens *before* the scan by
  filtering the manifest DataFrame (cf. per-file stats pruning,
  ``parquet_stats_utils.rs:327-412``) — files whose bound range cannot
  contain the predicate value are never listed to the reader.

Snapshot isolation is structural: the plan is built from one immutable
manifest version, so concurrent maintenance commits never change what a
pinned reader sees (cf. ``union_read/read_state.rs:20-50``).
"""

from __future__ import annotations

from typing import Mapping, Sequence

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

from moonlink_spark.snapshotstore import Snapshot, SnapshotStore

# Below this many deleted rows (summed manifest dv_cardinality) the DV
# side is broadcast.  8M (file,pos) pairs ≈ a few hundred MB broadcast —
# comfortably under typical executor memory.
BROADCAST_DV_ROWS = 8_000_000

# Driver-collected planning above ~1M entries hands off to
# ``operators/distscan.py`` (the manifest stays a DataFrame; executors
# read their own plan slices) — see ``distscan.PLAN_DISTRIBUTED_FILES``.

FILE_COL = "_mlfile"
POS_COL = "_pos"


def _with_relative_file(df: DataFrame, store: SnapshotStore) -> DataFrame:
    """Attach the manifest-relative file path of each row from parquet
    scan metadata (JVM-side expression, no UDF)."""
    return df.withColumn(
        FILE_COL,
        F.replace(
            F.regexp_replace(F.col("_metadata.file_path"), "^file:/*", "/"),
            F.lit(store.warehouse + "/"), F.lit("")),
    )


def _check_pred_type(bound_dtype: str, col: str, values: tuple) -> None:
    """Refuse type-mismatched pruning loudly: comparing a numeric value
    against string-typed bounds (or vice versa) would compare
    lexicographically ("9" > "10") and silently drop matching files —
    wrong results, not a crash.  Bounds are typed per column
    (``snapshotstore.bound_type``, covering the reference's Datum
    universe, ``parquet_stats_utils.rs:180-320``); the predicate value's
    Python type must land in the same comparison group as the bound
    type, else Catalyst's implicit casts decide the semantics silently."""
    import datetime

    import decimal as _decimal

    base = bound_dtype.split("(")[0].strip().lower()
    group_of = {
        "string": "string", "varchar": "string",
        "boolean": "boolean",
        "tinyint": "integral", "smallint": "integral", "int": "integral",
        "integer": "integral", "bigint": "integral", "long": "integral",
        "float": "numeric", "double": "numeric",
        "decimal": "decimal", "numeric": "decimal",
        "date": "date",
        "timestamp": "timestamp", "timestamp_ntz": "timestamp",
    }
    expected = group_of.get(base)
    for v in values:
        if v is None:
            continue
        if isinstance(v, bool):
            got = "boolean"
        elif isinstance(v, int):
            got = "integral"
        elif isinstance(v, float):
            got = "numeric"
        elif isinstance(v, _decimal.Decimal):
            got = "decimal"
        elif isinstance(v, str):
            got = "string"
        elif isinstance(v, datetime.datetime):
            got = "timestamp"
        elif isinstance(v, datetime.date):
            got = "date"
        else:
            got = type(v).__name__
        ok = (got == expected
              # an int predicate against float/double/decimal bounds is
              # exact; a float against decimal bounds is NOT (binary vs
              # decimal rounding) and stays refused
              or (expected in ("numeric", "decimal") and got == "integral"))
        if not ok:
            raise TypeError(
                f"predicate on {col!r}: value {v!r} "
                f"({type(v).__name__}) is incompatible with the "
                f"manifest's {bound_dtype}-typed bounds — pruning would "
                "be implicitly cast and silently wrong")


def prune_manifest(manifest: DataFrame,
                   predicates: Mapping[str, object] | None) -> DataFrame:
    """Filter manifest entries whose [min,max] bounds can satisfy the
    predicates.  Unknown bounds (nulls) are conservatively kept.

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
    if not predicates:
        return manifest
    dtypes = dict(manifest.dtypes)
    for col, pred in predicates.items():
        if isinstance(pred, tuple) and pred[0] in ("is_null", "not_null"):
            nc = f"null_{col}"
            if nc not in dtypes:
                continue  # manifest predates null counts: keep all
            n = F.col(nc)
            if pred[0] == "is_null":
                keep = n > 0
            else:
                keep = n < F.col("rows")
            manifest = manifest.filter(n.isNull() | keep)
            continue
        bdt = dtypes.get(f"min_{col}")
        if bdt is None:
            raise ValueError(f"no bounds for column {col!r} in manifest")
        _check_pred_type(
            bdt, col,
            tuple(pred[1:]) if isinstance(pred, tuple) else (pred,))
        lo, hi = F.col(f"min_{col}"), F.col(f"max_{col}")
        unknown = lo.isNull() | hi.isNull()
        if not isinstance(pred, tuple):
            pred = ("==", pred)
        op = pred[0]
        if op == "==":
            keep = (lo <= F.lit(pred[1])) & (hi >= F.lit(pred[1]))
        elif op in ("<", "<="):
            # any row can be < v only if the file's min is
            keep = lo < F.lit(pred[1]) if op == "<" else lo <= F.lit(pred[1])
        elif op in (">", ">="):
            keep = hi > F.lit(pred[1]) if op == ">" else hi >= F.lit(pred[1])
        elif op == "between":
            keep = (hi >= F.lit(pred[1])) & (lo <= F.lit(pred[2]))
        else:
            raise ValueError(f"unknown predicate op {op!r}")
        manifest = manifest.filter(unknown | keep)
    return manifest


def predicate_exprs(predicates: Mapping[str, object] | None):
    """The same predicate mini-language as :func:`prune_manifest`,
    rendered as Spark row-filter Columns (for callers that want the
    rows filtered, not just the files pruned)."""
    out = []
    for col, pred in (predicates or {}).items():
        c = F.col(col)
        if not isinstance(pred, tuple):
            pred = ("==", pred)
        op = pred[0]
        if op == "==":
            out.append(c == F.lit(pred[1]))
        elif op == "<":
            out.append(c < F.lit(pred[1]))
        elif op == "<=":
            out.append(c <= F.lit(pred[1]))
        elif op == ">":
            out.append(c > F.lit(pred[1]))
        elif op == ">=":
            out.append(c >= F.lit(pred[1]))
        elif op == "between":
            out.append((c >= F.lit(pred[1])) & (c <= F.lit(pred[2])))
        elif op == "is_null":
            out.append(c.isNull())
        elif op == "not_null":
            out.append(c.isNotNull())
        else:
            raise ValueError(f"unknown predicate op {op!r}")
    return out


def local_df(spark: SparkSession, schema: str | StructType,
             columns: Sequence[Sequence] = ()) -> DataFrame:
    """A driver-built DataFrame from column value lists (none: empty),
    handed to Spark as one Arrow table.

    ``spark.createDataFrame`` on Python rows plans as ``Scan
    ExistingRDD``: the rows are pickled into a ``PythonRDD``, and every
    job that reads the frame starts Python workers to unpickle them
    again (0.2-0.5 s per job on a 4-core host, even for a handful of
    rows).  An Arrow table plans as ``LocalTableScan`` and never leaves
    the JVM once handed over."""
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    if columns:
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


def deletes_df(spark: SparkSession, store: SnapshotStore,
               dv_paths: list[str], data_files: list[str]) -> DataFrame:
    """Exploded delete vectors: one row per deleted (file, position),
    restricted to ``data_files``.  Newer DV sidecars for a file are
    supersets of older ones (merge-on-write, cf.
    ``iceberg_table_syncer.rs:376-435``), so the union over sidecars is
    exactly the deleted set."""
    if not dv_paths:
        return local_df(spark, f"{FILE_COL} string, {POS_COL} long")
    dv = spark.read.parquet(*[store.abs(p) for p in dv_paths])
    wanted = file_list_df(spark, data_files, "referenced_file")
    return (
        dv.join(F.broadcast(wanted), on="referenced_file", how="left_semi")
        .select(
            F.col("referenced_file").alias(FILE_COL),
            F.explode("positions").alias(POS_COL),
        )
        .distinct()
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
    dv_files: list[str] | None = None,
) -> DataFrame:
    """Read an explicit file set applying its delete vectors.

    ``deletes`` overrides the DV read with a prebuilt (file, pos)
    DataFrame — callers running many scans over one snapshot (the
    compaction fan-out) build and persist it once instead of re-reading
    the DV sidecars per scan.

    ``dv_files`` (when the caller knows it from the manifest: the
    subset of ``data_files`` whose ``dv_path`` is non-null) routes ONLY
    those files through the anti-join; clean files are read plainly and
    unioned in.  This matters at scale: after maintenance most files
    carry no DVs, and above ``BROADCAST_DV_ROWS`` the anti-join is a
    shuffle — without the split every row of every clean file would
    shuffle on (file, pos) just to survive a join that cannot touch it
    (the per-file routing mirrors the reference attaching a
    ``RowSelection`` only to files that have one,
    ``moonlink_datafusion/src/table_provider.rs:96-130``).

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

    if dv_files is not None:
        dvset = set(dv_files)
        dirty = [f for f in data_files if f in dvset]
        clean = [f for f in data_files if f not in dvset]
    else:
        dirty, clean = list(data_files), []
    if not dirty or (deletes is None and not dv_paths):
        live = _read(data_files)  # no delete row can touch any file
    else:
        if deletes is not None:
            dels = deletes.join(
                F.broadcast(file_list_df(spark, dirty)),
                on=FILE_COL, how="left_semi")
        else:
            dels = deletes_df(spark, store, dv_paths, dirty)
        if dv_cardinality <= BROADCAST_DV_ROWS:
            dels = F.broadcast(dels)
        live = _read(dirty).join(dels, on=[FILE_COL, POS_COL],
                                 how="left_anti")
        if clean:
            live = live.unionByName(_read(clean))
    if not with_location:
        live = live.drop(FILE_COL)
    return live


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
    MERGE (``operators/keyindex.py``); applied as a semi-join before the
    planning projection.

    ``apply_row_filters=True`` additionally applies ``predicates`` as
    ROW filters (default: file pruning only — surviving files return
    all their rows and the caller filters).  The point is pushdown
    symmetry at scale: on this driver-planned path a caller's
    ``.filter`` already reaches the parquet source through Catalyst,
    but on the distributed-planning path (``distscan``) a filter above
    ``mapInArrow`` cannot cross the Python boundary — passing it here
    hands the predicate to the pyarrow reader (row-level dataset
    filter at the scan) on that path instead."""
    manifest = prune_manifest(
        spark.read.parquet(*snapshot.manifest_paths), predicates)
    if keep_files is not None:
        manifest = manifest.join(keep_files, on="path", how="left_semi")
    # Planning collects (path, dv_path, dv_cardinality) — file *lists*,
    # not data.  This mirrors what every table format's driver-side
    # planner does (Iceberg manifests are read at planning time too); the
    # manifest stays a DataFrame until this final projection.  Above
    # the distscan threshold even the pruned list is too big for the
    # driver, and planning itself goes distributed: the manifest stays
    # a DataFrame end-to-end and executors read their own plan slices.
    from moonlink_spark.operators import distscan
    # The decision count comes free from the snapshot header (segment
    # descriptors record per-segment entry counts) — no extra Spark job
    # over the manifest parquet on the common path.  The header total is
    # an upper bound on the pruned manifest, so a heavily-pruned scan of
    # a huge table goes distributed "unnecessarily" — conservative in
    # the direction that can never blow the driver; distscan is exact
    # and cheap at small plan sizes.  Pre-upgrade snapshots without
    # per-segment counts fall back to the count job.
    n_entries = snapshot.entry_count
    if n_entries is None:
        n_entries = manifest.count()
    if n_entries > distscan.PLAN_DISTRIBUTED_FILES:
        return distscan.scan_distributed(
            spark, store, manifest,
            schema_ddl=snapshot.properties.get("schema_ddl"),
            project=snapshot.schema,
            column_defaults=snapshot.properties.get("column_defaults"),
            with_location=with_location,
            row_filters=predicates if apply_row_filters else None)
    plan_rows = manifest.select("path", "dv_path", "dv_cardinality",
                                "rows").collect()
    # Fully-deleted files (DV covers every row — DVs are exact positional
    # deletes, so dv_cardinality == rows means zero live rows) are
    # skipped at planning time: no read, no anti-join traffic.  Common
    # in CDC aftermath where a short-lived key set lands in one tiny
    # file and is deleted wholesale before compaction reclaims it.
    plan_rows = [r for r in plan_rows
                 if not (r["rows"] is not None
                         and int(r["dv_cardinality"] or 0) >= int(r["rows"]))]
    files = [r["path"] for r in plan_rows]
    dv_paths = sorted({r["dv_path"] for r in plan_rows if r["dv_path"]})
    dv_card = sum(r["dv_cardinality"] for r in plan_rows)
    if not files:
        # Empty scan (empty table, or pruning eliminated every file —
        # e.g. a MERGE batch of brand-new keys outside all file bounds).
        # The shape must match scan_files output exactly: callers like
        # merge_into select the location columns unconditionally.
        ddl = snapshot.properties.get("schema_ddl")
        if not ddl:
            ddl = ", ".join(f"`{c}` string" for c in snapshot.schema)
        empty = local_df(spark, ddl)
        if with_location:
            if FILE_COL not in empty.columns:
                empty = empty.withColumn(FILE_COL,
                                         F.lit(None).cast("string"))
            if POS_COL not in empty.columns:
                empty = empty.withColumn(POS_COL, F.lit(None).cast("long"))
        return empty
    out = scan_files(
        spark, store, files, dv_paths, dv_card,
        with_location=with_location,
        schema_ddl=snapshot.properties.get("schema_ddl"),
        project=snapshot.schema,
        column_defaults=snapshot.properties.get("column_defaults"),
        dv_files=[r["path"] for r in plan_rows if r["dv_path"]])
    if apply_row_filters:
        for cond in predicate_exprs(predicates):
            out = out.filter(cond)  # Catalyst pushes to the parquet scan
    return out
