"""Incremental changelog read: the row-level diff between two snapshots.

moonlink *ingests* CDC and materializes its effect; downstream consumers
that want to ingest FROM the table need the inverse — "what changed
between version A and version B" as (insert | delete) row events, the
same event vocabulary the reference's sink consumes
(``pg_replicate/moonlink_sink.rs:295-327``: Update = Delete + Append).

Snapshot-diff semantics (the Iceberg-changelog model, applied to this
store's immutable manifests):

- Only *logical* commits emit rows.  A commit's ``operation`` property
  classifies it: ``merge`` / ``load-files`` add and delete rows;
  ``optimize-*`` rewrites files without changing table content (a
  replace — emitting its file churn would fabricate millions of phantom
  events per compaction), and ``create-snapshot`` / ``add-column`` /
  ``drop-column`` are metadata-only.  All three latter kinds emit
  nothing, which the sha256-invariant tests justify: scans before and
  after them are row-identical.
- inserts at version N = rows of data files present in manifest N but
  not N−1 (merge ingest files / bulk-loaded files).
- deletes at version N = rows of the files whose delete vector changed
  that are live at N−1 and whose position is in the file's delete
  vector at N, read back from the (still retained) data file through
  the scan's own reader (``scan_files``).  Requires N−1 not expired —
  the changelog window is bounded by the retention policy, exactly like
  any CDC log.

Scale shape: per-version work is one manifest anti-join (added files),
a scan of the changed files as of N−1 and its semi-join against N's
delete vectors — all change-batch-sized, never table-sized; the version
loop is driver-side over an explicitly requested window.

Consumer replay rule (multi-version windows): per key, the LAST event
in the window wins — insert beats delete at the same commit version
(an upsert is delete+insert in one commit); keys without events keep
their base row.  A naive "anti-join all deletes, union all inserts"
replay is only correct for single-version windows (a key re-upserted
twice in the window would resurrect its intermediate value).  Property
test: ``tests/test_changelog.py::test_changelog_replay_chaos``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from moonlink_spark.operators.scan import (
    FILE_COL,
    POS_COL,
    deletes_df,
    local_df,
    scan_files,
)
from moonlink_spark.snapshotstore import SnapshotStore, read_pinned

CHANGE_TYPE_COL = "_change_type"
COMMIT_VERSION_COL = "_commit_version"

# operations whose commits change table content
_LOGICAL_OPS = ("merge", "load-files", "append")


def _align(df: DataFrame, final_schema: list[str]) -> DataFrame:
    """Project to the changelog's output schema (the newest snapshot's
    columns): columns the older version lacked are NULL, columns it had
    but the newest dropped are omitted."""
    cols = [
        (F.col(c) if c in df.columns else F.lit(None)).alias(c)
        for c in final_schema
    ]
    return df.select(*cols, CHANGE_TYPE_COL, COMMIT_VERSION_COL)


def _version_changes(spark: SparkSession, store: SnapshotStore,
                     version: int, final_schema: list[str]
                     ) -> DataFrame | None:
    snap_b = store.read_snapshot(version)
    op = snap_b.properties.get("operation")
    if op == "rollback":
        # a rollback rewinds content; its row-level diff is not forward
        # CDC — refuse loudly instead of emitting a silently-wrong
        # (empty) delta (cf. MoonTable.rollback_to)
        raise ValueError(
            f"changelog window crosses rollback commit v{version}; "
            "re-sync consumers from a snapshot at or after it")
    if op not in _LOGICAL_OPS:
        return None
    m_b = read_pinned(spark, snap_b.manifest_paths)
    m_a = read_pinned(spark, store.read_snapshot(snap_b.parent).manifest_paths)
    ddl = snap_b.properties.get("schema_ddl")
    out = []

    # -- inserts: files new in B ----------------------------------------
    added = (m_b.join(m_a.select("path"), on="path", how="left_anti")
             .select("path", "dv_path", "dv_cardinality").collect())
    if added:
        ins = scan_files(
            spark, store,
            [r["path"] for r in added],
            sorted({r["dv_path"] for r in added if r["dv_path"]}),
            sum(r["dv_cardinality"] for r in added),
            schema_ddl=ddl, project=snap_b.schema,
            column_defaults=snap_b.properties.get("column_defaults"),
            dv_files={r["path"]: r["dv_path"] for r in added
                      if r["dv_path"]})
        out.append(ins.withColumn(CHANGE_TYPE_COL, F.lit("insert")))

    # -- deletes: DV growth on files common to A and B ------------------
    changed = (
        m_b.alias("b")
        .join(m_a.select(F.col("path"),
                         F.col("dv_path").alias("_adv"),
                         F.col("dv_cardinality").alias("_acard")).alias("a"),
              on="path")
        .filter(F.col("b.dv_path").isNotNull()
                & ~F.col("b.dv_path").eqNullSafe(F.col("_adv")))
        .select("path", F.col("b.dv_path").alias("dv_path"),
                "_adv", "_acard")
        .collect())
    if changed:
        # the changed files' rows live at A (read as A's scan reads
        # them, column defaults included) whose (file, pos) is in B's
        # DV: B's sidecar row is a superset of A's, so this is exactly
        # the rows B deleted
        old_of = {r["path"]: r["_adv"] for r in changed if r["_adv"]}
        live_a = scan_files(
            spark, store,
            [r["path"] for r in changed],
            sorted(set(old_of.values())),
            sum(r["_acard"] or 0 for r in changed),
            with_location=True, schema_ddl=ddl, project=snap_b.schema,
            column_defaults=snap_b.properties.get("column_defaults"),
            dv_files=old_of)
        dv_b = deletes_df(spark, store,
                          sorted({r["dv_path"] for r in changed}),
                          {r["path"]: r["dv_path"] for r in changed})
        dels = (live_a.join(F.broadcast(dv_b), on=[FILE_COL, POS_COL],
                            how="left_semi")
                .drop(FILE_COL)
                .withColumn(CHANGE_TYPE_COL, F.lit("delete")))
        out.append(dels)

    if not out:
        return None
    df = out[0] if len(out) == 1 else out[0].unionByName(out[1])
    return _align(df.withColumn(COMMIT_VERSION_COL, F.lit(version)),
                  final_schema)


def changes(spark: SparkSession, store: SnapshotStore,
            from_version: int, to_version: int | None = None) -> DataFrame:
    """Row-level change events committed AFTER ``from_version`` up to and
    including ``to_version`` (default: current).  Output columns: the
    ``to_version`` snapshot's schema plus ``_change_type``
    ('insert' | 'delete') and ``_commit_version``."""
    if to_version is None:
        to_version = store.current_version()
    if to_version < from_version:
        raise ValueError(f"to_version {to_version} < from_version "
                         f"{from_version}")
    final_schema = store.read_snapshot(to_version).schema
    parts = []
    for v in range(from_version + 1, to_version + 1):
        part = _version_changes(spark, store, v, final_schema)
        if part is not None:
            parts.append(part)
    if not parts:
        ddl = store.read_snapshot(to_version).properties.get("schema_ddl") \
            or ", ".join(f"`{c}` string" for c in final_schema)
        return local_df(spark, f"{ddl}, {CHANGE_TYPE_COL} string, "
                               f"{COMMIT_VERSION_COL} int")
    df = parts[0]
    for p in parts[1:]:
        df = df.unionByName(p)
    return df
