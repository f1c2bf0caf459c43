"""MoonTable — the public maintenance API.

Mirrors moonlink's backend surface (``moonlink_backend/src/lib.rs``):

- ``scan(version=None, predicates=...)``   — snapshot-pinned read
  (``scan_table_begin``, ``moonlink_rpc/src/lib.rs:28-40``)
- ``optimize(mode)`` with mode ``data`` | ``index`` | ``full``
  (``optimize_table``, ``moonlink_backend/src/lib.rs:353-380``)
- ``merge(changes, key_columns)``          — the MERGE INTO surface
- ``expire_snapshots(retain_last)``        — our retention addition
- ``metrics()``                            — per-job lineage counters
  (the engine's analogue of moonlink's OTEL latency histograms,
  ``observability/iceberg_persistence.rs:59-86``)

Every mutation commits a new immutable snapshot version; ``optimize`` is
resumable: rerunning after a crash skips bins whose lineage records
validate, and a rerun after a successful commit is a no-op (the job id is
derived from the base version, and the committed snapshot records it).
"""

from __future__ import annotations

import dataclasses
import json
import math
import os
from typing import Mapping

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from moonlink_spark import metrics as mtr
from moonlink_spark.config import CompactionConfig, TableConfig
from moonlink_spark.fs import part_files, rename_many
from moonlink_spark.functions.zorder import compute_zorder_boundaries
from moonlink_spark.operators import expire as expire_op
from moonlink_spark.operators import merge as merge_op
from moonlink_spark.operators import scan as scan_op
from moonlink_spark.operators.planner import plan_compaction
from moonlink_spark.operators.rewrite import rewrite_bin
from moonlink_spark.snapshotstore import (
    DV_DIR,
    CommitConflict,
    Snapshot,
    SnapshotStore,
    shard_rel,
)

# index-merge trigger: min 16 small DV sidecars, mirroring
# index_merge_config.rs:258-268 (min 16 / max 32 index blocks).
MIN_DV_SIDECARS_TO_MERGE = 16


class MoonTable:
    """Facade over one warehouse directory."""

    def __init__(self, spark: SparkSession, warehouse: str,
                 config: TableConfig | None = None,
                 store: SnapshotStore | None = None):
        self.spark = spark
        # ``store`` selects the format backend (the reference's
        # ``TableManager`` trait seam: Iceberg-shaped SnapshotStore by
        # default, ``deltastore.DeltaLogStore`` for the Delta-log
        # protocol — cf. ``storage/table/common/table_manager.rs`` with
        # its iceberg/deltalake twin implementations)
        self.store = store or SnapshotStore(warehouse)
        self.config = config or TableConfig()
        # Scans pass the manifest's explicit file list to the reader.
        # Spark's default threshold (32 paths) launches a distributed
        # listing JOB above that — one task per path, whole seconds of
        # scheduler latency for a CDC aftermath of hundreds of tiny
        # files (measured 10.6 s for 600 paths vs 1.9 s driver-side).
        # Below this threshold the driver stats the paths directly; the
        # distributed job remains for genuinely huge file sets, where
        # per-path object-store HEADs need the executor fan-out.
        cur = spark.conf.get(
            "spark.sql.sources.parallelPartitionDiscovery.threshold", "32")
        if int(cur) == 32:  # don't clobber an explicit user setting
            spark.conf.set(
                "spark.sql.sources.parallelPartitionDiscovery.threshold",
                "8192")

    # -- read ------------------------------------------------------------
    def current_version(self) -> int:
        return self.store.current_version()

    def snapshot(self, version: int | None = None) -> Snapshot:
        return self.store.read_snapshot(version)

    def version_at(self, ts: float) -> int:
        """Latest retained version committed at or before epoch-seconds
        ``ts`` (timestamp time travel over the snapshot log — moonlink's
        catalog keeps every ``v{N}.metadata.json``,
        ``file_catalog.rs:606-624``).  Resolved from the header's
        ``committed_at`` stamp (mtimes do not survive object-store
        copies/migrations; pre-upgrade headers fall back to mtime).

        Commits are serialized per table (the commit lock) and stamped
        at publish, so ``committed_at`` is monotone in version — the
        lookup is a binary search: O(log versions) header reads, not a
        full snapshot-log walk."""
        versions = self.store.versions()
        lo, hi = 0, len(versions)  # invariant: commit_time(< lo) <= ts
        while lo < hi:
            mid = (lo + hi) // 2
            if self.store.commit_time(versions[mid]) <= ts:
                lo = mid + 1
            else:
                hi = mid
        if lo == 0:
            raise ValueError(
                f"no snapshot committed at or before ts={ts!r}")
        return versions[lo - 1]

    def scan(self, version: int | None = None, *,
             as_of: float | None = None,
             predicates: Mapping[str, str] | None = None,
             with_location: bool = False,
             apply_row_filters: bool = False) -> DataFrame:
        """``apply_row_filters=True`` returns only rows matching
        ``predicates`` (not just the surviving files) — on the
        distributed-planning path this pushes the predicate into the
        executor-side pyarrow reader, where a caller-side ``.filter``
        cannot reach (see ``operators/scan.scan``)."""
        if as_of is not None:
            if version is not None:
                raise ValueError("pass either version or as_of, not both")
            version = self.version_at(as_of)
        snap = self.store.read_snapshot(version)
        return scan_op.scan(self.spark, self.store, snap,
                            predicates=predicates,
                            with_location=with_location,
                            apply_row_filters=apply_row_filters)

    def manifest(self, version: int | None = None) -> DataFrame:
        return self.store.manifest_df(self.spark, version)

    def changes(self, from_version: int,
                to_version: int | None = None) -> DataFrame:
        """Row-level change events committed after ``from_version`` (the
        incremental-read surface; see :mod:`operators.changelog`)."""
        from moonlink_spark.operators import changelog
        return changelog.changes(self.spark, self.store,
                                 from_version, to_version)

    # -- maintenance -----------------------------------------------------
    def optimize(self, mode: str = "data", *,
                 max_bins: int | None = None) -> Snapshot:
        """Run one maintenance operation; returns the resulting snapshot
        (the unchanged current one if there was nothing to do).

        ``max_bins`` is a test hook: stop (as if killed) after that many
        bins — a later ``optimize`` call resumes from lineage.
        """
        if mode not in ("data", "index", "full"):
            raise ValueError(f"unknown optimize mode {mode!r}")
        base = self.store.read_snapshot()
        job_id = f"opt-{mode}-v{base.version:06d}"

        # already committed by a previous (crashed-after-commit) run?
        for v in self.store.versions():
            if v > base.version:
                s = self.store.read_snapshot(v)
                if s.properties.get("job_id") == job_id:
                    return s

        if mode == "index":
            return self._optimize_index(base, job_id)
        return self._optimize_data(base, job_id, mode, max_bins)

    def _optimize_data(self, base: Snapshot, job_id: str, mode: str,
                       max_bins: int | None) -> Snapshot:
        import time as _time
        t_start = _time.monotonic()
        comp = (self.config.compaction.for_full_mode()
                if mode == "full" else self.config.compaction)
        manifest = self.manifest(base.version)
        bins = plan_compaction(
            manifest, comp,
            manifest_path=base.manifest_paths,
            manifest_bytes=sum(self.store.fs.size(p)
                               for p in base.manifest_paths))
        if not bins:
            return base  # the `Nothing` outcome
        t_plan = _time.monotonic() - t_start

        # one column-pruned pass over the candidate files to fix the
        # Z-order quantile boundaries for the whole job (deterministic,
        # so resumed runs re-derive identical boundaries)
        all_inputs = [p for b in bins for p in b.files]
        total_rows = sum(b.rows for b in bins)
        # boundary sample: a deterministic ~64-file subset keeps the
        # quantile pass O(1) in candidate-set size; row count comes from
        # the manifest (no count job).  ceil-stride so the sample spans
        # the whole candidate set (floor-stride of 1 at 65-127 files
        # would take the lexicographically-first 64 — skewed boundaries
        # on path-correlated data)
        stride = max(1, math.ceil(len(all_inputs) / 64))
        sample_files = sorted(all_inputs)[::stride][:64]
        approx_rows = max(1, int(total_rows * len(sample_files)
                                 / len(all_inputs)))
        reader = self.spark.read
        if base.properties.get("schema_ddl"):
            # pinning the schema skips a footer-inference pass over the
            # full candidate file set (one job per 10^12-file plan)
            reader = reader.schema(base.properties["schema_ddl"])
        if self.config.zorder_columns:
            sample = reader.parquet(
                *[self.store.abs(p) for p in sample_files]
            ).select(*self.config.zorder_columns)
            boundaries = compute_zorder_boundaries(
                sample, list(self.config.zorder_columns),
                bits=self.config.zorder_bits, total_rows=approx_rows,
                curve=self.config.zorder_curve)
        else:
            # clustering off (zorder_columns=()): rewrite preserves
            # (file, pos) order — the reference's own compaction order
            # (compactor.rs:333-344) — and needs no boundary sample
            boundaries = {}
        t_boundaries = _time.monotonic() - t_start - t_plan

        # same table config with the mode-resolved compaction thresholds
        # swapped in (dataclasses.replace keeps every other knob — a
        # field-by-field rebuild here once silently dropped new fields)
        cfg = dataclasses.replace(self.config, compaction=comp)
        # Bins are independent jobs — submit them concurrently so the
        # cluster stays saturated even when one bin's task count is below
        # the executor-slot count.  Results are deterministic regardless
        # of completion order (each bin owns its output file names).
        run_bins = bins if max_bins is None else bins[:max_bins]
        from concurrent.futures import ThreadPoolExecutor

        # AQE is disabled for the rewrite fan-out: adaptive re-planning
        # adds a materialization barrier per shuffle, and with many
        # concurrent jobs whose scan stages run Arrow/pandas UDFs the
        # barriers serialize badly (measured ~6x slowdown at 16
        # concurrent bins).  The bin jobs have a fixed two-stage shape
        # (scan→sort-write), so AQE has nothing to adapt anyway.
        # the candidate set's delete vectors, exploded once and cached —
        # every bin anti-joins against (a filter of) this one DataFrame
        # instead of re-reading the DV sidecar parquet per bin
        all_dv = sorted({p for b in run_bins for p in b.dv_paths})
        deletes = None
        if all_dv:
            deletes = scan_op.deletes_df(
                self.spark, self.store, all_dv,
                [p for b in run_bins for p in b.files]).persist()

        prev_aqe = self.spark.conf.get("spark.sql.adaptive.enabled", "true")
        self.spark.conf.set("spark.sql.adaptive.enabled", "false")
        try:
            with ThreadPoolExecutor(max_workers=comp.bin_concurrency) as pool:
                records = list(pool.map(
                    lambda b: rewrite_bin(
                        self.spark, self.store, b, config=cfg,
                        boundaries=boundaries, job_id=job_id,
                        schema_ddl=base.properties.get("schema_ddl"),
                        project=base.schema,
                        column_defaults=base.properties.get(
                            "column_defaults"),
                        deletes=deletes),
                    run_bins))
        finally:
            self.spark.conf.set("spark.sql.adaptive.enabled", prev_aqe)
            if deletes is not None:
                deletes.unpersist()
        if max_bins is not None and len(bins) > max_bins:
            return base  # simulated kill; lineage already on disk

        t_rewrite = _time.monotonic() - t_start - t_plan - t_boundaries
        compacted = {p for b in bins for p in b.files}
        metrics = {
            "bins": len(records),
            "input_files": len(compacted),
            "output_files": sum(len(r["outputs"]) for r in records),
            "rows_in": sum(r["rows_in"] for r in records),
            "rows_deleted": sum(r["rows_deleted"] for r in records),
            "rows_out": sum(r["rows_out"] for r in records),
            "bytes_in": sum(r["bytes_in"] for r in records),
            "bytes_out": sum(r["bytes_out"] for r in records),
            # driver-side phase wall (the OTEL histogram analogue,
            # observability/iceberg_persistence.rs:59-86): plan =
            # manifest read + candidate selection + binning;
            # boundaries = the bounded zorder quantile sample; commit
            # is stamped after the CAS below
            "phase_seconds": {
                "plan": round(t_plan, 3),
                "boundaries": round(t_boundaries, 3),
                "rewrite": round(t_rewrite, 3),
            },
        }

        # Commit with rebase-and-retry on concurrent commits (the
        # engine's analogue of moonlink's 5-retry commit loop,
        # table_property.rs:14-24).  A rebase is safe iff every
        # compacted input file is still present with an UNCHANGED
        # delete-vector state in the new current manifest — then the
        # concurrent commit only touched other files (e.g. a MERGE
        # into non-candidate files) and we re-point our swap at the
        # new base.  If a compacted file gained deletes or vanished,
        # the rewrite is stale and must abort (rerun re-plans).
        #
        # The successor manifest is a DELTA: remove the compacted
        # inputs, add the rewrite outputs.  commit_delta rewrites only
        # the manifest segments the inputs live in and carries every
        # other segment over by reference — the driver never touches
        # unaffected metadata (cf. the reference's changed-manifests-
        # only iceberg sync, puffin_writer_proxy.rs:253-364).
        out_dicts = []
        for rec in records:
            for out in rec["outputs"]:
                flat = {"path": out["path"], "rows": out["rows"],
                        "bytes": out["bytes"], "dv_path": None,
                        "dv_cardinality": 0}
                for c in self.config.stats_columns:
                    mn, mx = (out.get("bounds") or {}).get(c, (None, None))
                    flat[f"min_{c}"] = mn
                    flat[f"max_{c}"] = mx
                    flat[f"null_{c}"] = (out.get("null_counts")
                                         or {}).get(c)
                    flat[f"ndv_{c}"] = (out.get("ndv") or {}).get(c)
                out_dicts.append(flat)
        out_dicts.sort(key=lambda e: e["path"])
        commit_base = base
        for attempt in range(5):
            metrics["phase_seconds"]["commit_start_at"] = round(
                _time.monotonic() - t_start, 3)
            props = dict(commit_base.properties)
            props.update({
                "flush_lsn": commit_base.flush_lsn,
                "job_id": job_id,
                "operation": f"optimize-{mode}",
                "metrics": metrics,
            })
            try:
                snap = self.store.commit_delta(
                    commit_base.version,
                    added=out_dicts, removed=sorted(compacted),
                    schema=commit_base.schema,
                    stats_columns=self.config.stats_columns,
                    properties=props,
                    expected_parent=commit_base.version)
                # OTEL-analogue histograms (metrics.py): phase walls of
                # the committed maintenance pass
                mtr.observe("maintenance_plan_latency",
                           (t_plan + t_boundaries) * 1000.0)
                mtr.observe("sync_data_files_latency", t_rewrite * 1000.0)
                mtr.observe("snapshot_synchronization_latency",
                           (_time.monotonic() - t_start) * 1000.0)
                return snap
            except CommitConflict:
                if attempt == 4:
                    raise
                new_base = self.store.read_snapshot()
                # staleness check as a join, not a driver dict: any
                # compacted input whose (dv_path, dv_cardinality)
                # changed — or that vanished — invalidates the rewrite
                compacted_df = scan_op.file_list_df(
                    self.spark, sorted(compacted), "path")
                old_sel = (self.store.manifest_df(
                    self.spark, commit_base.version)
                    .join(F.broadcast(compacted_df), on="path",
                          how="left_semi")
                    .select("path", F.col("dv_path").alias("_odv"),
                            F.col("dv_cardinality").alias("_ocard")))
                new_sel = (self.store.manifest_df(
                    self.spark, new_base.version)
                    .select("path", F.col("dv_path").alias("_ndv"),
                            F.col("dv_cardinality").alias("_ncard"),
                            F.lit(True).alias("_present")))
                stale = (old_sel.join(new_sel, on="path", how="left")
                         .filter(F.col("_present").isNull()
                                 | ~F.col("_ndv").eqNullSafe(F.col("_odv"))
                                 | ~F.coalesce("_ncard", F.lit(0))
                                 .eqNullSafe(F.coalesce("_ocard",
                                                        F.lit(0))))
                         .limit(1).count())
                if stale:
                    raise CommitConflict(
                        "compacted inputs changed concurrently; "
                        "rerun optimize") from None
                commit_base = new_base

    def _optimize_index(self, base: Snapshot, job_id: str) -> Snapshot:
        """Index maintenance: consolidate the key-hash bucket index
        (the file-index merge analogue — merge >=16 small index blocks
        into one GlobalIndex, ``snapshot_maintenance.rs:227-309``) and
        the DV sidecars.  Metadata-only: no data file is touched."""
        import time as _time
        t_start = _time.monotonic()
        mdf = self.store.manifest_df(self.spark, base.version)
        if self.config.index_key_columns:
            from moonlink_spark.operators import keyindex
            keyindex.consolidate_index(
                self.spark, self.store, mdf.select("path"),
                key_columns=list(self.config.index_key_columns),
                n_buckets=self.config.index_buckets,
                job_id=job_id)
        # the sidecar list is planning metadata (files to read) — the
        # only driver-side materialization in this path
        live_dv = sorted(r["dv_path"] for r in
                         mdf.filter(F.col("dv_path").isNotNull())
                         .select("dv_path").distinct().collect())
        if len(live_dv) < MIN_DV_SIDECARS_TO_MERGE:
            # the `Nothing` outcome still took a real evaluation pass —
            # its wall belongs in the histogram like any other run
            mtr.observe("sync_file_indices_latency",
                       (_time.monotonic() - t_start) * 1000.0)
            return base
        live_files = (mdf.filter(F.col("dv_path").isNotNull())
                      .select(F.col("path").alias("referenced_file")))
        dv = (self.spark.read.parquet(
                *[self.store.abs(p) for p in live_dv])
              .join(F.broadcast(live_files), on="referenced_file",
                    how="left_semi")
              .select("referenced_file",
                      F.explode("positions").alias("pos"), "max_row_count"))
        merged = (
            dv.groupBy("referenced_file")
            .agg(F.array_sort(F.collect_set("pos")).alias("positions"),
                 F.max("max_row_count").alias("max_row_count"))
            .withColumn("cardinality", F.size("positions").cast("long"))
            .select("referenced_file", "positions", "cardinality",
                    "max_row_count")
        )
        tmp = os.path.join(self.store.warehouse, "tmp", job_id)
        n_files_with_dv = mdf.filter(F.col("dv_path").isNotNull()).count()
        n_out = max(1, math.ceil(n_files_with_dv / 4096))
        (merged.repartitionByRange(n_out, "referenced_file")
         .sortWithinPartitions("referenced_file")
         .write.mode("overwrite").option("compression", "zstd").parquet(tmp))
        parts = part_files(self.store.fs, tmp)
        new_rels = []
        pairs = []
        for j, part in enumerate(parts):
            rel = shard_rel(DV_DIR, f"dv-{job_id}-{j:04d}.parquet")
            pairs.append((os.path.join(tmp, part), self.store.abs(rel)))
            new_rels.append(rel)
        rename_many(self.store.fs, pairs)
        # one job over the renamed sidecars recovers file → (sidecar,
        # cardinality); no per-part collect loop
        upd = (self.spark.read.parquet(
                  *[self.store.abs(r) for r in new_rels])
               .select(F.col("referenced_file").alias("path"),
                       merge_op._rel_file_expr(
                           F.input_file_name(),
                           self.store.warehouse).alias("_new_dv"),
                       F.col("cardinality").alias("_new_card")))
        # delta commit: only the files whose DV pointer moved rewrite
        # their manifest segment; everything else carries by reference.
        # The updated set is the files-with-DVs being consolidated —
        # the operation's own working set, never the whole table.
        updated = {r["path"]: (r["_new_dv"], r["_new_card"])
                   for r in upd.collect()}
        props = dict(base.properties)
        props.update({"flush_lsn": base.flush_lsn, "job_id": job_id,
                      "operation": "optimize-index",
                      "metrics": {"dv_sidecars_in": len(live_dv),
                                  "dv_sidecars_out": len(parts)}})
        snap = self.store.commit_delta(
            base.version, updated=updated, schema=base.schema,
            stats_columns=self.config.stats_columns,
            properties=props, expected_parent=base.version)
        self.store.fs.rmtree(tmp)
        wall = (_time.monotonic() - t_start) * 1000.0
        mtr.observe("sync_file_indices_latency", wall)
        mtr.observe("snapshot_synchronization_latency", wall)
        return snap

    # -- mutation --------------------------------------------------------
    def append(self, rows: DataFrame, *, job_tag: str | None = None,
               extra_properties: Mapping | None = None) -> Snapshot:
        """Append-only ingest fast path (``IdentityProp::None``,
        ``moonlink_row.rs:271-291``): no key join, no scan of existing
        data — rows become fresh ingest files and the manifest commit is
        a streamed sorted-merge.  Works on any table; it is the ONLY
        write allowed on an ``append_only`` table."""
        from moonlink_spark.operators.append import append_rows
        return append_rows(
            self.spark, self.store, self.store.read_snapshot(), rows,
            config=self.config, job_tag=job_tag,
            extra_properties=dict(extra_properties or {}))

    def merge(self, changes: DataFrame, *, key_columns: list[str],
              broadcast_changes: bool = True,
              job_tag: str = "merge",
              extra_properties: Mapping | None = None) -> Snapshot:
        # append-only tables reject identity-keyed writes at the API
        # boundary, like the reference (mooncake_table.rs:129-139:
        # IdentityProp::None ⇔ append_only is enforced)
        if self.store.read_snapshot().properties.get("append_only"):
            raise ValueError(
                "table is append_only (IdentityProp::None): deletes/"
                "upserts are rejected; use append()")
        # a concurrent commit invalidates the computed row positions, so
        # the whole MERGE re-runs against the fresh snapshot (same
        # 5-retry contract as the commit loop, table_property.rs:14-24;
        # `changes` is a deterministic input, so a retry is just a
        # replan)
        for attempt in range(5):
            base = self.store.read_snapshot()
            try:
                return merge_op.merge_into(
                    self.spark, self.store, base, changes,
                    key_columns=key_columns, config=self.config,
                    broadcast_changes=broadcast_changes, job_tag=job_tag,
                    extra_properties=extra_properties)
            except CommitConflict:
                if attempt == 4:
                    raise

    def load_files(self, paths: list[str], *, copy: bool = False) -> Snapshot:
        """Bulk-register existing Parquet files (metadata-only ingest;
        moonlink ``LoadFiles``, ``batch_ingestion.rs``)."""
        from moonlink_spark.sources.bulk_load import load_files
        return load_files(self.store, paths, config=self.config, copy=copy)

    def create_snapshot(self) -> Snapshot:
        """Force a new (content-identical) snapshot version — the
        ``ForceSnapshot``/``create_snapshot(lsn)`` surface
        (``moonlink_backend/src/lib.rs:145``): callers use it as a named
        point-in-time to pin readers or retention against."""
        base = self.store.read_snapshot()
        props = dict(base.properties)
        props.update({"flush_lsn": base.flush_lsn + 1,
                      "operation": "create-snapshot",
                      "job_id": f"snap-v{base.version:06d}"})
        # metadata-only: reuse the parent's manifest segments verbatim —
        # O(1) regardless of table size (the Iceberg metadata snapshot)
        return self.store.commit_reuse(
            base.version, schema=base.schema, properties=props,
            expected_parent=base.version)

    def history(self, limit: int | None = None) -> list[dict]:
        """Snapshot log, oldest first: one row per retained version with
        its parent, operation, flush_lsn, committed-at time (from the
        immutable header object's timestamp) and job id — the table's
        analogue of the per-snapshot metadata moonlink accumulates in
        its version-hinted catalog (``file_catalog.rs:606-624``).

        ``limit`` keeps only the newest N rows and reads only those N
        headers; header reads are pooled (headers are tiny immutable
        objects — at 10^4+ retained versions the latency is the
        object-store round-trips, not bytes)."""
        from concurrent.futures import ThreadPoolExecutor

        versions = self.store.versions()
        if limit is not None:
            versions = versions[-limit:]

        def row(v: int) -> dict:
            s = self.store.read_snapshot(v)
            return {
                "version": v,
                "parent": s.parent,
                "operation": s.properties.get("operation"),
                "job_id": s.properties.get("job_id"),
                "flush_lsn": s.flush_lsn,
                "committed_at": (s.committed_at
                                 if s.committed_at is not None
                                 else self.store.commit_time(v)),
            }

        if len(versions) <= 2:
            return [row(v) for v in versions]
        with ThreadPoolExecutor(max_workers=min(16, len(versions))) as ex:
            return list(ex.map(row, versions))

    def rollback_to(self, version: int) -> Snapshot:
        """Restore the table to ``version``'s content by committing a
        NEW version whose manifest is a copy of the target's (history
        stays immutable — nothing is deleted, exactly like Iceberg's
        rollback; moonlink itself never rolls back, its catalog only
        moves forward, ``file_catalog.rs:589-673``).  The target must
        not be expired.  The manifest is streamed, never materialized.

        The commit is stamped ``operation='rollback'``: the changelog
        refuses windows that cross it (the row-level diff of a rollback
        is not representable as forward CDC events without re-deriving
        it from both manifests — callers re-sync from a fresh base
        instead)."""
        base = self.store.read_snapshot()
        target = self.store.read_snapshot(version)
        props = dict(target.properties)
        props.update({
            "flush_lsn": base.flush_lsn + 1,
            "operation": "rollback",
            "rollback_of": version,
            "job_id": f"rollback-v{version:06d}-from-v{base.version:06d}",
        })
        # manifest segments are immutable and shared: restoring the
        # target's content is a reference to its segment list — O(1)
        return self.store.commit_reuse(
            version, schema=target.schema, properties=props,
            expected_parent=base.version)

    # -- schema evolution (add/drop columns only, mirroring
    #    mooncake_table.rs:616-651 / file_catalog.rs:685-704) -----------
    POS_COL = "_pos"

    def _schema_ddl(self, schema: list[str], types: Mapping[str, str]) -> str:
        return ", ".join(f"`{c}` {types.get(c, 'string')}" for c in schema)

    def add_column(self, name: str, type_ddl: str = "string",
                   default=None) -> Snapshot:
        """Add a column.  Metadata-only: existing files are untouched;
        scans fill the column with NULL (or ``default``) for
        pre-existing rows; the next compaction bakes values in."""
        base = self.store.read_snapshot()
        if name in base.schema:
            raise ValueError(f"column {name!r} already exists")
        schema = [c for c in base.schema if c != self.POS_COL] \
            + [name, self.POS_COL]
        props = dict(base.properties)
        types = dict(props.get("schema_types") or
                     {c: "string" for c in base.schema})
        types.setdefault(self.POS_COL, "bigint")
        types[name] = type_ddl
        defaults = dict(props.get("column_defaults") or {})
        if default is not None:
            defaults[name] = default
        props.update({
            "schema_types": types,
            "schema_ddl": self._schema_ddl(schema, types),
            "column_defaults": defaults,
            "flush_lsn": base.flush_lsn + 1,
            "operation": f"add-column-{name}",
            "job_id": f"addcol-{name}-v{base.version:06d}",
        })
        return self.store.commit_reuse(
            base.version, schema=schema, properties=props,
            expected_parent=base.version)

    def drop_column(self, name: str) -> Snapshot:
        """Drop a column.  Metadata-only: the column simply leaves the
        schema projection (never read again — column pruning); the next
        compaction physically sheds it."""
        base = self.store.read_snapshot()
        if name not in base.schema or name == self.POS_COL:
            raise ValueError(f"cannot drop {name!r}")
        schema = [c for c in base.schema if c != name]
        props = dict(base.properties)
        types = dict(props.get("schema_types") or
                     {c: "string" for c in base.schema})
        types.setdefault(self.POS_COL, "bigint")
        types.pop(name, None)
        defaults = dict(props.get("column_defaults") or {})
        defaults.pop(name, None)
        props.update({
            "schema_types": types,
            "schema_ddl": self._schema_ddl(schema, types),
            "column_defaults": defaults,
            "flush_lsn": base.flush_lsn + 1,
            "operation": f"drop-column-{name}",
            "job_id": f"dropcol-{name}-v{base.version:06d}",
        })
        return self.store.commit_reuse(
            base.version, schema=schema, properties=props,
            expected_parent=base.version)

    # -- retention -------------------------------------------------------
    def count(self, version: int | None = None) -> int:
        """Metadata-only live row count: Σ manifest ``rows`` − Σ
        ``dv_cardinality`` — EXACT, because delete vectors are exact
        positional deletes and the manifest's per-file cardinality is
        the distinct deleted-position count (newer sidecars supersede
        as supersets).  O(manifest); zero data files are opened — the
        Iceberg metadata-aggregate pushdown shape (cf. the reference
        keeping per-file row counts in its file metadata,
        ``storage/storage_utils.rs`` DiskFileEntry)."""
        r = self.manifest(version).agg(
            F.sum("rows").alias("r"),
            F.sum("dv_cardinality").alias("d")).first()
        return int((r["r"] or 0) - (r["d"] or 0))

    def column_bounds(self, column: str,
                      version: int | None = None) -> dict:
        """Metadata-only ``{lower, upper, lower_exact, upper_exact}``
        for a stats column, from the manifest's typed per-file bounds.

        ``lower``/``upper`` are always valid BOUNDS over live rows
        (every live row is ≥ lower and ≤ upper).  A bound is flagged
        exact when some file attaining it has no delete vector — then
        a live row certainly achieves the value.  A non-exact flag
        means the extremal row(s) might all be deleted (the same caveat
        Iceberg's lower_bounds/upper_bounds carry); callers needing the
        exact extremum fall back to one pruned scan."""
        m = self.manifest(version)
        lo_c, hi_c = f"min_{column}", f"max_{column}"
        if lo_c not in m.columns:
            raise ValueError(
                f"no manifest bounds for {column!r}; stats_columns are "
                f"{self.config.stats_columns}")
        m = m.filter(F.col(lo_c).isNotNull())
        r = m.agg(F.min(lo_c).alias("lo"), F.max(hi_c).alias("hi")).first()
        if r is None or r["lo"] is None:
            return {"lower": None, "upper": None,
                    "lower_exact": True, "upper_exact": True}
        clean = F.col("dv_cardinality") == 0
        ex = m.agg(
            F.max(F.when((F.col(lo_c) == F.lit(r["lo"])) & clean,
                         True).otherwise(False)).alias("le"),
            F.max(F.when((F.col(hi_c) == F.lit(r["hi"])) & clean,
                         True).otherwise(False)).alias("ue")).first()
        return {"lower": r["lo"], "upper": r["hi"],
                "lower_exact": bool(ex["le"]), "upper_exact": bool(ex["ue"])}

    def stats(self, version: int | None = None) -> dict:
        """One-pass metadata-only table profile: files, bytes, total /
        deleted / live rows, DV sidecar count.  O(manifest)."""
        r = self.manifest(version).agg(
            F.count(F.lit(1)).alias("files"),
            F.sum("bytes").alias("bytes"),
            F.sum("rows").alias("rows"),
            F.sum("dv_cardinality").alias("deleted"),
            F.count("dv_path").alias("dv_files")).first()
        rows = int(r["rows"] or 0)
        deleted = int(r["deleted"] or 0)
        return {"files": int(r["files"]), "bytes": int(r["bytes"] or 0),
                "rows_total": rows, "rows_deleted": deleted,
                "rows_live": rows - deleted,
                "files_with_dv": int(r["dv_files"])}

    def clustering_health(self, col: str | None = None) -> dict:
        """Interval-sweep clustering disorder of the current layout:
        the fraction of data files whose ``[min,max]`` range on the
        (first) Z-order column overlaps an earlier file's — ≈0 right
        after a full Z-order rewrite, degrading as CDC merges land
        unclustered ingest files.  O(manifest), no single-task sort
        (``planner.clustering_stats``)."""
        from moonlink_spark.operators import planner as planner_op
        if col is None:
            if not self.config.zorder_columns:
                raise ValueError("table has no zorder_columns; pass col=")
            col = self.config.zorder_columns[0]
        return planner_op.clustering_health(self.manifest(), col)

    def maintain(self, option: str = "best_effort", *,
                 recluster_overlap_threshold: float | None = None) -> dict:
        """Evaluate maintenance triggers and run at most ONE maintenance
        operation — the decision layer the reference's table handler
        applies on every commit (``table_handler_state.rs:25-67``:
        ``MaintenanceRequestStatus`` Unrequested/ForceRegular/ForceFull,
        at most one maintenance in flight per table).

        ``option``:

        - ``"best_effort"`` — evaluate the production triggers against
          the current manifest: data compaction when at least
          ``min_files_to_compact`` files qualify (undersized or past the
          deletion fraction, ``compaction_config.rs:47-54``), else index
          merge when >= 16 DV sidecars / small index blocks accumulated
          (``index_merge_config.rs:258-268``), else nothing.
        - ``"force_regular"`` — run data compaction unconditionally
          (trigger thresholds still shape candidate selection).
        - ``"force_full"`` — compact everything (``ForceFull``).
        - ``"skip"`` — evaluate nothing (the reference's Skip option).
        - ``"evaluate"`` — compute the trigger counts (one manifest
          aggregate) but never act; ``decision`` stays ``"none"``.
          What a scheduler polls between sweeps.

        Returns an auditable decision record: the decision, the trigger
        counts it was based on, and the version window.  The trigger
        evaluation is ONE aggregate over the manifest DataFrame (never a
        listing of data files), so it costs O(manifest) regardless of
        table size — cheap enough to call after every ingest batch.
        """
        if option not in ("best_effort", "force_regular", "force_full",
                          "skip", "evaluate"):
            raise ValueError(f"unknown maintain option {option!r}")
        v0 = self.current_version()
        rec = {"option": option, "decision": "none",
               "version_before": v0, "version_after": v0, "reasons": {}}
        if option == "skip":
            mtr.record_decision(rec)
            return rec
        if option in ("force_regular", "force_full"):
            mode = "data" if option == "force_regular" else "full"
            snap = self.optimize(mode)
            rec.update(decision=mode, version_after=snap.version)
            mtr.record_decision(rec)
            return rec

        mdf = self.store.manifest_df(self.spark, v0)
        comp = self.config.compaction
        deleted_frac = (F.col("dv_cardinality")
                        / F.greatest(F.col("rows"), F.lit(1)))
        if comp.deletion_trigger_fraction > 0:
            qualify = (F.col("bytes") < F.lit(comp.target_file_bytes)) | (
                deleted_frac >= F.lit(comp.deletion_trigger_fraction))
        else:  # full mode: everything qualifies (planner.select_candidates)
            qualify = F.lit(True)
        counts = mdf.agg(
            F.count(F.lit(1)).alias("n_files"),
            F.sum(F.when(F.col("dv_path").isNotNull(), 1).otherwise(0))
            .alias("n_dv"),
            F.sum(F.when(qualify, 1).otherwise(0)).alias("n_cand")
        ).collect()[0]
        n_candidates = int(counts["n_cand"] or 0)
        n_blocks = 0
        if self.config.index_key_columns:
            from moonlink_spark.operators import keyindex
            n_blocks = sum(
                len(keyindex._bucket_parts(self.store, b))
                for b in range(self.config.index_buckets))
        rec["reasons"] = {
            "n_files": int(counts["n_files"]),
            "n_compact_candidates": int(n_candidates),
            "n_dv_sidecars": int(counts["n_dv"] or 0),
            "n_index_blocks": n_blocks,
            "min_files_to_compact":
                self.config.compaction.min_files_to_compact,
            "min_blocks_to_merge": MIN_DV_SIDECARS_TO_MERGE,
        }
        # opt-in Z-order decay trigger: costs one extra manifest-sized
        # job (interval sweep), so it is off unless the caller asks —
        # the scheduler shape is "evaluate cheap triggers every flush,
        # clustering health on a slower cadence".
        if recluster_overlap_threshold is not None \
                and self.config.zorder_columns:
            health = self.clustering_health()
            rec["reasons"]["clustering_overlap_fraction"] = \
                health["overlap_fraction"]
            rec["reasons"]["recluster_overlap_threshold"] = \
                recluster_overlap_threshold
        if option == "evaluate":
            mtr.record_decision(rec)
            return rec
        if n_candidates >= self.config.compaction.min_files_to_compact:
            snap = self.optimize("data")
            rec.update(decision="data", version_after=snap.version)
        elif (int(counts["n_dv"] or 0) >= MIN_DV_SIDECARS_TO_MERGE
              or n_blocks >= MIN_DV_SIDECARS_TO_MERGE):
            snap = self.optimize("index")
            rec.update(decision="index", version_after=snap.version)
        elif (recluster_overlap_threshold is not None
              and self.config.zorder_columns
              and rec["reasons"].get("clustering_overlap_fraction", 0.0)
              >= recluster_overlap_threshold):
            snap = self.optimize("full")
            rec.update(decision="recluster", version_after=snap.version)
        mtr.record_decision(rec)
        return rec

    def expire_snapshots(self, retain_last: int = 2, *,
                         clean_tmp_older_than_seconds: float = 24 * 3600
                         ) -> dict:
        return expire_op.expire_snapshots(
            self.spark, self.store, retain_last=retain_last,
            clean_tmp_older_than_seconds=clean_tmp_older_than_seconds)

    # -- reader leases / tags (refs expiry honors) -------------------------
    def scan_begin(self, version: int | None = None, *,
                   ttl_seconds: float | None = None) -> dict:
        """Pin a version for an external reader until :meth:`scan_end` —
        the ``scan_table_begin`` RPC analogue
        (``moonlink_rpc/src/lib.rs:37``): while the lease is live,
        ``expire_snapshots`` retains the pinned version regardless of
        ``retain_last``.  TTL-guarded so a crashed reader delays cleanup
        by at most one TTL.  Returns ``{"lease_id", "version"}``; read
        with ``scan(version=...)``."""
        from moonlink_spark import refs
        v = self.current_version() if version is None else version
        kw = {} if ttl_seconds is None else {"ttl_seconds": ttl_seconds}
        return {"lease_id": refs.begin_scan(self.store, v, **kw),
                "version": v}

    def scan_end(self, lease_id: str) -> bool:
        """Release a reader lease (``scan_table_end``,
        ``moonlink_rpc/src/lib.rs:38``)."""
        from moonlink_spark import refs
        return refs.end_scan(self.store, lease_id)

    def tag(self, name: str, version: int | None = None) -> int:
        """Durable named ref (Iceberg tag analogue): ``expire_snapshots``
        retains the tagged version until :meth:`untag`.  Returns the
        tagged version."""
        from moonlink_spark import refs
        v = self.current_version() if version is None else version
        refs.create_tag(self.store, name, v)
        return v

    def untag(self, name: str) -> bool:
        from moonlink_spark import refs
        return refs.drop_tag(self.store, name)

    def tags(self) -> dict[str, int]:
        from moonlink_spark import refs
        return refs.list_tags(self.store)

    # -- external-reader support ------------------------------------------
    def get_parquet_metadatas(self, data_files: list[str]) -> list[bytes]:
        """Serialized parquet footer metadata for committed data files —
        what an external engine needs to plan row-group reads without
        re-fetching whole objects (``get_parquet_metadatas``,
        ``moonlink_backend/src/lib.rs:292-306``).  Footer reads run in a
        thread pool (the reference buffers at a fixed parallelism).
        Paths are warehouse-relative (manifest ``path`` values)."""
        import pyarrow.parquet as _pq
        from concurrent.futures import ThreadPoolExecutor

        def one(rel: str) -> bytes:
            import io
            md = _pq.ParquetFile(self.store.abs(rel)).metadata
            buf = io.BytesIO()
            md.write_metadata_file(buf)
            return buf.getvalue()

        if not data_files:
            return []
        with ThreadPoolExecutor(
                max_workers=min(16, len(data_files))) as pool:
            return list(pool.map(one, data_files))

    # -- observability ---------------------------------------------------
    def metrics(self, job_id: str | None = None) -> list[dict]:
        """Lineage records (per-bin rows/bytes counters) for one job or
        all jobs."""
        fs = self.store.fs
        root = os.path.join(self.store.warehouse, "checkpoints")
        out = []
        for job in sorted(fs.list(root)) if fs.is_dir(root) else []:
            if job_id and job != job_id:
                continue
            jdir = os.path.join(root, job)
            for name in sorted(fs.list(jdir)):
                if name.endswith(".json"):
                    out.append(json.loads(fs.read_bytes(
                        os.path.join(jdir, name))))
        return out
