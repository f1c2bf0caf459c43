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

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from moonlink_spark import metrics as mtr
from moonlink_spark.config import TableConfig
from moonlink_spark.fs import rename_many
from moonlink_spark.functions.zorder import compute_zorder_boundaries
from moonlink_spark.operators import changelog
from moonlink_spark.operators import expire as expire_op
from moonlink_spark.operators import merge as merge_op
from moonlink_spark.operators import scan as scan_op
from moonlink_spark.operators.planner import plan_compaction, trigger_counts
from moonlink_spark.operators.rewrite import driver_rewrite, rewrite_bin
from moonlink_spark.snapshotstore import (
    DV_DIR,
    CommitConflict,
    Snapshot,
    SnapshotStore,
    read_pinned,
    staged_names,
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
        bins = plan_compaction(base.manifest_paths, comp)
        if not bins:
            return base  # the `Nothing` outcome
        t_plan = _time.monotonic() - t_start

        # one column-pruned pass over a sample of the candidate files
        # fixes the Z-order quantile boundaries for the whole job
        # (deterministic, so resumed runs re-derive identical boundaries)
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
        if self.config.zorder_columns:
            zcols = list(self.config.zorder_columns)
            # the generator reads the sample files with pyarrow inside
            # the call: the boundary step starts no Spark job
            boundaries = compute_zorder_boundaries(
                scan_op.column_batches(
                    [self.store.abs(p) for p in sample_files], zcols,
                    base.properties.get("schema_types")),
                zcols, bits=self.config.zorder_bits,
                total_rows=approx_rows, curve=self.config.zorder_curve)
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

        # a job whose planned input is small rewrites every bin with
        # pyarrow on the driver and starts no Spark job (the same rows
        # in the same files, see rewrite.driver_rewrite); the plan alone
        # decides, so a resumed job takes the same path
        types = base.properties.get("schema_types")
        defaults = base.properties.get("column_defaults")
        on_driver = driver_rewrite(self.spark, bins, cfg, base.schema,
                                   types, defaults)

        def rewrite_all(deletes=None) -> list[dict]:
            with ThreadPoolExecutor(max_workers=comp.bin_concurrency) as pool:
                return list(pool.map(
                    lambda b: rewrite_bin(
                        self.spark, self.store, b, config=cfg,
                        boundaries=boundaries, job_id=job_id,
                        schema_ddl=base.properties.get("schema_ddl"),
                        project=base.schema, column_defaults=defaults,
                        deletes=deletes, schema_types=types,
                        on_driver=on_driver),
                    run_bins))

        if on_driver:
            records = rewrite_all()
        else:
            records = self._rewrite_on_spark(run_bins, rewrite_all)
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
            "writer": "driver" if on_driver else "spark",
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
        outputs = [out for rec in records for out in rec["outputs"]]
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
                    added=outputs, removed=sorted(compacted),
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

                def deletes(version: int) -> dict:
                    return {p: (e["dv_path"], e["dv_cardinality"] or 0)
                            for p, e in self.store.manifest_lookup(
                                version, compacted,
                                ("dv_path", "dv_cardinality")).items()}
                # staleness check on the driver (``compacted`` is already
                # a driver set): any compacted input whose (dv_path,
                # dv_cardinality) changed — or that vanished —
                # invalidates the rewrite
                try:
                    stale = (deletes(new_base.version)
                             != deletes(commit_base.version))
                except RuntimeError:  # an input vanished
                    stale = True
                if stale:
                    raise CommitConflict(
                        "compacted inputs changed concurrently; "
                        "rerun optimize") from None
                commit_base = new_base

    def _rewrite_on_spark(self, run_bins, rewrite_all) -> list[dict]:
        """Run ``rewrite_all`` (the bins' Spark jobs, concurrently) with
        AQE off and the job's delete vectors at hand.

        Each bin reads its own delete vectors on the driver (scan_files)
        while the whole job's deleted rows are few enough (the bins run
        concurrently).  Above that, the candidate set's DVs are read by
        Spark once and cached, and every bin anti-joins against (a
        filter of) that one DataFrame.

        AQE is disabled for the rewrite fan-out: adaptive re-planning
        adds a materialization barrier per shuffle, and concurrent bin
        jobs serialized on those barriers (~6x slowdown measured at 16
        concurrent bins, back when the zkey ran Arrow/pandas UDFs in the
        scan stages).  The zkey is JVM-only now and this rationale has
        not been measured since (ROADMAP #3, step 1).  The bin jobs have
        a fixed two-stage shape (scan→sort-write), so AQE has nothing to
        adapt anyway."""
        dv_files = {f: p for b in run_bins for f, p in b.dv_files.items()}
        deletes = None
        if dv_files and not scan_op.dv_side_on_driver(
                self.spark, sum(b.deleted_rows for b in run_bins),
                dv_files):
            deletes = scan_op.deletes_df(
                self.spark, self.store, sorted(set(dv_files.values())),
                dv_files).persist()
        prev_aqe = self.spark.conf.get("spark.sql.adaptive.enabled", "true")
        self.spark.conf.set("spark.sql.adaptive.enabled", "false")
        try:
            return rewrite_all(deletes)
        finally:
            self.spark.conf.set("spark.sql.adaptive.enabled", prev_aqe)
            if deletes is not None:
                deletes.unpersist()

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
        # the sidecar census is planning metadata (files to read, and
        # how many files name one): one driver read of the dv_path column
        named = pq.read_table(base.manifest_paths,
                              columns=["dv_path"])["dv_path"].drop_null()
        live_dv = sorted(pc.unique(named).to_pylist())
        if len(live_dv) < MIN_DV_SIDECARS_TO_MERGE:
            # the `Nothing` outcome still took a real evaluation pass —
            # its wall belongs in the histogram like any other run
            mtr.observe("sync_file_indices_latency",
                       (_time.monotonic() - t_start) * 1000.0)
            return base
        # each file's current row, from the sidecar its entry names, as
        # it is: newer rows are supersets, so nothing needs re-merging
        live_files = (mdf.filter(F.col("dv_path").isNotNull())
                      .select(F.col("path").alias("referenced_file"),
                              "dv_path"))
        merged = (scan_op._with_relative_file(
                      read_pinned(self.spark,
                                  [self.store.abs(p) for p in live_dv]),
                      self.store, "dv_path")
                  .join(F.broadcast(live_files),
                        on=["referenced_file", "dv_path"], how="left_semi")
                  .select("referenced_file", "positions", "cardinality",
                          "max_row_count"))
        tmp = os.path.join(self.store.warehouse, "tmp", job_id)
        n_out = max(1, math.ceil(len(named) / 4096))
        (merged.repartitionByRange(n_out, "referenced_file")
         .sortWithinPartitions("referenced_file")
         .write.mode("overwrite").option("compression", "zstd").parquet(tmp))
        pairs, new_rels = staged_names(self.store, tmp, DV_DIR,
                                       f"dv-{job_id}")
        rename_many(self.store.fs, pairs)
        # delta commit: the segments holding a file whose DV pointer
        # moved are patched in place; everything else carries by
        # reference.  The updated set is the files-with-DVs being
        # consolidated — the operation's own working set, never the
        # whole table; its pointers are Arrow columns read from the
        # renamed sidecars on the driver (no job).
        updated = merge_op.dv_pointers(self.store, new_rels)
        props = dict(base.properties)
        props.update({"flush_lsn": base.flush_lsn, "job_id": job_id,
                      "operation": "optimize-index",
                      "metrics": {"dv_sidecars_in": len(live_dv),
                                  "dv_sidecars_out": len(new_rels)}})
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
        return self.stats(version)["rows_live"]

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
        lo_c, hi_c = f"min_{column}", f"max_{column}"

        def extremes(t: pa.Table) -> pa.Table:
            # rows with known bounds at t's least lower or greatest upper
            t = t.filter(pc.is_valid(t[lo_c]))
            return t.filter(pc.fill_null(pc.or_(
                pc.equal(t[lo_c], pc.min(t[lo_c])),
                pc.equal(t[hi_c], pc.max(t[hi_c]))), False))

        try:  # one segment at a time, as planner.trigger_counts reads
            t = extremes(pa.concat_tables([extremes(pq.read_table(
                p, columns=[lo_c, hi_c, "dv_cardinality"]))
                for p in self.store.read_snapshot(version).manifest_paths]))
        except pa.ArrowInvalid:
            raise ValueError(
                f"no manifest bounds for {column!r}; stats_columns are "
                f"{self.config.stats_columns}") from None
        if not t.num_rows:
            return {"lower": None, "upper": None,
                    "lower_exact": True, "upper_exact": True}
        clean = pc.equal(t["dv_cardinality"], 0)
        lo, hi = pc.min(t[lo_c]), pc.max(t[hi_c])
        return {"lower": lo.as_py(), "upper": hi.as_py(),
                **{f"{k}_exact": bool(pc.any(pc.and_(
                    pc.equal(t[c], v), clean)).as_py())
                   for k, c, v in (("lower", lo_c, lo), ("upper", hi_c, hi))}}

    def stats(self, version: int | None = None) -> dict:
        """One-pass metadata-only table profile: files, bytes, total /
        deleted / live rows, DV sidecar count.  O(manifest), read one
        segment at a time on the driver: no Spark job."""
        sums = dict.fromkeys(("bytes", "rows", "dv_cardinality"), 0)
        files = dv_files = 0
        for p in self.store.read_snapshot(version).manifest_paths:
            t = pq.read_table(p, columns=[*sums, "dv_path"])
            files += t.num_rows
            dv_files += t.num_rows - t["dv_path"].null_count
            for c in sums:
                sums[c] += pc.sum(t[c]).as_py() or 0
        rows, deleted = sums["rows"], sums["dv_cardinality"]
        return {"files": files, "bytes": sums["bytes"],
                "rows_total": rows, "rows_deleted": deleted,
                "rows_live": rows - deleted, "files_with_dv": dv_files}

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
        - ``"evaluate"`` — compute the trigger counts (one driver pass
          over the manifest) but never act; ``decision`` stays ``"none"``.
          What a scheduler polls between sweeps.

        Returns an auditable decision record: the decision, the trigger
        counts it was based on, and the version window.  The trigger
        evaluation is one driver pass over the manifest segments with
        the planner's own trigger mask (``planner.trigger_counts``; no
        Spark job, never a listing of data files), so it costs
        O(manifest) regardless of table size — cheap enough to call
        after every ingest batch.
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

        counts = trigger_counts(self.store.read_snapshot(v0).manifest_paths,
                                self.config.compaction)
        n_candidates = counts["n_cand"]
        n_blocks = 0
        if self.config.index_key_columns:
            from moonlink_spark.operators import keyindex
            n_blocks = sum(
                len(keyindex._bucket_parts(self.store, b))
                for b in range(self.config.index_buckets))
        rec["reasons"] = {
            "n_files": counts["n_files"],
            "n_compact_candidates": n_candidates,
            "n_dv_sidecars": counts["n_dv"],
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
        elif (counts["n_dv"] >= MIN_DV_SIDECARS_TO_MERGE
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
        from concurrent.futures import ThreadPoolExecutor

        def one(rel: str) -> bytes:
            import io
            md = pq.ParquetFile(self.store.abs(rel)).metadata
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
