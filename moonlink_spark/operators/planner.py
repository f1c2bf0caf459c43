"""Compaction candidate selection + size-tiered bin packing.

Semantics ported from moonlink's maintenance planner
(``storage/mooncake_table/snapshot_maintenance.rs:42-199``):

- a persisted data file is a candidate when ``file_size <
  target_file_bytes`` OR ``deleted_fraction >= deletion_trigger``
  (``compaction_config.rs:47-54``: prod 512 MiB / 50 %);
- nothing happens below ``min_files_to_compact`` (prod 16) candidates;
- one ``data`` maintenance op takes at most ``max_files_to_compact``
  (prod 32), smallest files first;
- ``full`` mode compacts everything regardless of size
  (``snapshot_maintenance.rs:66-67``).

Candidates are then packed into **bins** — the resumable unit of work.
Each bin is an independent Spark job (read -> DV anti-join -> Z-order ->
write ≈ ``bin_target_bytes`` of input), checkpointed with a lineage
record before commit, so a killed maintenance job resumes at bin
granularity.  Binning is a running-sum bucket assignment over the
candidates ordered by path (deterministic).

The plan (bin -> file list) is job-launch metadata that must reach the
driver, so planning runs there: one pyarrow pass over the snapshot's
manifest segments, one vectorized trigger mask per segment
(:func:`_qualifies`, shared with ``maintain()``'s trigger counts).  With
a file cap the driver keeps only the running smallest candidates, so it
holds one segment plus the cap, never the whole manifest.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from moonlink_spark.config import CompactionConfig
from moonlink_spark.operators.scan import local_df


@dataclass
class CompactionBin:
    """One resumable rewrite unit: a disjoint set of input data files."""

    bin_id: int
    files: list[str] = field(default_factory=list)
    dv_paths: list[str] = field(default_factory=list)
    # files (subset of ``files``) that have any delete rows, each mapped
    # to its DV sidecar — the scan routes only these through the DV
    # anti-join; clean files bypass it
    dv_files: dict[str, str] = field(default_factory=dict)
    rows: int = 0
    bytes: int = 0
    deleted_rows: int = 0

    @property
    def live_rows(self) -> int:
        return self.rows - self.deleted_rows

    @property
    def live_bytes_est(self) -> int:
        if self.rows == 0:
            return 0
        return int(self.bytes * (self.live_rows / self.rows))


def ordered_cumsum(df: DataFrame, order_col: str, value_col: str,
                   out_col: str) -> DataFrame:
    """Running sum of ``value_col`` in ascending ``order_col`` order,
    computed two-phase: range-partition on the order column, cumsum
    *within* each partition (parallel windows), then add broadcast
    per-partition prefix offsets.  No single task ever sees the whole
    dataset — a global ``Window.orderBy`` funnels everything through one
    task, a straggler at 10^8+ manifest rows.

    The result depends only on the global order (``order_col`` must be
    unique), not on where the range partitioner draws its boundaries, so
    reruns produce identical values (resume determinism) even though the
    partitioner's sampling is not itself deterministic.  Caller must
    consume the result while ``df``'s lineage is stable (we persist
    internally; call ``.unpersist()`` on the returned DataFrame's
    ``_cached`` attribute when done)."""
    spark = df.sparkSession
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    part = (df.repartitionByRange(n_part, F.col(order_col))
            .sortWithinPartitions(order_col)
            .withColumn("_part", F.spark_partition_id())
            .persist())
    psums = (part.groupBy("_part").agg(F.sum(value_col).alias("_s"))
             .orderBy("_part").collect())
    offs, acc = [], 0
    for r in psums:
        offs.append((int(r["_part"]), acc))
        acc += int(r["_s"] or 0)
    if not offs:
        offs = [(0, 0)]
    off_df = local_df(spark, "_part int, _off long", list(zip(*offs)))
    w = (Window.partitionBy("_part").orderBy(order_col)
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    out = (part.join(F.broadcast(off_df), on="_part", how="left")
           .withColumn(out_col,
                       F.sum(value_col).over(w)
                       + F.coalesce(F.col("_off"), F.lit(0)))
           .drop("_part", "_off"))
    out._cached = part  # noqa: SLF001 — lifecycle handle for the caller
    return out


def _bins_from_rows(rows: list[dict],
                    config: CompactionConfig) -> list[CompactionBin]:
    """Rows (dicts with path/rows/bytes/dv_path/dv_cardinality,
    ascending path, already filtered and capped) → running-sum bins +
    the min-candidate gate."""
    if len(rows) < config.min_files_to_compact:
        # moonlink's `Nothing` outcome (too few candidates to bother
        # merging).  In FULL mode only (deletion trigger disabled ⇒
        # everything qualifies), files carrying delete vectors still
        # compact even alone: "full maintenance" must never leave
        # delete debt behind.  `data` mode keeps strict reference
        # parity (snapshot_maintenance.rs:42-199).
        if config.deletion_trigger_fraction > 0:
            return []
        rows = [r for r in rows if r["dv_cardinality"] > 0]
        if not rows:
            return []
    bins: dict[int, CompactionBin] = {}
    cum = 0
    for row in rows:
        start = cum
        cum += int(row["bytes"])
        bin_id = start // config.bin_target_bytes
        b = bins.setdefault(bin_id, CompactionBin(bin_id=bin_id))
        b.files.append(row["path"])
        b.rows += row["rows"]
        b.bytes += row["bytes"]
        b.deleted_rows += row["dv_cardinality"]
        if row["dv_path"]:
            b.dv_files[row["path"]] = row["dv_path"]
            if row["dv_path"] not in b.dv_paths:
                b.dv_paths.append(row["dv_path"])
    return [bins[k] for k in sorted(bins)]


_PLAN_COLUMNS = ["path", "rows", "bytes", "dv_path", "dv_cardinality"]


def _qualifies(table: pa.Table, config: CompactionConfig) -> pa.Array:
    """The compaction trigger as a boolean mask over manifest rows:
    undersized, or at least ``deletion_trigger_fraction`` of the rows
    deleted (float64 division, a NULL cardinality counts as 0).  With
    the deletion trigger disabled (full mode) every row qualifies."""
    frac = config.deletion_trigger_fraction
    if frac <= 0:
        return pa.repeat(True, table.num_rows)
    deleted = pc.divide(
        pc.cast(pc.fill_null(table["dv_cardinality"], 0), pa.float64()),
        pc.cast(pc.max_element_wise(table["rows"], 1), pa.float64()))
    return pc.or_kleene(pc.less(table["bytes"], config.target_file_bytes),
                        pc.greater_equal(deleted, frac))


def trigger_counts(manifest_paths: list[str],
                   config: CompactionConfig) -> dict:
    """``maintain()``'s trigger inputs from one driver pass over the
    manifest segments: ``n_files``, ``n_dv`` (entries naming a DV
    sidecar) and ``n_cand`` (entries :func:`_qualifies` admits)."""
    n_files = n_dv = n_cand = 0
    for p in manifest_paths:
        t = pq.read_table(p, columns=["rows", "bytes", "dv_path",
                                      "dv_cardinality"])
        n_files += t.num_rows
        n_dv += t.num_rows - t["dv_path"].null_count
        n_cand += pc.sum(_qualifies(t, config)).as_py() or 0
    return {"n_files": n_files, "n_dv": n_dv, "n_cand": n_cand}


def plan_compaction(manifest_paths: list[str],
                    config: CompactionConfig) -> list[CompactionBin]:
    """Select candidates, cap per-op file count, pack into bins.

    Returns ``[]`` when fewer than ``min_files_to_compact`` candidates
    exist (the ``Nothing`` outcome of ``get_payload_to_compact``).
    """
    cap = config.max_files_to_compact
    keys = [("bytes", "ascending"), ("path", "ascending")]
    kept: list[pa.Table] = []
    for p in manifest_paths:
        t = pq.read_table(p, columns=_PLAN_COLUMNS)
        kept.append(t.filter(_qualifies(t, config)))
        if cap < (1 << 62):
            # smallest-first cap (prod 32, moonlink's one-op budget):
            # keep only the running smallest ``max_files_to_compact``
            t = pa.concat_tables(kept)
            if t.num_rows > cap:
                t = t.take(pc.select_k_unstable(t, cap, keys))
            kept = [t]
    # delta-commit segments can overlap in path range: one global sort
    cand = pa.concat_tables(kept).sort_by("path")
    # column-wise through numpy: ~10x faster than ``to_pylist`` at 10^6
    # rows (a NULL would turn an integer column to float, hence the 0)
    cols = [c.to_numpy(zero_copy_only=False).tolist() for c in (
        cand["path"], cand["rows"], cand["bytes"], cand["dv_path"],
        pc.fill_null(cand["dv_cardinality"], 0))]
    return _bins_from_rows(
        [{"path": p, "rows": r, "bytes": b, "dv_path": d,
          "dv_cardinality": n} for p, r, b, d, n in zip(*cols)], config)


def ordered_running_max(df: DataFrame, order_cols: list[str],
                        value_col: str, out_col: str) -> DataFrame:
    """Running max of ``value_col`` over all STRICTLY PRECEDING rows in
    the global ``order_cols`` order (first row gets NULL) — the same
    two-phase shape as :func:`ordered_cumsum`: range-partition on the
    order columns, per-partition prefix max via parallel windows, plus
    broadcast cross-partition prefix maxes.  No single task ever sorts
    the whole dataset.  The result depends only on the global order
    (``order_cols`` must be a total order), so reruns are identical.
    Caller unpersists via the returned DataFrame's ``_cached``."""
    spark = df.sparkSession
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    part = (df.repartitionByRange(n_part, *[F.col(c) for c in order_cols])
            .sortWithinPartitions(*order_cols)
            .withColumn("_part", F.spark_partition_id())
            .persist())
    pmaxes = (part.groupBy("_part").agg(F.max(value_col).alias("_m"))
              .orderBy("_part").collect())
    offs, acc = [], None
    for r in pmaxes:  # prefix max of the partitions BEFORE each one
        offs.append((int(r["_part"]), acc))
        m = r["_m"]
        if m is not None and (acc is None or m > acc):
            acc = m
    vtype = dict(df.dtypes)[value_col]
    off_df = spark.createDataFrame(
        offs or [(0, None)], f"_part int, _off {vtype}")
    w = (Window.partitionBy("_part").orderBy(*order_cols)
         .rowsBetween(Window.unboundedPreceding, -1))
    out = (part.join(F.broadcast(off_df), on="_part", how="left")
           .withColumn(out_col,
                       F.greatest(F.max(value_col).over(w), F.col("_off")))
           .drop("_part", "_off"))
    out._cached = part  # noqa: SLF001 — lifecycle handle for the caller
    return out


def clustering_stats(manifest: DataFrame, col: str) -> DataFrame:
    """Per-file clustering-overlap flags from the manifest's
    ``[min_col, max_col]`` bounds: files ordered by (lo, hi, path); a
    file OVERLAPS when its lo is <= the running max of every earlier
    file's hi — the standard interval-sweep disorder measure.  A
    perfectly Z-ordered layout has disjoint (or touching-only) ranges
    per file, so ``overlaps`` ≈ 0; CDC merges degrade it over time.
    Returns ``(path, lo, hi, overlaps int)``.

    Spark itself has no clustering-health surface and moonlink never
    reclusters (compaction preserves input order,
    ``compactor.rs:333-344``); this metric is what lets ``maintain``
    decide when the north rule's Z-order layout has decayed enough to
    re-cluster.  O(manifest) with no single-task sort (the same
    two-phase shape as binning)."""
    lo, hi = f"min_{col}", f"max_{col}"
    m = manifest.select("path", F.col(lo).alias("lo"),
                        F.col(hi).alias("hi"))
    out = ordered_running_max(m, ["lo", "hi", "path"], "hi", "_pmax")
    flagged = out.select(
        "path", "lo", "hi",
        F.when(F.col("_pmax").isNotNull()
               & (F.col("lo") <= F.col("_pmax")), 1)
        .otherwise(0).alias("overlaps"))
    flagged._cached = out._cached  # noqa: SLF001
    return flagged


def clustering_health(manifest: DataFrame, col: str) -> dict:
    """Aggregate of :func:`clustering_stats`: ``{n_files,
    n_overlapping, overlap_fraction}``.  Files with NULL bounds are
    excluded (unknown, conservatively not counted as overlap)."""
    stats = clustering_stats(
        manifest.filter(F.col(f"min_{col}").isNotNull()
                        & F.col(f"max_{col}").isNotNull()), col)
    row = stats.agg(F.count(F.lit(1)).alias("n"),
                    F.sum("overlaps").alias("o")).first()
    cached = getattr(stats, "_cached", None)
    if cached is not None:
        cached.unpersist()
    n, o = int(row["n"] or 0), int(row["o"] or 0)
    return {"n_files": n, "n_overlapping": o,
            "overlap_fraction": round(o / n, 6) if n else 0.0}
