"""Per-layer metrics of a traced run, derived from its spans and stages.

Operator metrics are medians over the calls of one traced function
(``per call``).  Spark counters and the optimize wall split are medians
over the traced foreground operations of the workload's primary kind
(``per op``).  A layer that did no work on a workload reports 0.
"""

from __future__ import annotations

import statistics
from collections import defaultdict

from perfbench.stats import median as _med
from perfbench.trace import attribute_wall, max_overlap, self_time, union_length

PRIMARY = {"maintain": ("optimize",), "ingest": ("merge",)}

# (name, unit) of every per-layer metric, in report order
METRICS = (
    ("engine.optimize_self_s", "s"), ("engine.scan_plan_ms", "ms"),
    ("engine.merge_self_ms", "ms"),
    ("planner.plan_s", "s"), ("planner.bins", "count"),
    ("planner.input_files", "count"),
    ("zorder.boundaries_s", "s"),
    ("scan.files_planned", "count"), ("scan.dv_sidecars", "count"),
    ("scan.dv_rows", "count"), ("scan.prune_ratio", "ratio"),
    ("scan.rows_read_per_row_returned", "ratio"),
    ("rewrite.bin_s_sum", "s"), ("rewrite.bin_s_max", "s"),
    ("rewrite.bins_overlap_max", "count"), ("rewrite.footer_stats_s", "s"),
    ("rewrite.files_out", "count"), ("rewrite.bytes_out", "bytes"),
    ("rewrite.scan_stage_s", "s"), ("rewrite.scan_stage_cpu_s", "s"),
    ("rewrite.scan_stage_input_bytes", "bytes"),
    ("rewrite.scan_stage_shuffle_write_bytes", "bytes"),
    ("rewrite.write_stage_s", "s"), ("rewrite.write_stage_cpu_s", "s"),
    ("rewrite.write_stage_shuffle_read_bytes", "bytes"),
    ("rewrite.write_stage_spill_bytes", "bytes"),
    ("fs.rename_s", "s"), ("fs.renames", "count"),
    ("store.commit_s", "s"), ("store.commits", "count"),
    ("store.commit_conflicts", "count"), ("store.read_snapshot_ms", "ms"),
    ("store.manifest_read_ms", "ms"), ("store.manifest_bytes", "bytes"),
    ("merge.batch_s", "s"), ("merge.self_s", "s"),
    ("merge.files_scanned", "count"), ("merge.dv_rows_written", "count"),
    ("expire.s", "s"), ("expire.files_deleted", "count"),
    ("expire.versions_expired", "count"),
    ("changelog.plan_ms", "ms"), ("changelog.events", "count"),
    ("spark.jobs", "count"), ("spark.tasks", "count"),
    ("spark.executor_run_s", "s"), ("spark.executor_cpu_s", "s"),
    ("spark.gc_s", "s"), ("spark.input_bytes", "bytes"),
    ("spark.shuffle_write_bytes", "bytes"),
    ("spark.shuffle_read_bytes", "bytes"),
    ("spark.shuffle_fetch_wait_s", "s"), ("spark.spill_bytes", "bytes"),
    ("spark.core_busy_frac", "ratio"), ("spark.task_max_over_median", "ratio"),
    ("optimize.planner_s", "s"), ("optimize.zorder_s", "s"),
    ("optimize.scan_stage_s", "s"), ("optimize.write_stage_s", "s"),
    ("optimize.fs_s", "s"), ("optimize.footer_stats_s", "s"),
    ("optimize.commit_s", "s"), ("optimize.bin_driver_s", "s"),
    ("optimize.untraced_s", "s"),
    ("platform.probe_s", "s"), ("platform.engine_over_probe", "ratio"),
    ("host.sha2_probe_s", "s"),
    ("trace.overhead_frac", "ratio"), ("trace.spans", "count"),
)


class SpanIndex:
    """Spans by parent and by name, and Spark stages and jobs by span."""

    def __init__(self, spans, stages, jobs):
        self.children = defaultdict(list)
        for s in spans:
            if s.parent is not None:
                self.children[s.parent].append(s)
        self.by_name = defaultdict(list)
        for s in spans:
            self.by_name[s.name].append(s)
        self.stages_of = defaultdict(list)
        for st in stages:
            self.stages_of[st["span"]].append(st)
        self.jobs_of = defaultdict(int)
        for j in jobs:
            self.jobs_of[j["span"]] += 1

    def descendants(self, span) -> list:
        out, todo = [], [span]
        while todo:
            s = todo.pop()
            for c in self.children.get(s.id, ()):
                out.append(c)
                todo.append(c)
        return out

    def stages_under(self, span) -> list[dict]:
        return [st for s in [span, *self.descendants(span)]
                for st in self.stages_of.get(s.id, ())]

    def jobs_under(self, span) -> int:
        return sum(self.jobs_of.get(s.id, 0)
                   for s in [span, *self.descendants(span)])

    def named_under(self, span, name: str) -> list:
        return [d for d in self.descendants(span) if d.name == name]

    def per_call(self, name: str, fn) -> float:
        return _med(fn(s) for s in self.by_name.get(name, ()))

    def self_s(self, s) -> float:
        return self_time(s, self.children.get(s.id, []))


def _is_write_stage(st: dict) -> bool:
    return st["shuffle_read_bytes"] > 0


def _ivs(stages) -> list[tuple[float, float]]:
    return [(st["start"], st["end"]) for st in stages
            if st["start"] is not None and st["end"] is not None]


def optimize_split(ix: SpanIndex, opt) -> dict[str, float]:
    """Wall of one optimize span split by layer; parts sum to its wall."""
    bins = ix.named_under(opt, "rewrite.rewrite_bin")
    stages = [st for b in bins for st in ix.stages_under(b)]
    spans = ix.descendants(opt)

    def iv(name):
        return [(s.start, s.end) for s in spans if s.name == name]

    return attribute_wall(opt.start, opt.end, [
        ("fs", iv("fs.rename_many")),
        ("footer_stats", iv("rewrite.footer_stats")),
        ("commit", iv("store.commit")),
        ("write_stage", _ivs(st for st in stages if _is_write_stage(st))),
        ("scan_stage", _ivs(st for st in stages if not _is_write_stage(st))),
        ("zorder", iv("zorder.boundaries")),
        ("planner", iv("planner.plan_compaction")),
        ("bin_driver", iv("rewrite.rewrite_bin")),
    ])


def rewrite_stats(ix: SpanIndex, opt) -> dict[str, float]:
    bins = ix.named_under(opt, "rewrite.rewrite_bin")
    stages = [st for b in bins for st in ix.stages_under(b)]
    scan = [st for st in stages if not _is_write_stage(st)]
    write = [st for st in stages if _is_write_stage(st)]
    return {
        "rewrite.bin_s_sum": sum(b.dur for b in bins),
        "rewrite.bin_s_max": max((b.dur for b in bins), default=0.0),
        "rewrite.bins_overlap_max": max_overlap([(b.start, b.end)
                                                 for b in bins]),
        "rewrite.footer_stats_s": sum(
            s.dur for s in ix.named_under(opt, "rewrite.footer_stats")),
        "rewrite.files_out": sum(b.attrs.get("files_out", 0) for b in bins),
        "rewrite.bytes_out": sum(b.attrs.get("bytes_out", 0) for b in bins),
        "rewrite.scan_stage_s": union_length(_ivs(scan)),
        "rewrite.scan_stage_cpu_s": sum(st["cpu_s"] for st in scan),
        "rewrite.scan_stage_input_bytes": sum(st["input_bytes"]
                                              for st in scan),
        "rewrite.scan_stage_shuffle_write_bytes": sum(
            st["shuffle_write_bytes"] for st in scan),
        "rewrite.write_stage_s": union_length(_ivs(write)),
        "rewrite.write_stage_cpu_s": sum(st["cpu_s"] for st in write),
        "rewrite.write_stage_shuffle_read_bytes": sum(
            st["shuffle_read_bytes"] for st in write),
        "rewrite.write_stage_spill_bytes": sum(st["spill_bytes"]
                                               for st in write),
    }


def spark_stats(ix: SpanIndex, root, nproc: int) -> dict[str, float]:
    stages = ix.stages_under(root)
    run_s = sum(st["run_s"] for st in stages)
    skew = [st["task_ms"][-1] / max(1.0, statistics.median(st["task_ms"]))
            for st in stages if len(st["task_ms"]) >= 2]
    return {
        "spark.jobs": ix.jobs_under(root),
        "spark.tasks": sum(st["tasks"] for st in stages),
        "spark.executor_run_s": run_s,
        "spark.executor_cpu_s": sum(st["cpu_s"] for st in stages),
        "spark.gc_s": sum(st["gc_s"] for st in stages),
        "spark.input_bytes": sum(st["input_bytes"] for st in stages),
        "spark.shuffle_write_bytes": sum(st["shuffle_write_bytes"]
                                         for st in stages),
        "spark.shuffle_read_bytes": sum(st["shuffle_read_bytes"]
                                        for st in stages),
        "spark.shuffle_fetch_wait_s": sum(st["fetch_wait_s"]
                                          for st in stages),
        "spark.spill_bytes": sum(st["spill_bytes"] for st in stages),
        "spark.core_busy_frac": run_s / max(1e-9, root.dur * nproc),
        "spark.task_max_over_median": _med(skew),
    }


def layer_metrics(workload: str, spans, stages, jobs, *, ops: list[dict],
                  file_rows: dict[str, int], nproc: int,
                  probes: dict[str, float],
                  untraced_s: float | None) -> dict[str, float]:
    """Every per-layer metric of a traced run.  ``untraced_s`` is the
    median primary-operation time of untraced runs of the same workload,
    if any are on record; the traced run's excess over it is the tracing
    overhead."""
    ix = SpanIndex(spans, stages, jobs)
    out = {name: 0.0 for name, _ in METRICS}

    out["engine.optimize_self_s"] = ix.per_call("engine.optimize", ix.self_s)
    out["engine.scan_plan_ms"] = 1e3 * ix.per_call("engine.scan",
                                                   lambda s: s.dur)
    out["engine.merge_self_ms"] = 1e3 * ix.per_call("engine.merge", ix.self_s)
    out["planner.plan_s"] = ix.per_call("planner.plan_compaction",
                                        lambda s: s.dur)
    out["planner.bins"] = ix.per_call("planner.plan_compaction",
                                      lambda s: s.attrs.get("bins", 0))
    out["planner.input_files"] = ix.per_call(
        "planner.plan_compaction", lambda s: s.attrs.get("input_files", 0))
    out["zorder.boundaries_s"] = ix.per_call("zorder.boundaries",
                                             lambda s: s.dur)
    for key in ("files", "dv_sidecars", "dv_rows"):
        name = "scan.files_planned" if key == "files" else f"scan.{key}"
        out[name] = ix.per_call("scan.scan_files",
                                lambda s, k=key: s.attrs.get(k, 0))

    def prune(s):
        planned = sum(c.attrs.get("files", 0)
                      for c in ix.named_under(s, "scan.scan_files"))
        return planned / s.attrs["entries"] if s.attrs.get("entries") else 0
    out["scan.prune_ratio"] = ix.per_call("scan.scan", prune)

    read = returned = 0
    for root in spans:
        if root.parent is None and root.attrs.get("rows_out"):
            for c in ix.named_under(root, "scan.scan_files"):
                read += sum(file_rows.get(f, 0)
                            for f in c.attrs.get("file_list", ()))
            returned += root.attrs["rows_out"]
    out["scan.rows_read_per_row_returned"] = read / returned if returned else 0

    opts = ix.by_name.get("engine.optimize", [])
    for name in [n for n, _ in METRICS if n.startswith("rewrite.")]:
        out[name] = _med(rewrite_stats(ix, o)[name] for o in opts)
    splits = [optimize_split(ix, o) for o in opts]
    for cat in ("planner", "zorder", "scan_stage", "write_stage", "fs",
                "footer_stats", "commit", "bin_driver", "untraced"):
        out[f"optimize.{cat}_s"] = _med(sp[cat] for sp in splits)

    out["fs.rename_s"] = ix.per_call("fs.rename_many", lambda s: s.dur)
    out["fs.renames"] = ix.per_call("fs.rename_many",
                                    lambda s: s.attrs.get("renames", 0))
    out["store.commit_s"] = ix.per_call("store.commit", lambda s: s.dur)
    out["store.commit_conflicts"] = sum(
        1 for s in ix.by_name.get("store.commit", ())
        if s.attrs.get("error") == "CommitConflict")
    out["store.read_snapshot_ms"] = 1e3 * ix.per_call("store.read_snapshot",
                                                      lambda s: s.dur)
    out["store.manifest_read_ms"] = 1e3 * ix.per_call("store.manifest_read",
                                                      lambda s: s.dur)
    out["store.manifest_bytes"] = ix.per_call(
        "store.read_snapshot", lambda s: s.attrs.get("manifest_bytes", 0))
    out["merge.batch_s"] = ix.per_call("merge.merge_into", lambda s: s.dur)
    out["merge.self_s"] = ix.per_call("merge.merge_into", ix.self_s)
    out["merge.files_scanned"] = ix.per_call(
        "merge.merge_into", lambda s: sum(
            c.attrs.get("files", 0)
            for c in ix.named_under(s, "scan.scan_files")))
    out["merge.dv_rows_written"] = ix.per_call(
        "merge.merge_into", lambda s: s.attrs.get("dv_rows_written", 0))
    out["expire.s"] = ix.per_call("expire.expire_snapshots", lambda s: s.dur)
    out["expire.files_deleted"] = ix.per_call(
        "expire.expire_snapshots", lambda s: s.attrs.get("files_deleted", 0))
    out["expire.versions_expired"] = ix.per_call(
        "expire.expire_snapshots",
        lambda s: s.attrs.get("versions_expired", 0))
    out["changelog.plan_ms"] = 1e3 * ix.per_call("changelog.changes",
                                                 lambda s: s.dur)
    out["changelog.events"] = ix.per_call("op.changelog",
                                          lambda s: s.attrs.get("events", 0))

    primary = PRIMARY[workload]
    roots = [s for s in spans if s.parent is None
             and s.name[len("op."):] in primary]
    out["store.commits"] = _med(len(ix.named_under(r, "store.commit"))
                                for r in roots)
    sp = [spark_stats(ix, r, nproc) for r in roots]
    for name in [n for n, _ in METRICS if n.startswith("spark.")]:
        out[name] = _med(x[name] for x in sp)

    out["platform.probe_s"] = probes["platform_probe_s"]
    out["host.sha2_probe_s"] = probes["sha2_probe_s"]
    opt = [o["s"] for o in ops if o["kind"] == "optimize"]
    out["platform.engine_over_probe"] = (
        _med(opt) / probes["platform_probe_s"] if opt else 0.0)
    traced = [o["s"] for o in ops if o["kind"] in primary]
    out["trace.overhead_frac"] = (_med(traced) / untraced_s - 1.0
                                  if traced and untraced_s else 0.0)
    out["trace.spans"] = len(spans)
    return out
