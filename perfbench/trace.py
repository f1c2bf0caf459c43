"""Outside-in tracing: spans recorded around the engine's public functions.

The benchmark never edits ``moonlink_spark``.  Instead, :func:`install`
replaces each traced function *at the name its caller resolves* (for
example ``engine.rewrite_bin``, not ``rewrite.rewrite_bin``: the engine
imported the name, so patching the defining module would miss the call)
with a wrapper that records a span, and :meth:`Installed.restore` puts
every original back.

A span is ``(id, parent, name, start, end, run, attrs)``.  Spans stay in
memory; the run writes them out when it ends.  Parents are the innermost
open span of the calling thread; a thread with no open span (the
engine's bin thread pool) takes the innermost open span of the thread
that installed the tracer, which is blocked in the call that fanned out.

Spans that can start Spark jobs also tag the calling thread's jobs with
the span id (``spark.jobGroup.id``), so per-stage counters from the JVM
status store (:func:`spark_stages`) can be attributed to spans after the
run.
"""

from __future__ import annotations

import importlib
import itertools
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Callable

JOB_GROUP = "spark.jobGroup.id"


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    start: float
    end: float = 0.0
    run: str = ""
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start

    def to_json(self) -> dict:
        return {"id": self.id, "parent": self.parent, "name": self.name,
                "start": round(self.start, 6), "end": round(self.end, 6),
                "run": self.run, "attrs": _jsonable(self.attrs)}


def _jsonable(attrs: dict) -> dict:
    return {k: (v if isinstance(v, (int, float, str, bool, type(None)))
                else len(v) if isinstance(v, (list, tuple)) else str(v))
            for k, v in attrs.items()}


class Tracer:
    """Collects spans for one run.  Times are epoch seconds (a monotonic
    clock anchored once to the wall clock), comparable with the JVM's
    stage timestamps."""

    def __init__(self, run_id: str, spark_context=None):
        self.run_id = run_id
        self.sc = spark_context
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._owner = threading.get_ident()
        self._owner_stack: list[Span] = []
        self._anchor = time.time() - time.perf_counter()

    def now(self) -> float:
        return time.perf_counter() + self._anchor

    def _stack(self) -> list[Span]:
        if threading.get_ident() == self._owner:
            return self._owner_stack
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def group_id(self, span_id: int) -> str:
        return f"{self.run_id}:{span_id}"

    @contextmanager
    def span(self, name: str, *, spark: bool = False, **attrs):
        stack = self._stack()
        if stack:
            parent = stack[-1].id
        elif self._owner_stack:
            parent = self._owner_stack[-1].id
        else:
            parent = None
        with self._lock:
            sid = next(self._ids)
        sp = Span(sid, parent, name, self.now(), run=self.run_id,
                  attrs=dict(attrs))
        prev_group = None
        tag = spark and self.sc is not None
        if tag:
            prev_group = self.sc.getLocalProperty(JOB_GROUP)
            self.sc.setLocalProperty(JOB_GROUP, self.group_id(sid))
        stack.append(sp)
        try:
            yield sp
        except BaseException as exc:
            sp.attrs["error"] = type(exc).__name__
            raise
        finally:
            stack.pop()
            if tag:
                self.sc.setLocalProperty(JOB_GROUP, prev_group)
            sp.end = self.now()
            with self._lock:
                self.spans.append(sp)


# -- interval arithmetic ----------------------------------------------------

def union_length(intervals, lo: float | None = None,
                 hi: float | None = None) -> float:
    """Total length covered by ``intervals`` (pairs), optionally clipped
    to ``[lo, hi]``.  Overlaps count once."""
    clipped = []
    for a, b in intervals:
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            clipped.append((a, b))
    clipped.sort()
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time(span: Span, children: list[Span]) -> float:
    """The span's duration minus the union of its children's intervals
    (children overlap when the engine runs them in a thread pool)."""
    return span.dur - union_length(((c.start, c.end) for c in children),
                                   span.start, span.end)


def max_overlap(intervals) -> int:
    """Largest number of intervals open at one instant."""
    events = sorted([(a, 1) for a, _ in intervals]
                    + [(b, -1) for _, b in intervals],
                    key=lambda e: (e[0], e[1]))
    cur = best = 0
    for _, d in events:
        cur += d
        best = max(best, cur)
    return best


def attribute_wall(lo: float, hi: float,
                   categories: list[tuple[str, list]]) -> dict[str, float]:
    """Split the wall ``[lo, hi]`` among ``categories`` (name, intervals),
    listed highest priority first: each instant goes to the first
    category with an interval open at it, else to ``"untraced"``.  The
    parts sum to ``hi - lo`` exactly."""
    cuts = {lo, hi}
    for _, ivs in categories:
        for a, b in ivs:
            if lo < a < hi:
                cuts.add(a)
            if lo < b < hi:
                cuts.add(b)
    pts = sorted(cuts)
    out = {name: 0.0 for name, _ in categories}
    out["untraced"] = 0.0
    for a, b in zip(pts, pts[1:]):
        mid = (a + b) / 2
        for name, ivs in categories:
            if any(x <= mid < y for x, y in ivs):
                out[name] += b - a
                break
        else:
            out["untraced"] += b - a
    return out


# -- patch sites ------------------------------------------------------------

@dataclass(frozen=True)
class Site:
    """One traced name: ``owner`` is a module path, optionally followed
    by ``:Class``; ``attr`` is the attribute replaced on it."""
    owner: str
    attr: str
    span: str
    spark: bool = False
    attrs: Callable | None = None  # (args, kwargs, result) -> dict


def _resolve(owner: str):
    mod_name, _, cls = owner.partition(":")
    obj = importlib.import_module(mod_name)
    return getattr(obj, cls) if cls else obj


def _scan_files_attrs(a, k, r):
    files = list(k.get("data_files", a[2] if len(a) > 2 else []))
    dv = k.get("dv_paths", a[3] if len(a) > 3 else [])
    card = k.get("dv_cardinality", a[4] if len(a) > 4 else 0)
    return {"files": len(files), "file_list": files,
            "dv_sidecars": len(dv or []), "dv_rows": int(card or 0)}


def _scan_attrs(a, k, r):
    snap = k.get("snapshot", a[2] if len(a) > 2 else None)
    return {"version": getattr(snap, "version", None),
            "entries": getattr(snap, "entry_count", None)}


def _plan_attrs(a, k, r):
    return {"bins": len(r), "input_files": sum(len(b.files) for b in r)}


def _bin_attrs(a, k, r):
    return {"files_out": len(r["outputs"]),
            "bytes_out": int(r["bytes_out"])}


def _rename_attrs(a, k, r):
    pairs = k.get("pairs", a[1] if len(a) > 1 else ())
    return {"renames": len(pairs) if hasattr(pairs, "__len__") else 0}


def _snapshot_attrs(a, k, r):
    import os
    return {"manifest_bytes": sum(os.path.getsize(p)
                                  for p in r.manifest_paths)}


def _merge_attrs(a, k, r):
    """DV rows in the sidecars this merge wrote (read with pyarrow, not
    through the traced store)."""
    import pyarrow.parquet as pq
    job = r.properties.get("job_id") or ""
    t = pq.read_table(r.manifest_paths,
                      columns=["dv_path", "dv_cardinality"]).to_pylist()
    return {"dv_rows_written": sum(
        e["dv_cardinality"] or 0 for e in t
        if e["dv_path"] and job and job in e["dv_path"])}


def _expire_attrs(a, k, r):
    return {"files_deleted": int(r.get("deleted_count", 0)),
            "versions_expired": len(r.get("expired_versions", []))}


ENGINE = "moonlink_spark.engine"
OPS = "moonlink_spark.operators"
STORE = "moonlink_spark.snapshotstore:SnapshotStore"

# Each site names the layer (module) it measures; the span name is
# ``<layer>.<function>``.
SITES: tuple[Site, ...] = (
    # engine: the public MoonTable surface
    Site(f"{ENGINE}:MoonTable", "optimize", "engine.optimize", spark=True),
    Site(f"{ENGINE}:MoonTable", "scan", "engine.scan", spark=True),
    Site(f"{ENGINE}:MoonTable", "merge", "engine.merge", spark=True),
    Site(f"{ENGINE}:MoonTable", "changes", "engine.changes", spark=True),
    Site(f"{ENGINE}:MoonTable", "expire_snapshots", "engine.expire",
         spark=True),
    # operators.planner, functions.zorder, operators.rewrite as the
    # engine resolves them
    Site(ENGINE, "plan_compaction", "planner.plan_compaction", spark=True,
         attrs=_plan_attrs),
    Site(ENGINE, "compute_zorder_boundaries", "zorder.boundaries",
         spark=True),
    Site(ENGINE, "rewrite_bin", "rewrite.rewrite_bin", spark=True,
         attrs=_bin_attrs),
    Site(f"{OPS}.rewrite", "footer_stats_many", "rewrite.footer_stats"),
    # operators.scan: planning entry (engine and merge) and file reads
    Site(f"{OPS}.scan", "scan", "scan.scan", spark=True, attrs=_scan_attrs),
    Site(f"{OPS}.merge", "scan", "scan.scan", spark=True, attrs=_scan_attrs),
    Site(f"{OPS}.scan", "scan_files", "scan.scan_files", spark=True,
         attrs=_scan_files_attrs),
    Site(f"{OPS}.rewrite", "scan_files", "scan.scan_files", spark=True,
         attrs=_scan_files_attrs),
    Site(f"{OPS}.changelog", "scan_files", "scan.scan_files", spark=True,
         attrs=_scan_files_attrs),
    Site(f"{OPS}.scan", "deletes_df", "scan.deletes_df", spark=True),
    Site(f"{OPS}.changelog", "deletes_df", "scan.deletes_df", spark=True),
    # fs: finalization renames
    Site(ENGINE, "rename_many", "fs.rename_many", attrs=_rename_attrs),
    Site(f"{OPS}.rewrite", "rename_many", "fs.rename_many",
         attrs=_rename_attrs),
    Site(f"{OPS}.merge", "rename_many", "fs.rename_many",
         attrs=_rename_attrs),
    # snapshotstore: commits and metadata reads
    Site(STORE, "commit", "store.commit"),
    Site(STORE, "commit_delta", "store.commit"),
    Site(STORE, "read_snapshot", "store.read_snapshot",
         attrs=_snapshot_attrs),
    Site(STORE, "manifest_segments", "store.manifest_read"),
    # operators.merge / expire / changelog as the engine resolves them
    Site(f"{OPS}.merge", "merge_into", "merge.merge_into", spark=True,
         attrs=_merge_attrs),
    Site(f"{OPS}.merge", "footer_stats_many", "merge.footer_stats"),
    Site(f"{OPS}.expire", "expire_snapshots", "expire.expire_snapshots",
         spark=True, attrs=_expire_attrs),
    Site(f"{OPS}.changelog", "changes", "changelog.changes", spark=True),
)


def _wrap(tracer: Tracer, site: Site, orig):
    def traced(*a, **k):
        with tracer.span(site.span, spark=site.spark) as sp:
            r = orig(*a, **k)
        # after the span closes, so attribute reads are not timed
        if site.attrs is not None:
            sp.attrs.update(site.attrs(a, k, r))
        return r
    traced.__wrapped__ = orig
    traced.__name__ = getattr(orig, "__name__", site.attr)
    return traced


class Installed:
    """The originals replaced by :func:`install`; :meth:`restore` puts
    them back (in reverse order, so a name patched twice ends as it
    started)."""

    def __init__(self):
        self.saved: list[tuple[object, str, object]] = []

    def restore(self) -> None:
        while self.saved:
            owner, attr, orig = self.saved.pop()
            setattr(owner, attr, orig)


def install(tracer: Tracer, sites=SITES) -> Installed:
    inst = Installed()
    try:
        for site in sites:
            owner = _resolve(site.owner)
            orig = (owner.__dict__[site.attr] if isinstance(owner, type)
                    else getattr(owner, site.attr))
            inst.saved.append((owner, site.attr, orig))
            setattr(owner, site.attr, _wrap(tracer, site, orig))
    except BaseException:
        inst.restore()
        raise
    return inst


# -- Spark status store -----------------------------------------------------

def _iter(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


def _opt(o, default=None):
    return o.get() if o.isDefined() else default


def spark_stages(sc, run_id: str) -> tuple[list[dict], list[dict]]:
    """Jobs and completed stages whose job group belongs to ``run_id``,
    read from the JVM status store (which works with the UI off).  Each
    row carries the span id that tagged its job."""
    store = sc._jsc.sc().statusStore()
    prefix = run_id + ":"
    jobs, rows, seen = [], [], set()
    for job in _iter(store.jobsList(None)):
        group = _opt(job.jobGroup())
        if not group or not group.startswith(prefix):
            continue
        span_id = int(group[len(prefix):])
        jobs.append({"span": span_id, "job": job.jobId()})
        for sid in _iter(job.stageIds()):
            if sid in seen:
                continue
            s = store.lastStageAttempt(sid)
            if str(s.status()) != "COMPLETE":
                continue
            seen.add(sid)
            durs = [d for d in (_opt(t.duration()) for t in
                                _iter(store.taskList(sid, s.attemptId(),
                                                     100000)))
                    if d is not None]
            sub, done = _opt(s.submissionTime()), _opt(s.completionTime())
            rows.append({
                "span": span_id, "stage": sid,
                "start": sub.getTime() / 1000.0 if sub else None,
                "end": done.getTime() / 1000.0 if done else None,
                "tasks": s.numTasks(),
                "task_ms": sorted(durs),
                "run_s": s.executorRunTime() / 1000.0,
                "cpu_s": s.executorCpuTime() / 1e9,
                "gc_s": s.jvmGcTime() / 1000.0,
                "input_bytes": s.inputBytes(),
                "shuffle_read_bytes": s.shuffleReadBytes(),
                "shuffle_write_bytes": s.shuffleWriteBytes(),
                "fetch_wait_s": s.shuffleFetchWaitTime() / 1000.0,
                "spill_bytes": s.memoryBytesSpilled() + s.diskBytesSpilled(),
            })
    return jobs, rows
