"""The benchmark workloads, their seeded inputs and their checks.

Both are closed loops with one client: the next call starts when
the previous one returns.  Inputs come from
``moonlink_spark.synth.synthesize_cdc_aftermath`` and from the change
generator below, both keyed by the run's seed.  Every output is checked
against a reference computed here with pyarrow and hashlib, never with
the engine; a mismatch is counted, not raised.
"""

from __future__ import annotations

import hashlib
import math
import os
import shutil
import time
from collections import defaultdict
from contextlib import contextmanager, nullcontext

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from perfbench.stats import median as _med, summarize

DATA_COLS = ("repo", "path", "commit", "lang", "content")
KEYS = ["repo", "path", "commit"]

# The CDC aftermath every workload starts from: the synthesizer's
# defaults (tiny snappy files of 100-800 rows, ~30 % with DVs, some
# >= 50 % and some 100 % deleted, Zipf repo skew with a hot repo holding
# half the rows) but 20 files, not 200.  Each operation's time is
# mostly fixed cost (a warm optimize takes ~5 s on 20 files and on 40),
# and a run must hold a cold warm-up job and three warm ones in ~60 s;
# at 200 files one cold job took 71-122 s.
SYNTH = dict(n_files=20)
# optimize("full") plans this many bins, each written as this many
# output files: the ranged, salted multi-file write path.  The engine's
# default size ratio (target_file_bytes = 0.75 x bin_target_bytes) would
# give exactly one output per bin and skip that path.
MAINTAIN_BINS = 2
OUTPUTS_PER_BIN = 2
# merge batch: one aftermath file's worth of change rows (the mean of the
# synthesizer's default 100-800 rows per commit file), split evenly into
# upserts, deletes and new keys
BATCH = (150, 150, 150)
# measured iterations (maintain jobs, ingest batches) per run at least,
# and unmeasured warm-up iterations before them
MIN_ITERATIONS = 3
WARMUP_ITERATIONS = 1
# host probe: sha2 over this many rows, one task per session thread,
# run before every job or batch; and the reference time the
# scaled metrics assume for it (about its median on a 4-CPU host)
PROBE_ROWS = 4_000_000
PROBE_REF_S = 0.6
# unmeasured probes after the warm-up, which compile the probe's own
# code, and measured probes after the window; with one before each
# measured job or batch, the run's host speed is a median of at least
# five warm probes
PROBE_WARMUPS = 2
PROBE_CLOSING = 2


# -- digests ---------------------------------------------------------------

def row_hash(row) -> tuple[int, int]:
    """Two 60-bit words of sha256 over the row's data columns joined by
    U+001F (the same bytes Spark's ``concat_ws`` + ``sha2`` hash)."""
    h = hashlib.sha256("\x1f".join(row).encode()).hexdigest()
    return int(h[:15], 16), int(h[15:30], 16)


class Digest:
    """Order-insensitive multiset digest: row count and the sums of both
    hash words.  Adding and removing rows commute."""

    __slots__ = ("n", "a", "b")

    def __init__(self, n: int = 0, a: int = 0, b: int = 0):
        self.n, self.a, self.b = n, a, b

    def add(self, row, sign: int = 1) -> None:
        x, y = row_hash(row)
        self.n += sign
        self.a += sign * x
        self.b += sign * y

    def as_tuple(self) -> tuple[int, int, int]:
        return (self.n, self.a, self.b)

    @classmethod
    def of(cls, rows) -> "Digest":
        d = cls()
        for r in rows:
            d.add(r)
        return d


def spark_digest(df) -> tuple[int, int, int]:
    """The same digest computed by Spark over a DataFrame (one job)."""
    from pyspark.sql import functions as F
    h = F.sha2(F.concat_ws("\x1f", *DATA_COLS), 256)

    def word(start):
        return F.sum(F.conv(F.substring(h, start, 15), 16, 10)
                     .cast("decimal(38,0)"))

    r = df.agg(F.count(F.lit(1)).alias("n"), word(1).alias("a"),
               word(16).alias("b")).first()
    return (int(r["n"]), int(r["a"] or 0), int(r["b"] or 0))


def reference_rows(store) -> list[tuple]:
    """Live rows of a table's current snapshot, read with pyarrow:
    every data file minus the positions its delete vector lists."""
    entries = store.manifest_entries()
    deleted: dict[str, set] = defaultdict(set)
    for dv in sorted({e["dv_path"] for e in entries if e["dv_path"]}):
        t = pq.read_table(store.abs(dv),
                          columns=["referenced_file", "positions"])
        for f, pos in zip(t["referenced_file"].to_pylist(),
                          t["positions"].to_pylist()):
            deleted[f].update(pos)
    rows = []
    for e in entries:
        t = pq.read_table(store.abs(e["path"]),
                          columns=[*DATA_COLS, "_pos"])
        gone = deleted.get(e["path"])
        if gone:
            t = t.filter(pc.invert(pc.is_in(
                t["_pos"], value_set=pa.array(sorted(gone), pa.int64()))))
        cols = [t[c].to_pylist() for c in DATA_COLS]
        rows.extend(zip(*cols))
    return rows


# -- run context -----------------------------------------------------------

class Context:
    """What one run accumulates: timed operations, checks, and (in a
    traced run) the tracer."""

    def __init__(self, spark, work: str, seed: int, tracer=None,
                 cpu_clock=None):
        self.spark = spark
        self.cpu_clock = cpu_clock
        self.work = work
        self.seed = seed
        self.tracer = tracer
        self.ops: list[dict] = []
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.peak_dir_bytes: dict[str, int] = {}

    def check(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(what)
        return ok

    @contextmanager
    def op(self, kind: str, **attrs):
        """Time one operation; in a traced run, trace it unless it is a
        warm-up."""
        from perfbench import trace
        traced = self.tracer is not None and not kind.startswith("warmup")
        rec = {"kind": kind, "traced": traced, **attrs}
        inst = trace.install(self.tracer) if traced else None
        self.attempted += 1
        try:
            with (self.tracer.span("op." + kind, spark=True)
                  if traced else nullcontext()) as sp:
                if sp is not None:
                    sp.attrs = rec
                c0 = self.cpu_clock() if self.cpu_clock else 0.0
                t0 = time.perf_counter()
                yield rec
                rec["s"] = time.perf_counter() - t0
                if self.cpu_clock:
                    rec["cpu_s"] = self.cpu_clock() - c0
        except Exception as exc:
            self.failed += 1
            self.failures.append(f"{kind}: {type(exc).__name__}: {exc}")
            exc.counted = True
            raise
        finally:
            if inst is not None:
                inst.restore()
        self.ops.append(rec)

    @contextmanager
    def guard(self):
        """Count an iteration that raised as a failed operation and go on."""
        try:
            yield
        except Exception as exc:
            if not getattr(exc, "counted", False):
                self.attempted += 1
                self.failed += 1
                self.failures.append(f"{type(exc).__name__}: {exc}")

    def times(self, kind: str) -> list[float]:
        return [o["s"] for o in self.ops if o["kind"] == kind]

    def scaled(self, kind: str) -> float:
        """Median seconds of the ``kind`` operations, scaled to the
        reference host speed: times ``PROBE_REF_S`` over the median of
        the run's measured probes (0 if either is missing)."""
        probe = _med(self.times("probe"))
        return (_med(self.times(kind)) * PROBE_REF_S / probe
                if probe else 0.0)

    def cpu(self, kind: str) -> float:
        """Median CPU seconds of the ``kind`` operations (0 if none
        completed)."""
        return _med(o["cpu_s"] for o in self.ops if o["kind"] == kind)

    def note_dir(self) -> None:
        """Record the size of each directory under the work directory
        (source, table copies, shuffle, temp), keeping the peak."""
        from perfbench.session import dir_bytes
        for name in os.listdir(self.work):
            path = os.path.join(self.work, name)
            if os.path.isdir(path):
                self.peak_dir_bytes[name] = max(
                    self.peak_dir_bytes.get(name, 0), dir_bytes(path))


def table_config(input_bytes: int):
    """The default table config with both compaction sizes scaled down
    to give ``MAINTAIN_BINS`` bins of ``OUTPUTS_PER_BIN`` planned output
    files each."""
    from moonlink_spark.config import CompactionConfig, TableConfig
    from moonlink_spark.operators.rewrite import RECOMPRESS_FACTOR
    bin_bytes = max(1, math.ceil(input_bytes / MAINTAIN_BINS))
    target = max(1, math.ceil(bin_bytes * RECOMPRESS_FACTOR / OUTPUTS_PER_BIN))
    return TableConfig(compaction=CompactionConfig(
        target_file_bytes=target, bin_target_bytes=bin_bytes))


def synthesize(dest: str, seed: int) -> None:
    from moonlink_spark.synth import synthesize_cdc_aftermath
    shutil.rmtree(dest, ignore_errors=True)
    synthesize_cdc_aftermath(dest, seed=seed, **SYNTH)


class Workload:
    """Lifecycle: the runner synthesizes ``src`` before the Spark session
    starts; ``setup`` computes the reference, ``warmup`` runs unmeasured
    iterations, ``loop`` runs measured ones until the window closes,
    ``finish`` runs the work and checks that follow the window, and
    ``metrics`` reduces the samples (zeros for an operation that never
    completed).  ``iteration(warm)`` is one job or batch; a warm-up
    iteration names its operations ``warmup_<kind>``, which keeps them
    out of every sample and out of the trace."""

    name = ""

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.src = os.path.join(ctx.work, "src")

    def probe(self, pre: str = "") -> None:
        """Time the host probe, by which ``Context.scaled`` scales."""
        from perfbench.session import sha2_probe
        spark = self.ctx.spark
        threads = spark.sparkContext.defaultParallelism
        with self.ctx.op(pre + "probe"):
            # one task per thread: the probe times compute, not task
            # scheduling
            sha2_probe(spark, threads, rows=PROBE_ROWS, partitions=threads)

    def copy(self, name: str) -> str:
        dst = os.path.join(self.ctx.work, name)
        shutil.rmtree(dst, ignore_errors=True)
        shutil.copytree(self.src, dst)
        return dst

    def table(self, wh: str, config):
        from moonlink_spark.engine import MoonTable
        return MoonTable(self.ctx.spark, wh, config)

    def setup(self) -> None:
        from moonlink_spark.snapshotstore import SnapshotStore
        store = SnapshotStore(self.src)
        entries = store.manifest_entries(0)
        self.input_bytes = sum(e["bytes"] for e in entries)
        self.input_rows = sum(e["rows"] for e in entries)
        self.input_files = len(entries)
        self.dv_rows = sum(e["dv_cardinality"] for e in entries)
        self.dv_sidecars = len({e["dv_path"] for e in entries
                                if e["dv_path"]})
        self.file_rows = {e["path"]: e["rows"] for e in entries}
        self.rows = reference_rows(store)
        self.ref = Digest.of(self.rows)
        self.ctx.check(len(self.rows) == self.input_rows - self.dv_rows,
                       "reference rows != manifest rows - DV rows")

    def warmup(self) -> None:
        for _ in range(WARMUP_ITERATIONS):
            self.iteration(warm=True)
        for _ in range(PROBE_WARMUPS):
            self.probe("warmup_")

    def iteration(self, warm: bool = False) -> None:
        raise NotImplementedError

    def loop(self, deadline: float) -> None:
        n = 0
        while n < MIN_ITERATIONS or time.perf_counter() < deadline:
            with self.ctx.guard():
                self.iteration()
            n += 1
        for _ in range(PROBE_CLOSING):
            with self.ctx.guard():
                self.probe()
        self.ctx.note_dir()

    def finish(self) -> None:
        pass

    def metrics(self) -> tuple[dict, dict]:
        raise NotImplementedError


class Maintain(Workload):
    """One maintenance job per iteration, like
    ``tools/run_maintenance.py``: ``optimize("full")`` on a fresh copy
    of the aftermath.  After the window, the last job's table gets an
    audit that digest-scans v0 (merge-on-read) and v1 (copy-on-write),
    and in a traced run ``expire_snapshots``.  Nearly
    all the work is the rewrite.  The first job warms the JVM up and is
    not measured: its JIT compilation follows the host's load far more
    than the engine's code does."""

    name = "maintain"

    def setup(self) -> None:
        super().setup()
        self.config = table_config(self.input_bytes)
        self.last = None

    def iteration(self, warm: bool = False) -> None:
        ctx = self.ctx
        pre = "warmup_" if warm else ""
        t = self.table(self.copy("run"), self.config)
        self.probe(pre)
        with ctx.op(pre + "optimize", bytes_in=self.input_bytes) as rec:
            snap = t.optimize("full")
        m = snap.properties.get("metrics", {})
        rec.update(bytes_out=m.get("bytes_out"), bins=m.get("bins"),
                   files_out=m.get("output_files"),
                   rows_out=m.get("rows_out"))
        ctx.check(snap.version == 1, "optimize did not commit v1")
        ctx.check(m.get("rows_in") == self.input_rows
                  and m.get("rows_out") == self.input_rows - self.dv_rows,
                  f"rows_out {m.get('rows_out')} != rows in "
                  f"{self.input_rows} - DV rows {self.dv_rows}")
        self.last = t
        ctx.note_dir()  # the copy's peak: v0 and v1 both on disk

    def audit(self, kind: str, t, versions: tuple[int, ...]) -> None:
        """Digest scans of snapshots of ``t``, each against the v0
        reference, timed as one operation."""
        with self.ctx.op(kind) as rec:
            got = [spark_digest(t.scan(v)) for v in versions]
        rec["rows_out"] = sum(g[0] for g in got)
        for v, d in zip(versions, got):
            self.ctx.check(d == self.ref.as_tuple(),
                           f"v{v} digest != v0 reference digest")

    def finish(self) -> None:
        """An audit of the last job's table: v1 (copy-on-write) must
        hold v0's live rows, and v0 (merge-on-read) must still read the
        same after v1 is committed, which is snapshot isolation.  A
        traced run then expires v0, which must delete exactly what the
        rewrite orphaned; untraced runs leave expiry out to fit their
        time budget."""
        ctx, t = self.ctx, self.last
        self.audit("audit", t, (0, 1))
        if ctx.tracer is None:
            return
        with ctx.op("expire"):
            rep = t.expire_snapshots(retain_last=1)
        # every v0 data file and DV sidecar is orphaned by the rewrite
        ctx.check(rep["deleted_count"] == self.input_files
                  + self.dv_sidecars,
                  f"expire deleted {rep['deleted_count']} files, expected "
                  f"{self.input_files + self.dv_sidecars}")
        self.file_rows.update((e["path"], e["rows"])
                              for e in t.store.manifest_entries())

    def metrics(self) -> tuple[dict, dict]:
        ctx = self.ctx
        opt = [o for o in ctx.ops if o["kind"] == "optimize"
               and o.get("rows_out")]
        s = summarize(ctx.times("optimize"))
        ratio = _med(o["bytes_out"] / o["bytes_in"] for o in opt)
        per_row = _med((o["bytes_out"] / o["rows_out"])
                       / (o["bytes_in"] / self.input_rows) for o in opt)
        common = {
            "write_s": ctx.scaled("optimize"),
            "row_bytes_ratio": per_row,
        }
        named = {
            "maintain_optimize_ms_p50": s["p50"] * 1e3,
            "maintain_optimize_ms_tail": s["tail"] * 1e3,
            "maintain_optimize_cpu_s": ctx.cpu("optimize"),
            "maintain_gb_per_min": self.input_bytes / (1 << 30)
            / (s["p50"] / 60.0) if s["p50"] else 0.0,
            "maintain_bytes_ratio": ratio,
            "maintain_expire_s": _med(ctx.times("expire")),
            "read_v0_v1_scan_s": _med(ctx.times("audit")),
            "input": {"files": self.input_files, "bytes": self.input_bytes,
                      "rows": self.input_rows, "dv_rows": self.dv_rows,
                      "dv_sidecars": self.dv_sidecars},
        }
        return common, named


class Ingest(Workload):
    """CDC writes beside reads on the merge-on-read aftermath.  A fresh
    copy of the aftermath takes a seeded stream of ``merge`` batches
    (upserts, deletes and new keys; even batches inside one repo, odd
    ones scattered across the table).  Each batch is followed by a full
    digest scan of the merged snapshot; after the window, ``changes()``
    reads the first measured batch back.  Scans and changelog are
    checked against the generator's model.  The first batch warms the
    JVM up and is not measured."""

    name = "ingest"

    def setup(self) -> None:
        super().setup()
        ctx = self.ctx
        self.t = self.table(self.copy("table"), table_config(self.input_bytes))
        self.model = {r[:3]: r for r in self.rows}
        self.keys = list(self.model)
        self.key_pos = {k: i for i, k in enumerate(self.keys)}
        self.digest = Digest(*self.ref.as_tuple())
        self.rng = np.random.default_rng([ctx.seed, 3])
        repos = [r[0] for r in self.rows]
        self.hot_repo = max(set(repos), key=repos.count)
        self.batch_events: list[dict] = []
        self.change_rows = 0
        self.batch_no = 0
        self.final_bytes, self.final_rows = self.input_bytes, self.input_rows

    # -- change generator --------------------------------------------------
    def _drop_key(self, k) -> None:
        i = self.key_pos.pop(k)
        last = self.keys.pop()
        if last != k:
            self.keys[i] = last
            self.key_pos[last] = i

    def _new_row(self, repo: str) -> tuple:
        rng = self.rng
        lang = ["rust", "python", "go", "md"][int(rng.integers(4))]
        path = (f"src/mod{int(rng.integers(40)):02d}/"
                f"new{int(rng.integers(1000)):03d}.{lang}")
        commit = f"{int(rng.integers(1 << 62)):040x}"
        words = rng.integers(0, 1 << 20, int(rng.integers(8, 48)))
        return (repo, path, commit, lang,
                " ".join(f"w{w:x}" for w in words))

    def next_batch(self) -> tuple[list[tuple], dict]:
        """Rows of the next batch, applied to the model as they are made,
        and the changelog events the batch must produce."""
        rng = self.rng
        n_up, n_del, n_new = BATCH
        local = self.batch_no % 2 == 0
        self.batch_no += 1
        if local:
            # CDC concentrates on the hot repo; always choosing it keeps
            # the batch's file footprint the same from seed to seed
            repo = self.hot_repo
            pool = [k for k in self.keys if k[0] == repo]
        else:
            pool = self.keys
        picks = rng.choice(len(pool), size=min(len(pool), n_up + n_del),
                           replace=False)
        chosen = [pool[int(i)] for i in picks]
        rows, events = [], {"insert": 0, "delete": 0}
        for k in chosen[:n_up]:
            new = self._new_row(k[0])
            row = (*k, new[3], new[4])
            self.digest.add(self.model[k], -1)
            self.digest.add(row)
            self.model[k] = row
            rows.append((*row, "upsert"))
            events["insert"] += 1
            events["delete"] += 1
        for k in chosen[n_up:]:
            self.digest.add(self.model.pop(k), -1)
            self._drop_key(k)
            rows.append((*k, None, None, "delete"))
            events["delete"] += 1
        for _ in range(n_new):
            if not local:
                repo = self.keys[int(rng.integers(len(self.keys)))][0]
            row = self._new_row(repo)
            self.model[row[:3]] = row
            self.key_pos[row[:3]] = len(self.keys)
            self.keys.append(row[:3])
            self.digest.add(row)
            rows.append((*row, "upsert"))
            events["insert"] += 1
        return rows, events

    # -- operations ----------------------------------------------------------
    def iteration(self, warm: bool = False) -> None:
        """One batch: ``merge``, then a full digest scan."""
        ctx = self.ctx
        pre = "warmup_" if warm else ""
        rows, events = self.next_batch()
        df = ctx.spark.createDataFrame(
            rows, "repo string, path string, commit string, lang string, "
                  "content string, _op string")
        v = self.t.current_version()
        self.probe(pre)
        with ctx.op(pre + "merge", rows=len(rows)):
            snap = self.t.merge(df, key_columns=KEYS)
        ctx.check(snap.version == v + 1, "merge did not commit one version")
        if not warm:
            self.batch_events.append(events)
            self.change_rows += len(rows)
        with ctx.op(pre + "mor_scan") as rec:
            got = spark_digest(self.t.scan())
        rec["rows_out"] = got[0]
        ctx.check(got == self.digest.as_tuple(),
                  f"merged digest (n={got[0]}) != predicted "
                  f"(n={self.digest.n})")

    def changelog(self, kind: str, start: int, end: int,
                  batches: list[dict]) -> None:
        """``changes(start, end)`` fully consumed, against the events
        the generator predicted for ``batches``."""
        with self.ctx.op(kind) as rec:
            rows = (self.t.changes(start, end)
                    .groupBy("_change_type").count().collect())
        got = {r["_change_type"]: int(r["count"]) for r in rows}
        rec["events"] = sum(got.values())
        want = {k: sum(ev[k] for ev in batches) for k in ("insert", "delete")}
        self.ctx.check(got.get("insert", 0) == want["insert"]
                       and got.get("delete", 0) == want["delete"],
                       f"changelog events {got} != predicted {want}")

    def loop(self, deadline: float) -> None:
        self.v_start = self.t.current_version()
        super().loop(deadline)

    def finish(self) -> None:
        # the first measured batch only: the tail's work must not depend
        # on how many batches the window held
        self.changelog("changelog", self.v_start, self.v_start + 1,
                       self.batch_events[:1])
        final = self.t.store.manifest_entries()
        self.final_bytes = sum(e["bytes"] for e in final)
        self.final_rows = sum(e["rows"] for e in final)

    def metrics(self) -> tuple[dict, dict]:
        ctx = self.ctx
        m = summarize(ctx.times("merge"))
        merge_s = sum(ctx.times("merge"))
        common = {
            "write_s": ctx.scaled("merge"),
            "row_bytes_ratio": (self.final_bytes / self.final_rows)
            / (self.input_bytes / self.input_rows),
        }
        named = {
            "ingest_merge_ms_p50": m["p50"] * 1e3,
            "ingest_merge_ms_tail": m["tail"] * 1e3,
            "ingest_merge_tail_pct": m["tail_pct"],
            "ingest_merge_cpu_s": ctx.cpu("merge"),
            "ingest_batches": m["n"],
            "ingest_rows_per_s": (self.change_rows / merge_s
                                  if merge_s else 0.0),
            "ingest_changelog_s": _med(ctx.times("changelog")),
            "ingest_bytes_ratio": self.final_bytes / self.input_bytes,
            "read_mor_scan_s": _med(ctx.times("mor_scan")),
        }
        return common, named


WORKLOADS = {w.name: w for w in (Maintain, Ingest)}
