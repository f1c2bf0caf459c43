"""Optimize rewrite placements, timed in alternating pairs.

Synthesizes CDC aftermaths from the maintain benchmark's shape (20
files, ~3 MB) up to ~200 MB, plus a many-tiny-files shape (2,000 files
of 3-10 rows), and runs ``optimize("full")`` on fresh copies of each.
Every run belongs to one of two sides, and the sides alternate within
each pair of runs (A then B, then B then A):

- by default both sides run this checkout, side A in-process on the
  driver (``rewrite.DRIVER_REWRITE_BYTES`` raised past every cell) and
  side B in Spark tasks (lowered below every cell) — the crossover that
  sets ``DRIVER_REWRITE_BYTES``;
- with ``--parent DIR`` side A is this checkout and side B the checkout
  at ``DIR``, both with ``DRIVER_REWRITE_BYTES`` lowered, so each runs
  its Spark-side rewrite.

Each side is its own worker process (this script with ``--worker``) with
its own ``local[4]`` session and the benchmark's 1 GiB driver, importing
the engine from its checkout; one side idles while the other runs.
Each cell is planned as the benchmark plans its table
(``perfbench.workloads.table_config``: 2 bins of 2 outputs), except
``default_640mb``, planned under the default table config (one bin of
one 512 MiB target file).  Per run a
worker records the optimize wall seconds (or its error), peak RSS
sampled every 10 ms while the job runs — of the worker process plus its
driver JVM, and of the JVM's descendant Python workers (the largest
one's RSS and anonymous RSS, and their summed RSS; found through
``/proc/<pid>/task/*/children``) — and, after the timed job, digests
of the decoded rows of every output file in name order, one without
``_pos`` and one of ``_pos`` alone.  The host fingerprint is ``nproc``
and each worker's sha2 probe (4M rows, ``bench.run_cpu_calibration``).

Prints one JSON line per run as it ends, then one summary line; commit
the summary as ``REWRITE_PATH_CROSSOVER.json`` (placements) or
``REWRITE_PLACEMENT.json`` (``--parent``).

Usage: python tools/rewrite_path_bench.py [--reps 3] [--cells a,b]
                                          [--parent DIR]

``--cells`` defaults to every cell but ``default_640mb``: name it to run
it (it needs ~2 GB of disk per copy and, in-process on the driver,
several GB of memory).
"""

from __future__ import annotations

import argparse
import gc
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import threading
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# name → synthesize_cdc_aftermath arguments, in order of input bytes
CELLS = {
    "bench_3mb": dict(n_files=20),
    "12mb": dict(n_files=40, rows_per_file=(200, 1_600)),
    "50mb": dict(n_files=80, rows_per_file=(400, 3_200)),
    "100mb": dict(n_files=80, rows_per_file=(800, 6_400)),
    "200mb": dict(n_files=160, rows_per_file=(800, 6_400)),
    "tiny_2000": dict(n_files=2_000, rows_per_file=(3, 10),
                      content_bytes=(64, 512)),
    "default_640mb": dict(n_files=600, rows_per_file=(800, 6_400)),
}
# cells planned under the default table config, not the benchmark's:
# one bin of one output file, so the task placement's one stage-2 group
# holds the whole ~640 MB bin
DEFAULT_CONFIG_CELLS = {"default_640mb"}


def _rss_kb(pid: int, field: str = "VmRSS") -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except OSError:  # exited between listing and reading
        pass
    return 0


def _is_python(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            argv0 = f.read().split(b"\0")[0]
    except OSError:
        return False
    return os.path.basename(argv0).startswith(b"python")


def _python_descendants(pid: int) -> list[int]:
    """Every live Python descendant of ``pid``, from the kernel's
    per-thread child lists.  Other descendants are left out: a child
    the JVM spawns shows the JVM's own RSS until it execs."""
    out, todo = [], [pid]
    while todo:
        for path in glob.glob(f"/proc/{todo.pop()}/task/*/children"):
            try:
                with open(path) as f:
                    kids = [int(k) for k in f.read().split()]
            except OSError:
                continue
            out += [k for k in kids if _is_python(k)]
            todo += kids
    return out


class PeakRss:
    """While the block runs (10 ms samples): the peak summed RSS of
    ``pids``, and of the JVM ``jvm``'s Python descendants (the Python
    workers) the largest one's peak RSS and anonymous RSS (``RssAnon``:
    without the page cache a memory-mapped spill file is read through)
    and their sum's RSS."""

    def __init__(self, pids, jvm: int):
        self.pids, self.jvm = pids, jvm
        self.peak_kb = self.worker_kb = self.worker_anon_kb = 0
        self.workers_kb = 0
        self._stop = threading.Event()

    def _sample(self):
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb,
                               sum(_rss_kb(p) for p in self.pids))
            kids = _python_descendants(self.jvm)
            rss = [_rss_kb(p) for p in kids]
            self.worker_kb = max([self.worker_kb, *rss])
            self.worker_anon_kb = max([self.worker_anon_kb, *(
                _rss_kb(p, "RssAnon") for p in kids)])
            self.workers_kb = max(self.workers_kb, sum(rss))
            self._stop.wait(0.01)

    def __enter__(self):
        self._thread = threading.Thread(target=self._sample, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


def rows_digests(store, version: int) -> dict:
    """sha256 digests over the output files of ``version`` in the order
    of their base names (bin, then file): ``rows_digest`` over each
    file's row count and its rows' ``pandas.util.hash_pandas_object``
    without ``_pos`` (values, not encodings: equal decoded rows give
    equal digests), ``pos_digest`` over its ``_pos`` column."""
    import pandas as pd
    import pyarrow.parquet as pq
    rows, pos = hashlib.sha256(), hashlib.sha256()
    for e in sorted(store.manifest_entries(version),
                    key=lambda e: os.path.basename(e["path"])):
        f = pq.ParquetFile(store.abs(e["path"]))
        rows.update(f.metadata.num_rows.to_bytes(8, "little"))
        for rb in f.iter_batches(batch_size=65_536):  # a file at a time
            df = rb.to_pandas()                       # would not fit
            rows.update(pd.util.hash_pandas_object(
                df.drop(columns="_pos"), index=False).values.tobytes())
            pos.update(df["_pos"].to_numpy().tobytes())
    return {"rows_digest": rows.hexdigest(), "pos_digest": pos.hexdigest()}


def worker(root: str, placement: str) -> None:
    """One side: read ``{"base": dir, "default_config": bool}`` requests
    from stdin, run ``optimize("full")`` on a fresh copy of the table at
    ``dir`` in ``placement`` ("driver" or "tasks"), answer one ``RESULT
    {json}`` line per request."""
    sys.path.insert(0, root)
    os.environ["PYTHONPATH"] = root  # Python workers import it
    from pyspark.sql import SparkSession

    from bench import run_cpu_calibration
    from moonlink_spark.config import TableConfig
    from moonlink_spark.engine import MoonTable
    from moonlink_spark.operators import rewrite
    from moonlink_spark.snapshotstore import SnapshotStore
    from perfbench.workloads import table_config

    spark = (SparkSession.builder.master("local[4]")
             .config("spark.driver.memory", "1g")
             .config("spark.sql.shuffle.partitions", "4")
             .config("spark.sql.session.timeZone", "UTC")
             .config("spark.sql.execution.arrow.pyspark.enabled", "true")
             .config("spark.ui.enabled", "false")
             .getOrCreate())
    spark.sparkContext.setLogLevel("OFF")
    jvm = int(spark._jvm.java.lang.ProcessHandle.current().pid())
    rewrite.DRIVER_REWRITE_BYTES = 1 << 62 if placement == "driver" else -1
    print("RESULT " + json.dumps(
        {"sha2_probe_4m_rows_s": run_cpu_calibration(
            spark, 4, rows=4_000_000)}), flush=True)
    with tempfile.TemporaryDirectory() as tmp:
        w = os.path.join(tmp, "w")
        for line in sys.stdin:
            req = json.loads(line)
            gc.collect()
            shutil.rmtree(w, ignore_errors=True)
            shutil.copytree(req["base"], w)
            store = SnapshotStore(w)
            t = MoonTable(spark, w, TableConfig() if req["default_config"]
                          else table_config(sum(
                              e["bytes"] for e in store.manifest_entries(0))))
            t0 = time.monotonic()
            try:
                with PeakRss([os.getpid(), jvm], jvm) as rss:
                    snap = t.optimize("full")
                run = {"seconds": round(time.monotonic() - t0, 3),
                       "peak_rss_mb": round(rss.peak_kb / 1024, 1),
                       "py_worker_peak_rss_mb": round(rss.worker_kb / 1024,
                                                      1),
                       "py_worker_peak_anon_mb": round(
                           rss.worker_anon_kb / 1024, 1),
                       "py_workers_peak_rss_mb": round(
                           rss.workers_kb / 1024, 1),
                       "writer": snap.properties["metrics"]["writer"],
                       **rows_digests(store, snap.version)}
            except Exception as e:  # noqa: BLE001 — recorded
                run = {"error": str(e).splitlines()[0][:200]}
            print("RESULT " + json.dumps(run), flush=True)
    spark.stop()


class Side:
    """A worker process for one side, and its request/answer channel."""

    def __init__(self, name: str, root: str, placement: str):
        self.name, self.root, self.placement = name, root, placement
        self.proc = subprocess.Popen(
            [sys.executable, os.path.abspath(__file__), "--worker",
             "--root", root, "--placement", placement],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
            cwd=root)
        self.probe_s = self._answer()["sha2_probe_4m_rows_s"]

    def _answer(self) -> dict:
        for line in self.proc.stdout:
            if line.startswith("RESULT "):
                return json.loads(line[len("RESULT "):])
        raise RuntimeError(f"worker {self.name} exited "
                           f"({self.proc.wait()})")

    def run(self, req: dict) -> dict:
        self.proc.stdin.write(json.dumps(req) + "\n")
        self.proc.stdin.flush()
        return self._answer()

    def close(self):
        self.proc.stdin.close()
        self.proc.wait(timeout=120)


def _median(runs: list[dict], key: str) -> float:
    vals = [r[key] for r in runs if key in r]
    return statistics.median(vals) if vals else float("nan")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--cells", default=",".join(
        c for c in CELLS if c not in DEFAULT_CONFIG_CELLS))
    ap.add_argument("--parent", help="checkout to time against")
    ap.add_argument("--worker", action="store_true", help=argparse.SUPPRESS)
    ap.add_argument("--root", default=REPO, help=argparse.SUPPRESS)
    ap.add_argument("--placement", help=argparse.SUPPRESS)
    args = ap.parse_args()
    if args.worker:
        return worker(args.root, args.placement)
    sys.path.insert(0, REPO)
    from moonlink_spark.snapshotstore import SnapshotStore
    from moonlink_spark.synth import synthesize_cdc_aftermath

    cells = [c for c in args.cells.split(",") if c]
    if args.parent:
        specs = [("change", REPO, "tasks"),
                 ("parent", os.path.abspath(args.parent), "tasks")]
    else:
        specs = [("driver", REPO, "driver"), ("tasks", REPO, "tasks")]
    sides = [Side(*s) for s in specs]
    runs, sizes = [], {}
    try:
        with tempfile.TemporaryDirectory() as tmp:
            for ci, name in enumerate([cells[0]] + cells):
                base = os.path.join(tmp, name)
                if not os.path.isdir(base):
                    synthesize_cdc_aftermath(base, seed=1, **CELLS[name])
                entries = SnapshotStore(base).manifest_entries(0)
                sizes[name] = {"files": len(entries),
                               "bytes": sum(e["bytes"] for e in entries)}
                # the first cell once more, unrecorded, warms both sides
                for rep in range(args.reps if ci else 1):
                    for side in sides if rep % 2 == 0 else sides[::-1]:
                        run = side.run({"base": base, "default_config":
                                        name in DEFAULT_CONFIG_CELLS})
                        run = {"cell": name, **sizes[name],
                               "side": side.name, "rep": rep, **run}
                        if ci:
                            runs.append(run)
                            print(json.dumps(run), flush=True)
                if ci:
                    shutil.rmtree(base, ignore_errors=True)
    finally:
        for side in sides:
            side.close()
    a, b = (s.name for s in sides)
    cells_out = []
    for name in cells:
        by = {s: [r for r in runs if r["cell"] == name and r["side"] == s]
              for s in (a, b)}
        med = {s: _median(rs, "seconds") for s, rs in by.items()}
        cells_out.append({
            "cell": name, **sizes[name],
            "errors": {s: sum("error" in r for r in rs)
                       for s, rs in by.items()},
            f"{a}_median_s": med[a], f"{b}_median_s": med[b],
            f"{a}_over_{b}": round(med[a] / med[b], 3),
            f"{a}_wins": sum(x.get("seconds", 1e9) < y.get("seconds", 0)
                             for x, y in zip(by[a], by[b])),
            "pairs": min(len(by[a]), len(by[b])),
            **{f"{k}s_equal": len({r.get(k) for rs in by.values()
                                   for r in rs}) == 1
               for k in ("rows_digest", "pos_digest")},
            **{f"{s}_{k}_max": max((r.get(k, 0) for r in rs), default=0)
               for s, rs in by.items()
               for k in ("peak_rss_mb", "py_worker_peak_rss_mb",
                         "py_worker_peak_anon_mb", "py_workers_peak_rss_mb")},
        })
    summary = {
        "metric": "optimize_full_seconds",
        "host": {"nproc": len(os.sched_getaffinity(0)),
                 "sha2_probe_4m_rows_s": {s.name: s.probe_s
                                          for s in sides}},
        "sides": {s.name: {"checkout": "this" if s.root == REPO
                           else "parent", "placement": s.placement}
                  for s in sides},
        "driver_memory": "1g", "master": "local[4]", "reps": args.reps,
        "shape": "synth seed 1 per cell; perfbench table_config: 2 bins "
                 "of 2 outputs (default_640mb: the default TableConfig); a "
                 "fresh copy per run",
        "cells": cells_out, "runs": runs}
    if not args.parent:
        # the largest cell whose every driver run beat its pair's tasks run
        crossover = None
        for c in sorted((c for c in cells_out
                         if not c["cell"].startswith("tiny")
                         and c["cell"] not in DEFAULT_CONFIG_CELLS),
                        key=lambda c: c["bytes"]):
            if c["driver_wins"] < c["pairs"]:
                break
            crossover = c
        summary["largest_driver_win_cell"] = crossover and crossover["cell"]
        summary["largest_driver_win_bytes"] = (crossover
                                               and crossover["bytes"])
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
