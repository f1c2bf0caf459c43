"""Optimize rewrite-path crossover: the driver rewrite against the Spark one.

Synthesizes CDC aftermaths from the maintain benchmark's shape (20
files, ~3 MB) up to ~200 MB, plus a many-tiny-files shape (2,000 files
of 3-10 rows), and runs ``optimize("full")`` on fresh copies of each,
once per rewrite path of ``operators/rewrite.py``: the driver path
(``DRIVER_REWRITE_BYTES`` raised past every cell) and the Spark path
(lowered below every cell).  Each cell is planned as the benchmark plans
its table (``perfbench.workloads.table_config``: 2 bins of 2 outputs).
The session has the benchmark's 1 GiB driver (``local[4]``).  Per run
it records the optimize wall seconds (or its error) and the peak RSS of
this process plus the driver JVM, sampled every 10 ms while the job
runs.  The host fingerprint is ``nproc`` and a same-session sha2 probe
(4M rows, ``bench.run_cpu_calibration``).

Prints one JSON line per run as it ends, then one summary line; commit
the summary as ``REWRITE_PATH_CROSSOVER.json``.  The summary names the
largest cell whose every driver run beat the Spark run of its pair;
``DRIVER_REWRITE_BYTES`` is set at that cell's planned input bytes.

Usage: python tools/rewrite_path_bench.py [--reps 3] [--cells a,b]
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import sys
import tempfile
import threading
import time

from pyspark.sql import SparkSession

sys.path.insert(0, os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))

from bench import run_cpu_calibration  # noqa: E402
from moonlink_spark.engine import MoonTable  # noqa: E402
from moonlink_spark.operators import rewrite  # noqa: E402
from moonlink_spark.snapshotstore import SnapshotStore  # noqa: E402
from moonlink_spark.synth import synthesize_cdc_aftermath  # noqa: E402
from perfbench.workloads import table_config  # noqa: E402

# name → synthesize_cdc_aftermath arguments, in order of input bytes
CELLS = {
    "bench_3mb": dict(n_files=20),
    "12mb": dict(n_files=40, rows_per_file=(200, 1_600)),
    "50mb": dict(n_files=80, rows_per_file=(400, 3_200)),
    "100mb": dict(n_files=80, rows_per_file=(800, 6_400)),
    "200mb": dict(n_files=160, rows_per_file=(800, 6_400)),
    "tiny_2000": dict(n_files=2_000, rows_per_file=(3, 10),
                      content_bytes=(64, 512)),
}


def _rss_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmRSS:"):
                return int(line.split()[1])
    return 0


class PeakRss:
    """Peak summed RSS of ``pids`` while the block runs (10 ms samples)."""

    def __init__(self, pids):
        self.pids, self.peak_kb = pids, 0
        self._stop = threading.Event()

    def _sample(self):
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb,
                               sum(_rss_kb(p) for p in self.pids))
            self._stop.wait(0.01)

    def __enter__(self):
        self._thread = threading.Thread(target=self._sample, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--cells", default=",".join(CELLS))
    args = ap.parse_args()
    cells = [c for c in args.cells.split(",") if c]
    spark = (SparkSession.builder.master("local[4]")
             .config("spark.driver.memory", "1g")
             .config("spark.sql.shuffle.partitions", "4")
             .config("spark.sql.session.timeZone", "UTC")
             .config("spark.sql.execution.arrow.pyspark.enabled", "true")
             .config("spark.ui.enabled", "false")
             .getOrCreate())
    spark.sparkContext.setLogLevel("OFF")
    jvm = int(spark._jvm.java.lang.ProcessHandle.current().pid())
    pids = [os.getpid(), jvm]
    probe_s = run_cpu_calibration(spark, 4, rows=4_000_000)
    runs, sizes = [], {}
    with tempfile.TemporaryDirectory() as tmp:
        for ci, name in enumerate([cells[0]] + cells):
            base = os.path.join(tmp, name)
            if not os.path.isdir(base):
                synthesize_cdc_aftermath(base, seed=1, **CELLS[name])
            entries = SnapshotStore(base).manifest_entries(0)
            sizes[name] = {"files": len(entries),
                           "bytes": sum(e["bytes"] for e in entries)}
            cfg = table_config(sizes[name]["bytes"])
            # the first cell once more, unrecorded, warms both paths
            for rep in range(args.reps if ci else 1):
                order = ["driver", "spark"]
                for path in order if rep % 2 == 0 else order[::-1]:
                    gc.collect()
                    w = os.path.join(tmp, "w")
                    shutil.rmtree(w, ignore_errors=True)
                    shutil.copytree(base, w)
                    rewrite.DRIVER_REWRITE_BYTES = (
                        1 << 62 if path == "driver" else -1)
                    t = MoonTable(spark, w, cfg)
                    t0 = time.monotonic()
                    try:
                        with PeakRss(pids) as rss:
                            snap = t.optimize("full")
                        run = {"seconds": round(time.monotonic() - t0, 3),
                               "peak_rss_mb": round(rss.peak_kb / 1024, 1),
                               "writer": snap.properties["metrics"]
                               ["writer"]}
                    except Exception as e:  # noqa: BLE001 — recorded
                        run = {"error": str(e).splitlines()[0][:200]}
                    run = {"cell": name, **sizes[name], "path": path,
                           "rep": rep, **run}
                    if ci:
                        runs.append(run)
                        print(json.dumps(run), flush=True)
            if ci:
                shutil.rmtree(base, ignore_errors=True)
        shutil.rmtree(os.path.join(tmp, "w"), ignore_errors=True)
    spark.stop()
    cells_out = []
    for name in cells:
        mine = [r for r in runs if r["cell"] == name]
        by = {p: [r for r in mine if r["path"] == p] for p in
              ("driver", "spark")}
        med = {p: statistics.median([r["seconds"] for r in rs
                                     if "seconds" in r] or [float("nan")])
               for p, rs in by.items()}
        pairs = list(zip(by["driver"], by["spark"]))
        cells_out.append({
            "cell": name, **sizes[name],
            "errors": {p: sum("error" in r for r in rs)
                       for p, rs in by.items()},
            "driver_median_s": med["driver"],
            "spark_median_s": med["spark"],
            "driver_over_spark": round(med["driver"] / med["spark"], 3),
            "driver_wins_every_run": all(
                d.get("seconds", 1e9) < s.get("seconds", 0)
                for d, s in pairs),
            "driver_peak_rss_mb_max": max(
                (r.get("peak_rss_mb", 0) for r in by["driver"]), default=0),
            "spark_peak_rss_mb_max": max(
                (r.get("peak_rss_mb", 0) for r in by["spark"]), default=0),
        })
    by_size = sorted((c for c in cells_out if not c["cell"].startswith(
        "tiny")), key=lambda c: c["bytes"])
    crossover = None
    for c in by_size:
        if not c["driver_wins_every_run"]:
            break
        crossover = c
    print(json.dumps({
        "metric": "optimize_full_seconds",
        "host": {"nproc": len(os.sched_getaffinity(0)),
                 "sha2_probe_4m_rows_s": probe_s},
        "driver_memory": "1g", "master": "local[4]", "reps": args.reps,
        "shape": "synth seed 1 per cell; perfbench table_config: 2 bins "
                 "of 2 outputs; a fresh copy per run",
        "largest_driver_win_cell": crossover and crossover["cell"],
        "largest_driver_win_bytes": crossover and crossover["bytes"],
        "cells": cells_out, "runs": runs}))


if __name__ == "__main__":
    main()
