"""Driver-side metadata reads of optimize and scan against Spark's reads.

Two measurements on a ``local[4]`` session with a 1 GiB driver (the
benchmark's; executors share that heap), each printing one JSON line per
run as it ends and then one summary line:

- ``boundary``: the Z-order boundary step of ``optimize("full")`` (the
  ``engine.compute_zorder_boundaries`` call, inside which the sample is
  read) on two candidate sets whose sampled files hold more rows than
  the sample keeps, so rows are drawn at a fraction below 1.  The job is
  stopped right after the step.  ``--root`` names the checkout whose
  engine runs, so two checkouts time the same tables.
- ``dv``: ``scan()`` (a count and a content checksum) and
  ``optimize("full")`` over one table whose delete vectors (DVs) delete
  from a few thousand rows to about a million, once with the DV side
  read on the driver and once by Spark, forced by patching
  ``scan.dv_side_on_driver``.  Per run: wall seconds, and the JVM
  heap's peak (the sum of its pools' peaks, and the old generation's)
  after a full GC, or the run's error.

Commit the ``dv`` summary and both sides' ``boundary`` summaries as
``DRIVER_READ_SCALE.json``.

Usage: python tools/driver_read_bench.py boundary [--root DIR] [--reps 4]
       python tools/driver_read_bench.py dv [--reps 2]
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
import time

import numpy as np
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

# (synth seed, files, rows per file): ~40 sampled files of ~20k rows
# (fraction ~0.4), and 64 sampled files of ~100k rows (fraction ~0.05)
BOUNDARY_TABLES = [(3, 80, (16_000, 24_000)), (4, 64, (80_000, 120_000))]
# the DV table: 48 files of 24,000 narrow rows; each cell deletes this
# fraction of every file's rows, from the benchmark's few thousand
# deleted rows to about a million
DV_FILES, DV_ROWS = 48, 24_000
DV_FRACTIONS = [0.002, 0.01, 0.02, 0.04, 0.08, 0.25, 0.95]


class _Stop(Exception):
    pass


def _session() -> SparkSession:
    spark = (SparkSession.builder.master("local[4]")
             .config("spark.driver.memory", "1g")
             .config("spark.sql.shuffle.partitions", "4")
             .config("spark.sql.session.timeZone", "UTC")
             .config("spark.ui.enabled", "false")
             .getOrCreate())
    spark.sparkContext.setLogLevel("OFF")
    return spark


def boundary(spark, tmp: str, reps: int, root: str) -> dict:
    from moonlink_spark import engine, synth
    from moonlink_spark.engine import MoonTable

    real = engine.compute_zorder_boundaries
    box = {}

    def timed(*a, **kw):
        t0 = time.monotonic()
        real(*a, **kw)
        box["s"] = time.monotonic() - t0
        box["rows"] = kw["total_rows"]
        raise _Stop

    engine.compute_zorder_boundaries = timed
    tables = []
    for seed, n, rows in BOUNDARY_TABLES:
        wh = os.path.join(tmp, f"b{seed}")
        synth.synthesize_cdc_aftermath(wh, seed=seed, n_files=n,
                                       rows_per_file=rows,
                                       content_bytes=(8, 64))
        t = MoonTable(spark, wh)
        secs = []
        for rep in range(reps + 1):  # the first run warms up, unrecorded
            try:  # nothing is written before the boundary step
                t.optimize("full")
            except _Stop:
                pass
            if rep:
                secs.append(round(box["s"], 4))
                print(json.dumps({"files": n, "rows_per_file": rows,
                                  "sampled_rows": box["rows"],
                                  "seconds": secs[-1]}), flush=True)
        tables.append({"files": n, "rows_per_file": list(rows),
                       "sampled_rows": box["rows"], "seconds": secs,
                       "median_s": statistics.median(secs)})
    return {"metric": "boundary_step_seconds", "root": root,
            "tables": tables}


def _dv_fraction(frac: float):
    def positions(rng, n_rows, category):
        k = max(1, int(n_rows * frac))
        return np.sort(rng.choice(n_rows, size=k, replace=False))
    return positions


def _heap(spark, reset: bool) -> dict:
    jvm = spark.sparkContext._jvm
    pools = [p for p in jvm.java.lang.management.ManagementFactory
             .getMemoryPoolMXBeans() if str(p.getType()) == "Heap memory"]
    if reset:
        jvm.java.lang.System.gc()
        for p in pools:
            p.resetPeakUsage()
        return {}
    mb = lambda p: p.getPeakUsage().getUsed() / 2**20  # noqa: E731
    return {"heap_peak_mb": round(sum(mb(p) for p in pools), 1),
            "old_gen_peak_mb": round(sum(mb(p) for p in pools
                                         if "Old" in p.getName()), 1)}


def dv(spark, tmp: str, reps: int) -> dict:
    from moonlink_spark import synth
    from moonlink_spark.engine import MoonTable
    from moonlink_spark.operators import scan as scan_op
    from perfbench.workloads import table_config

    real_choice = scan_op.dv_side_on_driver
    real_positions = synth._dv_positions
    runs = []
    for ci, frac in enumerate([DV_FRACTIONS[0]] + DV_FRACTIONS):
        base = os.path.join(tmp, "base")
        shutil.rmtree(base, ignore_errors=True)
        synth._dv_positions = _dv_fraction(frac)
        try:
            synth.synthesize_cdc_aftermath(
                base, seed=9, n_files=DV_FILES,
                rows_per_file=(DV_ROWS, DV_ROWS), content_bytes=(8, 32))
        finally:
            synth._dv_positions = real_positions
        rows = (MoonTable(spark, base).manifest()
                .select("path", "bytes", "dv_cardinality").collect())
        dv_rows = sum(r["dv_cardinality"] or 0 for r in rows)
        files = [r["path"] for r in rows]
        cfg = table_config(sum(r["bytes"] for r in rows))
        default = real_choice(spark, dv_rows,
                              [f for r, f in zip(rows, files)
                               if r["dv_cardinality"]])
        for rep in range(reps if ci else 1):  # cell 0 warms up
            order = ["driver", "spark"]
            for path in order if rep % 2 == 0 else order[::-1]:
                scan_op.dv_side_on_driver = (
                    lambda *_, _on=path == "driver": _on)
                for op in ("scan", "optimize"):
                    gc.collect()
                    w = base
                    if op == "optimize":
                        w = os.path.join(tmp, "w")
                        shutil.rmtree(w, ignore_errors=True)
                        shutil.copytree(base, w)
                    _heap(spark, reset=True)
                    t0 = time.monotonic()
                    try:
                        if op == "scan":
                            MoonTable(spark, w).scan().agg(
                                F.count(F.lit(1)),
                                F.sum(F.crc32("content"))).first()
                        else:
                            MoonTable(spark, w, cfg).optimize("full")
                        run = {"seconds": round(time.monotonic() - t0, 3),
                               **_heap(spark, reset=False)}
                    except Exception as e:  # noqa: BLE001 — recorded
                        run = {"error": str(e).splitlines()[0][:200]}
                    run = {"dv_rows": dv_rows, "default_takes_driver": default,
                           "op": op, "path": path, "rep": rep, **run}
                    if ci:
                        runs.append(run)
                        print(json.dumps(run), flush=True)
        scan_op.dv_side_on_driver = real_choice
    cells = []
    for frac in DV_FRACTIONS:
        n = int(DV_ROWS * frac) * DV_FILES
        for op in ("scan", "optimize"):
            mine = {p: [r for r in runs if r["op"] == op and r["path"] == p
                        and r["dv_rows"] == n] for p in ("driver", "spark")}
            med = lambda p, k: (statistics.median(  # noqa: E731
                [r[k] for r in mine[p] if k in r] or [float("nan")]))
            cells.append({
                "dv_rows": n, "op": op,
                "default_takes_driver":
                    mine["driver"][0]["default_takes_driver"],
                "errors": {p: sum("error" in r for r in mine[p])
                           for p in mine},
                **{f"{p}_median_s": med(p, "seconds") for p in mine},
                **{f"{p}_old_gen_peak_mb": med(p, "old_gen_peak_mb")
                   for p in mine},
                **{f"{p}_heap_peak_mb": med(p, "heap_peak_mb")
                   for p in mine},
                "driver_over_spark": round(med("driver", "seconds")
                                           / med("spark", "seconds"), 3)})
    return {"metric": "dv_side_seconds_and_heap",
            "driver_dv_rows": scan_op.DRIVER_DV_ROWS,
            "driver_budget_bytes": scan_op.driver_budget(spark),
            "table": f"synth seed 9, {DV_FILES} files of {DV_ROWS:,} rows, "
                     "each file's DV deleting the cell's fraction",
            "cells": cells, "runs": runs}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("what", choices=("boundary", "dv"))
    ap.add_argument("--root", default=os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))
    ap.add_argument("--reps", type=int)
    args = ap.parse_args()
    sys.path.insert(0, args.root)
    os.environ["PYTHONPATH"] = args.root  # Python workers import it
    spark = _session()
    with tempfile.TemporaryDirectory() as tmp:
        if args.what == "boundary":
            out = boundary(spark, tmp, args.reps or 4, args.root)
        else:
            out = dv(spark, tmp, args.reps or 2)
    spark.stop()
    print(json.dumps({"nproc": len(os.sched_getaffinity(0)),
                      "driver_memory": "1g", "master": "local[4]", **out}))


if __name__ == "__main__":
    main()
