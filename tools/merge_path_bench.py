"""CDC merge write-path crossover: the driver write against the Spark write.

Synthesizes one merge-on-read aftermath, then merges change batches of
several sizes and row widths into fresh copies of it, once on each write
path of ``operators/merge.py``, forced by patching ``driver_budget``:
the driver path (a budget every batch fits) and the Spark path (a
budget no batch fits).  A batch is one third upserts of live keys, one
third deletes of live keys and one third new keys; each upsert carries
a ``content`` of the given width.  It reaches Spark as an Arrow table.
The session has the benchmark's 1 GiB driver (``local[4]``: executors
share that heap).  Reports every merge's wall seconds (or its error)
per cell and path, their median, and which path the default budget
picks for the cell.

Prints one JSON line per run as it ends, then one summary line; commit
the summary as ``MERGE_PATH_CROSSOVER.json``.  The claim this artifact
records: for every batch the default budget sends to the driver, the
driver write completes and is not slower than the Spark write.

Usage: python tools/merge_path_bench.py [--reps 3]
"""

from __future__ import annotations

import argparse
import gc
import json
import math
import os
import shutil
import statistics
import sys
import tempfile
import time

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import SparkSession

sys.path.insert(0, os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))

from moonlink_spark.engine import MoonTable  # noqa: E402
from moonlink_spark.operators import merge as merge_op  # noqa: E402
from moonlink_spark.synth import synthesize_cdc_aftermath  # noqa: E402

KEYS = ["repo", "path", "commit"]
# (batch rows, content bytes per upsert), in order of upsert payload: the
# benchmark's 450-row batch, narrow rows up to the flush budget, then
# wide rows (source-file contents) up to ~66 MB of upserts
CELLS = [(450, 200), (4_500, 200), (450, 8_192), (2_000, 8_192),
         (45_000, 200), (4_000, 8_192), (131_072, 200), (8_000, 8_192),
         (12_000, 8_192)]


def _batch(rng, live: pa.Table, n: int, width: int) -> pa.Table:
    third = n // 3
    pick = rng.choice(live.num_rows, size=2 * third, replace=False)
    old = live.take(pa.array(pick)).to_pydict()
    n_new = n - 2 * third
    n_up = third + n_new
    blob = rng.bytes(n_up * width // 2).hex()
    content = [blob[i * width:(i + 1) * width] for i in range(n_up)]
    cols = {k: old[k] + [f"{k}-new-{i:07d}" for i in range(n_new)]
            for k in KEYS}
    ops = ["upsert"] * third + ["delete"] * third + ["upsert"] * n_new
    up_content = content[:third] + [None] * third + content[third:]
    return pa.table({
        **cols,
        "lang": ["rust" if o == "upsert" else None for o in ops],
        "content": up_content,
        "_op": ops,
    })


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--reps", type=int, default=3)
    args = ap.parse_args()
    spark = (SparkSession.builder.master("local[4]")
             .config("spark.driver.memory", "1g")
             .config("spark.sql.shuffle.partitions", "4")
             .config("spark.sql.session.timeZone", "UTC")
             .config("spark.sql.execution.arrow.pyspark.enabled", "true")
             .config("spark.ui.enabled", "false")
             .getOrCreate())
    spark.sparkContext.setLogLevel("OFF")
    budget = merge_op.driver_budget(spark)
    rng = np.random.default_rng(7)
    runs = []
    with tempfile.TemporaryDirectory() as tmp:
        base = os.path.join(tmp, "base")
        synthesize_cdc_aftermath(base, seed=5, n_files=80,
                                 rows_per_file=(1_200, 2_000), n_repos=20,
                                 content_bytes=(64, 256))
        live = (MoonTable(spark, base).scan().select(*KEYS).toArrow()
                .combine_chunks())
        # the first cell once more, unrecorded, warms the JVM on both paths
        for ci, (n, width) in enumerate([CELLS[0]] + CELLS):
            for rep in range(args.reps if ci else 1):
                batch = _batch(rng, live, n, width)
                ups = batch.filter(pc.equal(batch["_op"], "upsert"))
                up_bytes = sum(pc.sum(pc.binary_length(ups[c])).as_py()
                               for c in ups.column_names if c != "_op")
                order = ["driver", "spark"]
                for path in order if rep % 2 == 0 else order[::-1]:
                    # free the last run's frames, and the JVM objects
                    # they pin, before timing the next
                    gc.collect()
                    w = os.path.join(tmp, "w")
                    shutil.rmtree(w, ignore_errors=True)
                    shutil.copytree(base, w)
                    t = MoonTable(spark, w)
                    merge_op.driver_budget = (
                        (lambda _: 1 << 62) if path == "driver"
                        else (lambda _: -1))
                    t0 = time.monotonic()
                    try:
                        t.merge(spark.createDataFrame(batch),
                                key_columns=KEYS)
                        run = {"seconds": round(time.monotonic() - t0, 3)}
                    except Exception as e:  # noqa: BLE001 — recorded
                        run = {"error": str(e).splitlines()[0][:200]}
                    run = {"rows": n, "content_bytes": width,
                           "upsert_bytes": up_bytes, "path": path,
                           "rep": rep, **run}
                    if ci:
                        runs.append(run)
                        print(json.dumps(run), flush=True)
    spark.stop()
    cells_out = []
    for n, width in CELLS:
        mine = [r for r in runs
                if (r["rows"], r["content_bytes"]) == (n, width)]
        med = {p: statistics.median(
                   [r["seconds"] for r in mine
                    if r["path"] == p and "seconds" in r] or [math.nan])
               for p in ("driver", "spark")}
        cells_out.append({
            "rows": n, "content_bytes": width,
            "upsert_bytes_median": statistics.median(
                r["upsert_bytes"] for r in mine),
            "default_takes_driver": all(
                r["rows"] <= merge_op.FLUSH_ROWS
                and r["upsert_bytes"] <= budget for r in mine),
            "errors": {p: sum(1 for r in mine
                              if r["path"] == p and "error" in r)
                       for p in ("driver", "spark")},
            "driver_median_s": med["driver"],
            "spark_median_s": med["spark"],
            "driver_over_spark": round(med["driver"] / med["spark"], 3)})
    print(json.dumps({
        "metric": "merge_seconds", "nproc": len(os.sched_getaffinity(0)),
        "driver_memory": "1g", "master": "local[4]", "reps": args.reps,
        "driver_budget_bytes": budget,
        "batch_shape": "1/3 upserts of live keys, 1/3 deletes, 1/3 new "
                       "keys; an Arrow-table DataFrame",
        "base": "synth seed 5, 80 files of 1,200-2,000 rows",
        "cells": cells_out, "runs": runs}))


if __name__ == "__main__":
    main()
