"""Benchmark entry point.

    python3 perfbench/run.py --workload maintain --seed 1 --seconds 5 --trace 0

Run from the root of a checkout.  Builds its inputs from ``--seed``,
measures the workload for ``--seconds``, checks every output, and prints
a JSON record of the whole run followed, as the last line, by
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
Everything it writes stays under ``.perfbench_work/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

SETUP_REPEATS = 3

E2E_UNITS = {
    "setup_s": "s", "write_s": "s",
    "row_bytes_ratio": "ratio", "ok_ops_frac": "ratio", "peak_rss_mb": "MB",
}


def end_to_end(ctx, common: dict, setup_s: float, rss: float) -> dict:
    """Every end-to-end metric of a run, named as in ``E2E_UNITS``."""
    ok_frac = 1.0 - ctx.failed / max(1, ctx.attempted)
    return {"setup_s": setup_s, **common, "ok_ops_frac": ok_frac,
            "peak_rss_mb": rss}


def result_line(ctx, values: dict, units: dict) -> str:
    """The last line a run prints."""
    return json.dumps({
        "correct": ctx.failed == 0, "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in values.items()}})


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=("maintain", "ingest"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def untraced_primary_s(base: str, workload: str) -> float | None:
    """Median primary-operation time over the untraced runs of
    ``workload`` recorded under ``base``, or None if there are none."""
    from perfbench.layers import PRIMARY
    times = []
    rec_dir = os.path.join(base, "records")
    for name in os.listdir(rec_dir) if os.path.isdir(rec_dir) else ():
        if not name.startswith(f"{workload}-") or "-t0-" not in name:
            continue
        with open(os.path.join(rec_dir, name)) as f:
            rec = json.load(f)
        times += [o["s"] for o in rec["ops"]
                  if o["kind"] in PRIMARY[workload]]
    return statistics.median(times) if times else None


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "moonlink_spark", "engine.py")):
        print("perfbench: run from the root of a moonlink_spark checkout "
              "(moonlink_spark/engine.py not found)", file=sys.stderr)
        return 2
    sys.path.insert(0, root)

    from perfbench import layers, session
    from perfbench import trace as tr
    from perfbench.workloads import WORKLOADS, Context, synthesize
    from moonlink_spark.snapshotstore import DATA_DIR

    nproc = session.host_nproc()
    ram = session.host_ram_bytes()
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    base = os.path.join(root, ".perfbench_work")
    work = os.path.join(base, run_id)
    os.makedirs(work)
    spark = None
    try:
        # inputs first: the synthesizer forks a process pool, which must
        # not happen once the driver JVM and its py4j threads exist
        synth_s, synth_cpu_s = [], []
        for i in range(SETUP_REPEATS):
            dest = os.path.join(work, f"src{i}")
            t0, c0 = time.perf_counter(), session.tree_cpu_s()
            synthesize(dest, args.seed)
            synth_s.append(time.perf_counter() - t0)
            synth_cpu_s.append(session.tree_cpu_s() - c0)
        os.rename(dest, os.path.join(work, "src"))
        for i in range(SETUP_REPEATS - 1):
            shutil.rmtree(os.path.join(work, f"src{i}"))

        conf = session.spark_conf(work, nproc, session.driver_heap_mb(ram))
        t0 = time.perf_counter()
        spark = session.start_session(work, conf, root)
        session_s = time.perf_counter() - t0
        jvm = session.jvm_pid(spark)

        tracer = (tr.Tracer(run_id, spark.sparkContext) if args.trace
                  else None)
        ctx = Context(spark, work, args.seed, tracer,
                      cpu_clock=lambda: session.tree_cpu_s(jvm))
        wl = WORKLOADS[args.workload](ctx)
        prep_s = []
        for _ in range(SETUP_REPEATS):
            t1 = time.perf_counter()
            wl.setup()
            prep_s.append(time.perf_counter() - t1)
        # the program's set-up: synthesis and table preparation.  JVM
        # start is Spark's, not the program's, and is recorded apart.
        setup_s = statistics.median(synth_s) + statistics.median(prep_s)
        # unmeasured, and outside setup_s: a warm-up is work on the
        # engine, not set-up of the benchmark
        t0 = time.perf_counter()
        with ctx.guard():
            wl.warmup()
        warmup_s = time.perf_counter() - t0

        t0 = time.perf_counter()
        wl.loop(t0 + args.seconds)
        window_s = time.perf_counter() - t0
        with ctx.guard():
            wl.finish()
        rss = session.peak_rss_mb(jvm)
        # probes after the window, so that they warm nothing it measures.
        # The platform probe (~3 s) runs only in a traced run, whose
        # platform.* metrics use it: the untraced runs' time budget is
        # the tighter one.
        probes = {"sha2_probe_s": session.sha2_probe(spark, nproc)}
        if args.trace:
            data_dir = os.path.join(wl.src, DATA_DIR)
            probes["platform_probe_s"] = session.platform_probe(
                spark, [os.path.join(data_dir, n)
                        for n in sorted(os.listdir(data_dir))],
                os.path.join(work, "probe-out"), n_ranges=nproc)
        common, named = wl.metrics()
        e2e = end_to_end(ctx, common, setup_s, rss)

        record = {
            "workload": args.workload, "seed": args.seed,
            "seconds": args.seconds, "trace": args.trace,
            "host": {**session.fingerprint(spark, nproc, ram), **probes},
            "spark_conf": dict(spark.sparkContext.getConf().getAll()),
            "dirs": {"work": work, "peak_bytes": ctx.peak_dir_bytes},
            "setup": {"synth_s": synth_s, "synth_cpu_s": synth_cpu_s,
                      "session_s": session_s, "prep_s": prep_s,
                      "warmup_s": warmup_s},
            "window_s": window_s,
            "ops": ctx.ops,
            "failures": ctx.failures,
            "named": {**named, "setup_s": setup_s,
                      "failed_ops_frac": ctx.failed / max(1, ctx.attempted),
                      "peak_rss_mb": rss},
            "end_to_end": e2e,
        }
        if args.trace:
            jobs, stages = tr.spark_stages(spark.sparkContext, run_id)
            per_layer = layers.layer_metrics(
                args.workload, tracer.spans, stages, jobs, ops=ctx.ops,
                file_rows=wl.file_rows, nproc=nproc, probes=probes,
                untraced_s=untraced_primary_s(base, args.workload))
            record["per_layer"] = per_layer
            record["optimize_split"] = [
                layers.optimize_split(layers.SpanIndex(tracer.spans, stages,
                                                       jobs), s)
                for s in tracer.spans if s.name == "engine.optimize"]
            record["spans"] = [s.to_json() for s in tracer.spans]
            record["stages"] = stages
            values, units = per_layer, dict(layers.METRICS)
        else:
            values, units = e2e, E2E_UNITS
        session.stop_session(spark)
        spark = None
    finally:
        if spark is not None:
            session.stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)

    os.makedirs(os.path.join(base, "records"), exist_ok=True)
    rec_path = os.path.join(base, "records", run_id + ".json")
    with open(rec_path, "w") as f:
        json.dump(record, f, indent=1, default=str)
    print(json.dumps({k: record[k] for k in
                      ("workload", "seed", "host", "setup", "named",
                       "failures")}, default=str))
    print(result_line(ctx, values, units))
    return 0


if __name__ == "__main__":
    sys.exit(main())
