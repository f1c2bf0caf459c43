"""Host-fitted Spark session, host fingerprint and probes.

One benchmark process owns one SparkSession (one driver JVM) for one
workload run and stops it before exiting, so runs are isolated by
process: nothing a run leaves in the JVM (cached plans, heap growth,
stuck threads) reaches the next run.
"""

from __future__ import annotations

import os
import platform
import resource
import shutil
import subprocess
import time


def host_nproc() -> int:
    return len(os.sched_getaffinity(0))


def host_ram_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_heap_mb(ram_bytes: int) -> int:
    """A sixteenth of host RAM, between 1 and 4 GiB.  The benchmark's
    tables are a few MB, so the heap only has to hold Spark itself and
    the broadcast/collect sides of small plans; the rest of RAM stays
    free for the page cache, the work directory and other tenants."""
    return max(1024, min(4096, ram_bytes // 16 // (1 << 20)))


def spark_conf(work: str, nproc: int, heap_mb: int) -> dict[str, str]:
    return {
        "spark.master": f"local[{nproc}]",
        "spark.app.name": "moonlink-perfbench",
        "spark.driver.memory": f"{heap_mb}m",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        "spark.sql.shuffle.partitions": str(nproc),
        "spark.sql.session.timeZone": "UTC",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        # the traced run reads stage counters back from the status store
        "spark.ui.retainedJobs": "20000",
        "spark.ui.retainedStages": "20000",
    }


def start_session(work: str, conf: dict[str, str], repo_root: str):
    """Start the driver JVM with every scratch directory inside ``work``."""
    for d in ("jvm-tmp", "spark-local", "py-tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "py-tmp")
    # every JVM spark-submit starts (its launcher and the driver) keeps
    # its temp files in ``work`` and writes no hsperfdata under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'jvm-tmp')}")
    # Python workers (pandas UDFs) import moonlink_spark from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (repo_root, os.environ.get("PYTHONPATH")) if p)
    from pyspark.sql import SparkSession
    b = SparkSession.builder
    for k, v in conf.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then the driver JVM, and wait for it to exit."""
    from pyspark import SparkContext
    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is None:
        return
    if proc.stdin is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds, user plus system, used so far by this process and the
    children it reaped (the synthesizer's pool), and by process ``root``
    (the driver JVM) with every process below it (the pyspark daemon and
    its Python workers).  Reaped children count through their parent's
    ``cutime``/``cstime``; spark-submit's launcher JVM is reaped by the
    process that becomes the driver JVM."""
    own = os.times()
    own_s = own.user + own.system + own.children_user + own.children_system
    if root is None:
        return own_s
    parent, ticks = {}, {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # exited while we listed
        fields = stat[stat.rindex(")") + 2:].split()
        parent[int(name)] = int(fields[1])
        ticks[int(name)] = sum(int(x) for x in fields[11:15])
    total = 0
    for pid, t in ticks.items():
        p = pid
        while p and p != root:
            p = parent.get(p, 0)
        if p == root:
            total += t
    return total / os.sysconf("SC_CLK_TCK") + own_s


def peak_rss_mb(jvm: int) -> float:
    """Driver JVM high-water RSS (``VmHWM``) plus this process's peak RSS."""
    hwm_kb = 0
    with open(f"/proc/{jvm}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                hwm_kb = int(line.split()[1])
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (hwm_kb + py_kb) / 1024.0


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.lstat(os.path.join(root, f)).st_size
            except FileNotFoundError:
                pass  # a task removed it while we walked
    return total


def sha2_probe(spark, nproc: int, rows: int = 500_000,
               partitions: int | None = None) -> float:
    """Pure-JVM CPU probe: sha2 over a range at the session's thread
    level, in ``partitions`` tasks (default four per thread)."""
    t0 = time.perf_counter()
    spark.range(0, rows, 1, partitions or nproc * 4).selectExpr(
        "count(case when sha2(cast(id as string), 256) > 'f8' "
        "then 1 end)").collect()
    return time.perf_counter() - t0


def platform_probe(spark, data_files: list[str], out: str,
                   n_ranges: int) -> float:
    """Stock-Spark data path with no engine code: the rewrite's physical
    shape (tiny-file parquet scan, range shuffle, sort, zstd write)."""
    shutil.rmtree(out, ignore_errors=True)
    t0 = time.perf_counter()
    (spark.read.parquet(*data_files)
     .repartitionByRange(n_ranges, "repo", "path")
     .sortWithinPartitions("repo", "path")
     .write.option("compression", "zstd").mode("overwrite").parquet(out))
    dt = time.perf_counter() - t0
    shutil.rmtree(out, ignore_errors=True)
    return dt


def fingerprint(spark, nproc: int, ram: int) -> dict:
    import pyarrow
    import pyspark
    return {
        "nproc": nproc,
        "ram_bytes": ram,
        "cpu": platform.processor() or platform.machine(),
        "python": platform.python_version(),
        "spark": spark.version,
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "java": spark._jvm.java.lang.System.getProperty("java.version"),
    }
