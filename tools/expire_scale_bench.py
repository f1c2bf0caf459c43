"""Measure distributed snapshot expiry at a large synthetic file count.

The north-rule regime for expire is "touch every file in the warehouse":
the listing must be a distributed job (one task per hash-shard prefix)
and orphan deletes must overlap in a worker pool — never a serial driver
walk + serial unlinks (the round-2 verdict's one remaining scale-killer,
fixed in `operators/expire.py`).  This tool records the evidence:

1. build a tiny real table (valid manifests) and inject N orphan files
   spread across the hash-shard directories — the CDC-aftermath debris
   expiry exists to clean up;
2. run `expire_snapshots` on fresh copies of that warehouse at two
   delete pool sizes (`fs.remove_many`'s `max_workers`, swapped in for
   the run), timing the distributed listing and the full expire
   separately;
3. print one JSON document (commit as EXPIRE_SCALE.json).

Usage: python tools/expire_scale_bench.py [n_orphans] [workers_lo,hi]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time
from concurrent.futures import ThreadPoolExecutor
from functools import partial
from unittest import mock

sys.path.insert(0, os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))

from pyspark.sql import SparkSession  # noqa: E402

from moonlink_spark import MoonTable  # noqa: E402
from moonlink_spark.fs import PosixFileSystem, remove_many  # noqa: E402
from moonlink_spark.operators import expire  # noqa: E402
from moonlink_spark.operators.expire import (expire_snapshots,  # noqa: E402
                                             list_files_df)
from moonlink_spark.snapshotstore import (DATA_DIR, SnapshotStore,  # noqa: E402
                                          shard_rel)
from moonlink_spark.synth import synthesize_cdc_aftermath  # noqa: E402


class _LatencyFS(PosixFileSystem):
    """Posix filesystem with a fixed per-DELETE latency — a stand-in for
    object-store round-trips so the delete worker pool's overlap is
    measurable on tmpfs (clearly labeled: simulated, not a real store)."""

    def __init__(self, delay_s: float) -> None:
        super().__init__()
        self._delay_s = delay_s

    def remove(self, path: str) -> None:
        time.sleep(self._delay_s)
        super().remove(path)


def build_base(root: str, n_orphans: int) -> str:
    wh = os.path.join(root, "wh-base")
    synthesize_cdc_aftermath(wh, seed=41, n_files=24,
                             rows_per_file=(30, 80), n_repos=6,
                             content_bytes=(64, 256))
    # two versions so expire has something to drop
    spark = SparkSession.getActiveSession()
    t = MoonTable(spark, wh)
    t.optimize("full")

    payload = b"x" * 64

    def _mk(i: int) -> None:
        rel = shard_rel(DATA_DIR, f"orphan-{i:07d}.parquet")
        p = os.path.join(wh, rel)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        with open(p, "wb") as f:
            f.write(payload)

    with ThreadPoolExecutor(max_workers=32) as pool:
        list(pool.map(_mk, range(n_orphans)))
    return wh


def main() -> None:
    n_orphans = int(sys.argv[1]) if len(sys.argv) > 1 else 100_000
    lo, hi = (int(x) for x in (sys.argv[2] if len(sys.argv) > 2
                               else "4,32").split(","))
    spark = (SparkSession.builder.master("local[16]")
             .appName("expire-scale")
             .config("spark.sql.shuffle.partitions", "32")
             .config("spark.ui.enabled", "false")
             .config("spark.sql.session.timeZone", "UTC")
             .getOrCreate())
    out = {"n_orphans": n_orphans, "configs": {}}
    with tempfile.TemporaryDirectory(dir="/dev/shm") as root:
        base = build_base(root, n_orphans)
        store0 = SnapshotStore(base)
        t0 = time.monotonic()
        n_listed = list_files_df(spark, store0).count()
        out["listing_files"] = n_listed
        out["listing_secs_distributed"] = round(time.monotonic() - t0, 2)
        from moonlink_spark.operators.expire import _listing_units
        out["listing_tasks"] = len(_listing_units(store0))

        # two regimes: raw tmpfs unlinks (sub-µs — pool overhead shows,
        # GIL-bound, worker count is a wash) and a 1 ms simulated
        # object-store DELETE latency (the regime the pool exists for:
        # S3/GCS round-trips are ~10-100 ms; 1 ms keeps the run short
        # while making the overlap measurable and clearly labeled).
        for latency_ms in (0.0, 1.0):
            for workers in (lo, hi):
                wh = os.path.join(root, f"wh-w{workers}-l{latency_ms}")
                shutil.copytree(base, wh)
                store = SnapshotStore(wh)
                if latency_ms:
                    store.fs = _LatencyFS(latency_ms / 1000.0)
                t0 = time.monotonic()
                with mock.patch.object(expire, "remove_many", partial(
                        remove_many, max_workers=workers)):
                    rec = expire_snapshots(spark, store, retain_last=1,
                                           collect_audit=False)
                wall = round(time.monotonic() - t0, 2)
                key = (f"delete_workers={workers}"
                       + (f",delete_latency_ms={latency_ms:g}"
                          if latency_ms else ""))
                out["configs"][key] = {
                    "expire_secs": wall,
                    "deleted_count": rec["deleted_count"],
                    "expired_versions": rec["expired_versions"],
                }
                shutil.rmtree(wh, ignore_errors=True)
    print(json.dumps(out, indent=1))


if __name__ == "__main__":
    main()
