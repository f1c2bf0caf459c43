"""Manifest commit-cost microbench: full rewrite vs delta.

Synthesizes a warehouse whose manifest has N entries (no data files —
commit cost is pure metadata work), then measures:

- ``full``  — the pre-segmentation commit shape: stream ALL N entries
  through ``store.commit`` (what every commit used to cost);
- ``delta`` — ``store.commit_delta`` applying a 100-entry update +
  100 added entries (what MERGE/append commits cost now);
- ``reuse`` — ``store.commit_reuse`` (what create_snapshot / rollback /
  schema evolution cost now);
- ``tablewide`` — ``store.commit_delta`` updating the DV pointer of
  EVERY entry (a batch that touches every file), with the process's
  resident set sampled before and at its peak during that commit.

Writes one JSON line with every run; commit as ``MANIFEST_DELTA.json``.
The claim this artifact records: delta/reuse commit cost is flat in
table size, full-commit cost is linear — the reason a 10^12-entry
manifest is commit-able at all — and a table-wide delta costs less
than the full commit it replaces.

Usage: python tools/manifest_delta_bench.py [sizes ...]
"""

from __future__ import annotations

import json
import os
import random
import sys
import tempfile
import threading
import time

import pyarrow as pa

sys.path.insert(0, os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))

from moonlink_spark.snapshotstore import SnapshotStore  # noqa: E402

STATS = ("repo", "path", "commit", "lang")
SCHEMA = ["repo", "path", "commit", "lang", "content", "_pos"]


def entries(n: int):
    for i in range(n):
        yield {
            "path": f"data/s{i % 64:02x}/data-base-{i:012d}.parquet",
            "rows": 1000, "bytes": 4 << 20,
            "dv_path": None, "dv_cardinality": 0,
            "bounds": {"repo": (f"org{i % 97}", f"org{i % 97}"),
                       "path": (f"src/a{i}.rs", f"src/z{i}.rs"),
                       "commit": ("aaaa", "ffff"),
                       "lang": ("rust", "rust")},
        }


def pointers(paths: list[str], dv_path: str, card: int) -> pa.Table:
    return pa.table({"path": paths,
                     "dv_path": pa.repeat(dv_path, len(paths)),
                     "dv_cardinality": pa.repeat(card, len(paths))})


def _rss_mb() -> float:
    with open("/proc/self/statm") as f:
        return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE") / 2**20


def timed_peak_rss(fn) -> tuple[float, float, float]:
    """Seconds ``fn()`` takes, and this process's resident set in MB
    before it and at its peak while it runs (sampled every 5 ms)."""
    before, peak, done = _rss_mb(), [0.0], threading.Event()

    def sample():
        while not done.wait(0.005):
            peak[0] = max(peak[0], _rss_mb())
    th = threading.Thread(target=sample)
    th.start()
    t0 = time.monotonic()
    fn()
    secs = time.monotonic() - t0
    done.set()
    th.join()
    return secs, before, max(peak[0], before, _rss_mb())


def bench(n: int, tmp: str) -> dict:
    store = SnapshotStore(f"{tmp}/wh{n}")
    store.init_warehouse()
    t0 = time.monotonic()
    store.commit(entries(n), schema=SCHEMA,
                 stats_columns=STATS, properties={"flush_lsn": 0})
    t_full = time.monotonic() - t0

    rng = random.Random(7)
    all_paths = sorted(e["path"] for e in entries(n))

    # scattered delta: 100 uniformly random keys — worst case, hits
    # ~min(100, n_segments) segments
    touched = rng.sample(all_paths, min(100, n))
    updated = pointers(touched, "dv/s00/dv-x.parquet", 7)
    added = [dict(e, path=e["path"].replace("base", "newf"))
             for e in list(entries(100))]
    t0 = time.monotonic()
    store.commit_delta(0, added=added, updated=updated, schema=SCHEMA,
                       stats_columns=STATS,
                       properties={"flush_lsn": 1}, expected_parent=0)
    t_scatter = time.monotonic() - t0

    # key-local delta: 100 path-contiguous keys (the z-ordered CDC
    # batch shape) — hits exactly one segment regardless of table size
    mid = n // 2
    local = all_paths[mid:mid + 100]
    t0 = time.monotonic()
    store.commit_delta(1, updated=pointers(local, "dv/s00/dv-y.parquet", 3),
                       schema=SCHEMA, stats_columns=STATS,
                       properties={"flush_lsn": 2}, expected_parent=1)
    t_local = time.monotonic() - t0

    t0 = time.monotonic()
    store.commit_reuse(2, schema=SCHEMA,
                       properties={"flush_lsn": 3}, expected_parent=2)
    t_reuse = time.monotonic() - t0
    segs = len(store.manifest_segments(2))

    # table-wide delta: every entry's DV pointer moves
    every = pointers(sorted(all_paths + [e["path"] for e in added]),
                     "dv/s00/dv-z.parquet", 5)
    del all_paths, touched, added
    t_wide, rss_before, rss_peak = timed_peak_rss(
        lambda: store.commit_delta(3, updated=every, schema=SCHEMA,
                                   stats_columns=STATS,
                                   properties={"flush_lsn": 4},
                                   expected_parent=3))
    return {"entries": n, "full_commit_s": round(t_full, 3),
            "delta_scattered_s": round(t_scatter, 3),
            "delta_keylocal_s": round(t_local, 3),
            "reuse_commit_s": round(t_reuse, 4),
            "segments_after_deltas": segs,
            "delta_tablewide_s": round(t_wide, 3),
            "tablewide_rss_before_mb": round(rss_before),
            "tablewide_peak_rss_mb": round(rss_peak)}


def main():
    # a size given k times is measured k times, each in a fresh warehouse
    rows = []
    for n in [int(s) for s in sys.argv[1:]] or [10_000, 100_000, 1_000_000]:
        with tempfile.TemporaryDirectory() as tmp:
            rows.append(bench(n, tmp))
    out = {"metric": "manifest_commit_seconds",
           "nproc": len(os.sched_getaffinity(0)),
           "delta_shape": ("scattered: 100 random updates + 100 adds; "
                           "keylocal: 100 contiguous updates; "
                           "tablewide: every entry updated"),
           "rows": rows}
    print(json.dumps(out))


if __name__ == "__main__":
    main()
