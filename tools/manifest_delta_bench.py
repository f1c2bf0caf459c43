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
  resident set sampled before and at its peak during that commit;
- ``point_loop`` — 60 point commits on a 20-entry base, each updating
  the DV pointers of the first 10 live paths and adding 3 entries whose
  paths spread over the shard prefixes (the ingest-merge shape): the
  manifest segments the loop reads and writes, its median commit time,
  and a sha256 of the decoded final manifest rows (equal across code
  versions that commit the same content).

Writes one JSON line with every run; commit as ``MANIFEST_DELTA.json``.
The claim this artifact records: delta/reuse commit cost is flat in
table size, full-commit cost is linear — the reason a 10^12-entry
manifest is commit-able at all — and a table-wide delta costs less
than the full commit it replaces.

Usage: python tools/manifest_delta_bench.py [sizes ...]
"""

from __future__ import annotations

import contextlib
import hashlib
import json
import os
import random
import re
import statistics
import sys
import tempfile
import threading
import time
import zlib

import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))

from moonlink_spark.fs import PosixFileSystem  # noqa: E402
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


_SEGMENT = re.compile(r"manifest-v\d+(-p\d+)?\.parquet$")


class _SegmentWrites(PosixFileSystem):
    """Counts manifest-segment writes: the rename that publishes one."""

    writes = 0

    def rename(self, src, dst):
        self.writes += bool(_SEGMENT.search(dst))
        super().rename(src, dst)


@contextlib.contextmanager
def _segment_reads(counter: dict):
    """Count segment opens through ``pq.read_table`` / ``pq.ParquetFile``
    (the names ``snapshotstore`` calls) in ``counter["reads"]``."""
    saved = pq.read_table, pq.ParquetFile

    def counted(fn):
        def wrap(path, *a, **k):
            counter["reads"] += bool(_SEGMENT.search(str(path)))
            return fn(path, *a, **k)
        return wrap
    pq.read_table, pq.ParquetFile = map(counted, saved)
    try:
        yield
    finally:
        pq.read_table, pq.ParquetFile = saved


def point_loop(tmp: str, commits: int = 60) -> dict:
    """The ingest-merge commit shape repeated: see ``point_loop`` in the
    module docstring."""
    fs, reads = _SegmentWrites(), {"reads": 0}
    store = SnapshotStore(f"{tmp}/loop", fs)
    store.init_warehouse()
    store.commit(entries(20), schema=SCHEMA, stats_columns=STATS,
                 properties={"flush_lsn": 0})
    live = sorted(e["path"] for e in entries(20))
    secs = []
    fs.writes = 0
    with _segment_reads(reads):
        for c in range(commits):
            names = [f"data-c{c:03d}-{j}.parquet" for j in range(3)]
            added = [dict(e, path=f"data/s{zlib.crc32(n.encode()) % 64:02x}"
                                  f"/{n}")
                     for e, n in zip(entries(3), names)]
            t0 = time.monotonic()
            store.commit_delta(
                c, added=added,
                updated=pointers(live[:10], f"dv/s00/dv-c{c:03d}.parquet",
                                 c + 1),
                schema=SCHEMA, stats_columns=STATS,
                properties={"flush_lsn": c + 1}, expected_parent=c)
            secs.append(time.monotonic() - t0)
            live = sorted(live + [e["path"] for e in added])
    rows = store.manifest_entries(commits)
    return {"commits": commits, "segment_reads": reads["reads"],
            "segment_writes": fs.writes,
            "segments_after": len(store.manifest_segments(commits)),
            "median_commit_s": round(statistics.median(secs), 4),
            "manifest_sha256": hashlib.sha256(json.dumps(
                rows, sort_keys=True, default=str).encode()).hexdigest()}


def _sha256_probe_s(mb: int = 256) -> float:
    """Host CPU probe: seconds to sha256 ``mb`` MiB in one thread."""
    data = b"\x5a" * (1 << 20)
    h = hashlib.sha256()
    t0 = time.monotonic()
    for _ in range(mb):
        h.update(data)
    return round(time.monotonic() - t0, 3)


def main():
    # a size given k times is measured k times, each in a fresh warehouse
    rows, loops = [], []
    for n in [int(s) for s in sys.argv[1:]] or [10_000, 100_000, 1_000_000]:
        with tempfile.TemporaryDirectory() as tmp:
            rows.append(bench(n, tmp))
    for _ in range(3):
        with tempfile.TemporaryDirectory() as tmp:
            loops.append(point_loop(tmp))
    out = {"metric": "manifest_commit_seconds",
           "nproc": len(os.sched_getaffinity(0)),
           "sha256_probe_s": _sha256_probe_s(),
           "delta_shape": ("scattered: 100 random updates + 100 adds; "
                           "keylocal: 100 contiguous updates; "
                           "tablewide: every entry updated; point_loop: "
                           "60 commits of 10 updates of the first live "
                           "paths + 3 adds on a 20-entry base"),
           "rows": rows, "point_loop": loops}
    print(json.dumps(out))


if __name__ == "__main__":
    main()
