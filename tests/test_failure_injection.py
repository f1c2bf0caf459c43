"""Failure injection on the filesystem accessor seam.

The reference wraps its filesystem accessor in a chaos layer that
injects errors into individual operations
(``storage/filesystem/accessor/filesystem_accessor_chaos_wrapper.rs``,
``table_handler/failure_tests.rs``) and asserts the engine either
completes or leaves recoverable state.  Here: a FlakyFileSystem fails
the Nth call of a chosen operation; invariants after a failed
mutation —

- the published version is UNCHANGED (the CAS hint is the only commit
  point; partial artifacts are invisible);
- a pinned reader still scans the old version correctly;
- a retry of the same operation succeeds and produces the right rows;
- orphaned partial artifacts are collected by expire, never by readers.
"""

import pytest
from pyspark.sql import functions as F

from moonlink_spark.config import CompactionConfig, TableConfig
from moonlink_spark.engine import MoonTable
from moonlink_spark.fs import LocalObjectStoreFileSystem, PosixFileSystem
from moonlink_spark.operators import merge as merge_op
from moonlink_spark.snapshotstore import SnapshotStore
from moonlink_spark.synth import synthesize_cdc_aftermath

KEYS = ["repo", "path", "commit"]
CFG = TableConfig(compaction=CompactionConfig(
    target_file_bytes=48 << 10, bin_target_bytes=128 << 10,
    bin_concurrency=2))


class InjectedFault(IOError):
    pass


class FlakyMixin:
    """Fails the Nth invocation of one operation, then behaves.
    Mixed over either accessor implementation: the invariants under
    test are properties of the SEAM (fs.py contract), so the whole
    suite runs against posix AND object-store semantics."""

    def __init__(self, op: str, fail_at: int = 1):
        self.op = op
        self.fail_at = fail_at
        self.calls = 0

    def _maybe_fail(self, name):
        if name == self.op:
            self.calls += 1
            if self.calls == self.fail_at:
                raise InjectedFault(f"injected: {name} #{self.calls}")

    def write_atomic(self, path, data):
        self._maybe_fail("write_atomic")
        super().write_atomic(path, data)

    def rename(self, src, dst):
        self._maybe_fail("rename")
        super().rename(src, dst)

    def publish_cas(self, path, data, expected):
        self._maybe_fail("publish_cas")
        return super().publish_cas(path, data, expected)

    def create_exclusive(self, path, data):
        self._maybe_fail("create_exclusive")
        return super().create_exclusive(path, data)


class FlakyPosix(FlakyMixin, PosixFileSystem):
    pass


class FlakyObjectStore(FlakyMixin, LocalObjectStoreFileSystem):
    pass


@pytest.fixture(params=[FlakyPosix, FlakyObjectStore],
                ids=["posix", "objectstore"])
def flaky_cls(request):
    return request.param


@pytest.fixture()
def wh(spark, tmp_path):
    w = str(tmp_path / "wh")
    synthesize_cdc_aftermath(w, seed=21, n_files=8, rows_per_file=(20, 50),
                             n_repos=4, content_bytes=(48, 96))
    return w


def sha_set(t, version=None):
    return sorted(r["h"] for r in t.scan(version).selectExpr(
        "sha2(content, 256) as h").collect())


def del_batch(t, n=3):
    live = t.scan().select(*KEYS, "lang", "content")
    return (live.orderBy(*KEYS).limit(n)
            .withColumn("_op", F.lit("delete")))


@pytest.mark.parametrize("op", ["write_atomic", "rename", "publish_cas",
                                "create_exclusive"])
def test_merge_failure_leaves_table_intact_and_retryable(spark, wh, op,
                                                         flaky_cls):
    t = MoonTable(spark, wh, CFG)
    v0 = t.current_version()
    before = sha_set(t)
    batch = del_batch(t, 3).cache()
    batch.count()

    flaky = MoonTable(spark, wh, CFG)
    flaky.store = SnapshotStore(wh, flaky_cls(op))
    with pytest.raises(InjectedFault):
        flaky.merge(batch, key_columns=KEYS, job_tag="flaky")

    # published state untouched; reader unaffected; and the commit
    # lock was released on the way out (a leaked lease would stall
    # every later committer until the TTL)
    assert t.current_version() == v0
    assert sha_set(t) == before
    import os

    from moonlink_spark.snapshotstore import COMMIT_LOCK
    assert not os.path.exists(
        os.path.join(t.store.snapshot_dir, COMMIT_LOCK))

    # retry on a healthy fs succeeds with correct content
    snap = t.merge(batch, key_columns=KEYS, job_tag="retry")
    assert snap.version == v0 + 1
    assert len(sha_set(t, snap.version)) == len(before) - 3
    batch.unpersist()


def test_optimize_commit_failure_then_resume(spark, wh, flaky_cls,
                                            spark_rewrite):
    t = MoonTable(spark, wh, CFG)
    v0 = t.current_version()
    want = sha_set(t)

    flaky = MoonTable(spark, wh, CFG)
    flaky.store = SnapshotStore(wh, flaky_cls("publish_cas"))
    with pytest.raises(InjectedFault):
        flaky.optimize("full")
    assert t.current_version() == v0

    # rerun resumes from lineage (same job id) and commits
    snap = t.optimize("full")
    assert snap.version == v0 + 1
    assert sha_set(t, snap.version) == want
    ents = SnapshotStore(wh).manifest_entries(snap.version)
    assert all((e["dv_cardinality"] or 0) == 0 for e in ents)


def test_orphans_from_failed_merge_are_expired(spark, wh, flaky_cls):
    t = MoonTable(spark, wh, CFG)
    flaky = MoonTable(spark, wh, CFG)
    # fail the hint publish: DV sidecars are already renamed into dv/
    # at that point -> orphans referenced by no manifest
    flaky.store = SnapshotStore(wh, flaky_cls("publish_cas"))
    batch = del_batch(t, 3).cache()
    batch.count()
    with pytest.raises(InjectedFault):
        flaky.merge(batch, key_columns=KEYS, job_tag="orph")
    before = sha_set(t)
    t.create_snapshot()
    out = t.expire_snapshots(retain_last=1,
                             clean_tmp_older_than_seconds=0)
    assert out["deleted_files"]  # the orphaned artifacts went away
    assert sha_set(t) == before
    batch.unpersist()


@pytest.fixture()
def spark_write_path(monkeypatch):
    """A driver budget no batch fits: every merge takes the Spark DV
    and ingest write instead of the driver one."""
    monkeypatch.setattr(merge_op, "driver_budget", lambda spark: -1)


@pytest.mark.parametrize("op", ["write_atomic", "rename", "publish_cas",
                                "create_exclusive"])
def test_spark_path_merge_failure_leaves_table_intact_and_retryable(
        spark, wh, op, flaky_cls, spark_write_path):
    test_merge_failure_leaves_table_intact_and_retryable(spark, wh, op,
                                                         flaky_cls)


def test_spark_path_orphans_from_failed_merge_are_expired(
        spark, wh, flaky_cls, spark_write_path):
    test_orphans_from_failed_merge_are_expired(spark, wh, flaky_cls)


def test_objectstore_rename_crash_leaves_published_state_intact(spark, wh):
    """Object stores have no atomic rename (copy + delete).  A crash
    BETWEEN the copy and the delete must not corrupt the table: renames
    touch only never-published temp objects, and only the CAS hint
    publish makes state visible (fs.py contract;
    ``file_catalog.rs:640-665``)."""
    t = MoonTable(spark, wh, CFG)
    v0 = t.current_version()
    before = sha_set(t)
    batch = del_batch(t, 2).cache()
    batch.count()

    crashy_fs = LocalObjectStoreFileSystem()
    crashy_fs.crash_after_copy = True
    crashy = MoonTable(spark, wh, CFG)
    crashy.store = SnapshotStore(wh, crashy_fs)
    with pytest.raises(IOError):
        crashy.merge(batch, key_columns=KEYS, job_tag="crashcopy")

    # published state untouched by the half-renamed temp objects
    assert t.current_version() == v0
    assert sha_set(t) == before

    # retry on a healthy object-store fs succeeds end-to-end
    healthy = MoonTable(spark, wh, CFG)
    healthy.store = SnapshotStore(wh, LocalObjectStoreFileSystem())
    snap = healthy.merge(batch, key_columns=KEYS, job_tag="retry-os")
    assert snap.version == v0 + 1
    assert len(sha_set(healthy, snap.version)) == len(before) - 2

    # the stranded copy-side artifacts are invisible orphans; expire
    # collects them without touching live state
    after = sha_set(healthy)
    healthy.create_snapshot()
    out = healthy.expire_snapshots(retain_last=1,
                                   clean_tmp_older_than_seconds=0)
    assert sha_set(healthy) == after
    batch.unpersist()


def test_full_lifecycle_on_objectstore_fs(spark, tmp_path):
    """The whole maintenance lifecycle driven through the object-store
    accessor: synth → optimize(full) → merge → expire, sha-equal."""
    w = str(tmp_path / "oswh")
    synthesize_cdc_aftermath(w, seed=29, n_files=8,
                             rows_per_file=(20, 50), n_repos=4,
                             content_bytes=(48, 96))
    t = MoonTable(spark, w, CFG)
    t.store = SnapshotStore(w, LocalObjectStoreFileSystem())
    before = sha_set(t)
    snap = t.optimize("full")
    assert sha_set(t, snap.version) == before
    batch = del_batch(t, 2).cache()
    batch.count()
    t.merge(batch, key_columns=KEYS)
    assert len(sha_set(t)) == len(before) - 2
    out = t.expire_snapshots(retain_last=1,
                             clean_tmp_older_than_seconds=0)
    assert out["deleted_count"] > 0
    assert len(sha_set(t)) == len(before) - 2
    batch.unpersist()
