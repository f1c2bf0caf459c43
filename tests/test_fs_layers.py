"""Accessor stack layers over the fs seam: chaos injection and retry
(``tests/fs_faults.py``) — the analogues of the reference accessor's
chaos wrapper / RetryConfig (``storage/filesystem/accessor_config.rs``,
``filesystem_accessor_chaos_wrapper.rs``)."""

import inspect

import pytest
from pyspark import cloudpickle

from moonlink_spark import fs as fs_mod
from moonlink_spark.fs import PosixFileSystem
from tests.fs_faults import (ChaosFileSystem, RetryingFileSystem,
                             TransientIOError)


def test_every_accessor_round_trips_through_cloudpickle(tmp_path):
    """The seam contract: ``expire.list_files_df`` ships ``store.fs`` to
    executors, so every accessor class in ``fs.py`` must pickle (no
    locks, handles or caches) and still work on the other side."""
    accessors = [c for _, c in inspect.getmembers(fs_mod, inspect.isclass)
                 if c.__module__ == fs_mod.__name__
                 and not issubclass(c, BaseException)]
    assert PosixFileSystem in accessors
    for cls in accessors:
        fs = cloudpickle.loads(cloudpickle.dumps(cls()))
        assert type(fs) is cls
        p = str(tmp_path / cls.__name__)
        fs.write_atomic(p, b"payload")
        fs.rename(p, p + ".moved")
        assert fs.read_bytes(p + ".moved") == b"payload"
        assert fs.list(str(tmp_path)).count(cls.__name__ + ".moved") == 1


def test_chaos_is_deterministic_and_pre_delegation(tmp_path):
    p = str(tmp_path / "a")
    PosixFileSystem().write_atomic(p, b"v")

    def run(seed):
        fs = ChaosFileSystem(PosixFileSystem(), error_rate=0.5,
                             seed=seed)
        outcomes = []
        for _ in range(20):
            try:
                fs.read_bytes(p)
                outcomes.append("ok")
            except TransientIOError:
                outcomes.append("fault")
        return outcomes, fs.faults_injected

    o1, n1 = run(7)
    o2, n2 = run(7)
    assert (o1, n1) == (o2, n2) and "fault" in o1 and "ok" in o1
    # faults fire BEFORE delegation: a faulted write leaves no file
    fs = ChaosFileSystem(PosixFileSystem(), error_rate=1.0, seed=1)
    q = str(tmp_path / "never")
    with pytest.raises(TransientIOError):
        fs.write_atomic(q, b"x")
    assert not PosixFileSystem().exists(q)


def test_retry_masks_transient_faults(tmp_path):
    chaos = ChaosFileSystem(PosixFileSystem(), error_rate=0.5, seed=3)
    fs = RetryingFileSystem(chaos, retries=6, backoff_s=0.001)
    p = str(tmp_path / "r")
    for i in range(30):  # every op eventually succeeds
        fs.write_atomic(p, f"v{i}".encode())
        assert fs.read_bytes(p) == f"v{i}".encode()
    assert fs.retries_used > 0

    # exhaustion propagates
    always = RetryingFileSystem(
        ChaosFileSystem(PosixFileSystem(), error_rate=1.0, seed=4),
        retries=2, backoff_s=0.001)
    with pytest.raises(TransientIOError):
        always.read_bytes(p)


def test_full_stack_engine_lifecycle_under_chaos(spark, tmp_path):
    """The reference's chaos-wrapper proof: the engine completes a full
    synthesize/scan/optimize/rescan cycle with transient faults firing
    across the accessor, as long as a retry layer absorbs them —
    content identical to a clean run."""
    from pyspark.sql import functions as F

    from moonlink_spark.engine import MoonTable
    from moonlink_spark.snapshotstore import SnapshotStore
    from moonlink_spark.synth import synthesize_cdc_aftermath

    chaos = ChaosFileSystem(PosixFileSystem(), error_rate=0.05, seed=13)
    fs = RetryingFileSystem(chaos, retries=8, backoff_s=0.001)
    w = str(tmp_path / "wh")
    store = SnapshotStore(w, fs)
    synthesize_cdc_aftermath(w, seed=41, n_files=10,
                             rows_per_file=(30, 60), n_repos=3,
                             content_bytes=(32, 64), store=store)
    t = MoonTable(spark, w, store=SnapshotStore(w, fs))

    def sha(df):
        return sorted(r["h"] for r in
                      df.select(F.sha2("content", 256).alias("h"))
                      .collect())

    before = sha(t.scan(0))
    snap = t.optimize("full")
    assert sha(t.scan(snap.version)) == before
    assert chaos.faults_injected > 0     # the run really was attacked
    assert fs.retries_used > 0


def test_data_plane_reads_bypass_fs_seam(spark, tmp_path):
    """States the executor-cache delegation boundary as a test: the fs
    seam (and therefore any layer wrapped around it, such as the
    chaos/retry layers) is the METADATA/CONTROL plane only — across a
    full scan → optimize(full) → scan lifecycle, no data file or DV
    sidecar payload is ever read through ``fs.read_bytes``.  Data-plane
    bytes move through Spark's parquet source and executor-side pyarrow
    (`mapInArrow`), whose caching at 100 TB is the cluster's own
    executor-local NVMe — the reference's object-storage cache
    (`storage/cache/object_storage/*`) maps to that layer, not to the
    driver seam."""
    from moonlink_spark.engine import MoonTable
    from moonlink_spark.snapshotstore import SnapshotStore
    from moonlink_spark.synth import synthesize_cdc_aftermath

    w = str(tmp_path / "wh-seam")
    synthesize_cdc_aftermath(w, seed=19, n_files=12,
                             rows_per_file=(30, 80), n_repos=4,
                             content_bytes=(32, 64))
    calls = []

    class Recording(PosixFileSystem):
        def read_bytes(self, path):
            calls.append(path)
            return super().read_bytes(path)

    store = SnapshotStore(w, Recording())
    t = MoonTable(spark, w, store=store)
    n0 = t.scan().count()
    t.optimize("full")
    assert t.scan(t.current_version()).count() == n0

    assert calls, "metadata reads must go through the seam"
    plane = [p for p in calls
             if f"/{w.split('/')[-1]}/data/" in p or "/dv/" in p]
    assert plane == [], f"data-plane bytes crossed the fs seam: " \
                        f"{plane[:3]}"
