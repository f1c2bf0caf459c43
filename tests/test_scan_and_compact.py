"""End-to-end slice: synthesize CDC aftermath → scan → full compaction.

Invariants (FIXTURES.md §4): sha256(content) multiset equality between
the engine scan and the pandas oracle, before and after maintenance;
compaction reduces file count and clears delete vectors.
"""

import os

import pyspark.sql.functions as F
import pytest

from moonlink_spark import MoonTable
from moonlink_spark.snapshotstore import SnapshotStore
from moonlink_spark.synth import synthesize_cdc_aftermath
from tests.oracle import content_sha_multiset, live_rows_pandas

N_FILES = 40


@pytest.fixture(scope="module")
def aftermath(tmp_path_factory):
    w = str(tmp_path_factory.mktemp("wh"))
    snap = synthesize_cdc_aftermath(
        w, seed=7, n_files=N_FILES, rows_per_file=(50, 200),
        n_repos=10, content_bytes=(64, 512))
    return w, snap


def spark_sha_multiset(df):
    return sorted(
        r["h"] for r in
        df.select(F.sha2(F.col("content"), 256).alias("h")).collect())


def test_v0_scan_matches_oracle(spark, aftermath):
    w, snap = aftermath
    store = SnapshotStore(w)
    table = MoonTable(spark, w)
    oracle = live_rows_pandas(store, 0)
    got = table.scan(0)
    assert got.count() == len(oracle)
    assert spark_sha_multiset(got) == content_sha_multiset(oracle)


def test_v0_has_cdc_debt(aftermath):
    w, _ = aftermath
    entries = SnapshotStore(w).manifest_entries(0)
    assert len(entries) == N_FILES
    assert sum(e["dv_cardinality"] for e in entries) > 0
    # at least one heavily-deleted file (deletion-percentage trigger)
    assert any(e["dv_cardinality"] >= e["rows"] * 0.5 for e in entries
               if e["dv_cardinality"])


def test_full_compaction_preserves_content(spark, aftermath):
    w, _ = aftermath
    table = MoonTable(spark, w)
    store = SnapshotStore(w)
    before = content_sha_multiset(live_rows_pandas(store, 0))

    snap = table.optimize("full")
    assert snap.version == 1

    entries = store.manifest_entries(1)
    assert 0 < len(entries) < N_FILES  # compacted down
    assert all((e["dv_cardinality"] or 0) == 0 for e in entries)  # CoW
    assert all(e["min_repo"] is not None for e in entries)  # stats present

    after_engine = spark_sha_multiset(table.scan(1))
    assert after_engine == before
    # and the oracle agrees when replaying the new snapshot
    assert content_sha_multiset(live_rows_pandas(store, 1)) == before

    m = snap.properties["metrics"]
    assert m["rows_out"] == m["rows_in"] - m["rows_deleted"]


def test_optimize_full_is_idempotent_noop_or_stable(spark, aftermath):
    w, _ = aftermath
    table = MoonTable(spark, w)
    v1 = table.store.current_version()
    before = spark_sha_multiset(table.scan(v1))
    snap = table.optimize("full")  # few files left; may or may not re-bin
    assert spark_sha_multiset(table.scan(snap.version)) == before


def test_distributed_planning_scan_parity(spark, aftermath, monkeypatch):
    """Above the distscan threshold, scan() hands off to distributed
    planning (manifest stays a DataFrame; executors read their own plan
    slices).  Forced on for this small warehouse, the result must be
    bit-identical to the driver-planned path — and the handoff must not
    route through scan_files (proof the collect path was skipped)."""
    from moonlink_spark.operators import distscan
    from moonlink_spark.operators import scan as scan_op

    w, _ = aftermath
    table = MoonTable(spark, w)
    before = spark_sha_multiset(table.scan(0))

    monkeypatch.setattr(distscan, "PLAN_DISTRIBUTED_FILES", 0)

    def _boom(*a, **k):  # pragma: no cover - failure path
        raise AssertionError("driver-collected scan_files was called "
                             "on the distributed planning path")
    monkeypatch.setattr(scan_op, "scan_files", _boom)
    assert spark_sha_multiset(table.scan(0)) == before


def test_dv_split_scan_equals_legacy_single_antijoin(spark, aftermath):
    """scan_files routes only DV-bearing files through the anti-join
    (clean files are read plainly and unioned in); the result is
    identical to the legacy everything-through-the-join shape, and a
    scan declared all-clean plans no join at all."""
    from moonlink_spark.operators import scan as scan_op

    w, _ = aftermath
    store = SnapshotStore(w)
    entries = store.manifest_entries(0)
    dirty = [e for e in entries if e["dv_path"]]
    clean = [e for e in entries if not e["dv_path"]]
    assert dirty and clean  # fixture must exercise both branches

    snap = store.read_snapshot(0)
    kw = dict(schema_ddl=snap.properties.get("schema_ddl"),
              project=snap.schema)
    args = ([e["path"] for e in entries],
            sorted({e["dv_path"] for e in dirty}),
            sum(e["dv_cardinality"] for e in entries))
    split = scan_op.scan_files(
        spark, store, *args,
        dv_files=[e["path"] for e in dirty], **kw)
    legacy = scan_op.scan_files(spark, store, *args, dv_files=None, **kw)
    assert spark_sha_multiset(split) == spark_sha_multiset(legacy)

    clean_only = scan_op.scan_files(
        spark, store, [clean[0]["path"]], [], 0, dv_files=[], **kw)
    plan = clean_only._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan
    assert clean_only.count() == clean[0]["rows"]


def test_fully_deleted_file_skipped_at_planning(spark, tmp_path):
    """A file whose DV covers every row has zero live rows; scan must
    not read it at all (planning-time skip — DVs are exact positional
    deletes, so dv_cardinality == rows is a proof, not a heuristic)."""
    w = str(tmp_path / "wh")
    synthesize_cdc_aftermath(w, seed=31, n_files=6, rows_per_file=(20, 40),
                             n_repos=3, content_bytes=(32, 64))
    table = MoonTable(spark, w)
    target = table.scan(with_location=True).select(
        "_mlfile").distinct().orderBy("_mlfile").limit(1).collect()[0]["_mlfile"]
    victim = (table.scan(with_location=True)
              .filter(F.col("_mlfile") == target)
              .select("repo", "path", "commit", "lang", "content")
              .withColumn("_op", F.lit("delete")))
    before = table.scan().count()
    n_victim = victim.count()
    table.merge(victim, key_columns=["repo", "path", "commit"])

    live = table.scan()
    assert live.count() == before - n_victim
    # the fully-deleted file is absent from the physical scan plan
    read = {os.path.relpath(f.removeprefix("file:"), w)
            for f in live.inputFiles()}
    assert not any(f.endswith(target) for f in read), read
    # and a fresh full scan still matches the row-level oracle
    store = SnapshotStore(w)
    oracle = live_rows_pandas(store, store.current_version())
    assert spark_sha_multiset(live) == content_sha_multiset(oracle)


def test_driver_built_frames_plan_as_local_scans(spark):
    """File lists and empty frames are handed to Spark as Arrow tables:
    a ``LocalTableScan`` starts no Python worker in the jobs that read
    it, where a frame built from Python rows (``Scan ExistingRDD``)
    does in every one."""
    from pyspark.sql.types import StructType

    from moonlink_spark.operators.scan import file_list_df, local_df

    def plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    files = file_list_df(spark, ["data/a.parquet", "data/b.parquet"], "path")
    assert files.dtypes == [("path", "string")]
    assert "LocalTableScan" in plan(files)
    assert sorted(r["path"] for r in files.collect()) == [
        "data/a.parquet", "data/b.parquet"]

    none = file_list_df(spark, [])
    assert none.dtypes == [("_mlfile", "string")]
    assert "LocalTableScan" in plan(none) and none.count() == 0

    ddl = ("a string, b long, c array<long>, d map<string,int>, "
           "e struct<x:int,y:string>, f timestamp, g timestamp_ntz, "
           "h date, i decimal(10,2)")
    empty = local_df(spark, ddl)
    assert empty.schema == StructType.fromDDL(ddl)
    assert "LocalTableScan" in plan(empty) and empty.count() == 0
