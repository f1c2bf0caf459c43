"""Compaction state-matrix port (reference: compaction_tests.rs:318-1211).

The reference enumerates {DV presence} x {rows left} x {persistence
state}; persistence states collapse in our batch engine (every input is
persisted), so the matrix here is {no DV / partial DV / full DV} x
{single file / many files} x {policy triggers}, each verified by
rebuilding the table from disk with a second MoonTable instance (the
analogue of reloading via a second IcebergTableManager,
compaction_tests.rs:318-376).

Uses the reference's canonical users fixture: ID=[1,2,3,4],
NAME=[a,b,c,d], AGE=[10,20,30,40] (compaction_tests.rs:47-49).
"""

import os

import pytest

from moonlink_spark.config import CompactionConfig, TableConfig
from moonlink_spark.engine import MoonTable
from moonlink_spark.snapshotstore import SnapshotStore
from moonlink_spark.synth import (
    USERS_SCHEMA,
    write_users_dv,
    write_users_file,
)

@pytest.fixture(autouse=True)
def _spark_rewrite(spark_rewrite):
    """These cases pin the Spark rewrite (the driver rewrite has its
    own, in test_driver_rewrite.py)."""


USERS_CONFIG = TableConfig(
    zorder_columns=("id",),
    stats_columns=("name",),
    compaction=CompactionConfig(
        min_files_to_compact=2, max_files_to_compact=32,
        target_file_bytes=1 << 20, deletion_trigger_fraction=0.5,
        bin_target_bytes=1 << 22, bin_concurrency=2),
)


def make_users_table(warehouse, files, dvs=None):
    """files: list of (ids, names, ages); dvs: {file_idx: positions}."""
    store = SnapshotStore(warehouse)
    store.init_warehouse()
    entries = []
    for i, (ids, names, ages) in enumerate(files):
        e = write_users_file(store, i, ids, names, ages)
        e["bounds"] = {"name": (min(names), max(names))}
        entries.append(e)
    if dvs:
        deletes = {entries[i]["path"]: (pos, entries[i]["rows"])
                   for i, pos in dvs.items()}
        dv_path = write_users_dv(store, 0, deletes)
        for i, pos in dvs.items():
            entries[i]["dv_path"] = dv_path
            entries[i]["dv_cardinality"] = len(pos)
    return store.commit(entries, schema=USERS_SCHEMA,
                        stats_columns=("name",),
                        properties={"flush_lsn": 1}, expected_parent=None)


CANON = ([1, 2, 3, 4], ["a", "b", "c", "d"], [10, 20, 30, 40])


def surviving_ids(table, version=None):
    return sorted(r["id"] for r in
                  table.scan(version).select("id").collect())


def test_no_dv_two_files_merge_to_one(spark, warehouse):
    make_users_table(warehouse, [CANON, ([5, 6], ["e", "f"], [50, 60])])
    t = MoonTable(spark, warehouse, USERS_CONFIG)
    snap = t.optimize("full")
    entries = SnapshotStore(warehouse).manifest_entries(snap.version)
    assert len(entries) == 1
    assert surviving_ids(t, snap.version) == [1, 2, 3, 4, 5, 6]
    # reload through a second table instance (fresh metadata read)
    t2 = MoonTable(spark, warehouse, USERS_CONFIG)
    assert surviving_ids(t2) == [1, 2, 3, 4, 5, 6]


def test_partial_dv_rows_dropped(spark, warehouse):
    # delete positions 1,3 (ids 2 and 4) — the reference's DV fixture
    # shape (delete_vector.rs:185-220: rows {1,3} of 5 -> A,C,E)
    make_users_table(warehouse, [CANON], dvs={0: [1, 3]})
    t = MoonTable(spark, warehouse, USERS_CONFIG)
    assert surviving_ids(t, 0) == [1, 3]  # scan applies DV pre-compaction
    snap = t.optimize("full")
    assert surviving_ids(t, snap.version) == [1, 3]
    entries = SnapshotStore(warehouse).manifest_entries(snap.version)
    assert len(entries) == 1 and entries[0]["dv_cardinality"] == 0


def test_fully_deleted_file_disappears(spark, warehouse):
    make_users_table(
        warehouse,
        [CANON, ([9, 10], ["x", "y"], [90, 100])],
        dvs={1: [0, 1]})  # second file 100% deleted
    t = MoonTable(spark, warehouse, USERS_CONFIG)
    snap = t.optimize("full")
    assert surviving_ids(t, snap.version) == [1, 2, 3, 4]
    entries = SnapshotStore(warehouse).manifest_entries(snap.version)
    assert len(entries) == 1


def test_everything_deleted_empty_table(spark, warehouse):
    make_users_table(warehouse, [CANON], dvs={0: [0, 1, 2, 3]})
    t = MoonTable(spark, warehouse, USERS_CONFIG)
    snap = t.optimize("full")
    assert surviving_ids(t, snap.version) == []
    # zero-row outputs are dropped (compactor.rs:412-430 analogue)
    assert SnapshotStore(warehouse).manifest_entries(snap.version) == []


def test_data_mode_respects_min_files(spark, warehouse):
    """Fewer than min_files_to_compact candidates -> Nothing."""
    cfg = TableConfig(
        zorder_columns=("id",), stats_columns=("name",),
        compaction=CompactionConfig(min_files_to_compact=16))
    make_users_table(warehouse, [CANON, CANON, CANON])
    t = MoonTable(spark, warehouse, cfg)
    snap = t.optimize("data")
    assert snap.version == 0  # unchanged


def test_data_mode_deletion_trigger(spark, warehouse):
    """A big file below no size threshold still compacts when >=50%
    deleted (compaction_config.rs:53-54)."""
    cfg = TableConfig(
        zorder_columns=("id",), stats_columns=("name",),
        compaction=CompactionConfig(
            min_files_to_compact=1, max_files_to_compact=32,
            target_file_bytes=1,  # nothing qualifies by size
            deletion_trigger_fraction=0.5))
    make_users_table(warehouse, [CANON, CANON], dvs={0: [0, 1, 2]})
    t = MoonTable(spark, warehouse, cfg)
    snap = t.optimize("data")
    entries = SnapshotStore(warehouse).manifest_entries(snap.version)
    # file 0 (75% deleted) compacted; file 1 untouched
    assert len(entries) == 2
    assert sorted(surviving_ids(t, snap.version)) == [1, 2, 3, 4, 4]


def test_compaction_after_index_merge(spark, warehouse):
    """Reference matrix axis 'file indices merged' (compaction_tests.rs
    cases *_*_2 / fileindex merge states): consolidate DV sidecars via
    optimize('index') FIRST, then compact — the fold must read the
    merged sidecars and produce the same survivors as compacting the
    un-merged layout."""
    files = [([i * 10 + 1, i * 10 + 2], [f"a{i}", f"b{i}"], [10, 20])
             for i in range(20)]
    store = SnapshotStore(warehouse)
    store.init_warehouse()
    entries = []
    for i, (ids, names, ages) in enumerate(files):
        e = write_users_file(store, i, ids, names, ages)
        e["bounds"] = {"name": (min(names), max(names))}
        # one tiny sidecar per file (the un-merged 1-1 layout,
        # compaction_tests.rs axis (1)) deleting position 0
        dv = write_users_dv(store, i, {e["path"]: ([0], e["rows"])})
        e["dv_path"], e["dv_cardinality"] = dv, 1
        entries.append(e)
    store.commit(entries, schema=USERS_SCHEMA, stats_columns=("name",),
                 properties={"flush_lsn": 1}, expected_parent=None)
    t = MoonTable(spark, warehouse, USERS_CONFIG)
    expect = sorted(i * 10 + 2 for i in range(20))  # pos 0 deleted

    s_idx = t.optimize("index")   # >=16 sidecars -> consolidation runs
    assert s_idx.properties["operation"] == "optimize-index"
    assert surviving_ids(t, s_idx.version) == expect

    s_full = t.optimize("full")
    assert surviving_ids(t, s_full.version) == expect
    ents = SnapshotStore(warehouse).manifest_entries(s_full.version)
    assert all((e["dv_cardinality"] or 0) == 0 for e in ents)
    # reload via a second manager (compaction_tests.rs:318-376 shape)
    assert surviving_ids(MoonTable(spark, warehouse, USERS_CONFIG)) \
        == expect


def test_compaction_2_2_persisted_dv_plus_new_deletes(spark, warehouse):
    """Reference case family 2_2: a file already carries a persisted DV
    when MORE deletes arrive (committed via MERGE, producing a superset
    sidecar — sync_deletion_vector merge semantics); the following
    compaction folds the union of both delete generations."""
    make_users_table(warehouse, [CANON], dvs={0: [1]})  # id 2 deleted
    t = MoonTable(spark, warehouse, USERS_CONFIG)
    ch = spark.createDataFrame([(4, None, None, "delete")],
                               "id int, name string, age int, _op string")
    s_m = t.merge(ch, key_columns=["id"])
    assert surviving_ids(t, s_m.version) == [1, 3]
    s_c = t.optimize("full")
    assert surviving_ids(t, s_c.version) == [1, 3]
    ents = SnapshotStore(warehouse).manifest_entries(s_c.version)
    assert len(ents) == 1 and (ents[0]["dv_cardinality"] or 0) == 0
    assert surviving_ids(MoonTable(spark, warehouse, USERS_CONFIG)) \
        == [1, 3]


def test_compaction_2_3_mixed_partial_and_full(spark, warehouse):
    """Reference case family 2_3: one input file has rows left after its
    DV, another has none — compaction emits only survivors and the
    fully-deleted file contributes nothing (rows_out sanity holds across
    the mix; DVs live in separate sidecars like distinct puffin blobs)."""
    store = SnapshotStore(warehouse)
    store.init_warehouse()
    e0 = write_users_file(store, 0, [1, 2, 3, 4],
                          ["a", "b", "c", "d"], [10, 20, 30, 40])
    e0["bounds"] = {"name": ("a", "d")}
    e1 = write_users_file(store, 1, [9, 10], ["x", "y"], [90, 100])
    e1["bounds"] = {"name": ("x", "y")}
    dv0 = write_users_dv(store, 0, {e0["path"]: ([0, 2], e0["rows"])})
    dv1 = write_users_dv(store, 1, {e1["path"]: ([0, 1], e1["rows"])})
    e0["dv_path"], e0["dv_cardinality"] = dv0, 2
    e1["dv_path"], e1["dv_cardinality"] = dv1, 2
    store.commit([e0, e1], schema=USERS_SCHEMA, stats_columns=("name",),
                 properties={"flush_lsn": 1}, expected_parent=None)
    t = MoonTable(spark, warehouse, USERS_CONFIG)
    snap = t.optimize("full")
    assert surviving_ids(t, snap.version) == [2, 4]
    m = snap.properties["metrics"]
    assert m["rows_out"] == m["rows_in"] - m["rows_deleted"] == 2
    assert len(SnapshotStore(warehouse).manifest_entries(snap.version)) == 1


def test_max_files_cap_smallest_first(spark, warehouse):
    """One data op takes at most max_files_to_compact candidates,
    smallest files first (snapshot_maintenance.rs:115-118)."""
    big = (list(range(100, 160)), [f"n{i}" for i in range(60)],
           list(range(60)))
    files = [CANON, CANON, big]
    cfg = TableConfig(
        zorder_columns=("id",), stats_columns=("name",),
        compaction=CompactionConfig(
            min_files_to_compact=2, max_files_to_compact=2,
            target_file_bytes=1 << 20, deletion_trigger_fraction=0.5))
    make_users_table(warehouse, files)
    t = MoonTable(spark, warehouse, cfg)
    snap = t.optimize("data")
    entries = SnapshotStore(warehouse).manifest_entries(snap.version)
    # the two small CANON files merged; big file left as-is
    assert len(entries) == 2
    rows = sorted(e["rows"] for e in entries)
    assert rows == [8, 60]


def test_compaction_3_2_multi_commit_deletes_same_files(spark, warehouse):
    """Reference case 3_2_1 (compaction_tests.rs:1050-1144): deletions
    arrive over SEVERAL separate commits — two commits deleting from the
    first file, two more from the second — each producing a new superset
    DV generation; the compaction folds the union of all generations.
    Verified by reloading with a second MoonTable (the second
    IcebergTableManager reload of the reference)."""
    make_users_table(warehouse, [CANON,
                                 ([9, 10], ["x", "y"], [90, 100])])
    t = MoonTable(spark, warehouse, USERS_CONFIG)

    def dels(*ids):
        return spark.createDataFrame(
            [(i, None, None, "delete") for i in ids],
            "id int, name string, age int, _op string")

    t.merge(dels(1), key_columns=["id"])          # file0 gen-1
    t.merge(dels(2), key_columns=["id"])          # file0 gen-2 superset
    t.merge(dels(9), key_columns=["id"])          # file1 gen-1
    t.merge(dels(10), key_columns=["id"])         # file1 gen-2
    assert surviving_ids(t) == [3, 4]
    snap = t.optimize("full")
    m = snap.properties["metrics"]
    assert m["rows_out"] == m["rows_in"] - m["rows_deleted"] == 2
    ents = SnapshotStore(warehouse).manifest_entries(snap.version)
    assert len(ents) == 1 and (ents[0]["dv_cardinality"] or 0) == 0
    assert surviving_ids(MoonTable(spark, warehouse, USERS_CONFIG)) \
        == [3, 4]


def test_compaction_3_3_delete_compact_delete_compact(spark, warehouse):
    """Reference case 3_3_1 (compaction_tests.rs:1146-1211): deletion
    generations separated by a full persistence cycle — delete, compact
    (folds gen-1), delete from the COMPACTED output, compact again.
    The second cycle's DV references the first cycle's output file, and
    both folds preserve the survivors exactly."""
    make_users_table(warehouse, [CANON,
                                 ([9, 10], ["x", "y"], [90, 100])])
    t = MoonTable(spark, warehouse, USERS_CONFIG)

    def dels(*ids):
        return spark.createDataFrame(
            [(i, None, None, "delete") for i in ids],
            "id int, name string, age int, _op string")

    t.merge(dels(1, 9), key_columns=["id"])
    s1 = t.optimize("full")
    assert surviving_ids(t, s1.version) == [2, 3, 4, 10]

    t.merge(dels(3, 10), key_columns=["id"])
    ents = SnapshotStore(warehouse).manifest_entries()
    # gen-2 DV references the compacted output of cycle 1
    assert any((e["dv_cardinality"] or 0) > 0 for e in ents)
    s2 = t.optimize("full")
    assert surviving_ids(t, s2.version) == [2, 4]
    assert surviving_ids(MoonTable(spark, warehouse, USERS_CONFIG)) \
        == [2, 4]


def _inject_racing_delete(spark, warehouse, monkeypatch, del_id):
    """Commit a delete for ``del_id`` right before the first optimize
    commit — the analogue of the reference's injected committed
    deletion rows mid-compaction (compaction_tests.rs:379-470, the
    *_2 variants)."""
    from pyspark.sql import functions as F

    orig = SnapshotStore.commit_delta
    state = {"armed": True}

    def hijacked(self, base_version, **kw):
        op = (kw.get("properties") or {}).get("operation", "")
        if state["armed"] and op.startswith("optimize"):
            state["armed"] = False
            other = MoonTable(spark, warehouse, USERS_CONFIG)
            dels = (other.scan().filter(F.col("id") == del_id)
                    .select("id", "name", "age")
                    .withColumn("_op", F.lit("delete")))
            other.merge(dels, key_columns=["id"], job_tag="race")
        return orig(self, base_version, **kw)

    monkeypatch.setattr(SnapshotStore, "commit_delta", hijacked)


def test_compaction_1_1_2_delete_racing_compaction(spark, warehouse,
                                                   monkeypatch):
    """Port of test_compaction_1_1_2: clean files, a committed delete
    lands mid-compaction → the stale rewrite aborts (CommitConflict),
    the replan folds the racing delete, and a FRESH instance reloads
    the exact surviving state (the reference's reload contract)."""
    from moonlink_spark.snapshotstore import CommitConflict

    make_users_table(warehouse,
                     [CANON, ([5, 6, 7, 8], ["e", "f", "g", "h"],
                              [50, 60, 70, 80])])
    t = MoonTable(spark, warehouse, USERS_CONFIG)
    _inject_racing_delete(spark, warehouse, monkeypatch, del_id=2)
    with pytest.raises(CommitConflict):
        t.optimize("full")
    snap = t.optimize("full")
    assert surviving_ids(t, snap.version) == [1, 3, 4, 5, 6, 7, 8]
    t2 = MoonTable(spark, warehouse, USERS_CONFIG)
    assert surviving_ids(t2) == [1, 3, 4, 5, 6, 7, 8]
    assert all((e["dv_cardinality"] or 0) == 0
               for e in t2.store.manifest_entries(snap.version))


def test_compaction_2_2_2_persisted_dv_plus_racing_delete(spark,
                                                          warehouse,
                                                          monkeypatch):
    """Port of test_compaction_2_2_2: a file already carrying a
    persisted DV gains ANOTHER committed delete mid-compaction — abort,
    replan, and the rewrite folds BOTH the old DV and the racing
    delete copy-on-write."""
    from moonlink_spark.snapshotstore import CommitConflict

    make_users_table(warehouse,
                     [CANON, ([5, 6, 7, 8], ["e", "f", "g", "h"],
                              [50, 60, 70, 80])],
                     dvs={0: [0]})            # id=1 already deleted
    t = MoonTable(spark, warehouse, USERS_CONFIG)
    _inject_racing_delete(spark, warehouse, monkeypatch, del_id=3)
    with pytest.raises(CommitConflict):
        t.optimize("full")
    snap = t.optimize("full")
    assert surviving_ids(t, snap.version) == [2, 4, 5, 6, 7, 8]
    t2 = MoonTable(spark, warehouse, USERS_CONFIG)
    assert surviving_ids(t2) == [2, 4, 5, 6, 7, 8]
    assert all((e["dv_cardinality"] or 0) == 0
               for e in t2.store.manifest_entries(snap.version))


def test_compaction_1_2_2_committed_dv_racing_and_post_delete(
        spark, warehouse, monkeypatch):
    """Port of test_compaction_1_2_2 (compaction_tests.rs:557-660):
    a delete committed BEFORE compaction (the 1_2 axis: deletion
    committed, DV freshly persisted via MERGE), a second committed
    delete racing the compaction itself, and a third delete that the
    reference injects as *uncommitted* during compaction — in the batch
    engine that is exactly a delete merged AFTER the compaction commit,
    which must land as a DV referencing the COMPACTED output file (the
    reference's deletion-log remap onto the compacted file)."""
    from pyspark.sql import functions as F

    from moonlink_spark.snapshotstore import CommitConflict

    make_users_table(warehouse,
                     [CANON, ([5, 6, 7, 8], ["e", "f", "g", "h"],
                              [50, 60, 70, 80])])
    t = MoonTable(spark, warehouse, USERS_CONFIG)

    def dels(*ids):
        return spark.createDataFrame(
            [(i, None, None, "delete") for i in ids],
            "id int, name string, age int, _op string")

    t.merge(dels(1), key_columns=["id"])          # pre-compaction commit
    assert surviving_ids(t) == [2, 3, 4, 5, 6, 7, 8]

    _inject_racing_delete(spark, warehouse, monkeypatch, del_id=2)
    with pytest.raises(CommitConflict):
        t.optimize("full")
    snap = t.optimize("full")                     # replan folds both
    assert surviving_ids(t, snap.version) == [3, 4, 5, 6, 7, 8]
    ents = t.store.manifest_entries(snap.version)
    assert all((e["dv_cardinality"] or 0) == 0 for e in ents)
    compacted_paths = {e["path"] for e in ents}

    # the reference's "uncommitted at compaction time" deletion:
    # committed after the compaction, remapped onto the compacted file
    s_post = t.merge(dels(4), key_columns=["id"])
    assert surviving_ids(t, s_post.version) == [3, 5, 6, 7, 8]
    post = t.store.manifest_entries(s_post.version)
    dv_bearing = [e for e in post if (e["dv_cardinality"] or 0) > 0]
    assert dv_bearing and all(e["path"] in compacted_paths
                              for e in dv_bearing)
    assert surviving_ids(MoonTable(spark, warehouse, USERS_CONFIG)) \
        == [3, 5, 6, 7, 8]


def test_compaction_2_3_2_two_persisted_dvs_racing_and_post_delete(
        spark, warehouse, monkeypatch):
    """Port of test_compaction_2_3_2 (compaction_tests.rs:935-1048):
    BOTH input files already carry persisted DVs (the 2_3 axis), a
    committed delete races the compaction (abort → replan folds all
    three delete generations), and the reference's injected
    uncommitted deletion arrives as a post-compaction MERGE landing on
    the compacted output."""
    from moonlink_spark.snapshotstore import CommitConflict

    make_users_table(warehouse,
                     [CANON, ([5, 6, 7, 8], ["e", "f", "g", "h"],
                              [50, 60, 70, 80])],
                     dvs={0: [0], 1: [2]})        # ids 1 and 7 deleted
    t = MoonTable(spark, warehouse, USERS_CONFIG)
    assert surviving_ids(t) == [2, 3, 4, 5, 6, 8]

    _inject_racing_delete(spark, warehouse, monkeypatch, del_id=2)
    with pytest.raises(CommitConflict):
        t.optimize("full")
    snap = t.optimize("full")
    assert surviving_ids(t, snap.version) == [3, 4, 5, 6, 8]
    ents = t.store.manifest_entries(snap.version)
    assert all((e["dv_cardinality"] or 0) == 0 for e in ents)
    m = snap.properties["metrics"]
    assert m["rows_out"] == m["rows_in"] - m["rows_deleted"]

    def dels(*ids):
        return spark.createDataFrame(
            [(i, None, None, "delete") for i in ids],
            "id int, name string, age int, _op string")

    s_post = t.merge(dels(6), key_columns=["id"])
    assert surviving_ids(t, s_post.version) == [3, 4, 5, 8]
    assert surviving_ids(MoonTable(spark, warehouse, USERS_CONFIG)) \
        == [3, 4, 5, 8]


def test_compaction_3_2_2_multi_commit_deletes_racing_compaction(
        spark, warehouse, monkeypatch):
    """The 3_2 racing axis (the reference stops at 3_2_1; this is the
    same multi-commit-generations state crossed with the *_2 racing
    harness): two DV generations per file from separate MERGE commits,
    then a further delete lands mid-compaction — the stale rewrite
    aborts, the replan folds ALL generations plus the racing delete."""
    from moonlink_spark.snapshotstore import CommitConflict

    make_users_table(warehouse, [CANON,
                                 ([9, 10], ["x", "y"], [90, 100])])
    t = MoonTable(spark, warehouse, USERS_CONFIG)

    def dels(*ids):
        return spark.createDataFrame(
            [(i, None, None, "delete") for i in ids],
            "id int, name string, age int, _op string")

    t.merge(dels(1), key_columns=["id"])          # file0 gen-1
    t.merge(dels(9), key_columns=["id"])          # file1 gen-1
    t.merge(dels(10), key_columns=["id"])         # file1 gen-2
    assert surviving_ids(t) == [2, 3, 4]

    _inject_racing_delete(spark, warehouse, monkeypatch, del_id=2)
    with pytest.raises(CommitConflict):
        t.optimize("full")
    snap = t.optimize("full")
    assert surviving_ids(t, snap.version) == [3, 4]
    ents = t.store.manifest_entries(snap.version)
    assert len(ents) == 1 and (ents[0]["dv_cardinality"] or 0) == 0
    assert surviving_ids(MoonTable(spark, warehouse, USERS_CONFIG)) \
        == [3, 4]
