"""Maintenance decision layer: ``MoonTable.maintain`` and the ingest
auto-maintain hook.

The reference evaluates compaction / index-merge triggers on every
snapshot completion and admits at most one maintenance operation at a
time (``table_handler_state.rs:25-67``, ``MaintenanceRequestStatus``
Unrequested/ForceRegular/ForceFull + the Skip snapshot option).  These
tests pin the trigger arithmetic of the Spark analogue and that
decisions are auditable records, not silent side effects.
"""

import pytest

from moonlink_spark.config import CompactionConfig, TableConfig
from moonlink_spark.engine import MoonTable
from moonlink_spark.ingest import IngestSession
from moonlink_spark.snapshotstore import SnapshotStore

KEYS = ["repo", "path", "commit"]
SCHEMA = ["repo", "path", "commit", "lang", "content", "_pos"]
ROW_DDL = ("repo string, path string, commit string, lang string, "
           "content string")


def _mk(spark, tmp_path, min_files=4, name="wh"):
    cfg = TableConfig(compaction=CompactionConfig(
        min_files_to_compact=min_files, target_file_bytes=1 << 20,
        bin_target_bytes=1 << 20, bin_concurrency=1))
    wh = str(tmp_path / name)
    store = SnapshotStore(wh)
    store.init_warehouse()
    store.commit([], schema=SCHEMA, stats_columns=cfg.stats_columns,
                 properties={"flush_lsn": 0, "operation": "create-table"})
    return MoonTable(spark, wh, cfg)


def _append_files(spark, t, n, tag=""):
    for i in range(n):
        t.append(spark.createDataFrame(
            [(f"org{i}/r{tag}", f"src/f{i}.rs", f"{i:08x}", "rust",
              f"fn f{i}() {{}}")], ROW_DDL.replace(", _op string", "")))


def test_skip_evaluates_nothing(spark, tmp_path):
    t = _mk(spark, tmp_path)
    rec = t.maintain("skip")
    assert rec["decision"] == "none"
    assert rec["reasons"] == {}
    assert rec["version_before"] == rec["version_after"]


def test_best_effort_below_threshold_is_none(spark, tmp_path):
    """Fewer qualifying files than min_files_to_compact => no op runs,
    but the record shows the counts the decision was based on."""
    t = _mk(spark, tmp_path, min_files=4)
    _append_files(spark, t, 2)
    v = t.current_version()
    rec = t.maintain()
    assert rec["decision"] == "none"
    assert rec["reasons"]["n_compact_candidates"] == 2
    assert rec["reasons"]["min_files_to_compact"] == 4
    assert t.current_version() == v


def test_best_effort_triggers_data_compaction(spark, tmp_path):
    """At/above the file-count trigger the policy runs data compaction
    and the record carries the version window."""
    t = _mk(spark, tmp_path, min_files=4)
    _append_files(spark, t, 5)
    v = t.current_version()
    rec = t.maintain()
    assert rec["decision"] == "data"
    assert rec["reasons"]["n_compact_candidates"] == 5
    assert rec["version_before"] == v
    assert rec["version_after"] > v
    assert t.scan().count() == 5
    # compacted: fewer live files than inputs
    ents = t.store.manifest_entries(rec["version_after"])
    assert len(ents) < 5


def test_force_full_compacts_everything(spark, tmp_path):
    t = _mk(spark, tmp_path, min_files=64)  # best-effort would decline
    _append_files(spark, t, 3)
    rec = t.maintain("force_full")
    assert rec["decision"] == "full"
    assert len(t.store.manifest_entries(rec["version_after"])) == 1
    assert t.scan().count() == 3


def test_unknown_option_raises(spark, tmp_path):
    t = _mk(spark, tmp_path)
    with pytest.raises(ValueError):
        t.maintain("sometimes")


def test_ingest_auto_maintain_hook(spark, tmp_path):
    """IngestSession(auto_maintain=True): every applied flush evaluates
    the triggers; once enough flush files accumulate the session's table
    compacts itself and the decision is auditable on the session."""
    t = _mk(spark, tmp_path, min_files=3)
    _append_files(spark, t, 3)
    s = IngestSession(t, key_columns=KEYS, auto_maintain=True)
    s.insert({"repo": "orgX/r", "path": "src/new.rs", "commit": "aa",
              "lang": "rust", "content": "fn new() {}"})
    s.commit()
    snap = s.flush()
    assert snap is not None
    assert s.last_maintenance is not None
    assert s.last_maintenance["decision"] == "data"
    assert t.scan().count() == 4
    # nothing to apply -> no flush, no re-evaluation
    s.last_maintenance = None
    assert s.flush() is None
    assert s.last_maintenance is None


def test_clustering_health_and_recluster_trigger(spark, tmp_path):
    """Z-order decay loop: right after a full rewrite the overlap
    fraction is ~0; appending unclustered files that straddle the
    key space raises it; maintain(recluster_overlap_threshold=...)
    then re-clusters (when no cheaper trigger fires first) and the
    record is auditable."""
    t = _mk(spark, tmp_path, min_files=64)  # data-compaction never fires
    _append_files(spark, t, 6)
    t.optimize("full")
    h0 = t.clustering_health()
    assert h0["n_files"] >= 1
    assert h0["overlap_fraction"] == 0.0

    # wide unclustered ingest: each appended file spans the whole repo
    # range, so every one overlaps the clustered layout
    for i in range(3):
        t.append(spark.createDataFrame(
            [("org0/a", f"w{i}.rs", f"c{i}", "rust", "x"),
             ("org9/z", f"w{i}.rs", f"c{i}", "rust", "y")], ROW_DDL))
    h1 = t.clustering_health()
    assert h1["overlap_fraction"] > 0.3

    rec = t.maintain("best_effort", recluster_overlap_threshold=0.2)
    assert rec["decision"] == "recluster"
    assert rec["reasons"]["clustering_overlap_fraction"] \
        == h1["overlap_fraction"]
    assert t.clustering_health()["overlap_fraction"] == 0.0
    assert t.scan().count() == 12

    # evaluate mode reports the metric without acting
    rec2 = t.maintain("evaluate", recluster_overlap_threshold=0.2)
    assert rec2["decision"] == "none"
    assert "clustering_overlap_fraction" in rec2["reasons"]


def test_clustering_stats_matches_naive_sweep(spark):
    """planner.clustering_stats equals a pure-Python interval sweep on
    a handcrafted manifest (ties, nesting, disjoint runs)."""
    from moonlink_spark.operators import planner as pl

    ivals = [("a", 0, 10), ("b", 5, 7), ("c", 10, 12), ("d", 13, 20),
             ("e", 14, 15), ("f", 21, 30), ("g", 21, 22), ("h", 31, 40)]
    m = spark.createDataFrame(
        ivals, "path string, min_k long, max_k long")
    got = {r["path"]: r["overlaps"]
           for r in pl.clustering_stats(m, "k").collect()}

    order = sorted(ivals, key=lambda x: (x[1], x[2], x[0]))
    run_max, want = None, {}
    for p, lo, hi in order:
        want[p] = int(run_max is not None and lo <= run_max)
        run_max = hi if run_max is None else max(run_max, hi)
    assert got == want


def _job_ids(spark) -> set[int]:
    """Ids of every job the status store has seen, after the listener
    bus has delivered all events posted so far."""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    it = sc.statusStore().jobsList(None).iterator()
    ids = set()
    while it.hasNext():
        ids.add(it.next().jobId())
    return ids


def test_evaluate_starts_no_spark_job(spark, tmp_path):
    """The trigger counts come from one driver pass over the manifest
    segments: evaluating starts no Spark job, and the counts equal a
    plain count over the manifest entries."""
    t = _mk(spark, tmp_path, min_files=4)
    _append_files(spark, t, 5)
    t.merge(spark.createDataFrame(
        [("org1/r", "src/f1.rs", f"{1:08x}", None, None, "delete")],
        ROW_DDL + ", _op string"), key_columns=KEYS)
    before = _job_ids(spark)
    rec = t.maintain("evaluate")
    assert _job_ids(spark) == before
    cfg = t.config.compaction
    ents = t.store.manifest_entries()
    assert rec["decision"] == "none"
    assert rec["reasons"]["n_files"] == len(ents) == 5
    assert rec["reasons"]["n_dv_sidecars"] == sum(
        e["dv_path"] is not None for e in ents) == 1
    assert rec["reasons"]["n_compact_candidates"] == sum(
        e["bytes"] < cfg.target_file_bytes
        or (e["dv_cardinality"] or 0) / max(e["rows"], 1)
        >= cfg.deletion_trigger_fraction for e in ents)
