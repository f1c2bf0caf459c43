"""optimize("index"): DV-sidecar consolidation (the engine's analogue
of moonlink's file-index merge, snapshot_maintenance.rs:227-309) —
metadata + DV files only, data files untouched."""

import pytest

from moonlink_spark.config import CompactionConfig, TableConfig
from moonlink_spark.engine import MoonTable
from moonlink_spark.snapshotstore import SnapshotStore
from moonlink_spark.synth import synthesize_cdc_aftermath
from tests.oracle import content_sha_multiset, live_rows_pandas


@pytest.fixture(scope="module")
def many_sidecars(spark, tmp_path_factory):
    w = str(tmp_path_factory.mktemp("wh"))
    # one sidecar per DV-carrying file -> ~30% of 80 files ≈ 24 sidecars,
    # above the min-16 merge trigger (index_merge_config.rs:258-268)
    synthesize_cdc_aftermath(w, seed=71, n_files=80, rows_per_file=(30, 80),
                             n_repos=6, content_bytes=(48, 96),
                             dv_files_per_sidecar=1)
    return w


def test_index_merge_consolidates_sidecars(spark, many_sidecars):
    w = many_sidecars
    t = MoonTable(spark, w)
    store = SnapshotStore(w)
    entries0 = store.manifest_entries(0)
    sidecars0 = {e["dv_path"] for e in entries0 if e["dv_path"]}
    assert len(sidecars0) >= 16

    before = content_sha_multiset(live_rows_pandas(store, 0))
    snap = t.optimize("index")
    assert snap.version == 1
    assert snap.properties["operation"] == "optimize-index"

    entries1 = store.manifest_entries(1)
    sidecars1 = {e["dv_path"] for e in entries1 if e["dv_path"]}
    assert len(sidecars1) < len(sidecars0)
    # data files untouched; per-file deletion cardinality preserved
    assert {e["path"] for e in entries1} == {e["path"] for e in entries0}
    card0 = {e["path"]: e["dv_cardinality"] for e in entries0}
    for e in entries1:
        assert e["dv_cardinality"] == card0[e["path"]]
    # live rows identical
    assert content_sha_multiset(live_rows_pandas(store, 1)) == before


def test_index_merge_below_trigger_is_noop(spark, tmp_path):
    w = str(tmp_path / "wh")
    synthesize_cdc_aftermath(w, seed=73, n_files=12, rows_per_file=(20, 40),
                             n_repos=3, content_bytes=(48, 64),
                             dv_files_per_sidecar=1)
    t = MoonTable(spark, w)
    snap = t.optimize("index")
    assert snap.version == 0  # fewer than 16 sidecars -> Nothing


def test_lineage_metrics_surface(spark, tmp_path):
    w = str(tmp_path / "wh")
    synthesize_cdc_aftermath(w, seed=79, n_files=10, rows_per_file=(20, 50),
                             n_repos=3, content_bytes=(48, 64))
    cfg = TableConfig(compaction=CompactionConfig(
        target_file_bytes=32 << 10, bin_target_bytes=64 << 10,
        bin_concurrency=2))
    t = MoonTable(spark, w, cfg)
    t.optimize("full")
    recs = t.metrics()
    assert recs, "per-bin lineage records exist"
    for r in recs:
        assert r["rows_out"] == r["rows_in"] - r["rows_deleted"]
        assert r["bytes_out"] > 0 and r["outputs"]


def test_index_merge_keeps_each_files_named_row(spark, tmp_path):
    """Consolidation moves each file's DV row as it is: after
    optimize("index"), every file's row in its new sidecar decodes to
    its row in the sidecar it was named in before."""
    import pyarrow.parquet as pq

    w = str(tmp_path / "wh")
    synthesize_cdc_aftermath(w, seed=71, n_files=80, rows_per_file=(30, 80),
                             n_repos=6, content_bytes=(48, 96),
                             dv_files_per_sidecar=1)
    store = SnapshotStore(w)
    cols = ["positions", "cardinality", "max_row_count"]

    def named_rows(version):
        out = {}
        for e in store.manifest_entries(version):
            if not e["dv_path"]:
                continue
            rows = [r for r in pq.read_table(store.abs(e["dv_path"]))
                    .to_pylist() if r["referenced_file"] == e["path"]]
            assert len(rows) == 1, (e["path"], e["dv_path"])
            out[e["path"]] = {c: rows[0][c] for c in cols}
        return out

    before = named_rows(0)
    assert MoonTable(spark, w).optimize("index").version == 1
    assert named_rows(1) == before
