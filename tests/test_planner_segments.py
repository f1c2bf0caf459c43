"""Compaction planning over a multi-segment manifest.

``planner.plan_compaction`` reads the snapshot's manifest segments one at
a time and, with a file cap, keeps only the running smallest candidates.
Here a tiny ``SEGMENT_ROWS`` (and write batch, which a segment rolls
after) spreads a few dozen entries over many segments, and a delta commit adds segments whose path ranges overlap
the base ones; the plan must equal a brute-force oracle written from the
planner's documented semantics.
"""

import random

import pytest

from moonlink_spark import snapshotstore
from moonlink_spark.config import CompactionConfig
from moonlink_spark.operators.planner import plan_compaction, trigger_counts
from moonlink_spark.snapshotstore import SnapshotStore

SCHEMA = ["id", "_pos"]
DATA = CompactionConfig(min_files_to_compact=3, max_files_to_compact=7,
                        target_file_bytes=500,
                        deletion_trigger_fraction=0.5,
                        bin_target_bytes=900, bin_concurrency=1)
FULL = DATA.for_full_mode()


def _qualifies(e, cfg):
    if cfg.deletion_trigger_fraction <= 0:
        return True
    return (e["bytes"] < cfg.target_file_bytes
            or (e["dv_cardinality"] or 0) / max(e["rows"], 1)
            >= cfg.deletion_trigger_fraction)


def _oracle(entries, cfg):
    """Bins as dicts, straight from the docstring: filter, cap smallest
    (bytes, path) first, order by path, min-count gate (full mode keeps
    files with deletes alone), running-sum bin ids."""
    cand = [e for e in entries if _qualifies(e, cfg)]
    if cfg.max_files_to_compact < (1 << 62):
        cand = sorted(cand, key=lambda e: (e["bytes"], e["path"]))
        cand = cand[:cfg.max_files_to_compact]
    cand = sorted(cand, key=lambda e: e["path"])
    if len(cand) < cfg.min_files_to_compact:
        if cfg.deletion_trigger_fraction > 0:
            return []
        cand = [e for e in cand if e["dv_cardinality"] > 0]
    bins, cum = {}, 0
    for e in cand:
        b = bins.setdefault(cum // cfg.bin_target_bytes, {
            "files": [], "dv_files": {}, "dv_paths": [], "rows": 0,
            "bytes": 0, "deleted_rows": 0})
        cum += e["bytes"]
        b["files"].append(e["path"])
        b["rows"] += e["rows"]
        b["bytes"] += e["bytes"]
        b["deleted_rows"] += e["dv_cardinality"]
        if e["dv_path"]:
            b["dv_files"][e["path"]] = e["dv_path"]
            if e["dv_path"] not in b["dv_paths"]:
                b["dv_paths"].append(e["dv_path"])
    return [bins[k] for k in sorted(bins)]


def _as_dicts(bins):
    return [{"files": b.files, "dv_files": b.dv_files,
             "dv_paths": b.dv_paths, "rows": b.rows, "bytes": b.bytes,
             "deleted_rows": b.deleted_rows} for b in bins]


def _entry(rng, path):
    rows = rng.choice([0, 1, 4, 10, 10, 20])
    dv = rng.random() < 0.4 and rows > 0
    return {"path": path, "rows": rows,
            # few distinct sizes: ties on bytes decide by path
            "bytes": rng.choice([100, 200, 200, 450, 600, 600, 800]),
            "dv_path": f"dv/dv-{rng.randrange(3)}.parquet" if dv else None,
            "dv_cardinality": (rng.randint(0, rows) if dv
                               else rng.choice([0, None]))}


def _commit(store, **kw):
    if store.exists():
        return store.commit_delta(store.current_version(), schema=SCHEMA,
                                  stats_columns=(), **kw)
    return store.commit(kw["added"], schema=SCHEMA, stats_columns=(),
                        properties={"flush_lsn": 0})


@pytest.mark.parametrize("seed", [3, 17, 29])
def test_plan_over_overlapping_segments_equals_oracle(tmp_path, monkeypatch,
                                                      seed):
    monkeypatch.setattr(snapshotstore, "SEGMENT_ROWS", 4)
    monkeypatch.setattr(snapshotstore, "_MANIFEST_BATCH_ROWS", 4)
    rng = random.Random(seed)
    store = SnapshotStore(str(tmp_path / "wh"))
    store.init_warehouse()
    paths = [f"data/f{i:03d}.parquet" for i in range(0, 80, 2)]
    _commit(store, added=[_entry(rng, p) for p in paths])
    # a later delta commit: odd paths land between the even ones, so the
    # added segments overlap the base segments' path ranges; a few DV
    # pointers move too
    odd = [f"data/f{i:03d}.parquet" for i in range(1, 80, 4)]
    moved = {p: (f"dv/dv-moved-{seed}.parquet", 1)
             for p in rng.sample(paths, 5)}
    snap = _commit(store, added=[_entry(rng, p) for p in odd],
                   updated=moved)
    assert len(snap.manifest_paths) >= 4
    entries = store.manifest_entries(snap.version)
    assert len(entries) == len(paths) + len(odd)
    for cfg in (DATA, FULL):
        want = _oracle(entries, cfg)
        assert want, cfg
        assert _as_dicts(plan_compaction(snap.manifest_paths, cfg)) == want
        assert trigger_counts(snap.manifest_paths, cfg) == {
            "n_files": len(entries),
            "n_dv": sum(e["dv_path"] is not None for e in entries),
            "n_cand": sum(_qualifies(e, cfg) for e in entries)}


def test_lone_file_with_deletes_compacts_only_in_full_mode(tmp_path):
    store = SnapshotStore(str(tmp_path / "wh"))
    store.init_warehouse()
    snap = _commit(store, added=[
        {"path": "data/a.parquet", "rows": 10, "bytes": 100,
         "dv_path": "dv/dv-0.parquet", "dv_cardinality": 2}])
    entries = store.manifest_entries(snap.version)
    assert plan_compaction(snap.manifest_paths, DATA) == []
    got = _as_dicts(plan_compaction(snap.manifest_paths, FULL))
    assert got == _oracle(entries, FULL)
    assert got[0]["files"] == ["data/a.parquet"]
