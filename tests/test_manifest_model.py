"""Model-based test of the segmented-manifest delta-commit path.

``commit_delta`` is the core of every MERGE/append/optimize commit; a
bug here silently loses or duplicates manifest entries.  This test
drives random add/remove/update sequences against a plain dict model
and asserts the loaded manifest equals the model after every commit —
with SEGMENT_ROWS and the coalesce thresholds shrunk so segment
rolling, reference-carrying, rewrite, and coalescing all trigger at
test scale.  No SparkSession: the commit path is pure driver code.
"""

import pyarrow as pa
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

import moonlink_spark.snapshotstore as ss
from moonlink_spark.snapshotstore import SnapshotStore

STATS = ("repo",)
SCHEMA = ["repo", "path", "commit", "lang", "content", "_pos"]


def _entry(path: str, i: int) -> dict:
    return {"path": path, "rows": 10 + i, "bytes": 100 + i,
            "dv_path": None, "dv_cardinality": 0,
            "min_repo": f"r{i % 3}", "max_repo": f"r{i % 3}",
            "null_repo": 0, "ndv_repo": None}


# each step: (op_selector, key_selector) interpreted against live state
STEPS = st.lists(
    st.tuples(st.integers(0, 2), st.integers(0, 10 ** 6)),
    min_size=1, max_size=24)


@settings(max_examples=20, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(steps=STEPS)
def test_commit_delta_matches_dict_model(tmp_path_factory, monkeypatch,
                                         steps):
    monkeypatch.setattr(ss, "SEGMENT_ROWS", 4)
    monkeypatch.setattr(ss, "MAX_MANIFEST_SEGMENTS", 6)
    monkeypatch.setattr(ss, "COALESCE_TARGET_SEGMENTS", 3)

    wh = str(tmp_path_factory.mktemp("model") / "wh")
    store = SnapshotStore(wh)
    store.init_warehouse()
    store.commit([], schema=SCHEMA, stats_columns=STATS,
                 properties={"flush_lsn": 0, "operation": "create-table"})

    model: dict[str, dict] = {}
    counter = 0
    for op, key in steps:
        added, removed, updated = [], [], {}
        live = sorted(model)
        if op == 0 or not live:
            counter += 1
            e = _entry(f"data/p{counter:04d}.parquet", counter)
            added.append(e)
            model[e["path"]] = dict(e)
        elif op == 1:
            victim = live[key % len(live)]
            removed.append(victim)
            del model[victim]
        else:
            target = live[key % len(live)]
            dv = (f"dv/{target.rsplit('/', 1)[-1]}", key % 7 + 1)
            updated[target] = dv
            model[target]["dv_path"] = dv[0]
            model[target]["dv_cardinality"] = dv[1]
        v = store.current_version()
        store.commit_delta(
            v, added=added, removed=removed,
            updated=pa.table({
                "path": list(updated),
                "dv_path": [d for d, _ in updated.values()],
                "dv_cardinality": [c for _, c in updated.values()]}),
            schema=SCHEMA, stats_columns=STATS,
            properties={"flush_lsn": 0, "operation": "model"},
            expected_parent=v)

        got = [(e["path"], e["rows"], e["dv_path"],
                e["dv_cardinality"] or 0)
               for e in store.manifest_entries()]
        want = sorted((m["path"], m["rows"], m["dv_path"],
                       m["dv_cardinality"]) for m in model.values())
        assert got == want
        descs = store.manifest_segments(store.current_version())
        assert len(descs) <= 6 or not model

    # deltas against a stale base are refused, never absorbed
    if model:
        with pytest.raises(RuntimeError):
            store.commit_delta(
                store.current_version(),
                removed=["data/never-was.parquet"],
                schema=SCHEMA, stats_columns=STATS, properties={},
                expected_parent=store.current_version())
