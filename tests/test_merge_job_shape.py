"""Job shape of the CDC write path: engine-written parquet is read with a
schema pinned from its footer (no Spark schema-inference job), and a
merge writes exactly one DV row per affected file, unioned with that
file's current sidecar row only."""

import datetime
import decimal

import pyarrow.parquet as pq
import pytest
from py4j.protocol import Py4JJavaError
from pyspark.sql import functions as F

from moonlink_spark.config import CompactionConfig, TableConfig
from moonlink_spark.engine import MoonTable
from moonlink_spark.operators.scan import FILE_COL, deletes_df, scan
from moonlink_spark.snapshotstore import (
    _DDL_TO_ARROW,
    SnapshotStore,
    footer_schema,
)
from moonlink_spark.synth import synthesize_cdc_aftermath

CFG = TableConfig(compaction=CompactionConfig(
    target_file_bytes=64 << 10, bin_target_bytes=256 << 10,
    bin_concurrency=2))
KEYS = ["repo", "path", "commit"]
CHANGE_DDL = ("repo string, path string, commit string, lang string, "
              "content string, _op string")

# one bound value per DDL type the manifest types bounds for
_BOUND_VALUES = {
    "string": "a", "varchar": "b", "boolean": True, "tinyint": 1,
    "smallint": 2, "int": 3, "integer": 4, "bigint": 5, "long": 6,
    "float": 1.5, "double": 2.5, "date": datetime.date(2024, 1, 2),
    "timestamp": datetime.datetime(2024, 1, 2, 3, 4, 5),
    "timestamp_ntz": datetime.datetime(2024, 1, 2, 3, 4, 6),
    "decimal(12,3)": decimal.Decimal("12.345"),
}


def _aftermath(path, seed=31):
    synthesize_cdc_aftermath(path, seed=seed, n_files=8,
                             rows_per_file=(30, 60), n_repos=3,
                             content_bytes=(32, 64))


def _job_ids(spark) -> set[int]:
    store = spark.sparkContext._jsc.sc().statusStore()
    it = store.jobsList(None).iterator()
    ids = set()
    while it.hasNext():
        ids.add(it.next().jobId())
    return ids


def _jobs_since(spark, before: set[int]) -> list[tuple[str, bool]]:
    """(name, is_inference) of every job not in ``before``.  A parquet
    write without AQE is named ``parquet at …`` too; an inference job is
    the one started inside ``DataFrameReader.parquet`` itself (its
    stage's call site), before any action."""
    store = spark.sparkContext._jsc.sc().statusStore()
    it = store.jobsList(None).iterator()
    out = []
    while it.hasNext():
        j = it.next()
        if j.jobId() in before:
            continue
        sids = j.stageIds().iterator()
        details = ""
        while sids.hasNext():
            try:
                details += store.lastStageAttempt(sids.next()).details()
            except Py4JJavaError:
                pass  # a skipped stage the status store no longer retains
        out.append((j.name(), j.name().startswith("parquet at")
                    and "DataFrameReader.parquet" in details))
    return out


def test_pinned_manifest_schema_equals_inferred(spark, tmp_path):
    """A manifest bounding a column of every bound type (plus decimal)
    reads with the same schema pinned from its footer as Spark infers."""
    assert set(_DDL_TO_ARROW) <= set(_BOUND_VALUES)
    cols = [f"c{i}" for i in range(len(_BOUND_VALUES))]
    types = dict(zip(cols, _BOUND_VALUES))
    entry = {"path": "data/f.parquet", "rows": 10, "bytes": 100,
             "dv_path": None, "dv_cardinality": 0,
             "bounds": {c: (v, v) for c, v in
                        zip(cols, _BOUND_VALUES.values())},
             "null_counts": {c: 0 for c in cols}}
    store = SnapshotStore(str(tmp_path / "wh"))
    store.init_warehouse()
    descs = store.write_manifest(0, [entry], cols, stats_types=types)
    path = store.abs(descs[0]["path"])
    pinned = footer_schema(spark, path)
    assert pinned == spark.read.parquet(path).schema
    row = spark.read.schema(pinned).parquet(path).first()
    for c, ddl in types.items():
        assert row[f"min_{c}"] == row[f"max_{c}"], ddl
    col_of = {ddl: c for c, ddl in types.items()}
    assert row[f"min_{col_of['timestamp']}"] == _BOUND_VALUES["timestamp"]
    assert (row[f"max_{col_of['decimal(12,3)']}"]
            == _BOUND_VALUES["decimal(12,3)"])


def test_pinned_dv_schema_equals_inferred(spark, tmp_path):
    """DV sidecars written by pyarrow (synth) and by Spark (merge) read
    with the same pinned schema as Spark infers."""
    w = str(tmp_path / "wh")
    _aftermath(w)
    t = MoonTable(spark, w, CFG)
    synth_dv = next(e["dv_path"] for e in t.store.manifest_entries(0)
                    if e["dv_path"])
    dels = (t.scan(0).select(*KEYS).orderBy(*KEYS).limit(5)
            .withColumn("lang", F.lit(None).cast("string"))
            .withColumn("content", F.lit(None).cast("string"))
            .withColumn("_op", F.lit("delete")))
    snap = t.merge(dels, key_columns=KEYS)
    merge_dv = next(e["dv_path"] for e in t.store.manifest_entries(
        snap.version) if e["dv_path"] and snap.properties["job_id"]
        in e["dv_path"])
    for rel in (synth_dv, merge_dv):
        path = t.store.abs(rel)
        assert footer_schema(spark, path) == spark.read.parquet(path).schema


def test_write_path_runs_no_schema_inference_job(spark, tmp_path):
    """A merge, a merge-on-read scan, changes() and optimize("full")
    read manifests, DV sidecars and index parts with pinned schemas: no
    ``parquet at …`` inference job runs."""
    w = str(tmp_path / "wh")
    _aftermath(w)
    t = MoonTable(spark, w, CFG)
    live = t.scan(0).select(*KEYS, "lang", "content").orderBy(*KEYS)
    rows = live.collect()
    batches = [
        [(*r[:3], None, None, "delete") for r in rows[i:i + 4]]
        + [(*r[:3], r[3], "NEW", "upsert") for r in rows[i + 4:i + 7]]
        + [("orgN/new", f"p{i}", f"{i:040x}", "go", "x", "upsert")]
        for i in (0, 20)]
    jobs = {}
    for i, b in enumerate(batches):
        df = spark.createDataFrame(b, CHANGE_DDL)
        before = _job_ids(spark)
        t.merge(df, key_columns=KEYS)
        jobs[f"merge{i}"] = _jobs_since(spark, before)
    before = _job_ids(spark)
    assert t.scan().count() == len(rows) - 8 + 2
    jobs["scan"] = _jobs_since(spark, before)
    before = _job_ids(spark)
    assert t.changes(0).count() > 0
    jobs["changes"] = _jobs_since(spark, before)
    before = _job_ids(spark)
    t.optimize("full")
    jobs["optimize"] = _jobs_since(spark, before)
    for op, js in jobs.items():
        assert js, op
        assert not [n for n, inference in js if inference], (op, js)
    # the merge's own reads and writes run under AQE, so none of its
    # jobs carries the bare ``parquet at`` name at all
    for op in ("merge0", "merge1"):
        assert not [n for n, _ in jobs[op] if n.startswith("parquet at")]


def test_hot_file_merged_k_times_keeps_one_dv_row(spark, tmp_path):
    """A hot file merged k times while its older sidecars stay referenced
    by other files: the final sidecar holds exactly one row for it,
    with sorted unique positions and the manifest's cardinality."""
    w = str(tmp_path / "wh")
    _aftermath(w, seed=37)
    t = MoonTable(spark, w, CFG)
    snap0 = t.store.read_snapshot()
    loc = scan(spark, t.store, snap0, with_location=True).select(
        *KEYS, FILE_COL).orderBy(*KEYS).collect()
    by_file: dict[str, list] = {}
    for r in loc:
        by_file.setdefault(r[FILE_COL], []).append(tuple(r[:3]))
    files = sorted(by_file, key=lambda f: (-len(by_file[f]), f))
    hot, others = files[0], files[1:4]
    assert len(by_file[hot]) >= 5 and all(len(by_file[o]) >= 2
                                          for o in others)
    card0 = {e["path"]: e["dv_cardinality"]
             for e in t.store.manifest_entries(0)}
    # round i deletes one hot row and one row of others[i]; the last
    # round revisits others[0], whose sidecar still holds a stale hot row
    rounds = [(0, others[0], 0), (1, others[1], 0), (2, others[2], 0),
              (3, others[0], 1)]
    sidecars = []
    for hot_i, other, other_i in rounds:
        keys = [by_file[hot][hot_i], by_file[other][other_i]]
        df = spark.createDataFrame(
            [(*k, None, None, "delete") for k in keys], CHANGE_DDL)
        snap = t.merge(df, key_columns=KEYS)
        ents = {e["path"]: e for e in t.store.manifest_entries(
            snap.version)}
        sidecars.append(ents[hot]["dv_path"])
    # premise: other files still point at older sidecars that hold a
    # superseded row for the hot file
    assert ents[others[1]]["dv_path"] == sidecars[1]
    stale = [r for r in pq.read_table(t.store.abs(sidecars[1])).to_pylist()
             if r["referenced_file"] == hot]
    assert len(stale) == 1

    h = ents[hot]
    assert h["dv_path"] == sidecars[-1]
    mine = [r for r in pq.read_table(t.store.abs(h["dv_path"])).to_pylist()
            if r["referenced_file"] == hot]
    assert len(mine) == 1
    pos = mine[0]["positions"]
    assert pos == sorted(set(pos))
    assert mine[0]["cardinality"] == len(pos) == h["dv_cardinality"]
    assert h["dv_cardinality"] == card0[hot] + len(rounds)
    assert set(stale[0]["positions"]) < set(pos)
    # a scan's DV read pairs each file with its own sidecar: the hot
    # file's stale row in sidecars[1] is not exploded a second time
    dv_of = {hot: h["dv_path"], others[1]: sidecars[1]}
    dels = deletes_df(spark, t.store, sorted(set(dv_of.values())), dv_of)
    assert dels.count() == h["dv_cardinality"] + ents[others[1]][
        "dv_cardinality"]
    assert t.scan().count() == len(loc) - 2 * len(rounds)
    gone = {by_file[hot][i] for i, _, _ in rounds}
    left = {tuple(r) for r in t.scan().select(*KEYS).collect()}
    assert not gone & left


@pytest.mark.parametrize("missing", [False, True])
def test_manifest_lookup_reads_named_paths(tmp_path, missing):
    """Driver lookups return the named entries' columns and refuse a
    path the manifest lacks."""
    w = str(tmp_path / "wh")
    _aftermath(w)
    store = SnapshotStore(w)
    ents = store.manifest_entries(0)
    want = [ents[1]["path"], ents[-1]["path"]]
    if missing:
        with pytest.raises(RuntimeError, match="lacks 1 paths"):
            store.manifest_lookup(0, want + ["data/nope.parquet"],
                                  ("dv_path",))
        return
    got = store.manifest_lookup(0, want, ("dv_path", "rows"))
    assert got == {e["path"]: {"dv_path": e["dv_path"], "rows": e["rows"]}
                   for e in (ents[1], ents[-1])}


def test_scan_plans_without_spark_job(spark, tmp_path, monkeypatch):
    """Below ``PLAN_DISTRIBUTED_FILES``, ``scan()`` reads its plan from
    the manifest segments on the driver: building the DataFrame starts
    no Spark job — plain, predicated, or over a file whose DV covers
    every row, which the plan skips.  With the switch lowered the same
    calls go through ``scan_distributed`` and return the same rows."""
    from moonlink_spark.operators import distscan
    from moonlink_spark.operators import scan as scan_op

    w = str(tmp_path / "wh")
    _aftermath(w)
    t = MoonTable(spark, w, CFG)
    loc = scan(spark, t.store, t.store.read_snapshot(), with_location=True)
    victim = loc.select(FILE_COL).first()[FILE_COL]
    dels = (loc.filter(F.col(FILE_COL) == victim).select(*KEYS)
            .withColumn("lang", F.lit(None).cast("string"))
            .withColumn("content", F.lit(None).cast("string"))
            .withColumn("_op", F.lit("delete")))
    snap = t.merge(dels, key_columns=KEYS)
    assert any(e["path"] == victim and e["dv_cardinality"] == e["rows"]
               for e in t.store.manifest_entries(snap.version))

    planned = []
    real_scan_files = scan_op.scan_files

    def recording(spark_, store_, data_files, *a, **k):
        planned.append(list(data_files))
        return real_scan_files(spark_, store_, data_files, *a, **k)
    monkeypatch.setattr(scan_op, "scan_files", recording)
    cases = [{}, {"predicates": {"repo": ("between", "org0", "org1")}},
             {"predicates": {"path": ("not_null",)},
              "with_location": True}]
    got = []
    for kw in cases:
        before = _job_ids(spark)
        got.append(scan(spark, t.store, snap, **kw))
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        assert _job_ids(spark) == before, kw
    assert len(planned) == len(cases)
    assert all(planned) and not any(victim in p for p in planned)

    dist = []
    real_dist = distscan.scan_distributed

    def counting(*a, **k):
        dist.append(1)
        return real_dist(*a, **k)
    monkeypatch.setattr(distscan, "PLAN_DISTRIBUTED_FILES", 0)
    monkeypatch.setattr(distscan, "scan_distributed", counting)
    for kw, df in zip(cases, got):
        other = scan(spark, t.store, snap, **kw)
        assert sorted(map(tuple, other.select(df.columns).collect())) \
            == sorted(map(tuple, df.collect())), kw
    assert len(dist) == len(cases)
