"""Job shape of the CDC write path: engine-written parquet is read with a
schema pinned from its footer (no Spark schema-inference job), and a
merge writes exactly one DV row per affected file, unioned with that
file's current sidecar row only."""

import datetime
import decimal
import json
import os
import subprocess
import sys

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


def test_write_path_runs_no_schema_inference_job(spark, tmp_path,
                                                 spark_rewrite):
    """A merge, a merge-on-read scan, changes() and optimize("full")
    (its Spark rewrite) read manifests, DV sidecars and index parts with
    pinned schemas: no ``parquet at …`` inference job runs."""
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


def _decoded_dvs(store, version) -> dict:
    """file → (positions, cardinality, max_row_count, manifest
    cardinality) from the row each live entry's sidecar holds for it."""
    out = {}
    for e in store.manifest_entries(version):
        if e["dv_path"]:
            rows = [r for r in pq.read_table(store.abs(e["dv_path"]))
                    .to_pylist() if r["referenced_file"] == e["path"]]
            assert len(rows) == 1, e
            r = rows[0]
            out[e["path"]] = (r["positions"], r["cardinality"],
                              r["max_row_count"], e["dv_cardinality"])
    return out


def _ingest_files(store, version) -> list:
    """The data files ``version`` adds over its parent: each one's
    manifest entry (without its name and byte size) and its rows in
    ``_pos`` order."""
    prev = {e["path"] for e in store.manifest_entries(version - 1)}
    return [({k: v for k, v in e.items() if k not in ("path", "bytes")},
             pq.read_table(store.abs(e["path"])).sort_by("_pos").to_pylist())
            for e in store.manifest_entries(version)
            if e["path"] not in prev]


@pytest.mark.parametrize("seed", [1, 5])
def test_driver_merge_matches_spark_merge(spark, tmp_path, monkeypatch,
                                          seed):
    """The same batches merged on the driver (``driver_budget`` at its
    default) and by Spark (a budget no batch fits) give equal decoded DV
    rows, equal ingest files and equal scans — over a file whose
    current DV is in a synth-written sidecar, then in a merge-written
    one, a file with no DV, a hot file merged four times, a batch of
    ``FLUSH_ROWS`` + 1 rows (Spark path in both runs) and an empty
    batch."""
    from moonlink_spark.operators import merge as merge_op

    tables = {}
    for name in ("spark", "driver"):
        w = str(tmp_path / name)
        synthesize_cdc_aftermath(w, seed=seed, n_files=12,
                                 rows_per_file=(40, 90), n_repos=4,
                                 content_bytes=(16, 48))
        tables[name] = MoonTable(spark, w, CFG)
    store = tables["driver"].store
    loc = scan(spark, store, store.read_snapshot(), with_location=True)
    by_file: dict[str, list] = {}
    for r in loc.select(*KEYS, "lang", FILE_COL).orderBy(*KEYS).collect():
        by_file.setdefault(r[FILE_COL], []).append(tuple(r[:4]))
    ents = {e["path"]: e for e in store.manifest_entries(0)}
    big = [f for f in sorted(by_file) if len(by_file[f]) >= 8]
    dirty = next(f for f in big if ents[f]["dv_path"])
    clean = next(f for f in big if not ents[f]["dv_path"])
    hot = max((f for f in big if f not in (dirty, clean)),
              key=lambda f: len(by_file[f]))
    d, c, h = by_file[dirty], by_file[clean], by_file[hot]

    def dele(k):
        return (*k[:3], None, None, "delete")

    def up(k, i):
        return (*k, f"updated {i}", "upsert")

    def new(i):
        return (f"orgN/r{i % 2}", f"src/new{i}.rs", f"{i:040x}", "rust",
                f"new {i}", "upsert")

    # (rows, FLUSH_ROWS for both runs, the Spark steps the driver run
    # takes)
    batches = [
        # upserts out of key order: the ingest file is sorted
        ([dele(d[0]), dele(d[1]), dele(c[0]), dele(c[1]), new(1),
          up(h[1], 1), new(0), up(h[0], 0)], None, []),
        ([dele(d[2]), dele(d[3]), dele(h[2]), new(2)], None, []),
        ([dele(h[3]), up(c[2], 2)], None, []),
        ([dele(h[4])], None, []),
        ([dele(c[3]), new(3), new(4)], 2, ["_spark_dv", "_spark_ingest"]),
        ([], None, []),
    ]
    calls = []
    for fn in ("_spark_dv", "_spark_ingest"):
        def spy(*a, _fn=fn, _real=getattr(merge_op, fn), **k):
            calls.append(_fn)
            return _real(*a, **k)
        monkeypatch.setattr(merge_op, fn, spy)

    sidecars = []
    real_budget, flush_rows = merge_op.driver_budget, merge_op.FLUSH_ROWS
    for i, (rows, flush, spark_steps) in enumerate(batches):
        got = {}
        sidecars.append(store.manifest_lookup(
            store.current_version(), [dirty, clean], ("dv_path",)))
        monkeypatch.setattr(merge_op, "FLUSH_ROWS", flush or flush_rows)
        for name, t in tables.items():
            monkeypatch.setattr(
                merge_op, "driver_budget",
                (lambda _: -1) if name == "spark" else real_budget)
            calls.clear()
            snap = t.merge(spark.createDataFrame(rows, CHANGE_DDL),
                           key_columns=KEYS)
            if name == "driver":
                assert calls == spark_steps, i
            got[name] = (_decoded_dvs(t.store, snap.version),
                         snap.properties["inserted_rows"],
                         _ingest_files(t.store, snap.version),
                         sorted(map(tuple, t.scan().collect())))
        assert got["driver"] == got["spark"], i
    # premises: the hot file's five merged deletes are all in its DV;
    # the dirty file's DV sat in a synth sidecar before the first batch
    # and in a merge-written one before the second; the clean file had
    # none
    assert got["driver"][0][hot][1] == ents[hot]["dv_cardinality"] + 5
    assert sidecars[0][dirty]["dv_path"] == ents[dirty]["dv_path"]
    assert "merge-" in sidecars[1][dirty]["dv_path"]
    assert sidecars[0][clean]["dv_path"] is None


def test_benchmark_shaped_merge_runs_at_most_five_jobs(spark, tmp_path):
    """A batch shaped like the ingest benchmark's (150 upserts, 150
    deletes, 150 new keys) starts at most five Spark jobs: the key-sized
    read that sizes the batch, the broadcasts of its keys and of the
    scan's driver-read delete vectors, the key match and the read of
    the upserts; the DV merge and the ingest write start none."""
    w = str(tmp_path / "wh")
    synthesize_cdc_aftermath(w, seed=1, n_files=20, content_bytes=(16, 64))
    t = MoonTable(spark, w, CFG)
    rows = t.scan(0).select(*KEYS, "lang").orderBy(*KEYS).collect()
    assert len(rows) >= 300
    batch = ([(*r, "NEW", "upsert") for r in rows[0:300:2]]
             + [(*r[:3], None, None, "delete") for r in rows[1:300:2]]
             + [("orgN/new", f"p{i}", f"{i:040x}", "go", "x", "upsert")
                for i in range(150)])
    df = spark.createDataFrame(batch, CHANGE_DDL)
    before = _job_ids(spark)
    snap = t.merge(df, key_columns=KEYS)
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = _jobs_since(spark, before)
    assert 0 < len(jobs) <= 5, jobs
    assert snap.properties["inserted_rows"] == 300
    assert t.scan().count() == len(rows) - 150 + 150


def test_benchmark_shaped_optimize_runs_no_spark_job(spark, tmp_path,
                                                     monkeypatch):
    """An ``optimize("full")`` shaped like the maintain benchmark's (the
    20-file aftermath planned as 2 bins of 2 outputs) starts no Spark
    job: its planned input is under ``rewrite.DRIVER_REWRITE_BYTES``, so
    the bins are read, keyed, sorted and written with pyarrow on the
    driver, and the Z-order boundary sample is read there too."""
    from moonlink_spark import engine
    from perfbench.workloads import SYNTH, table_config

    w = str(tmp_path / "wh")
    synthesize_cdc_aftermath(w, seed=1, **SYNTH)
    cfg = table_config(sum(e["bytes"]
                           for e in SnapshotStore(w).manifest_entries(0)))
    bus = spark.sparkContext._jsc.sc().listenerBus()
    real = engine.compute_zorder_boundaries
    sample_jobs = []

    def spy(*a, **k):
        before = _job_ids(spark)
        out = real(*a, **k)
        bus.waitUntilEmpty()
        sample_jobs.extend(_jobs_since(spark, before))
        return out

    monkeypatch.setattr(engine, "compute_zorder_boundaries", spy)
    t = MoonTable(spark, w, cfg)
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    before = _job_ids(spark)
    snap = t.optimize("full")
    bus.waitUntilEmpty()
    jobs = _jobs_since(spark, before)
    assert snap.properties["metrics"]["bins"] == 2
    assert snap.properties["metrics"]["writer"] == "driver"
    assert sample_jobs == []
    assert jobs == []
    assert spark.conf.get("spark.sql.adaptive.enabled") == aqe


_OVER_BUDGET = """
import json, sys
from pyspark.sql import SparkSession
from moonlink_spark.engine import MoonTable
from moonlink_spark.operators import rewrite
from moonlink_spark.operators import scan as scan_op
from moonlink_spark.snapshotstore import SnapshotStore
from moonlink_spark.synth import synthesize_cdc_aftermath
from tests.test_merge_job_shape import _dv_read_digests

rewrite.DRIVER_REWRITE_BYTES = -1  # the Spark rewrite, as in the caller

spark = (SparkSession.builder.master("local[2]")
         .config("spark.driver.maxResultSize", "1m")
         .config("spark.sql.shuffle.partitions", "2")
         .config("spark.ui.enabled", "false").getOrCreate())
w = sys.argv[1]
synthesize_cdc_aftermath(w, seed=5, n_files=40)
plan = scan_op.driver_plan(SnapshotStore(w).read_snapshot().manifest_paths,
                           None).to_pylist()
rows = sum(e["dv_cardinality"] or 0 for e in plan)
over = not scan_op.dv_side_on_driver(
    spark, rows, [e["path"] for e in plan if e["dv_path"]])
print(json.dumps({"over": over, "few_rows": rows <= scan_op.DRIVER_DV_ROWS,
                  **_dv_read_digests(spark, w)}))
spark.stop()
"""


def _dv_read_digests(spark, w: str) -> dict:
    """Which DV reads a ``scan()`` and an ``optimize("full")`` of the
    table at ``w`` took, and sha256 digests of the rows they return
    and commit."""
    from moonlink_spark.operators import scan as scan_op

    calls = []
    for fn in ("deletes_df", "driver_deletes"):
        def spy(*a, _real=getattr(scan_op, fn), _fn=fn, **k):
            calls.append(_fn)
            return _real(*a, **k)
        setattr(scan_op, fn, spy)

    def digest(df) -> str:
        """sha256 of the sorted row digests, folded by Spark: the
        digests themselves exceed a 1 MB result limit"""
        cols = [c for c in df.columns if c != "_pos"]
        rows = F.collect_list(F.sha2(F.to_json(F.struct(*cols)), 256))
        return df.select(F.sha2(F.concat_ws("", F.sort_array(rows)),
                                256)).first()[0]

    t = MoonTable(spark, w, CFG)
    out = {"scan": digest(t.scan())}
    out["scan_calls"], calls[:] = list(calls), []
    snap = t.optimize("full")
    out["optimize_calls"] = sorted(set(calls))
    out["committed"] = digest(t.scan(snap.version))
    out["rows_out"] = snap.properties["metrics"]["rows_out"]
    return out


def test_over_budget_dv_side_takes_spark_read(spark, tmp_path,
                                              monkeypatch, spark_rewrite):
    """Under a 1 MB ``spark.driver.maxResultSize`` the aftermath's
    deleted rows exceed the driver budget: ``scan()`` and
    ``optimize("full")`` read the delete vectors with Spark
    (``deletes_df``), and return and commit the same rows as the
    driver-read side does under the default conf."""
    from moonlink_spark.operators import scan as scan_op

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, PYTHONPATH=repo, PYSPARK_PYTHON=sys.executable)
    proc = subprocess.run(
        [sys.executable, "-c", _OVER_BUDGET, str(tmp_path / "low")],
        cwd=repo, env=env, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-4000:]
    low = json.loads(proc.stdout.strip().splitlines()[-1])
    assert low.pop("over") and low.pop("few_rows")  # the budget binds
    assert low["scan_calls"] == ["deletes_df"]
    assert low["optimize_calls"] == ["deletes_df"]

    for fn in ("deletes_df", "driver_deletes"):  # undo _dv_read_digests
        monkeypatch.setattr(scan_op, fn, getattr(scan_op, fn))
    w = str(tmp_path / "default")
    synthesize_cdc_aftermath(w, seed=5, n_files=40)
    default = _dv_read_digests(spark, w)
    assert default["scan_calls"] == ["driver_deletes"]
    assert default["optimize_calls"] == ["driver_deletes"]
    for k in ("scan", "committed", "rows_out"):
        assert low[k] == default[k], k


def test_resume_on_spark_dv_read_matches_driver_read(spark, tmp_path,
                                                     monkeypatch,
                                                     spark_rewrite):
    """The Spark DV read under a kill and resume: with every DV side
    over the driver budget, an optimize killed after two of its bins
    and then resumed reads its deletes once per run as the persisted
    ``deletes_df`` frame the concurrent bins semi-join, and commits the
    manifest and rows of an uninterrupted job that read them on the
    driver."""
    from moonlink_spark.operators import scan as scan_op
    from tests.oracle import content_sha_multiset, live_rows_pandas

    cfg = TableConfig(compaction=CompactionConfig(
        target_file_bytes=64 << 10, bin_target_bytes=128 << 10,
        bin_concurrency=2))
    killed, clean = str(tmp_path / "killed"), str(tmp_path / "clean")
    for w in (killed, clean):
        synthesize_cdc_aftermath(w, seed=23, n_files=24,
                                 rows_per_file=(50, 150), n_repos=6,
                                 content_bytes=(64, 512))
    calls = []
    for fn in ("deletes_df", "driver_deletes"):
        def spy(*a, _real=getattr(scan_op, fn), _fn=fn, **k):
            calls.append(_fn)
            return _real(*a, **k)
        monkeypatch.setattr(scan_op, fn, spy)

    uninterrupted = MoonTable(spark, clean, cfg).optimize("full")
    assert set(calls) == {"driver_deletes"}
    calls.clear()
    monkeypatch.setattr(scan_op, "driver_budget", lambda spark: -1)
    # the first of the 4 bins carries no DV: the kill lands after the
    # second, so both runs rewrite bins with deletes
    assert (MoonTable(spark, killed, cfg).optimize("full", max_bins=2)
            .version == 0)
    resumed = MoonTable(spark, killed, cfg).optimize("full")
    assert calls == ["deletes_df", "deletes_df"]
    assert resumed.version == uninterrupted.version == 1

    def fingerprint(w):
        return [(e["path"], e["rows"], e["bytes"], e["dv_path"],
                 e["dv_cardinality"])
                for e in SnapshotStore(w).manifest_entries(1)]

    assert fingerprint(killed) == fingerprint(clean)
    assert (content_sha_multiset(live_rows_pandas(SnapshotStore(killed), 1))
            == content_sha_multiset(live_rows_pandas(SnapshotStore(clean),
                                                     1)))


_WIDE_MERGE = """
import json, os, sys
from pyspark.sql import SparkSession
from moonlink_spark.engine import MoonTable
from moonlink_spark.operators import merge as merge_op
from moonlink_spark.synth import synthesize_cdc_aftermath

spark = (SparkSession.builder.master("local[2]")
         .config("spark.driver.maxResultSize", "1m")
         .config("spark.sql.shuffle.partitions", "2")
         .config("spark.ui.enabled", "false").getOrCreate())
w = sys.argv[1]
synthesize_cdc_aftermath(w, seed=3, n_files=4, rows_per_file=(20, 40),
                         n_repos=2, content_bytes=(16, 32))
t = MoonTable(spark, w)
live = t.scan().count()
victims = [(*r, None, None, "delete")
           for r in t.scan().select("repo", "path", "commit").collect()[:5]]
wide = [("orgW/wide", f"f{i}", f"{i:040x}", "rust",
         os.urandom(4096).hex(), "upsert") for i in range(300)]
calls = []
for fn in ("_spark_dv", "_spark_ingest"):
    def spy(*a, _real=getattr(merge_op, fn), _fn=fn, **k):
        calls.append(_fn)
        return _real(*a, **k)
    setattr(merge_op, fn, spy)
t.merge(spark.createDataFrame(victims + wide, "%s"),
        key_columns=["repo", "path", "commit"])
print(json.dumps({
    "calls": calls, "live": live, "after": t.scan().count(),
    "wide_bytes": t.scan().filter("repo = 'orgW/wide'")
    .selectExpr("sum(octet_length(content))").first()[0]}))
spark.stop()
""" % CHANGE_DDL


def test_wide_batch_merges_under_low_max_result_size(tmp_path):
    """300 upserts of 8 KB each (2.4 MB) under a 1 MB
    ``spark.driver.maxResultSize``: the batch's payload exceeds the
    driver budget, so the merge reads only its keys to the driver, takes
    the Spark DV and ingest write and commits every row.  A session of
    its own, as that limit is fixed at launch."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, PYTHONPATH=repo, PYSPARK_PYTHON=sys.executable)
    proc = subprocess.run(
        [sys.executable, "-c", _WIDE_MERGE, str(tmp_path / "wh")],
        cwd=str(tmp_path), env=env, capture_output=True, text=True,
        timeout=600)
    assert proc.returncode == 0, proc.stderr[-4000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert out["calls"] == ["_spark_dv", "_spark_ingest"]
    assert out["after"] == out["live"] - 5 + 300
    assert out["wide_bytes"] == 300 * 8192


def test_row_bytes_sizes_every_column_type(spark):
    """The driver budget's row size: encoded bytes of strings and
    binaries, JSON bytes of nested values, 16 bytes of any fixed-width
    value, nothing for a null string."""
    from moonlink_spark.operators.merge import _row_bytes

    df = spark.createDataFrame(
        [("abc", None, bytearray(b"\x00\x01"), ["a", "b"], {"k": 1},
          (1,), 7, decimal.Decimal("1.50"),
          datetime.datetime(2024, 1, 2), True)],
        "s string, n string, b binary, a array<string>, m map<string,int>, "
        "st struct<x:int>, i int, d decimal(12,2), ts timestamp, "
        "f boolean")
    got = df.select(_row_bytes(df.schema, df.columns)).first()[0]
    assert got == 3 + 0 + 2 + len('["a","b"]') + len('{"k":1}') \
        + len('{"x":1}') + 4 * 16
