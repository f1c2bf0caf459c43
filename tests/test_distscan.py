"""Distributed scan planning (operators/distscan.py).

The round-3 audit named the driver-side planning collect
(``scan.py`` plan_rows) as the next scale boundary at the 10^12-file
design point.  These tests pin the answer:

- parity: the distributed path returns bit-identical rows (including
  scan locations) to the driver-planned path on a real CDC-aftermath
  warehouse with both dirty (DV-bearing) and clean files;
- driver isolation: planning over a 10^6-entry manifest never moves
  more than O(1) rows to the driver — every collect is instrumented;
- schema evolution: files predating an added column yield typed nulls
  through the executor-side pyarrow reader too.
"""

import pyspark.sql.functions as F
import pytest

from moonlink_spark import MoonTable
from moonlink_spark.operators import distscan
from moonlink_spark.operators import scan as scan_op
from moonlink_spark.snapshotstore import SnapshotStore
from moonlink_spark.synth import synthesize_cdc_aftermath


@pytest.fixture(scope="module")
def aftermath(tmp_path_factory):
    w = str(tmp_path_factory.mktemp("wh-dist"))
    snap = synthesize_cdc_aftermath(
        w, seed=11, n_files=24, rows_per_file=(40, 120),
        n_repos=6, content_bytes=(32, 128))
    return w, snap


def _multiset(df):
    cols = [F.col(c).cast("string") for c in sorted(df.columns)]
    return sorted(r["h"] for r in
                  df.select(F.sha2(F.concat_ws("\x1f", *cols), 256)
                            .alias("h")).collect())


def test_with_location_parity(spark, aftermath):
    """Full-fidelity comparison including _mlfile/_pos scan metadata."""
    w, snap0 = aftermath
    store = SnapshotStore(w)
    snap = store.read_snapshot(0)
    manifest = spark.read.parquet(*snap.manifest_paths)

    dist = distscan.scan_distributed(
        spark, store, manifest,
        schema_ddl=snap.properties["schema_ddl"],
        project=snap.schema, with_location=True)
    default = scan_op.scan(spark, store, snap, with_location=True)
    assert sorted(dist.columns) == sorted(default.columns)
    assert _multiset(dist) == _multiset(default.select(dist.columns))


def test_fully_deleted_files_skipped_distributed(spark, aftermath):
    """A file whose DV covers every row contributes nothing, and the
    distributed planner drops it with a filter, not a driver loop."""
    w, _ = aftermath
    store = SnapshotStore(w)
    snap = store.read_snapshot(0)
    manifest = spark.read.parquet(*snap.manifest_paths)
    # forge full coverage for one dirty file
    victim = (manifest.filter(F.col("dv_path").isNotNull())
              .select("path").first()["path"])
    forged = manifest.withColumn(
        "dv_cardinality",
        F.when(F.col("path") == victim, F.col("rows"))
        .otherwise(F.col("dv_cardinality")))
    dist = distscan.scan_distributed(
        spark, store, forged, schema_ddl=snap.properties["schema_ddl"],
        project=snap.schema, with_location=True)
    assert dist.filter(F.col(scan_op.FILE_COL) == victim).count() == 0


def test_million_entry_manifest_plans_without_driver_rows(
        spark, monkeypatch):
    """Planning over a 10^6-entry manifest: the plan DataFrame is
    constructed end-to-end while every driver-bound collect stays O(1)
    (the stats aggregate row).  The old PLAN_FILES_WARN escape hatch is
    gone — this is the path that replaces it."""
    n = 1_000_000
    manifest = (spark.range(n)
                .select(F.concat(F.lit("data/f-"), F.col("id"))
                        .alias("path"),
                        F.lit(None).cast("string").alias("dv_path"),
                        F.lit(0).cast("long").alias("dv_cardinality"),
                        F.lit(100).cast("long").alias("rows")))

    moved = []
    cls = type(manifest)  # the concrete (classic) DataFrame class
    for meth in ("collect", "take", "head", "first"):
        real = getattr(cls, meth)

        def counting(self, *a, _real=real, **k):
            rows = _real(self, *a, **k)
            moved.append(1 if isinstance(rows, tuple) or rows is None
                         or not isinstance(rows, list) else len(rows))
            return rows
        monkeypatch.setattr(cls, meth, counting)

    store = SnapshotStore("/tmp/never-read-dist")
    plan = distscan.scan_distributed(
        spark, store, manifest,
        schema_ddl="repo string, content string, _pos bigint",
        project=["repo", "content", "_pos"], with_location=True)
    # plan construction done — a real DataFrame with the right columns,
    # no file opened, and nothing bigger than the 1-row stats aggregate
    # ever crossed to the driver
    assert set(plan.columns) == {"repo", "content", "_pos",
                                 scan_op.FILE_COL}
    assert moved and max(moved) <= 1, moved


def test_schema_evolution_added_column_nulls(spark, aftermath):
    """Reading with a DDL that has a column the files predate: typed
    nulls, and column_defaults backfills them."""
    w, _ = aftermath
    store = SnapshotStore(w)
    snap = store.read_snapshot(0)
    manifest = spark.read.parquet(*snap.manifest_paths)
    ddl = snap.properties["schema_ddl"] + ", `stars` bigint"
    project = snap.schema + ["stars"]

    dist = distscan.scan_distributed(
        spark, store, manifest, schema_ddl=ddl, project=project)
    assert dict(dist.dtypes)["stars"] == "bigint"
    assert dist.filter(F.col("stars").isNotNull()).count() == 0

    filled = distscan.scan_distributed(
        spark, store, manifest, schema_ddl=ddl, project=project,
        column_defaults={"stars": 7})
    assert filled.filter(F.col("stars") != 7).count() == 0
    assert filled.count() == dist.count()


def test_row_filter_pushdown_parity_both_paths(spark, aftermath,
                                               monkeypatch):
    """scan(..., apply_row_filters=True): identical filtered rows on
    the driver-planned path (Catalyst parquet pushdown) and the
    distributed path (pyarrow dataset filter + Spark re-filter), and a
    strict subset of the unfiltered scan."""
    w, _ = aftermath
    store = SnapshotStore(w)
    snap = store.read_snapshot(0)
    repo = (scan_op.scan(spark, store, snap)
            .select("repo").first()["repo"])
    preds = {"repo": repo}

    full = scan_op.scan(spark, store, snap).count()
    default = scan_op.scan(spark, store, snap, predicates=preds,
                           apply_row_filters=True)
    assert 0 < default.count() < full
    assert default.filter(F.col("repo") != repo).count() == 0

    monkeypatch.setattr(distscan, "PLAN_DISTRIBUTED_FILES", 0)
    dist = scan_op.scan(spark, store, snap, predicates=preds,
                        apply_row_filters=True)
    assert _multiset(dist) == _multiset(default.select(dist.columns))

    # range + null-ness predicate forms too, against a Spark-side twin
    preds2 = {"repo": ("between", "org0", "org5"),
              "path": ("not_null",)}
    twin = (scan_op.scan(spark, store, snap)
            .filter((F.col("repo") >= "org0") & (F.col("repo") <= "org5")
                    & F.col("path").isNotNull()))
    dist2 = scan_op.scan(spark, store, snap, predicates=preds2,
                         apply_row_filters=True)
    assert _multiset(dist2) == _multiset(twin.select(dist2.columns))


def test_predicate_renderer_backends_keep_the_same_rows(spark, tmp_path,
                                                        monkeypatch):
    """``scan.predicate_exprs`` renders one mini-language for two
    backends.  Per predicate form, the Spark filter and the pyarrow
    dataset filter over the same parquet file (nulls in every column)
    keep exactly the rows a Python oracle keeps — so a pyarrow renderer
    that keeps extra rows fails here even though ``scan_distributed``
    re-applies the Spark filter after the pushdown.  The same holds for
    the bound renderer both planners prune the manifest with."""
    import datetime as dt
    import functools
    import operator
    import time

    import pyarrow as pa
    import pyarrow.dataset as pds
    import pyarrow.parquet as pq

    d = dt.date
    cols = {
        "id": list(range(10)),
        "n": [1, None, 3, 5, None, 7, 9, 2, 5, 6],
        "s": ["a", "b", None, "d", "e", None, "g", "h", "b", "a"],
        "day": [d(2024, 1, i) if i % 4 else None for i in range(1, 11)],
    }
    path = str(tmp_path / "preds.parquet")
    pq.write_table(pa.table(cols), path)
    sdf = spark.read.parquet(path)
    dataset = pds.dataset(path, format="parquet")
    rows = [dict(zip(cols, vals)) for vals in zip(*cols.values())]

    def holds(v, pred):
        if not isinstance(pred, tuple):
            pred = ("==", pred)
        op, args = pred[0], pred[1:]
        if op == "is_null":
            return v is None
        if op == "not_null":
            return v is not None
        if v is None:
            return False
        if op == "between":
            return args[0] <= v <= args[1]
        return {"==": operator.eq, "<": operator.lt, "<=": operator.le,
                ">": operator.gt, ">=": operator.ge}[op](v, args[0])

    forms = [5, ("==", 5), ("<", 5), ("<=", 5), (">", 5), (">=", 5),
             ("between", 3, 6), ("is_null",), ("not_null",)]
    cases = ([{"n": f} for f in forms]
             + [{"s": "b"}, {"s": ("between", "b", "e")},
                {"s": ("is_null",)}, {"day": ("<", d(2024, 1, 6))},
                {"day": ("not_null",)},
                {"n": (">=", 2), "s": ("not_null",),
                 "day": ("between", d(2024, 1, 2), d(2024, 1, 9))}])
    for preds in cases:
        want = sorted(r["id"] for r in rows
                      if all(holds(r[c], p) for c, p in preds.items()))
        via_spark = sdf
        for cond in scan_op.predicate_exprs(preds):
            via_spark = via_spark.filter(cond)
        got_spark = sorted(r["id"] for r in via_spark.collect())
        expr = functools.reduce(
            operator.and_, scan_op.predicate_exprs(preds, pds.field))
        got_arrow = sorted(dataset.to_table(filter=expr)["id"].to_pylist())
        assert got_spark == got_arrow == want, preds

    for field in (F.col, pds.field):
        with pytest.raises(ValueError, match="unknown predicate op"):
            scan_op.predicate_exprs({"n": ("!=", 5)}, field)

    # The bound half, ``scan.bound_exprs``: over one manifest with typed
    # bounds, unknown (null) bounds and null counts of 0, ``rows`` and
    # unknown, Spark's ``prune_manifest`` and the driver plan's pyarrow
    # dataset filter keep the same files, and refuse the same inputs.
    from decimal import Decimal as D

    from moonlink_spark.snapshotstore import SnapshotStore, read_pinned

    ts = dt.datetime
    types = {"s": "string", "i": "int", "d": "decimal(10,2)",
             "day": "date", "ts": "timestamp"}
    bounds = [  # per file: (lo, hi) per column, then the null count
        ({"s": ("a", "c"), "i": (1, 10), "d": (D("1.00"), D("9.95")),
          "day": (d(2024, 1, 1), d(2024, 1, 5)),
          "ts": (ts(2024, 1, 1), ts(2024, 1, 5, 12))}, 0),
        ({"s": ("d", "f"), "i": (11, 50), "d": (D("10.00"), D("2000.50")),
          "day": (d(2024, 1, 6), d(2024, 2, 1)),
          "ts": (ts(2024, 1, 6), ts(2024, 2, 1))}, 10),
        ({}, None),
        ({"s": ("b", "b"), "i": (5, 5), "d": (D("9.95"), D("10.00")),
          "day": (d(2024, 1, 5), d(2024, 1, 5)),
          "ts": (ts(2024, 1, 5, 12), ts(2024, 1, 5, 12))}, 3),
        ({"s": (None, "e"), "i": (20, None), "d": (None, D("3.50")),
          "day": (d(2024, 3, 1), None), "ts": (None, ts(2023, 1, 1))}, 0),
    ]
    store = SnapshotStore(str(tmp_path / "wh-bounds"))
    store.init_warehouse()
    descs = store.write_manifest(0, [
        {"path": f"data/f{k}.parquet", "rows": 10, "bytes": 100,
         "dv_path": None, "dv_cardinality": 0, "bounds": b,
         "null_counts": {c: nulls for c in types}}
        for k, (b, nulls) in enumerate(bounds)], list(types),
        stats_types=types)
    segs = [store.abs(x["path"]) for x in descs]
    manifest = read_pinned(spark, segs)
    values = {"s": ("b", "c", "d"), "i": (5, 10, 11),
              "d": (D("9.95"), D("9.951"), 10),
              "day": (d(2024, 1, 5), d(2024, 1, 6), d(2024, 2, 2)),
              "ts": (ts(2024, 1, 5, 12), ts(2024, 1, 6), ts(2022, 1, 1))}
    cases = [{c: f} for c, (lo, mid, hi) in values.items()
             for f in (mid, ("==", lo), ("<", mid), ("<=", lo),
                       (">", mid), (">=", hi), ("between", lo, mid),
                       ("is_null",), ("not_null",))]
    cases.append({"i": ("between", 4, 12), "s": ("not_null",)})
    # a literal of a larger scale than any bound, against bounds that
    # need every integer digit their type holds
    cases += [{"d": (op, D("0." + "0" * 34 + "1"))} for op in ("<", ">=")]
    # a None literal matches no known bound on either backend
    cases += [{"d": (">", None)}, {"ts": ("==", None)}]

    def kept(preds):
        via_spark = {r["path"] for r in scan_op.prune_manifest(
            manifest, preds).select("path").collect()}
        via_arrow = set(
            scan_op.driver_plan(segs, preds)["path"].to_pylist())
        assert via_spark == via_arrow, preds
        return via_spark

    assert sum(len(kept(p)) < len(bounds) for p in cases) > len(cases) // 2
    # pyspark reads a naive datetime literal as local time: outside UTC
    # both backends still agree
    monkeypatch.setenv("TZ", "America/New_York")
    time.tzset()
    try:
        for preds in cases:
            if "ts" in preds:
                kept(preds)
    finally:
        monkeypatch.undo()
        time.tzset()
    for bad, err in [({"i": ("==", "5")}, TypeError),
                     ({"s": ("==", 7)}, TypeError),
                     ({"d": ("==", 10.0)}, TypeError),
                     ({"day": ("==", ts(2024, 1, 5))}, TypeError),
                     ({"nosuch": 1}, ValueError),
                     ({"i": ("!=", 5)}, ValueError)]:
        with pytest.raises(err):
            scan_op.prune_manifest(manifest, bad)
        with pytest.raises(err):
            scan_op.driver_plan(segs, bad)


def test_surviving_row_groups_pure():
    """The row-group skip decision, unit-level: groups fully covered by
    the DV drop; partially covered or untouched groups keep their
    (index, start ordinal)."""
    import numpy as np
    srg = distscan.surviving_row_groups
    # 3 groups of 3 rows; group 1 ([3,6)) fully deleted, group 0 partial
    assert srg([3, 3, 3], np.array([0, 3, 4, 5])) == [(0, 0), (2, 6)]
    # nothing deleted
    assert srg([3, 3], np.array([], dtype="int64")) == [(0, 0), (1, 3)]
    # everything deleted (planner normally drops the file before this)
    assert srg([2, 2], np.array([0, 1, 2, 3])) == []
    # deletes beyond the file (superset sidecar referencing positions
    # the current file no longer has) cannot kill a live group
    assert srg([2], np.array([1, 5, 9])) == [(0, 0)]
    # uneven group sizes, boundary-exact coverage of the middle group
    assert srg([1, 4, 2], np.array([1, 2, 3, 4])) == [(0, 0), (2, 5)]


def test_dv_density_row_group_skip(spark, tmp_path):
    """A dirty file's fully-deleted row group is NEVER READ on the
    distributed path: its on-disk bytes are corrupted after the DV is
    written, so any code path that touches the group raises — the scan
    succeeding with exactly the live rows is proof of the skip (the
    DataFusion ParquetAccessPlan analogue,
    ``moonlink_datafusion/src/table_provider.rs:96-130``)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    w = str(tmp_path / "wh-rgskip")
    store = SnapshotStore(w)
    store.fs.makedirs(w + "/data")
    # 9 rows, 3 row groups of 3; _pos materialized like the writers do
    data = pa.table({"k": pa.array(range(100, 109), pa.int64()),
                     "_pos": pa.array(range(9), pa.int64())})
    fpath = w + "/data/f-0.parquet"
    pq.write_table(data, fpath, row_group_size=3)
    # DV: all of group 1 ([3,6)) plus one row of group 0
    dv = pa.table({
        "referenced_file": pa.array(["data/f-0.parquet"]),
        "positions": pa.array([[0, 3, 4, 5]], pa.list_(pa.int64())),
        "cardinality": pa.array([4], pa.int64()),
        "max_row_count": pa.array([9], pa.int64())})
    pq.write_table(dv, w + "/data/dv-0.parquet")
    # corrupt group 1's byte span (start of its first column chunk to
    # start of group 2's) — reading it must now fail
    md = pq.ParquetFile(fpath).metadata

    def chunk_start(g):  # dictionary page (if any) precedes data pages
        c = md.row_group(g).column(0)
        offs = [c.data_page_offset]
        if c.dictionary_page_offset is not None:
            offs.append(c.dictionary_page_offset)
        return min(offs)

    start, end = chunk_start(1), chunk_start(2)
    with open(fpath, "r+b") as f:
        f.seek(start)
        f.write(b"\xde\xad" * ((end - start) // 2))
    with pytest.raises(Exception):
        pq.ParquetFile(fpath).read_row_group(1)  # the test has teeth

    manifest = spark.createDataFrame(
        [("data/f-0.parquet", "data/dv-0.parquet", 4, 9)],
        "path string, dv_path string, dv_cardinality long, rows long")
    out = distscan.scan_distributed(
        spark, store, manifest, schema_ddl="k bigint, _pos bigint",
        project=["k", "_pos"])
    got = {(r["k"], r["_pos"]) for r in out.collect()}
    assert got == {(101, 1), (102, 2), (106, 6), (107, 7), (108, 8)}


def test_engine_scan_switches_at_threshold(spark, aftermath, monkeypatch):
    """MoonTable.scan flips to distributed planning past the module
    threshold and the row content is unchanged."""
    w, _ = aftermath
    table = MoonTable(spark, w)
    before = _multiset(table.scan(0))
    monkeypatch.setattr(distscan, "PLAN_DISTRIBUTED_FILES", 0)
    assert _multiset(table.scan(0)) == before


def test_hot_file_deletes_applied_in_reader_without_join(spark, tmp_path):
    """A hot file merged 4 times while other files keep pointing at the
    older sidecars, which still hold a superseded row for it: the
    distributed scan returns exactly the driver-planned scan's rows
    (locations included), and it applies each file's deletes inside its
    reader — the executed plan has no join."""
    import pyarrow.parquet as pq

    w = str(tmp_path / "wh-hot")
    synthesize_cdc_aftermath(w, seed=37, n_files=8, rows_per_file=(30, 60),
                             n_repos=3, content_bytes=(32, 64))
    keys = ["repo", "path", "commit"]
    t = MoonTable(spark, w)
    loc = (scan_op.scan(spark, t.store, t.store.read_snapshot(),
                        with_location=True)
           .select(*keys, scan_op.FILE_COL).orderBy(*keys).collect())
    by_file: dict[str, list] = {}
    for r in loc:
        by_file.setdefault(r[scan_op.FILE_COL], []).append(tuple(r[:3]))
    files = sorted(by_file, key=lambda f: (-len(by_file[f]), f))
    hot, others = files[0], files[1:4]
    rounds = [(0, others[0], 0), (1, others[1], 0), (2, others[2], 0),
              (3, others[0], 1)]
    sidecars = []
    for hot_i, other, other_i in rounds:
        batch = spark.createDataFrame(
            [(*by_file[hot][hot_i], None, None, "delete"),
             (*by_file[other][other_i], None, None, "delete")],
            "repo string, path string, commit string, lang string, "
            "content string, _op string")
        snap = t.merge(batch, key_columns=keys)
        ents = {e["path"]: e for e in t.store.manifest_entries(
            snap.version)}
        sidecars.append(ents[hot]["dv_path"])
    # premise: an older sidecar, still named by another file, holds a
    # superseded row for the hot file
    assert ents[others[1]]["dv_path"] == sidecars[1] != sidecars[-1]
    assert hot in pq.read_table(t.store.abs(sidecars[1]),
                                columns=["referenced_file"]
                                )["referenced_file"].to_pylist()

    dist = distscan.scan_distributed(
        spark, t.store, spark.read.parquet(*snap.manifest_paths),
        schema_ddl=snap.properties["schema_ddl"], project=snap.schema,
        with_location=True)
    default = scan_op.scan(spark, t.store, snap, with_location=True)
    assert _multiset(dist) == _multiset(default.select(dist.columns))
    assert dist.count() == len(loc) - 2 * len(rounds)
    plan = dist._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan, plan
