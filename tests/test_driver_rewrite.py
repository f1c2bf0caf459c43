"""The rewrite kernel's two placements: a job whose planned input is at
most ``rewrite.DRIVER_REWRITE_BYTES`` runs it in-process on the driver, a
larger one in Spark tasks, and both must lay out the same rows in the
same files.  Each parity case runs one table both ways (the task
placement by lowering ``DRIVER_REWRITE_BYTES``) and compares every
output file: its manifest entry (rows, bounds, null counts; not its
bytes) and its decoded rows in order, ``_pos`` included."""

import dataclasses
import datetime
import decimal
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from moonlink_spark.config import CompactionConfig, TableConfig
from moonlink_spark.engine import MoonTable
from moonlink_spark.operators import rewrite
from moonlink_spark.snapshotstore import DATA_DIR, DV_DIR, SnapshotStore
from moonlink_spark.synth import synthesize_cdc_aftermath
from tests.oracle import content_sha_multiset, live_rows_pandas


def _aftermath_config(w: str, **kw) -> TableConfig:
    """perfbench's maintain config for the table at ``w`` (2 bins of 2
    ranged outputs each), with ``kw`` replaced."""
    from perfbench.workloads import table_config
    cfg = table_config(sum(e["bytes"]
                           for e in SnapshotStore(w).manifest_entries(0)))
    return dataclasses.replace(cfg, **kw)


def _layout(w: str, version: int) -> list:
    """Each output file's manifest entry without its size, and its rows
    (a NaN as the string ``"NaN"``, which compares equal to itself)."""
    store = SnapshotStore(w)
    out = []
    for e in store.manifest_entries(version):
        rows = [{k: "NaN" if isinstance(v, float) and v != v else v
                 for k, v in r.items()}
                for r in pq.read_table(store.abs(e["path"])).to_pylist()]
        out.append(({k: v for k, v in e.items() if k != "bytes"}, rows))
    return out


def _both_ways(spark, tmp_path, monkeypatch, make, config=None) -> list:
    """Build the table twice with ``make(w)``, optimize it in each
    placement (``writer`` "driver", or "spark" for the tasks) and assert
    the layouts equal; returns the driver one."""
    got = {}
    for writer in ("driver", "spark"):
        w = str(tmp_path / writer)
        make(w)
        cfg = config(w) if callable(config) else config
        with monkeypatch.context() as m:
            if writer == "spark":
                m.setattr(rewrite, "DRIVER_REWRITE_BYTES", -1)
            snap = MoonTable(spark, w, cfg).optimize("full")
        assert snap.properties["metrics"]["writer"] == writer
        got[writer] = _layout(w, snap.version)
    assert len(got["driver"]) == len(got["spark"])
    for d, s in zip(got["driver"], got["spark"]):
        assert d[0] == s[0]
        assert d[1] == s[1], d[0]["path"]
    return got["driver"]


@pytest.mark.parametrize("seed", [1, 5, 9])
def test_aftermath_parity(spark, tmp_path, monkeypatch, seed):
    out = _both_ways(
        spark, tmp_path, monkeypatch,
        lambda w: synthesize_cdc_aftermath(w, seed=seed, n_files=20),
        _aftermath_config)
    assert len(out) >= 4


@pytest.mark.parametrize("kw", [{"zorder_curve": "hilbert"},
                                {"zorder_columns": ()}],
                         ids=["hilbert", "zorder_off"])
def test_curve_parity(spark, tmp_path, monkeypatch, kw):
    _both_ways(spark, tmp_path, monkeypatch,
               lambda w: synthesize_cdc_aftermath(w, seed=1, n_files=20),
               lambda w: _aftermath_config(w, **kw))


def test_one_output_per_bin_parity(spark, tmp_path, monkeypatch):
    """The ``n_out == 1`` branch: a bin the size of one output file is
    written unranged, as one partition."""
    out = _both_ways(
        spark, tmp_path, monkeypatch,
        lambda w: synthesize_cdc_aftermath(w, seed=3, n_files=12),
        TableConfig())
    assert len(out) == 1


def test_added_column_default_parity(spark, tmp_path, monkeypatch):
    def make(w):
        synthesize_cdc_aftermath(w, seed=7, n_files=12)
        t = MoonTable(spark, w)
        t.add_column("license", "string", default="mit")
        t.add_column("stars", "int", default=7)
        t.add_column("note", "string")

    out = _both_ways(spark, tmp_path, monkeypatch, make,
                     lambda w: _aftermath_config(w))
    rows = [r for _e, rs in out for r in rs]
    assert {(r["license"], r["stars"], r["note"]) for r in rows} == {
        ("mit", 7, None)}


def test_add_column_refuses_default_outside_its_type(spark, tmp_path):
    """A default that is not a value of its column's type is refused and
    commits nothing: on an ``int`` column 3,000,000,000 would read as
    ``bigint`` while compaction writes INT32 files, and the table would
    become unreadable.  Defaults at a type's edge, or of a narrower
    type than Spark gives their literal, scan, compact and read back as
    their column's type."""
    w = str(tmp_path / "wh")
    synthesize_cdc_aftermath(w, seed=7, n_files=6)
    t = MoonTable(spark, w)
    for ddl, default in (("int", 3_000_000_000), ("tinyint", 300),
                         ("int", "x"), ("string", 5),
                         ("decimal(5,2)", decimal.Decimal("1234.5"))):
        with pytest.raises(ValueError, match="default"):
            t.add_column("n", ddl, default=default)
    assert t.store.read_snapshot().version == 0
    t.add_column("n", "int", default=2**31 - 1)
    t.add_column("b", "tinyint", default=-128)
    t.add_column("f", "float", default=1.5)
    want = {"n": "int", "b": "tinyint", "f": "float"}
    for _ in range(2):
        assert {c: d for c, d in t.scan().dtypes if c in want} == want
        assert t.scan().where((F.col("n") == 2**31 - 1) & (F.col("b") == -128)
                              & (F.col("f") == 1.5)).count() == t.count()
        t.optimize("full")


def _typed_table(w: str, schema: pa.Schema, types: dict, files: list,
                 dvs: dict, stats_columns: tuple) -> None:
    """A table of ``files`` (column lists per ``schema``, ``_pos``
    added) written with pyarrow, with ``dvs`` ({file index: deleted
    positions}) in one sidecar."""
    store = SnapshotStore(w)
    store.init_warehouse()
    entries = []
    for i, cols in enumerate(files):
        n = len(cols[0])
        rel = os.path.join(DATA_DIR, f"typed-{i:04d}.parquet")
        pq.write_table(pa.table(
            [*cols, np.arange(n, dtype=np.int64)],
            schema=schema.append(pa.field("_pos", pa.int64()))),
            store.abs(rel))
        entries.append({"path": rel, "rows": n,
                        "bytes": os.path.getsize(store.abs(rel))})
    if dvs:
        rel = os.path.join(DV_DIR, "typed-dv.parquet")
        refs = [entries[i]["path"] for i in dvs]
        pq.write_table(pa.table({
            "referenced_file": refs,
            "positions": pa.array(list(dvs.values()), pa.list_(pa.int64())),
            "cardinality": [len(p) for p in dvs.values()],
            "max_row_count": [entries[i]["rows"] for i in dvs]}),
            store.abs(rel))
        for i, pos in dvs.items():
            entries[i].update(dv_path=rel, dv_cardinality=len(pos))
    names = [*schema.names, "_pos"]
    types = {**types, "_pos": "bigint"}
    store.commit(entries, schema=names, stats_columns=stats_columns,
                 properties={"flush_lsn": 1, "schema_types": types,
                             "schema_ddl": ", ".join(
                                 f"`{c}` {types[c]}" for c in names)},
                 expected_parent=None)


def _typed_files(rng, n_files: int, rows: int) -> list:
    day0 = datetime.date(2020, 1, 1)
    ts0 = datetime.datetime(2021, 6, 1, 12, 0, 0)
    files = []
    for _ in range(n_files):
        def maybe(vals):
            return [None if rng.random() < 0.1 else v for v in vals]
        ids = rng.integers(-1000, 1000, rows).tolist()
        files.append([
            maybe(ids),
            maybe([f"n{int(i) % 37:03d}é" for i in ids]),
            maybe([decimal.Decimal(int(i)).scaleb(-2) for i in ids]),
            maybe([decimal.Decimal(int(i) * 10**20 + 7).scaleb(-4)
                   for i in ids]),
            maybe([day0 + datetime.timedelta(days=int(i)) for i in ids]),
            maybe([ts0 + datetime.timedelta(seconds=int(i) * 997)
                   for i in ids]),
            maybe([float(i) / 3 for i in ids]),
        ])
    return files


_TYPED_SCHEMA = pa.schema([
    ("id", pa.int64()), ("name", pa.string()),
    ("price", pa.decimal128(10, 2)), ("big", pa.decimal128(30, 4)),
    ("day", pa.date32()), ("ts", pa.timestamp("us")),
    ("score", pa.float64())])
_TYPED_TYPES = {"id": "bigint", "name": "string", "price": "decimal(10,2)",
                "big": "decimal(30,4)", "day": "date", "ts": "timestamp",
                "score": "double"}
_TYPED_CONFIG = TableConfig(
    zorder_columns=("name", "id"),
    stats_columns=("id", "name", "price", "big", "day", "ts"),
    compaction=CompactionConfig(target_file_bytes=6 << 10,
                                bin_target_bytes=20 << 10,
                                bin_concurrency=2))


@pytest.mark.parametrize("out_ts,zone", [("INT96", "UTC"),
                                         ("TIMESTAMP_MICROS", "Asia/Kolkata")],
                         ids=["INT96", "TIMESTAMP_MICROS"])
def test_typed_table_parity(spark, tmp_path, monkeypatch, out_ts, zone):
    """decimal (integer- and array-backed), date, timestamp and double
    columns, with nulls, Z-ordered on a non-ASCII string and a long; a
    timestamp column is written as INT64 microseconds, with bounds,
    whatever the session's ``outputTimestampType`` says, and keeps its
    instants through the task placement's shuffle in any session time
    zone."""
    rng = np.random.default_rng(11)
    files = _typed_files(rng, 6, 400)

    def make(w):
        _typed_table(w, _TYPED_SCHEMA, _TYPED_TYPES, files,
                     {1: list(range(0, 400, 3)), 4: [5, 6, 7]},
                     _TYPED_CONFIG.stats_columns)

    conf = {"spark.sql.parquet.outputTimestampType": out_ts,
            "spark.sql.session.timeZone": zone}
    prev = {k: spark.conf.get(k) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        out = _both_ways(spark, tmp_path, monkeypatch, make, _TYPED_CONFIG)
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)
    assert len(out) > 2
    entry = out[0][0]
    assert isinstance(entry["min_price"], decimal.Decimal)
    assert entry["min_ts"] is not None


def test_fully_deleted_bin_parity(spark, tmp_path, monkeypatch):
    """A bin whose every row is deleted writes no file on either path;
    the other bin is written as usual."""
    rng = np.random.default_rng(12)
    files = _typed_files(rng, 4, 300)
    sizes = []

    def make(w):
        _typed_table(w, _TYPED_SCHEMA, _TYPED_TYPES, files,
                     {0: list(range(300)), 1: list(range(300)),
                      2: [0, 1]}, _TYPED_CONFIG.stats_columns)
        sizes[:] = [e["bytes"]
                    for e in SnapshotStore(w).manifest_entries(0)]

    def config(w):
        return dataclasses.replace(_TYPED_CONFIG, compaction=CompactionConfig(
            target_file_bytes=1 << 20, bin_target_bytes=sizes[0] + sizes[1],
            bin_concurrency=2))

    out = _both_ways(spark, tmp_path, monkeypatch, make, config)
    assert [e["path"].split("-b")[-1][:5] for e, _ in out] == ["00001"]
    assert out[0][0]["rows"] == 2 * 300 - 2


def test_nan_and_null_zorder_double_parity(spark, tmp_path, monkeypatch):
    """A ``double`` Z-order column holding NaN and null keys (both rank
    as 0) and sorts (nulls first) the same in both placements."""
    rng = np.random.default_rng(13)
    files = _typed_files(rng, 6, 400)
    for cols in files:
        cols[6] = [float("nan") if i % 11 == 0 else v
                   for i, v in enumerate(cols[6])]

    def make(w):
        _typed_table(w, _TYPED_SCHEMA, _TYPED_TYPES, files,
                     {2: list(range(0, 400, 5))}, _TYPED_CONFIG.stats_columns)

    out = _both_ways(spark, tmp_path, monkeypatch, make,
                     dataclasses.replace(_TYPED_CONFIG,
                                         zorder_columns=("score", "id")))
    scores = [r["score"] for _e, rs in out for r in rs]
    assert None in scores and "NaN" in scores
    assert len(out) > 2


def test_nested_types_parity(spark, tmp_path, monkeypatch):
    """Array and struct columns (``test_nested_types``' schema) pass
    through both placements unchanged, deleted rows dropped."""
    from pyspark.sql import functions as F

    from moonlink_spark.catalog import Catalog
    from tests.test_nested_types import NESTED_SCHEMA, NESTED_TYPES, nested_df

    cfg = TableConfig(zorder_columns=("id",),
                      stats_columns=("id", "content"),
                      compaction=CompactionConfig(
                          target_file_bytes=4 << 10, bin_target_bytes=16 << 10,
                          bin_concurrency=2))

    got = {}
    for writer in ("driver", "spark"):
        t = Catalog(spark, str(tmp_path / writer)).create_table(
            "db", "nested", schema=NESTED_SCHEMA, schema_types=NESTED_TYPES,
            config=cfg)
        for i in range(3):
            t.merge(nested_df(spark, 200).withColumn("id", F.col("id")
                                                     + 200 * i),
                    key_columns=["id"], job_tag=f"seed{i}")
        t.merge(nested_df(spark, 50).withColumn("_op", F.lit("delete")),
                key_columns=["id"], job_tag="del")
        with monkeypatch.context() as m:
            if writer == "spark":
                m.setattr(rewrite, "DRIVER_REWRITE_BYTES", -1)
            snap = t.optimize("full")
        assert snap.properties["metrics"]["writer"] == writer
        got[writer] = _layout(t.store.warehouse, snap.version)
    assert got["driver"] == got["spark"]
    rows = sorted((r for _e, rs in got["driver"] for r in rs),
                  key=lambda r: r["id"])
    assert len(rows) == 550 and rows[0]["id"] == 50
    assert rows[13]["tags"] == ["t0", "common"]
    assert rows[13]["meta"] == {"stars": 13, "forks": 0}


def test_spark_written_int96_timestamps_get_bounds(spark, tmp_path,
                                                    monkeypatch):
    """A table whose files Spark wrote under the default INT96
    ``outputTimestampType`` (footers without min/max) records non-null
    ``min_ts``/``max_ts`` for its compacted files in both placements."""
    from pyspark.sql import functions as F

    from moonlink_spark.catalog import Catalog

    cfg = TableConfig(zorder_columns=("k",), stats_columns=("k", "ts"))
    key = "spark.sql.parquet.outputTimestampType"
    assert spark.conf.get(key, "INT96") == "INT96"
    got = {}
    for writer in ("driver", "spark"):
        t = Catalog(spark, str(tmp_path / writer)).create_table(
            "db", "events", schema=["k", "ts", "_pos"],
            schema_types={"k": "bigint", "ts": "timestamp"}, config=cfg)
        for i in range(3):
            t.append(spark.range(100 * i, 100 * i + 100).select(
                F.col("id").alias("k"),
                F.timestamp_seconds(F.col("id") * 3600).alias("ts")))
        before = t.store.manifest_entries()
        assert all(e.get("min_ts") is None for e in before)
        first = pq.ParquetFile(t.store.abs(before[0]["path"])).metadata
        assert first.schema.column(1).physical_type == "INT96"
        with monkeypatch.context() as m:
            if writer == "spark":
                m.setattr(rewrite, "DRIVER_REWRITE_BYTES", -1)
            snap = t.optimize("full")
        assert snap.properties["metrics"]["writer"] == writer
        ents = t.store.manifest_entries(snap.version)
        assert ents and all(e["min_ts"] is not None for e in ents)
        assert min(e["min_ts"] for e in ents) == datetime.datetime(1970, 1, 1)
        got[writer] = _layout(t.store.warehouse, snap.version)
    assert got["driver"] == got["spark"]


def test_spilled_partition_writes_identical_files(tmp_path):
    """Stage 2 writes byte-identical files from a partition's rows held
    in memory and from the same rows spilled to an Arrow IPC file and
    memory-mapped (the task placement), and the spill holds no copy of
    the rows in Arrow's memory pool."""
    w = str(tmp_path / "wh")
    synthesize_cdc_aftermath(w, seed=4, n_files=20)
    store = SnapshotStore(w)
    cfg = _aftermath_config(w)
    snap = store.read_snapshot()
    from moonlink_spark.operators.planner import plan_compaction
    bin = max(plan_compaction(snap.manifest_paths,
                              cfg.compaction.for_full_mode()),
              key=lambda b: len(b.files))
    from moonlink_spark.functions.zorder import compute_zorder_boundaries
    from moonlink_spark.operators.scan import column_batches, dv_positions
    zcols = list(cfg.zorder_columns)
    bnds = compute_zorder_boundaries(
        column_batches([store.abs(f) for f in bin.files], zcols,
                       snap.properties["schema_types"]), zcols)
    kernel = rewrite.rewrite_kernel(
        store, bin, cfg, bnds, snap.schema, snap.properties["schema_types"],
        None)
    dels = dv_positions(store, bin.dv_files)
    batches = list(rewrite.key_files(kernel, [
        (store.abs(f), f, i, dels.get(f))
        for i, f in enumerate(sorted(bin.files))]))
    rows = pa.Table.from_batches(batches, schema=kernel.keyed_schema)
    assert rows.num_rows == bin.live_rows
    pool = pa.total_allocated_bytes()
    spilled = rewrite._spill(iter(rows.to_batches(max_chunksize=500)),
                             kernel.keyed_schema, str(tmp_path))
    assert pa.total_allocated_bytes() - pool < rows.nbytes // 4
    assert spilled.equals(rows)
    assert os.listdir(tmp_path) == ["wh"]  # the spill file is unlinked
    out = {}
    for name, table in (("memory", rows), ("mapped", spilled)):
        d = tmp_path / name
        d.mkdir()
        written = rewrite.write_partition(kernel, table, 0, str(d))
        assert sum(n for _f, n in written) == rows.num_rows
        out[name] = {f: (d / f).read_bytes() for f, _n in written}
    assert len(out["memory"]) > 1
    assert out["memory"] == out["mapped"]


def test_take_across_batches_matches_table_take():
    """``rewrite._take`` gathers rows from a many-batch table batch by
    batch and returns them in the order asked, as ``Table.take`` would."""
    rng = np.random.default_rng(5)
    n = 5_000
    table = pa.table({
        "s": [None if i % 97 == 0 else f"v{i}" for i in range(n)],
        "x": rng.integers(-9, 9, n),
        "l": [[i, -i] for i in range(n)]})
    batches = table.to_batches(max_chunksize=333)
    starts = np.cumsum([0] + [b.num_rows for b in batches[:-1]])
    for idx in (rng.permutation(n)[:1_234], np.arange(n)[::-1],
                np.array([4_999, 0, 333, 332])):
        got = rewrite._take(batches, starts, idx)
        assert got.equals(table.take(idx))
        assert got.column(0).num_chunks == 1


def test_xxhash64_matches_spark(spark):
    """The numpy port of Spark's ``xxhash64(string, long)``: strings
    of every length class (under 4, 4-7, 8-31 and 32+ bytes, non-ASCII)
    and positions of both signs."""
    assert rewrite.xxhash64("data/x.parquet", np.array([5]))[0] == (
        6151398802928247406)
    files = ["", "a", "abcd", "data/x.parquet", "é" * 9,
             "data/s3/data-opt-full-v000001-b00001-0001.parquet",
             "x" * 100 + "ü"]
    pos = [0, 1, -1, 5, 2**40 + 3, -(2**63), 2**63 - 1]
    df = spark.createDataFrame([(f, p) for f in files for p in pos],
                               "f string, p long")
    got = [r[0] for r in df.select(F.xxhash64("f", "p")).collect()]
    want = [int(h) for f in files
            for h in rewrite.xxhash64(f, np.array(pos, np.int64))]
    assert got == want


def test_writer_named_in_lineage_and_metrics(spark, tmp_path, monkeypatch):
    for writer in ("driver", "spark"):
        w = str(tmp_path / writer)
        synthesize_cdc_aftermath(w, seed=2, n_files=10)
        with monkeypatch.context() as m:
            if writer == "spark":
                m.setattr(rewrite, "DRIVER_REWRITE_BYTES", -1)
            t = MoonTable(spark, w, _aftermath_config(w))
            snap = t.optimize("full")
        assert snap.properties["metrics"]["writer"] == writer
        recs = t.metrics(snap.properties["job_id"])
        assert len(recs) == 2
        assert {r["writer"] for r in recs} == {writer}


def test_driver_resume_after_kill_matches_uninterrupted(spark, tmp_path):
    """A driver-path job killed after its first bin resumes to the
    manifest of an uninterrupted one."""
    killed, clean = str(tmp_path / "killed"), str(tmp_path / "clean")
    for w in (killed, clean):
        synthesize_cdc_aftermath(w, seed=23, n_files=24,
                                 rows_per_file=(50, 150), n_repos=6,
                                 content_bytes=(64, 512))
    cfg = TableConfig(compaction=CompactionConfig(
        target_file_bytes=64 << 10, bin_target_bytes=128 << 10,
        bin_concurrency=2))
    uninterrupted = MoonTable(spark, clean, cfg).optimize("full")
    t = MoonTable(spark, killed, cfg)
    assert t.optimize("full", max_bins=1).version == 0
    assert [r["writer"] for r in t.metrics()] == ["driver"]
    resumed = t.optimize("full")
    assert resumed.properties["metrics"]["writer"] == "driver"
    assert resumed.properties["metrics"]["bins"] > 1

    def fingerprint(w):
        return [(e["path"], e["rows"], e["bytes"], e["dv_path"])
                for e in SnapshotStore(w).manifest_entries(1)]

    assert fingerprint(killed) == fingerprint(clean)


def test_warehouse_path_needing_url_encoding(spark, tmp_path, monkeypatch):
    """A warehouse under a directory named with a space, ``%``, ``+`` and
    a non-ASCII character: ``scan()`` drops the deleted rows (Spark
    reports the file path URL-encoded), and ``optimize`` commits the
    live rows on both paths."""
    src = str(tmp_path / "src")
    synthesize_cdc_aftermath(src, seed=1, n_files=20)
    want = content_sha_multiset(live_rows_pandas(SnapshotStore(src), 0))
    for writer in ("driver", "spark"):
        w = str(tmp_path / f"sp ace%2B+é-{writer}" / "wh")
        shutil.copytree(src, w)
        t = MoonTable(spark, w, _aftermath_config(w))
        assert t.scan().count() == t.count()
        with monkeypatch.context() as m:
            if writer == "spark":
                m.setattr(rewrite, "DRIVER_REWRITE_BYTES", -1)
            snap = t.optimize("full")
        assert snap.properties["metrics"]["writer"] == writer
        assert snap.properties["metrics"]["rows_out"] == t.count(0)
        assert t.scan().count() == t.count()
        got = content_sha_multiset(live_rows_pandas(t.store, snap.version))
        assert got == want
