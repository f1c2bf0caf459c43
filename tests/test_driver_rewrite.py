"""The driver rewrite: a job whose planned input is small writes its bins
with pyarrow on the driver (``rewrite.driver_rewrite``), and must lay out
the same rows in the same files as the Spark rewrite it replaces.  Each
parity case runs one table both ways (the Spark way by lowering
``DRIVER_REWRITE_BYTES``) and compares every output file: its manifest
entry (rows, bounds, null counts; not its bytes) and its decoded rows in
order, ``_pos`` included."""

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
    """Each output file's manifest entry without its size, and its rows."""
    store = SnapshotStore(w)
    out = []
    for e in store.manifest_entries(version):
        rows = pq.read_table(store.abs(e["path"])).to_pylist()
        out.append(({k: v for k, v in e.items() if k != "bytes"}, rows))
    return out


def _both_ways(spark, tmp_path, monkeypatch, make, config=None) -> list:
    """Build the table twice with ``make(w)``, optimize it on each path
    and assert the layouts equal; returns the driver one."""
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


@pytest.mark.parametrize("out_ts", ["INT96", "TIMESTAMP_MICROS"])
def test_typed_table_parity(spark, tmp_path, monkeypatch, out_ts):
    """decimal (integer- and array-backed), date, timestamp and double
    columns, with nulls, Z-ordered on a non-ASCII string and a long; a
    timestamp column is written as the session's
    ``outputTimestampType`` says (INT96 carries no bounds)."""
    rng = np.random.default_rng(11)
    files = _typed_files(rng, 6, 400)

    def make(w):
        _typed_table(w, _TYPED_SCHEMA, _TYPED_TYPES, files,
                     {1: list(range(0, 400, 3)), 4: [5, 6, 7]},
                     _TYPED_CONFIG.stats_columns)

    key = "spark.sql.parquet.outputTimestampType"
    prev = spark.conf.get(key)
    spark.conf.set(key, out_ts)
    try:
        out = _both_ways(spark, tmp_path, monkeypatch, make, _TYPED_CONFIG)
    finally:
        spark.conf.set(key, prev)
    assert len(out) > 2
    entry = out[0][0]
    assert isinstance(entry["min_price"], decimal.Decimal)
    assert (entry["min_ts"] is None) == (out_ts == "INT96")


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
