"""Typed per-column bounds + pruning correctness.

The reference aggregates typed Iceberg ``Datum`` bounds per column
(``storage/table/iceberg/parquet_stats_utils.rs:180-320``); bounds
stored as strings would compare lexicographically on numeric columns
("9" > "10") and *silently drop matching files* during pruning.  These
tests pin the typed-bounds contract end to end:

- bounds land in the manifest in the column's native type;
- pruning on a numeric column keeps every file whose range contains the
  predicate value (the lexicographic counterexample: 5 ∈ [2, 11]);
- a type-mismatched predicate is refused loudly (TypeError), never
  silently lexicographic;
- MERGE's automatic lead-key pruning is correct on an int key;
- MERGE whose change-key range misses every file's bounds (pure inserts
  of new keys) commits insert-only instead of crashing (the round-1
  empty-prune regression: moonlink's contract is that deletes matching
  nothing are silently dropped, ``mooncake_table.rs:1241-1288``
  ``delete_if_exists``).
"""

import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from moonlink_spark.config import CompactionConfig, TableConfig
from moonlink_spark.engine import MoonTable
from moonlink_spark.operators.scan import prune_manifest
from moonlink_spark.snapshotstore import DATA_DIR, SnapshotStore
from moonlink_spark.synth import synthesize_cdc_aftermath

INT_CFG = TableConfig(
    zorder_columns=("name",),
    stats_columns=("id", "name"),
    compaction=CompactionConfig(target_file_bytes=64 << 10,
                                bin_target_bytes=256 << 10,
                                bin_concurrency=2),
)

INT_SCHEMA = ["id", "name", "_pos"]
INT_TYPES = {"id": "int", "name": "string", "_pos": "bigint"}
INT_DDL = "`id` int, `name` string, `_pos` bigint"


def _int_table(spark, tmp_path, file_ranges):
    """Fresh warehouse with an int-keyed table, one data file per
    (lo, hi) id range."""
    w = str(tmp_path / "wh-int")
    store = SnapshotStore(w)
    store.init_warehouse()
    store.commit([], schema=INT_SCHEMA, stats_columns=INT_CFG.stats_columns,
                 properties={"flush_lsn": 0, "schema_types": INT_TYPES,
                             "schema_ddl": INT_DDL},
                 expected_parent=None)
    t = MoonTable(spark, w, INT_CFG)
    paths = []
    for i, (lo, hi) in enumerate(file_ranges):
        ids = list(range(lo, hi + 1))
        tb = pa.table({
            "id": pa.array(ids, pa.int32()),
            "name": pa.array([f"n{v:06d}" for v in ids]),
            "_pos": pa.array(np.arange(len(ids), dtype=np.int64)),
        })
        p = store.abs(f"{DATA_DIR}/f{i:03d}.parquet")
        pq.write_table(tb, p)
        paths.append(p)
    t.load_files(paths)
    return t


def test_typed_bounds_stored_natively(spark, tmp_path):
    t = _int_table(spark, tmp_path, [(2, 11), (50, 60)])
    m = t.manifest()
    dtypes = dict(m.dtypes)
    assert dtypes["min_id"] == "int"
    assert dtypes["max_id"] == "int"
    assert dtypes["min_name"] == "string"
    rows = {r["path"]: r for r in m.collect()}
    f0 = rows[f"{DATA_DIR}/f000.parquet"]
    assert (f0["min_id"], f0["max_id"]) == (2, 11)


def test_prune_numeric_not_lexicographic(spark, tmp_path):
    # 5 ∈ [2, 11] numerically but "11" < "5" lexicographically — string
    # bounds would drop the file
    t = _int_table(spark, tmp_path, [(2, 11), (50, 60)])
    kept = prune_manifest(t.manifest(), {"id": ("==", 5)}).collect()
    assert [r["path"] for r in kept] == [f"{DATA_DIR}/f000.parquet"]
    assert t.scan(predicates={"id": ("==", 5)}) \
        .filter(F.col("id") == 5).count() == 1


def test_prune_type_mismatch_refused(spark, tmp_path):
    t = _int_table(spark, tmp_path, [(2, 11)])
    with pytest.raises(TypeError):
        prune_manifest(t.manifest(), {"id": ("==", "5")})
    with pytest.raises(TypeError):
        prune_manifest(t.manifest(), {"name": ("==", 7)})
    with pytest.raises(ValueError):
        prune_manifest(t.manifest(), {"nosuch": ("==", 1)})


def test_merge_int_key_autoprune_correct(spark, tmp_path):
    t = _int_table(spark, tmp_path, [(2, 11), (50, 60)])
    before = t.scan().count()
    ch = spark.createDataFrame([(5, None, "delete")],
                               "id int, name string, _op string")
    snap = t.merge(ch, key_columns=["id"])
    after = t.scan(snap.version)
    assert after.count() == before - 1
    assert after.filter(F.col("id") == 5).count() == 0


def test_prune_never_drops_matching_file_property(spark, tmp_path):
    """Property: for random int file ranges and random predicates, every
    file whose [min,max] intersects the predicate survives pruning."""
    rng = random.Random(20260817)
    rows = []
    for i in range(40):
        lo = rng.randint(-1000, 1000)
        hi = lo + rng.randint(0, 500)
        rows.append((f"f{i:03d}", 10, 100, None, 0, lo, hi))
    m = spark.createDataFrame(
        rows, "path string, rows long, bytes long, dv_path string, "
              "dv_cardinality long, min_id int, max_id int")

    def expected(pred):
        op = pred[0]
        out = set()
        for p, _, _, _, _, lo, hi in rows:
            if op == "==" and lo <= pred[1] <= hi:
                out.add(p)
            elif op == "<" and lo < pred[1]:
                out.add(p)
            elif op == "<=" and lo <= pred[1]:
                out.add(p)
            elif op == ">" and hi > pred[1]:
                out.add(p)
            elif op == ">=" and hi >= pred[1]:
                out.add(p)
            elif op == "between" and hi >= pred[1] and lo <= pred[2]:
                out.add(p)
        return out

    preds = []
    for _ in range(8):
        op = rng.choice(["==", "<", "<=", ">", ">=", "between"])
        v = rng.randint(-1200, 1200)
        preds.append((op, v, v + rng.randint(0, 400))
                     if op == "between" else (op, v))
    for pred in preds:
        got = {r["path"] for r in
               prune_manifest(m, {"id": pred}).collect()}
        assert got == expected(pred), f"pred {pred}"


STR_KEYS = ["repo", "path", "commit"]


def test_merge_only_new_keys_into_nonempty(spark, tmp_path):
    """Round-1 regression: a change batch whose lead-key range misses
    every file's bounds prunes the scan to empty — MERGE must degrade to
    an insert-only commit, not crash on missing location columns."""
    w = str(tmp_path / "wh-str")
    synthesize_cdc_aftermath(w, seed=77, n_files=6, rows_per_file=(20, 40),
                             n_repos=3, content_bytes=(32, 64))
    t = MoonTable(spark, w, TableConfig(compaction=CompactionConfig(
        target_file_bytes=64 << 10, bin_target_bytes=256 << 10,
        bin_concurrency=2)))
    before = t.scan().count()
    # "zzzz/..." sorts after every synthesized repo bound
    ch = spark.createDataFrame(
        [("zzzz/brandnew", f"src/n{i}.rs", f"{i:040x}", "rust",
          f"fresh {i}", "upsert") for i in range(4)],
        "repo string, path string, commit string, lang string, "
        "content string, _op string")
    snap = t.merge(ch, key_columns=STR_KEYS)
    got = t.scan(snap.version)
    assert got.count() == before + 4
    assert got.filter(F.col("repo") == "zzzz/brandnew").count() == 4
    assert snap.properties["merged_deletes"] == 0
    assert snap.properties["inserted_rows"] == 4


def test_temporal_bounds_and_pruning(spark, tmp_path):
    """Date/timestamp columns carry native bounds and prune correctly —
    the temporal half of the reference's Datum universe
    (``parquet_stats_utils.rs:180-320``: Date/Time/Timestamp datums)."""
    import datetime as dt

    w = str(tmp_path / "wh-temporal")
    store = SnapshotStore(w)
    store.init_warehouse()
    types = {"day": "date", "ts": "timestamp", "name": "string",
             "_pos": "bigint"}
    ddl = "`day` date, `ts` timestamp, `name` string, `_pos` bigint"
    cfg = TableConfig(
        zorder_columns=("name",), stats_columns=("day", "ts"),
        compaction=CompactionConfig(target_file_bytes=64 << 10,
                                    bin_target_bytes=256 << 10,
                                    bin_concurrency=2))
    store.commit([], schema=["day", "ts", "name", "_pos"],
                 stats_columns=cfg.stats_columns,
                 properties={"flush_lsn": 0, "schema_types": types,
                             "schema_ddl": ddl},
                 expected_parent=None)
    t = MoonTable(spark, w, cfg)
    paths = []
    for i, (d0, d1) in enumerate([(0, 9), (40, 49)]):
        days = [dt.date(2026, 1, 1) + dt.timedelta(days=d)
                for d in range(d0, d1 + 1)]
        tb = pa.table({
            "day": pa.array(days, pa.date32()),
            "ts": pa.array([dt.datetime(2026, 1, 1, 12)
                            + dt.timedelta(days=d) for d in range(d0, d1 + 1)],
                           pa.timestamp("us")),
            "name": pa.array([f"n{d:04d}" for d in range(d0, d1 + 1)]),
            "_pos": pa.array(np.arange(d1 - d0 + 1, dtype=np.int64)),
        })
        p = store.abs(f"{DATA_DIR}/t{i:03d}.parquet")
        pq.write_table(tb, p)
        paths.append(p)
    t.load_files(paths)

    m = t.manifest()
    dtypes = dict(m.dtypes)
    assert dtypes["min_day"] == "date"
    # tz-naive arrow timestamps surface as timestamp_ntz; both are in
    # the temporal comparison group
    assert dtypes["max_ts"] in ("timestamp", "timestamp_ntz")

    kept = prune_manifest(
        m, {"day": ("==", dt.date(2026, 1, 5))}).collect()
    assert [r["path"] for r in kept] == [f"{DATA_DIR}/t000.parquet"]
    kept = prune_manifest(
        m, {"ts": (">", dt.datetime(2026, 2, 1))}).collect()
    assert [r["path"] for r in kept] == [f"{DATA_DIR}/t001.parquet"]

    # cross-group predicates are refused, never implicitly cast
    with pytest.raises(TypeError):
        prune_manifest(m, {"day": ("==", "2026-01-05")})
    with pytest.raises(TypeError):
        prune_manifest(m, {"day": ("==", dt.datetime(2026, 1, 5))})
    with pytest.raises(TypeError):
        prune_manifest(m, {"ts": ("==", dt.date(2026, 1, 5))})


def test_timestamp_key_merge_outside_utc(spark, tmp_path, monkeypatch):
    """A merge keyed on a Spark-written ``timestamp`` column matches its
    key on both planners when Python's local zone is not UTC.  The
    key's bounds hold UTC times (from UTC-adjusted footer statistics);
    the batch's key range comes back to Python as local times.  Pruning
    the file on the difference would turn an upsert into a duplicate
    row and lose a delete."""
    import time

    from moonlink_spark.operators import distscan

    types = {"k": "timestamp", "v": "string", "_pos": "bigint"}
    cfg = TableConfig(zorder_columns=(), stats_columns=("k",))

    def change(v, op):
        return spark.sql("select timestamp'2024-01-01 17:00:00' as k, "
                         f"{v} as v, '{op}' as _op")

    monkeypatch.setenv("TZ", "America/New_York")
    time.tzset()
    # Spark's default INT96 timestamps carry no footer min/max, so no
    # bounds and nothing to prune
    spark.conf.set("spark.sql.parquet.outputTimestampType",
                   "TIMESTAMP_MICROS")
    try:
        for limit in (10 ** 9, -1):  # driver plan, then distscan
            monkeypatch.setattr(distscan, "PLAN_DISTRIBUTED_FILES", limit)
            w = str(tmp_path / f"wh-ts{limit}")
            store = SnapshotStore(w)
            store.init_warehouse()
            store.commit([], schema=list(types),
                         stats_columns=cfg.stats_columns,
                         properties={"flush_lsn": 0, "schema_types": types,
                                     "schema_ddl": "`k` timestamp, "
                                     "`v` string, `_pos` bigint"},
                         expected_parent=None)
            t = MoonTable(spark, w, cfg)
            t.merge(change("'a'", "upsert"), key_columns=["k"])
            assert t.manifest().first()["min_k"] is not None
            t.merge(change("'b'", "upsert"), key_columns=["k"])
            rows = t.scan().collect()
            assert [r["v"] for r in rows] == ["b"], limit
            assert t.scan(predicates={"k": rows[0]["k"]}).count() == 1
            t.merge(change("null", "delete"), key_columns=["k"])
            assert t.scan().count() == 0, limit
    finally:
        spark.conf.unset("spark.sql.parquet.outputTimestampType")
        monkeypatch.undo()
        time.tzset()


def test_decimal_bounds_and_pruning(spark, tmp_path):
    """decimal(p,s) columns carry exact decimal128 bounds and prune
    correctly — the decimal Datum of the reference's universe
    (``parquet_stats_utils.rs:180-320``).  The lexicographic trap is
    sharper here than for ints ("9.50" > "10.00"), and binary floats
    cannot represent the bounds exactly, so the pruner only accepts
    Decimal (or int) predicates."""
    from decimal import Decimal

    w = str(tmp_path / "wh-decimal")
    store = SnapshotStore(w)
    store.init_warehouse()
    types = {"price": "decimal(10,2)", "name": "string", "_pos": "bigint"}
    ddl = "`price` decimal(10,2), `name` string, `_pos` bigint"
    cfg = TableConfig(
        zorder_columns=("name",), stats_columns=("price",),
        compaction=CompactionConfig(target_file_bytes=64 << 10,
                                    bin_target_bytes=256 << 10,
                                    bin_concurrency=2))
    store.commit([], schema=["price", "name", "_pos"],
                 stats_columns=cfg.stats_columns,
                 properties={"flush_lsn": 0, "schema_types": types,
                             "schema_ddl": ddl},
                 expected_parent=None)
    t = MoonTable(spark, w, cfg)
    paths = []
    for i, (lo_c, hi_c) in enumerate([(995, 1100), (4000, 4999)]):
        cents = list(range(lo_c, hi_c + 1, 5))
        tb = pa.table({
            "price": pa.array([Decimal(c).scaleb(-2) for c in cents],
                              pa.decimal128(10, 2)),
            "name": pa.array([f"n{c:05d}" for c in cents]),
            "_pos": pa.array(np.arange(len(cents), dtype=np.int64)),
        })
        p = store.abs(f"{DATA_DIR}/t{i:03d}.parquet")
        pq.write_table(tb, p)
        paths.append(p)
    t.load_files(paths)

    m = t.manifest()
    assert dict(m.dtypes)["min_price"] == "decimal(10,2)"

    # 10.00 ∈ [9.95, 11.00] but "10.00" < "9.95" lexicographically —
    # typed pruning must keep file 0
    kept = prune_manifest(m, {"price": ("==", Decimal("10.00"))}).collect()
    assert [r["path"] for r in kept] == [f"{DATA_DIR}/t000.parquet"]
    kept = prune_manifest(m, {"price": (">", Decimal("20"))}).collect()
    assert [r["path"] for r in kept] == [f"{DATA_DIR}/t001.parquet"]
    # int predicate against decimal bounds is exact, allowed
    kept = prune_manifest(m, {"price": ("between", 9, 10)}).collect()
    assert [r["path"] for r in kept] == [f"{DATA_DIR}/t000.parquet"]

    # binary-float and string predicates are refused, never coerced
    with pytest.raises(TypeError):
        prune_manifest(m, {"price": ("==", 10.0)})
    with pytest.raises(TypeError):
        prune_manifest(m, {"price": ("==", "10.00")})


def test_decimal_row_filters_on_distributed_scan(spark, tmp_path,
                                                 monkeypatch):
    """Row filters on a decimal column return the same rows on the
    distributed scan as Python's Decimal order: a literal of another
    scale or an int literal neither drops matching rows nor fails."""
    from decimal import Decimal

    from moonlink_spark.operators import distscan

    w = str(tmp_path / "wh-decimal-rows")
    store = SnapshotStore(w)
    store.init_warehouse()
    types = {"price": "decimal(10,2)", "name": "string", "_pos": "bigint"}
    cfg = TableConfig(zorder_columns=(), stats_columns=("price",))
    store.commit([], schema=list(types), stats_columns=cfg.stats_columns,
                 properties={"flush_lsn": 0, "schema_types": types,
                             "schema_ddl": "`price` decimal(10,2), "
                                           "`name` string, `_pos` bigint"},
                 expected_parent=None)
    t = MoonTable(spark, w, cfg)
    prices = [Decimal("10.12"), Decimal("10.13"), Decimal("40.00")]
    p = store.abs(f"{DATA_DIR}/t000.parquet")
    pq.write_table(pa.table({
        "price": pa.array(prices, pa.decimal128(10, 2)),
        "name": pa.array(["a", "b", "c"]),
        "_pos": pa.array(np.arange(3, dtype=np.int64)),
    }), p)
    t.load_files([p])
    monkeypatch.setattr(distscan, "PLAN_DISTRIBUTED_FILES", 0)

    def rows(pred):
        return sorted(r["price"] for r in t.scan(
            predicates={"price": pred}, apply_row_filters=True).collect())

    assert rows((">", Decimal("10.125"))) == prices[1:]
    assert rows(("==", Decimal("10.120"))) == prices[:1]
    assert rows((">=", 10)) == prices


def test_null_counts_and_nullness_pruning(spark, tmp_path):
    """null_<col> lands in the manifest from the footer pass and drives
    IS NULL / IS NOT NULL pruning; unknown counts are kept (Iceberg
    null_value_counts analogue)."""
    w = str(tmp_path / "wh-null")
    store = SnapshotStore(w)
    store.init_warehouse()
    store.commit([], schema=INT_SCHEMA, stats_columns=INT_CFG.stats_columns,
                 properties={"flush_lsn": 0, "schema_types": INT_TYPES,
                             "schema_ddl": INT_DDL},
                 expected_parent=None)
    t = MoonTable(spark, w, INT_CFG)
    cases = {  # file -> name values
        "mixed": ["a", None, "b", None],
        "dense": ["c", "d", "e", "f"],
        "allnull": [None, None, None, None],
    }
    paths = []
    for i, (tag, names) in enumerate(cases.items()):
        tb = pa.table({
            "id": pa.array(range(i * 10, i * 10 + len(names)), pa.int32()),
            "name": pa.array(names, pa.string()),
            "_pos": pa.array(np.arange(len(names), dtype=np.int64)),
        })
        p = store.abs(f"{DATA_DIR}/{tag}.parquet")
        pq.write_table(tb, p)
        paths.append(p)
    t.load_files(paths)

    m = t.manifest()
    nulls = {r["path"].split("/")[-1]: r["null_name"] for r in m.collect()}
    assert nulls == {"mixed.parquet": 2, "dense.parquet": 0,
                     "allnull.parquet": 4}

    kept = {r["path"].split("/")[-1]
            for r in prune_manifest(m, {"name": ("is_null",)}).collect()}
    assert kept == {"mixed.parquet", "allnull.parquet"}
    kept = {r["path"].split("/")[-1]
            for r in prune_manifest(m, {"name": ("not_null",)}).collect()}
    assert kept == {"mixed.parquet", "dense.parquet"}

    # unknown counts (pre-upgrade manifests / missing footer stats) are
    # conservatively kept for both predicates
    unk = m.withColumn("null_name", F.lit(None).cast("long"))
    assert prune_manifest(unk, {"name": ("is_null",)}).count() == 3
    assert prune_manifest(unk, {"name": ("not_null",)}).count() == 3


def test_null_counts_survive_compaction(spark, tmp_path):
    """optimize() rewrites files; the successor manifest's null counts
    come from the new footers and stay exact."""
    w = str(tmp_path / "wh-null2")
    store = SnapshotStore(w)
    store.init_warehouse()
    store.commit([], schema=INT_SCHEMA, stats_columns=INT_CFG.stats_columns,
                 properties={"flush_lsn": 0, "schema_types": INT_TYPES,
                             "schema_ddl": INT_DDL},
                 expected_parent=None)
    t = MoonTable(spark, w, INT_CFG)
    paths = []
    total_nulls = 0
    for i in range(4):
        names = [f"x{j}" if (j + i) % 3 else None for j in range(50)]
        total_nulls += sum(1 for v in names if v is None)
        tb = pa.table({
            "id": pa.array(range(i * 100, i * 100 + 50), pa.int32()),
            "name": pa.array(names, pa.string()),
            "_pos": pa.array(np.arange(50, dtype=np.int64)),
        })
        p = store.abs(f"{DATA_DIR}/g{i:03d}.parquet")
        pq.write_table(tb, p)
        paths.append(p)
    t.load_files(paths)
    t.optimize("full")
    m = t.manifest()
    got = m.agg(F.sum("null_name"), F.sum("rows")).collect()[0]
    assert got[0] == total_nulls and got[1] == 200


def test_ndv_sketch_collection(spark, tmp_path):
    """collect_ndv=True records per-file approx distinct counts in the
    manifest (ndv_<col>); tables that don't opt in keep NULLs."""
    import dataclasses
    w = str(tmp_path / "wh-ndv")
    store = SnapshotStore(w)
    store.init_warehouse()
    cfg = dataclasses.replace(INT_CFG, collect_ndv=True)
    store.commit([], schema=INT_SCHEMA, stats_columns=cfg.stats_columns,
                 properties={"flush_lsn": 0, "schema_types": INT_TYPES,
                             "schema_ddl": INT_DDL},
                 expected_parent=None)
    t = MoonTable(spark, w, cfg)
    for i in range(3):
        ids = list(range(i * 100, i * 100 + 60))
        tb = pa.table({
            "id": pa.array(ids, pa.int32()),
            # only 4 distinct names per file
            "name": pa.array([f"n{v % 4}" for v in ids]),
            "_pos": pa.array(np.arange(60, dtype=np.int64)),
        })
        pq.write_table(tb, store.abs(f"{DATA_DIR}/h{i:03d}.parquet"))
    t.load_files([store.abs(f"{DATA_DIR}/h{i:03d}.parquet")
                  for i in range(3)])
    # bulk load is footer-only: ndv unknown
    m0 = t.manifest()
    assert "ndv_name" in dict(m0.dtypes)
    assert m0.filter(F.col("ndv_name").isNotNull()).count() == 0

    t.optimize("full")
    rows = t.manifest().collect()
    assert rows, "expected compacted outputs"
    for r in rows:
        # HLL++ at rsd=0.02 is exact at these cardinalities
        assert r["ndv_name"] == 4
        assert abs(r["ndv_id"] - r["rows"]) <= max(2, r["rows"] * 0.05)
