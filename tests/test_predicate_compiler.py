"""One typed predicate compiler: bound pruning and row filters compare
through one core (``scan._keep``) under the table's column types, on
both backends.

- a ``timestamp_ntz`` key compares at wall-clock time on both planners,
  whatever Python's local zone;
- the pyarrow row filter compares a ``timestamp`` column at its UTC
  instant, also on the ``tz=UTC`` columns Spark writes;
- the metadata aggregates (``count``, ``stats``, ``column_bounds``)
  read the manifest on the driver: no Spark job, no literal round trip;
- a DDL schema string is parsed through the JVM once per process.
"""

import datetime as dt
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql.types import StructType

from moonlink_spark.config import TableConfig
from moonlink_spark.engine import MoonTable
from moonlink_spark.operators import distscan
from moonlink_spark.operators import scan as scan_op
from moonlink_spark.snapshotstore import DATA_DIR, SnapshotStore


def _table(spark, path, types, stats_columns=("k",)):
    store = SnapshotStore(path)
    store.init_warehouse()
    store.commit([], schema=list(types), stats_columns=stats_columns,
                 properties={"flush_lsn": 0, "schema_types": types,
                             "schema_ddl": ", ".join(
                                 f"`{c}` {t}" for c, t in types.items())},
                 expected_parent=None)
    return MoonTable(spark, path, TableConfig(zorder_columns=(),
                                              stats_columns=stats_columns))


@pytest.fixture()
def new_york(spark, monkeypatch):
    """Python's local zone at America/New_York (the session zone stays
    UTC), and Spark writing timestamps as TIMESTAMP_MICROS, whose footers
    carry the bounds the default INT96 lacks."""
    monkeypatch.setenv("TZ", "America/New_York")
    time.tzset()
    spark.conf.set("spark.sql.parquet.outputTimestampType",
                   "TIMESTAMP_MICROS")
    yield
    spark.conf.unset("spark.sql.parquet.outputTimestampType")
    monkeypatch.undo()
    time.tzset()


@pytest.mark.parametrize("limit", [10 ** 9, -1])
def test_timestamp_ntz_key_merge_outside_utc(spark, tmp_path, monkeypatch,
                                             new_york, limit):
    """A merge keyed on a ``timestamp_ntz`` column matches its key on
    both planners when Python's local zone is not UTC.  The key's bounds
    hold wall-clock times, and so does the batch's key range; reading
    the range as local time pruned the file holding the key, so an
    upsert duplicated the row and a delete was lost."""
    monkeypatch.setattr(distscan, "PLAN_DISTRIBUTED_FILES", limit)
    t = _table(spark, str(tmp_path / "wh"),
               {"k": "timestamp_ntz", "v": "string", "_pos": "bigint"})

    def change(v, op):
        return spark.sql("select timestamp_ntz'2024-01-01 17:00:00' as k, "
                         f"{v} as v, '{op}' as _op")

    t.merge(change("'a'", "upsert"), key_columns=["k"])
    assert t.manifest().first()["min_k"] is not None
    t.merge(change("'b'", "upsert"), key_columns=["k"])
    rows = t.scan().collect()
    assert [r["v"] for r in rows] == ["b"]
    assert rows[0]["k"] == dt.datetime(2024, 1, 1, 17)
    assert t.scan(predicates={"k": rows[0]["k"]}).count() == 1
    assert t.scan(predicates={"k": rows[0]["k"]},
                  apply_row_filters=True).count() == 1
    t.merge(change("null", "delete"), key_columns=["k"])
    assert t.scan().count() == 0


def test_row_filter_pushdown_on_spark_written_timestamps(
        spark, tmp_path, monkeypatch, new_york):
    """Above the planning switch, a naive literal on a ``timestamp``
    column is pushed into the pyarrow reader.  A Spark-written
    TIMESTAMP_MICROS file holds the column as ``timestamp[us,
    tz=UTC]``; the pushdown compares it at the literal's UTC instant and
    keeps Spark's rows (it raised ArrowInvalid comparing zone-aware with
    naive times)."""
    monkeypatch.setattr(distscan, "PLAN_DISTRIBUTED_FILES", -1)
    t = _table(spark, str(tmp_path / "wh"),
               {"k": "timestamp", "v": "string", "_pos": "bigint"})
    t.append(spark.sql(
        "select timestamp_seconds(1704110400 + id * 3600) as k, "
        "cast(id as string) as v from range(12)"))
    path = t.store.abs(t.manifest().first()["path"])
    assert pq.read_schema(path).field("k").type == pa.timestamp("us", "UTC")
    lit = t.scan().orderBy("k").collect()[5]["k"]  # naive local time
    for pred in (lit, ("<=", lit), ("between", lit, lit)):
        cond = scan_op.predicate_exprs({"k": pred})[0]
        want = sorted(r["v"] for r in t.scan().filter(cond).collect())
        got = sorted(r["v"] for r in t.scan(
            predicates={"k": pred}, apply_row_filters=True).collect())
        assert got == want and want, pred


@pytest.mark.parametrize("kind", ["timestamp", "timestamp_ntz"])
def test_column_bounds_exact_outside_utc(spark, tmp_path, new_york, kind):
    """A DV-free file's bounds are exact whatever Python's local zone:
    the aggregate reads them on the driver, with no literal round trip
    through a local-time ``F.lit``."""
    t = _table(spark, str(tmp_path / "wh"),
               {"k": kind, "_pos": "bigint"})
    vals = [dt.datetime(2024, 1, 1, h) for h in (3, 17, 23)]
    p = t.store.abs(f"{DATA_DIR}/f000.parquet")
    pq.write_table(pa.table({
        "k": pa.array(vals, pa.timestamp("us")),
        "_pos": pa.array(np.arange(3, dtype=np.int64))}), p)
    t.load_files([p])
    b = t.column_bounds("k")
    assert (b["lower"], b["upper"]) == (vals[0], vals[-1])
    assert b["lower_exact"] and b["upper_exact"]


def _job_ids(spark) -> set[int]:
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    it = sc.statusStore().jobsList(None).iterator()
    ids = set()
    while it.hasNext():
        ids.add(it.next().jobId())
    return ids


def test_metadata_aggregates_start_no_spark_job(spark, tmp_path):
    from moonlink_spark.synth import synthesize_cdc_aftermath
    w = str(tmp_path / "wh")
    synthesize_cdc_aftermath(w, seed=23, n_files=8, rows_per_file=(20, 40),
                             n_repos=3, content_bytes=(32, 64))
    t = MoonTable(spark, w)
    before = _job_ids(spark)
    st = t.stats()
    assert t.count() == st["rows_live"] > 0
    assert t.column_bounds("repo")["lower"] is not None
    assert _job_ids(spark) == before


def test_local_df_parses_each_ddl_once(spark, monkeypatch):
    calls = []
    parse = StructType.fromDDL

    def counting(ddl):
        calls.append(ddl)
        return parse(ddl)

    monkeypatch.setattr(StructType, "fromDDL", counting)
    ddl = "`local_df_parse_once` string, `n` bigint"
    scan_op.local_df(spark, ddl, [["a"], [1]])
    assert calls == [ddl]
    df = scan_op.local_df(spark, ddl, [["b", "c"], [2, 3]])
    assert calls == [ddl]
    assert [tuple(r) for r in df.collect()] == [("b", 2), ("c", 3)]
    distscan._spark_schema_for(spark, None, None, ddl)
    assert calls == [ddl]
