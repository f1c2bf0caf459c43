"""Property: the predicate compiler's four renderings agree.

Over one table with a column of each comparable type, every predicate
form with literals of every kind is rendered four ways: the Spark row
filter, the pyarrow row filter (over each file as written: a
``timestamp`` column is ``tz=UTC`` in some files and naive in others),
Spark's bound pruning (``prune_manifest``'s expressions) and pyarrow's
(``driver_plan``).  A Python oracle decides each row.  Both row filters
keep exactly the oracle's rows, neither bound pruning drops a file
holding one of them, and the two prunings keep the same files.  A
literal the column's type refuses raises ``TypeError`` from every
renderer.  Each example runs under a Python zone of its own (the Spark
session zone stays UTC) and ends with one ``scan(...,
apply_row_filters=True)`` on the planner the test is parametrized for.
"""

import datetime as dt
import functools
import operator
import time
from decimal import Decimal as D

import numpy as np
import pyarrow as pa
import pyarrow.dataset as pds
import pyarrow.parquet as pq
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from moonlink_spark.config import TableConfig
from moonlink_spark.engine import MoonTable
from moonlink_spark.operators import distscan
from moonlink_spark.operators import scan as scan_op
from moonlink_spark.snapshotstore import DATA_DIR, SnapshotStore, read_pinned

UTC = dt.timezone.utc
TYPES = {"id": "int", "i": "int", "b": "bigint", "f": "double",
         "d10": "decimal(10,2)", "d38": "decimal(38,18)", "day": "date",
         "ts": "timestamp", "ntz": "timestamp_ntz", "s": "string",
         "_pos": "bigint"}
COLS = [c for c in TYPES if c not in ("id", "_pos")]
ARROW = {"i": pa.int32(), "b": pa.int64(), "f": pa.float64(),
         "d10": pa.decimal128(10, 2), "d38": pa.decimal128(38, 18),
         "day": pa.date32(), "ntz": pa.timestamp("us"), "s": pa.string()}


def _ts(*a):
    return dt.datetime(*a, tzinfo=UTC)


# per file, per column: five values (None = null); the last file holds
# nulls only, so its bounds are unknown
FILES = [
    {"i": [1, 5, None, -3, 7], "b": [2 ** 40, -5, None, 0, 2 ** 33],
     "f": [0.5, -1.25, None, 3.0, 1e10],
     "d10": [D("12.34"), D("-0.05"), None, D("99999999.99"), D("0.10")],
     "d38": [D("12345678901234567890.123456789012345678"), D("0.5"),
             None, D("-1.000000000000000001"), D("7")],
     "day": [dt.date(2024, 1, d) for d in (1, 5)] + [None]
     + [dt.date(2024, 3, d) for d in (10, 11)],
     "ts": [_ts(2024, 1, 1, 17), _ts(2024, 1, 1, 22), None,
            _ts(2024, 3, 10, 6, 30), _ts(2024, 3, 10, 7, 30)],
     "ntz": [dt.datetime(2024, 1, 1, 17), dt.datetime(2024, 1, 1, 22),
             None, dt.datetime(2024, 3, 10, 2, 30),
             dt.datetime(2024, 3, 10, 1, 59)],
     "s": ["a", "ab", None, "", "é"]},
    {"i": [10, 12, 11, None, 20], "b": [7, 8, None, 9, 2 ** 41],
     "f": [-0.0, 2.5, 2.75, None, -1e10],
     "d10": [D("10.00"), D("10.01"), D("9.99"), None, D("-12.34")],
     "d38": [D("0.000000000000000001"), D("0.1"), D("10"), None,
             D("-12345678901234567890.5")],
     "day": [dt.date(2024, 2, d) for d in (1, 2, 3)] + [None,
                                                        dt.date(2023, 12, 31)],
     "ts": [_ts(2024, 1, 1, 12), _ts(2024, 1, 2, 4, 30), None,
            _ts(2024, 11, 3, 5, 30), _ts(2024, 11, 3, 6, 30)],
     "ntz": [dt.datetime(2024, 1, 1, 12), None,
             dt.datetime(2024, 1, 2, 4, 30), dt.datetime(2024, 11, 3, 1, 30),
             dt.datetime(2024, 11, 3, 1, 30, 0, 1)],
     "s": ["b", "ba", "c", None, "zz"]},
    {c: [None] * 5 for c in COLS},
]


def _rows():
    out = []
    for k, cols in enumerate(FILES):
        for j in range(5):
            out.append({"id": k * 10 + j, **{c: cols[c][j] for c in COLS}})
    return out


ROWS = _rows()


@pytest.fixture(scope="module")
def table(spark, tmp_path_factory):
    w = str(tmp_path_factory.mktemp("wh-props"))
    store = SnapshotStore(w)
    store.init_warehouse()
    store.commit([], schema=list(TYPES), stats_columns=tuple(COLS),
                 properties={"flush_lsn": 0, "schema_types": TYPES,
                             "schema_ddl": ", ".join(
                                 f"`{c}` {t}" for c, t in TYPES.items())},
                 expected_parent=None)
    t = MoonTable(spark, w, TableConfig(zorder_columns=(),
                                        stats_columns=tuple(COLS)))
    paths = []
    for k, cols in enumerate(FILES):
        # the middle file holds its `timestamp` column naive (UTC wall
        # clock), the others as Spark writes it (tz=UTC)
        ts_type = pa.timestamp("us", None if k == 1 else "UTC")
        arrays = {"id": pa.array(range(k * 10, k * 10 + 5), pa.int32()),
                  **{c: pa.array(cols[c], ARROW[c]) for c in ARROW},
                  "ts": pa.array(cols["ts"], ts_type),
                  "_pos": pa.array(np.arange(5, dtype=np.int64))}
        p = store.abs(f"{DATA_DIR}/p{k}.parquet")
        pq.write_table(pa.table(arrays), p)
        paths.append(p)
    t.load_files(paths)
    return t, paths, t.snapshot().manifest_paths


def _accepts(col, v):
    """The literal kinds each column type compares with."""
    if v is None:
        return True
    if col in ("i", "b"):
        return type(v) is int
    if col == "f":
        return type(v) in (int, float)
    if col in ("d10", "d38"):
        return type(v) is int or (type(v) is D
                                   and scan_op._fits_spark_decimal(v))
    if col == "day":
        return type(v) is dt.date
    if col == "ts":
        return type(v) is dt.datetime
    if col == "ntz":
        return type(v) is dt.datetime and v.tzinfo is None
    return type(v) is str


def _key(col, v):
    # a naive literal names local time on a `timestamp` column
    return v.astimezone() if col == "ts" and v.tzinfo is None else v


def _holds(col, v, pred):
    if not isinstance(pred, tuple):
        pred = ("==", pred)
    op, args = pred[0], pred[1:]
    if op == "is_null":
        return v is None
    if op == "not_null":
        return v is not None
    if v is None or any(a is None for a in args):
        return False
    args = [_key(col, a) for a in args]
    if op == "between":
        return args[0] <= v <= args[1]
    return {"==": operator.eq, "<": operator.lt, "<=": operator.le,
            ">": operator.gt, ">=": operator.ge}[op](v, args[0])


# literals: each column's own kind (often a stored value), and the
# cross kinds — an int, a decimal of another scale, a naive and an
# aware datetime
_WALLS = sorted({v.replace(tzinfo=None) + dt.timedelta(hours=h)
                 for f in FILES for v in f["ts"] if v is not None
                 for h in (0, -5, -4, 5.5)}
                | {v for f in FILES for v in f["ntz"] if v is not None})
_naive = st.one_of(st.sampled_from(_WALLS),
                   st.datetimes(dt.datetime(2023, 12, 30),
                                dt.datetime(2024, 11, 4)))
_aware = st.builds(
    lambda v, h: v.replace(tzinfo=dt.timezone(dt.timedelta(hours=h))),
    _naive, st.sampled_from([0, -5, -4, 5.5]))
_int = st.one_of(st.integers(-60, 60), st.sampled_from([2 ** 40, -2 ** 41]))
_dec = st.builds(lambda n, s: D(n).scaleb(-s),
                 st.integers(-10 ** 14, 10 ** 14), st.integers(0, 20))
# more digits than any Spark decimal holds: refused on every backend
_huge_dec = st.builds(lambda n, s: D(n).scaleb(-s),
                      st.integers(10 ** 38, 10 ** 42), st.integers(0, 24))


def _stored(col):
    return st.sampled_from([v for f in FILES for v in f[col]
                            if v is not None])


_OWN = {"i": _int, "b": _int,
        "f": st.floats(-2e10, 2e10, allow_nan=False, width=64),
        "d10": st.builds(lambda n: D(n).scaleb(-2),
                         st.integers(-10 ** 4, 10 ** 4)),
        "d38": st.builds(lambda n: D(n).scaleb(-18),
                         st.integers(-10 ** 20, 10 ** 20)),
        "day": st.dates(dt.date(2023, 12, 30), dt.date(2024, 3, 12)),
        "ts": _naive, "ntz": _naive,
        "s": st.text(alphabet="abcé z", max_size=3)}


def _literal(col):
    own = st.one_of(_stored(col), _OWN[col])
    return st.one_of(own, own, own, _int, _dec, _huge_dec, _naive, _aware)


def _forms(col):
    lit = _literal(col)
    return st.tuples(
        lit, lit.map(lambda v: ("==", v)),
        *[lit.map(functools.partial(lambda op, v: (op, v), op))
          for op in ("<", "<=", ">", ">=")],
        st.tuples(st.just("between"), lit, lit),
        st.just(("is_null",)), st.just(("not_null",)))


# three columns an example: each predicate costs a few py4j calls per
# rendering
examples = st.tuples(
    st.sampled_from(["UTC", "America/New_York", "Asia/Kolkata"]),
    st.sets(st.sampled_from(COLS), min_size=3, max_size=3).flatmap(
        lambda cols: st.tuples(*[st.tuples(st.just(c), _forms(c))
                                 for c in sorted(cols)])),
    st.integers(0, 10 ** 6))


def _files_kept(kept_paths, paths):
    return {k for k, p in enumerate(paths)
            if any(p.endswith(q) for q in kept_paths)}


def _check(spark, table, zone, forms, pick):
    t, paths, segs = table
    preds = [(c, p) for c, fs in forms for p in fs]
    ok = [(c, p) for c, p in preds
          if all(_accepts(c, v) for v in (p[1:] if isinstance(p, tuple)
                                          else (p,)))]
    for c, p in preds:
        if (c, p) in ok:
            continue
        for render in (lambda: scan_op.predicate_exprs({c: p}, F.col, TYPES),
                       lambda: scan_op.predicate_exprs({c: p}, pds.field,
                                                       TYPES),
                       lambda: scan_op.driver_plan(segs, {c: p}, TYPES)):
            with pytest.raises(TypeError):
                render()
    want = [{r["id"] for r in ROWS if _holds(c, r[c], p)} for c, p in ok]

    # Spark: the data rows and the manifest rows, every row filter and
    # every bound keep-expression as a boolean column of one select
    man = read_pinned(spark, segs)
    data = spark.read.schema(", ".join(
        f"`{c}` {d}" for c, d in TYPES.items())).parquet(*paths)
    cols = [F.col("id"), F.col("path")]
    for k, (c, p) in enumerate(ok):
        row = scan_op.predicate_exprs({c: p}, F.col, TYPES)[0]
        keep = functools.reduce(operator.and_, scan_op.bound_exprs(
            {c: p}, man.schema, F.col, TYPES), F.lit(True))
        cols += [F.coalesce(row, F.lit(False)).alias(f"r{k}"),
                 F.coalesce(keep, F.lit(False)).alias(f"k{k}")]
    got = data.unionByName(man, allowMissingColumns=True).select(
        *cols).collect()
    via_arrow = [set() for _ in ok]
    for path in paths:
        tb = pds.dataset(path, format="parquet").to_table(columns={
            "id": pds.field("id"),
            **{f"r{k}": scan_op.predicate_exprs({c: p}, pds.field, TYPES)[0]
               for k, (c, p) in enumerate(ok)}})
        for k, rows in enumerate(via_arrow):
            rows |= {i for i, r in zip(tb["id"].to_pylist(),
                                       tb[f"r{k}"].to_pylist()) if r}
    for k, ((c, p), w) in enumerate(zip(ok, want)):
        via_spark = {r["id"] for r in got
                     if r["path"] is None and r[f"r{k}"]}
        assert via_spark == via_arrow[k] == w, (zone, c, p)
        bound_spark = _files_kept(
            {r["path"] for r in got if r["path"] is not None and r[f"k{k}"]},
            paths)
        bound_arrow = _files_kept(set(scan_op.driver_plan(
            segs, {c: p}, TYPES)["path"].to_pylist()), paths)
        holding = {i // 10 for i in w}
        assert holding <= bound_spark == bound_arrow, (zone, c, p)

    c, p = ok[pick % len(ok)]
    k = ok.index((c, p))
    got = {r["id"] for r in t.scan(predicates={c: p},
                                   apply_row_filters=True).collect()}
    assert got == want[k], (zone, c, p)


@pytest.mark.parametrize("limit", [10 ** 9, 0])
def test_renderings_agree(spark, table, monkeypatch, limit):
    monkeypatch.setattr(distscan, "PLAN_DISTRIBUTED_FILES", limit)

    @settings(max_examples=20, deadline=None, derandomize=True,
              database=None,
              suppress_health_check=[HealthCheck.too_slow,
                                     HealthCheck.data_too_large])
    @given(examples)
    def run(example):
        zone, forms, pick = example
        with monkeypatch.context() as m:
            m.setenv("TZ", zone)
            time.tzset()
            try:
                _check(spark, table, zone, forms, pick)
            finally:
                m.undo()
                time.tzset()

    run()
