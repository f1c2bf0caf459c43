"""Tests of the benchmark's own helpers.

    python3 -m pytest perfbench -q

Run from the repository root.  The digest-parity test starts a
one-thread local Spark session.
"""

from __future__ import annotations

import importlib
import random

import pyarrow as pa
import pytest

from perfbench import stats, trace
from perfbench.workloads import DATA_COLS, Digest


# -- tail percentile rule ---------------------------------------------------

@pytest.mark.parametrize("n,pct", [
    (1, 50.0), (19, 50.0), (20, 50.0), (39, 50.0), (40, 75.0),
    (99, 75.0), (100, 90.0), (199, 90.0), (200, 95.0), (1000, 99.0),
    (10_000, 99.9),
])
def test_tail_is_highest_percentile_with_ten_beyond(n, pct):
    assert stats.tail_percentile(n) == pct
    rank = -(-round(pct * 10 * n) // 1000)  # ceil(pct/100 * n), exactly
    if pct > 50.0:
        assert n - rank >= 10


def test_summarize_reports_tail_value_and_percentile():
    xs = list(range(1, 101))
    random.Random(0).shuffle(xs)
    s = stats.summarize(xs)
    assert s == {"n": 100, "p50": 50.5, "tail": 90, "tail_pct": 90.0}


def test_summarize_tail_is_the_median_below_twenty_samples():
    assert stats.summarize([5.0, 7.0]) == {"n": 2, "p50": 6.0, "tail": 6.0,
                                          "tail_pct": 50.0}


def test_no_samples_summarize_to_zero():
    assert stats.summarize([]) == {"n": 0, "p50": 0.0, "tail": 0.0,
                                   "tail_pct": 0.0}
    assert stats.median([]) == 0.0 and stats.median([3.0, 1.0]) == 2.0


# -- self time and wall attribution -----------------------------------------

def _span(i, a, b, parent=None, name="x"):
    return trace.Span(i, parent, name, a, b)


def test_self_time_subtracts_union_of_overlapping_children():
    parent = _span(1, 0.0, 10.0)
    kids = [_span(2, 1.0, 4.0, 1), _span(3, 2.0, 6.0, 1),
            _span(4, 8.0, 9.0, 1), _span(5, 9.5, 12.0, 1)]
    # union inside [0, 10]: [1, 6] + [8, 9] + [9.5, 10] = 6.5
    assert trace.self_time(parent, kids) == pytest.approx(3.5)


def test_max_overlap_counts_concurrent_intervals():
    assert trace.max_overlap([(0, 2), (1, 3), (1.5, 2.5), (3, 4)]) == 3


def test_attribute_wall_sums_to_wall_with_priority():
    parts = trace.attribute_wall(0.0, 10.0, [
        ("a", [(2.0, 5.0)]), ("b", [(4.0, 8.0)]), ("c", [(-1.0, 1.0)])])
    assert parts == pytest.approx({"a": 3.0, "b": 3.0, "c": 1.0,
                                   "untraced": 3.0})
    assert sum(parts.values()) == pytest.approx(10.0)


def test_span_parent_links_and_pool_threads():
    import threading
    tr = trace.Tracer("t")
    seen = {}
    with tr.span("root") as root:
        with tr.span("child") as child:
            def work():
                with tr.span("pooled") as p:
                    seen["p"] = p
            th = threading.Thread(target=work)
            th.start()
            th.join(timeout=10)
            assert not th.is_alive()
    assert child.parent == root.id
    # a thread with no open span hangs off the installing thread's span
    assert seen["p"].parent == child.id
    assert root.parent is None and root.run == "t"


# -- wrappers restore the originals -----------------------------------------

def _current(site):
    owner = trace._resolve(site.owner)
    return (owner.__dict__[site.attr] if isinstance(owner, type)
            else getattr(owner, site.attr))


def test_install_wraps_every_site_and_restore_puts_originals_back():
    before = [_current(s) for s in trace.SITES]
    inst = trace.install(trace.Tracer("t"))
    try:
        during = [_current(s) for s in trace.SITES]
        for site, orig, now in zip(trace.SITES, before, during):
            assert now is not orig, site
            assert now.__wrapped__ is orig, site
    finally:
        inst.restore()
    after = [_current(s) for s in trace.SITES]
    assert all(a is b for a, b in zip(before, after))


def test_install_failure_restores_what_it_already_patched():
    bad = trace.SITES[:3] + (trace.Site("moonlink_spark.engine",
                                        "no_such_name", "x"),)
    before = [_current(s) for s in trace.SITES[:3]]
    with pytest.raises(AttributeError):
        trace.install(trace.Tracer("t"), bad)
    assert all(_current(s) is b for s, b in zip(trace.SITES[:3], before))


def test_sites_name_attributes_their_callers_resolve():
    """A site must patch a name that exists where the caller looks it
    up, or the wrapper would never run."""
    for site in trace.SITES:
        owner = trace._resolve(site.owner)
        assert hasattr(owner, site.attr), site
    eng = importlib.import_module("moonlink_spark.engine")
    assert "rewrite_bin" in vars(eng) and "plan_compaction" in vars(eng)


# -- digest parity ----------------------------------------------------------

ROWS = [
    ("org0/repo0000", "src/a.rs", "c1", "rust", "fn main() {}"),
    ("org0/repo0000", "src/a.rs", "c2", "rust", "fn main() {}"),
    ("org1/repo0001", "b/é.py", "c3", "python", "print('ü')"),
    ("org1/repo0001", "b/é.py", "c3", "python", "print('ü')"),  # duplicate
]


def test_digest_is_order_insensitive_and_removable():
    d = Digest.of(ROWS)
    assert d.as_tuple() == Digest.of(reversed(ROWS)).as_tuple()
    d.add(ROWS[0], -1)
    assert d.as_tuple() == Digest.of(ROWS[1:]).as_tuple()
    assert Digest.of(ROWS[:3]).as_tuple() != Digest.of(ROWS[1:]).as_tuple()


def test_digest_matches_duckdb_where_it_has_sha256():
    duckdb = pytest.importorskip("duckdb")
    con = duckdb.connect()
    try:
        con.execute("select sha256('x')")
    except duckdb.Error:
        pytest.skip("this duckdb has no sha256()")
    tbl = pa.table({c: [r[i] for r in ROWS]
                    for i, c in enumerate(DATA_COLS)})
    con.register("t", tbl)
    h = "sha256(concat_ws(chr(31), repo, path, commit, lang, content))"
    n, a, b = con.execute(
        f"select count(*), sum(('0x' || substr({h}, 1, 15))::bigint), "
        f"sum(('0x' || substr({h}, 16, 15))::bigint) from t").fetchone()
    assert (n, int(a), int(b)) == Digest.of(ROWS).as_tuple()


def test_digest_matches_spark(tmp_path):
    from pyspark.sql import SparkSession
    from perfbench.workloads import spark_digest
    spark = (SparkSession.builder.master("local[1]")
             .config("spark.ui.enabled", "false")
             .config("spark.local.dir", str(tmp_path))
             .getOrCreate())
    try:
        df = spark.createDataFrame(ROWS, ", ".join(f"{c} string"
                                                   for c in DATA_COLS))
        assert spark_digest(df) == Digest.of(ROWS).as_tuple()
    finally:
        spark.stop()


# -- host-speed scaling ------------------------------------------------------

def test_scaled_time_divides_by_the_median_probe():
    from perfbench import workloads
    ctx = workloads.Context(None, "", seed=1)
    ctx.ops = [{"kind": "probe", "s": x} for x in (0.9, 0.3, 0.6)]
    ctx.ops += [{"kind": "merge", "s": x} for x in (4.0, 2.0, 3.0)]
    assert ctx.scaled("merge") == pytest.approx(
        3.0 * workloads.PROBE_REF_S / 0.6)
    # no probe on record: no scaled time
    ctx.ops = ctx.ops[3:]
    assert ctx.scaled("merge") == 0.0


# -- a failed operation is counted, never fatal -----------------------------

def _failing_run(tmp_path, name):
    from perfbench import workloads
    ctx = workloads.Context(None, str(tmp_path), seed=1)
    wl = workloads.WORKLOADS[name](ctx)
    # what setup() computes from the source table
    wl.input_bytes, wl.input_rows, wl.input_files = 1000, 10, 1
    wl.dv_rows = wl.dv_sidecars = 0
    wl.final_bytes, wl.final_rows = 1000, 10
    wl.change_rows = 0

    def boom(*_a, **_k):
        with ctx.op("optimize" if name == "maintain" else "merge"):
            raise RuntimeError("boom")

    wl.iteration = boom
    if name == "ingest":
        wl.t = type("T", (), {"current_version": lambda self: 0})()
    return ctx, wl


@pytest.mark.parametrize("name", ["maintain", "ingest"])
def test_failing_primary_op_still_yields_the_result_line(tmp_path, name):
    import json
    from perfbench import run
    ctx, wl = _failing_run(tmp_path, name)
    wl.loop(deadline=0.0)
    with ctx.guard():
        wl.finish()
    common, _named = wl.metrics()
    line = json.loads(run.result_line(
        ctx, run.end_to_end(ctx, common, setup_s=1.0, rss=1.0),
        run.E2E_UNITS))
    assert line["correct"] is False and line["failed"] >= 1
    assert line["attempted"] >= line["failed"]
    assert set(line["metrics"]) == set(run.E2E_UNITS)
    assert line["metrics"]["ok_ops_frac"]["value"] < 1.0
    assert line["metrics"]["write_s"]["value"] == 0.0
