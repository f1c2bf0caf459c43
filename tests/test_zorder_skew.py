"""Z-order clustering, manifest-bounds pruning, and skew salting."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from moonlink_spark.config import CompactionConfig, TableConfig
from moonlink_spark.engine import MoonTable
from moonlink_spark.functions.zorder import (
    _string_proxy_np,
    compute_zorder_boundaries,
    morton_interleave,
    with_zorder_key,
)
from moonlink_spark.operators import skew
from moonlink_spark.operators.scan import prune_manifest
from moonlink_spark.snapshotstore import SnapshotStore
from moonlink_spark.synth import synthesize_cdc_aftermath


# -- morton unit --------------------------------------------------------

def test_morton_interleave_known_values():
    bx = np.array([0, 1, 0, 3], dtype=np.uint64)
    by = np.array([0, 0, 1, 3], dtype=np.uint64)
    # zkey = interleave(bx at odd bits, by at even bits)
    assert morton_interleave([bx, by], 8).tolist() == [0, 2, 1, 15]


def test_morton_is_monotone_per_dim():
    rng = np.random.default_rng(5)
    a = rng.integers(0, 1 << 12, 100).astype(np.uint64)
    b = rng.integers(0, 1 << 12, 100).astype(np.uint64)
    z = morton_interleave([a, b], 12)
    z2 = morton_interleave([a + 1, b], 12)
    # growing one dimension never decreases the key (same other dim)
    assert (z2 >= z).all()


def test_hilbert_is_bijective_and_adjacent():
    from moonlink_spark.functions.zorder import hilbert_interleave
    bits = 5
    n = 1 << bits
    xs, ys = np.meshgrid(np.arange(n), np.arange(n))
    d = hilbert_interleave([xs.ravel().astype(np.uint64),
                            ys.ravel().astype(np.uint64)], bits)
    # bijection onto [0, n^2)
    assert sorted(d.tolist()) == list(range(n * n))
    # locality: consecutive curve positions are adjacent grid cells
    order = np.argsort(d)
    x_sorted, y_sorted = xs.ravel()[order], ys.ravel()[order]
    step = np.abs(np.diff(x_sorted)) + np.abs(np.diff(y_sorted))
    assert (step == 1).all()


def test_hilbert_curve_engine_roundtrip(spark, tmp_path):
    from moonlink_spark.snapshotstore import SnapshotStore
    from tests.oracle import content_sha_multiset, live_rows_pandas
    w = str(tmp_path / "wh")
    synthesize_cdc_aftermath(w, seed=47, n_files=8, rows_per_file=(30, 90),
                             n_repos=4, content_bytes=(64, 128))
    cfg = TableConfig(zorder_curve="hilbert",
                      compaction=CompactionConfig(
                          target_file_bytes=64 << 10,
                          bin_target_bytes=256 << 10, bin_concurrency=2))
    t = MoonTable(spark, w, cfg)
    store = SnapshotStore(w)
    before = content_sha_multiset(live_rows_pandas(store, 0))
    snap = t.optimize("full")
    assert content_sha_multiset(live_rows_pandas(store, snap.version)) \
        == before


def test_string_proxy_preserves_order():
    import pandas as pd
    s = pd.Series(["", "a", "aa", "ab", "b", "org1/x", "org2/a", "zzzzzzzzz"])
    v = _string_proxy_np(s)
    assert (np.diff(v) >= 0).all()


# -- zorder clustering effect ------------------------------------------

@pytest.fixture(scope="module")
def compacted(spark, tmp_path_factory):
    w = str(tmp_path_factory.mktemp("wh"))
    synthesize_cdc_aftermath(w, seed=43, n_files=30,
                             rows_per_file=(100, 300), n_repos=12,
                             content_bytes=(64, 256), hot_fraction=0.5)
    cfg = TableConfig(compaction=CompactionConfig(
        target_file_bytes=48 << 10, bin_target_bytes=1 << 30,
        bin_concurrency=2))
    t = MoonTable(spark, w, cfg)
    t.optimize("full")
    return w, t


def test_zorder_tightens_repo_bounds(spark, compacted):
    """Post-compaction files must have narrow (repo) ranges: the sum of
    per-file distinct-repo counts should be far below files x repos."""
    w, t = compacted
    entries = SnapshotStore(w).manifest_entries(1)
    assert len(entries) >= 3
    spans = []
    for e in entries:
        lo, hi = e["min_repo"], e["max_repo"]
        assert lo is not None and lo <= hi
        spans.append((lo, hi))
    # at least half the files cover a single repo or adjacent repos:
    # tight bounds are what make pruning effective
    tight = sum(1 for lo, hi in spans if lo[:12] == hi[:12])
    assert tight >= len(spans) / 3


def test_prune_manifest_range_ops(spark):
    rows = [("f1", "a", "c"), ("f2", "d", "f"), ("f3", "g", "k"),
            ("f4", None, None)]
    m = spark.createDataFrame(rows, "path string, min_repo string, "
                                    "max_repo string")
    def files(pred):
        return sorted(r["path"] for r in
                      prune_manifest(m, {"repo": pred}).collect())
    assert files("e") == ["f2", "f4"]               # equality
    assert files(("<", "d")) == ["f1", "f4"]
    assert files(("<=", "d")) == ["f1", "f2", "f4"]
    assert files((">", "f")) == ["f3", "f4"]
    assert files((">=", "f")) == ["f2", "f3", "f4"]
    assert files(("between", "b", "e")) == ["f1", "f2", "f4"]


def test_manifest_pruning_reduces_files(spark, compacted):
    w, t = compacted
    manifest = t.manifest(1)
    total = manifest.count()
    hot_repo = "org0/repo0000"
    pruned = prune_manifest(manifest, {"repo": hot_repo}).count()
    assert pruned < total  # some files excluded by bounds
    # pruned scan returns exactly the same rows as a filtered full scan
    full = t.scan(1).filter(F.col("repo") == hot_repo).count()
    via_prune = t.scan(1, predicates={"repo": hot_repo}) \
        .filter(F.col("repo") == hot_repo).count()
    assert full == via_prune


# -- skew salting -------------------------------------------------------

def test_salt_plan_fanout(spark):
    rows = [("hot", i) for i in range(900)] + \
           [(f"cold{j}", j) for j in range(50)]
    df = spark.createDataFrame(rows, "repo string, x int")
    plan = skew.plan_salts(df, "repo", target_rows_per_task=100)
    got = {r["repo"]: r["_n_salts"] for r in plan.collect()}
    assert got["hot"] == 9
    assert all(v == 1 for k, v in got.items() if k != "hot")


def test_salted_join_equals_plain_join(spark):
    rows = [("hot", f"p{i}", i) for i in range(500)] + \
           [(f"cold{j}", f"p{j}", j) for j in range(40)]
    probe = spark.createDataFrame(rows, "repo string, path string, x int")
    build = spark.createDataFrame(
        [("hot",), ("cold7",), ("cold13",)], "repo string")
    plan = skew.plan_salts(probe, "repo", target_rows_per_task=100)
    salted_probe = skew.with_salt(probe, "repo", plan, salt_source=["path"])
    salted_build = skew.explode_salts(build, "repo", plan)
    got = (salted_probe.join(salted_build,
                             on=["repo", skew.SALT_COL], how="inner")
           .select("repo", "path", "x"))
    want = probe.join(build, on="repo", how="inner")
    assert sorted(map(tuple, got.collect())) == \
        sorted(map(tuple, want.collect()))


def test_salted_partition_balance(spark):
    """Hot-key rows spread across many partitions after salted
    repartition (the whole point of the salt)."""
    rows = [("hot", f"path{i}") for i in range(2000)]
    df = spark.createDataFrame(rows, "repo string, path string")
    plan = skew.plan_salts(df, "repo", target_rows_per_task=250)
    out = skew.salted_repartition(df, "repo", plan, salt_source=["path"],
                                  num_partitions=8)
    sizes = [r["c"] for r in
             out.groupBy(F.spark_partition_id().alias("p"))
             .agg(F.count(F.lit(1)).alias("c")).collect()]
    assert len(sizes) >= 4          # spread over several partitions
    assert max(sizes) < 2000        # no single-partition pileup


def test_jvm_zkey_matches_numpy_reference(spark):
    """The JVM Morton path (two-level literal-array rank + shift/or
    interleave) must agree bit-for-bit with the numpy reference
    (_string_proxy_np + searchsorted + morton_interleave) — same proxy,
    same f64 rounding, same boundary comparisons — across empty strings,
    NULLs, unicode, shared prefixes, and >7-byte strings."""
    import random

    from moonlink_spark.functions.zorder import (
        _string_proxy_np,
        compute_zorder_boundaries,
        morton_interleave,
        with_zorder_key,
    )
    import pandas as pd

    rng = random.Random(99)
    strings = (["", "a", "zz", "ümlaut-unicode-日本語", "prefix/shared/x",
                "prefix/shared/y", "exactly7", "longer-than-seven-bytes"]
               + [f"org{rng.randint(0, 9)}/repo{rng.randint(0, 999):04d}"
                  for _ in range(200)])
    rows = [(s if s != "a" or i % 7 else None,  # sprinkle NULLs
             float(rng.randint(-500, 500)))
            for i, s in enumerate(strings)]
    df = spark.createDataFrame(rows, "repo string, score double")
    bnds = compute_zorder_boundaries(df, ["repo", "score"], bits=12)

    got = {(r["repo"], r["score"]): r["_zkey"] for r in
           with_zorder_key(df, ["repo", "score"], bnds,
                           bits=12, curve="morton").collect()}

    pdf = pd.DataFrame(rows, columns=["repo", "score"])
    bx = np.searchsorted(bnds["repo"],
                         _string_proxy_np(pdf["repo"].astype(str)
                                          .where(pdf["repo"].notna(), "")),
                         side="right")
    by = np.searchsorted(bnds["score"],
                         pdf["score"].fillna(0).to_numpy(np.float64),
                         side="right")
    expect = morton_interleave([bx, by], 12)
    for (row, zk) in zip(rows, expect):
        assert got[row] == int(zk), f"mismatch for {row}"


def test_range_salts_perfect_packing(spark):
    """The rewrite's range->partition routing: each salt must land in
    its own partition of an n-way hash repartition (this is what removes
    the 2x collision-straggler tail from the sort+write stage), and the
    pure-Python Murmur3 must agree with Spark's hash() exactly."""
    from moonlink_spark.operators.rewrite import _murmur3_int32, range_salts

    vals = list(range(300)) + [-1, -7, 2**31 - 1, -(2**31), 123456789]
    got = {
        r["v"]: r["h"]
        for r in spark.createDataFrame([(v,) for v in vals], "v int")
        .select("v", F.hash("v").alias("h")).collect()
    }
    assert all(got[v] == _murmur3_int32(v) for v in vals)

    for n in (1, 2, 7, 106):
        salts = range_salts(n)
        assert len(set(salts)) == n
        df = (spark.createDataFrame([(s,) for s in salts], "s int")
              .repartition(n, "s")
              .select("s", F.spark_partition_id().alias("pid")))
        placed = {r["s"]: r["pid"] for r in df.collect()}
        # salts[i] must occupy partition i: a bijection, no collisions
        assert sorted(placed.values()) == list(range(n))
        assert all(placed[s] == i for i, s in enumerate(salts))


def test_quantiles_bit_equal_to_np_quantile():
    """The one-sort quantile helper must return exactly what
    np.quantile returns — boundaries decide every row's zkey, and so
    the committed layout — on random, heavily tied, tiny, below-4095
    and non-finite samples, and on int64 zkeys."""
    from moonlink_spark.functions.zorder import _quantiles

    rng = np.random.default_rng(3)
    probs = np.linspace(0.0, 1.0, 4097)[1:-1]
    zk = morton_interleave([rng.integers(0, 4096, 9442),
                            rng.integers(0, 4096, 9442)], 12)
    samples = {
        "random": rng.normal(size=9442) * 1e15,
        "tied": rng.integers(0, 7, 9442).astype(np.float64),
        "n=1": np.array([42.5]),
        "n<4095": rng.uniform(-1e3, 1e3, 1000),
        "nonfinite": np.array([1.0, np.inf, -np.inf, 3.0, 2.0]),
        "nan": np.array([1.0, np.nan, 2.0]),
        "int64 zkeys": zk,
        "int64 tied": np.repeat(zk[:5], 800),
    }
    for name, vals in samples.items():
        with np.errstate(invalid="ignore"):  # inf - inf, as in numpy
            exp = np.quantile(vals, probs)
            got = _quantiles(vals, probs)
        assert got.dtype == exp.dtype, name
        assert np.array_equal(got.view(np.uint64), exp.view(np.uint64)), \
            name


def test_zorder_key_evaluates_string_proxy_once(spark):
    """Each string dimension's proxy (encode/hex/rpad/conv) must be its
    own projection: inlined into the rank's filter lambdas it would be
    re-evaluated for every boundary compared.  The second call on the
    same job's boundaries reuses the built expressions."""
    df = spark.createDataFrame(
        [("org1/r", "a/b.py", 1.0), ("org2/s", "c/d.py", -2.0),
         (None, "e.py", None)],
        "repo string, path string, score double")
    bnds = compute_zorder_boundaries(df, ["repo", "path", "score"], bits=12)
    first = with_zorder_key(df, ["repo", "path"], bnds, bits=12)
    plan = first._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("conv(") == 2
    second = with_zorder_key(df, ["repo", "path"], bnds, bits=12)
    assert len(bnds._key_stages) == 1
    assert (sorted(first.collect(), key=str)
            == sorted(second.collect(), key=str))


def test_zorder_key_stages_built_once_under_concurrent_bins():
    """A job's bins key their rows concurrently from one boundaries
    object: exactly one of them may build the zkey expressions, and
    every bin must get that same build."""
    import sys
    import threading
    import time

    from moonlink_spark.functions.zorder import ZOrderBoundaries

    bnds = ZOrderBoundaries(repo=np.array([1.0]))
    builds = []

    def build():
        builds.append(1)
        time.sleep(0.01)  # widen the check-then-act window
        return [object()]

    got = []
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(
            target=lambda: got.append(bnds.key_stages(("k",), build)))
            for _ in range(16)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=10)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert len(builds) == 1 and len(got) == 16
    assert all(g is got[0] for g in got)
