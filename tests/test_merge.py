"""MERGE INTO surface: deletes/upserts as merge-on-read DVs, folded
copy-on-write by a later optimize (mirrors sync_deletion_vector merge,
iceberg_table_syncer.rs:376-435, then compaction)."""

import pytest
from pyspark.sql import functions as F

from moonlink_spark.config import CompactionConfig, TableConfig
from moonlink_spark.engine import MoonTable
from moonlink_spark.operators.scan import FILE_COL
from moonlink_spark.snapshotstore import SnapshotStore
from moonlink_spark.synth import synthesize_cdc_aftermath
from tests.oracle import content_sha_multiset, live_rows_pandas

CFG = TableConfig(compaction=CompactionConfig(
    target_file_bytes=64 << 10, bin_target_bytes=256 << 10,
    bin_concurrency=2))

KEYS = ["repo", "path", "commit"]


@pytest.fixture(scope="module")
def merged(spark, tmp_path_factory):
    """One aftermath, one merge batch (deletes + upserts), committed."""
    w = str(tmp_path_factory.mktemp("wh"))
    synthesize_cdc_aftermath(w, seed=31, n_files=16,
                             rows_per_file=(40, 120), n_repos=5,
                             content_bytes=(64, 256))
    t = MoonTable(spark, w, CFG)
    live = t.scan(0).select(*KEYS, "lang", "content").cache()

    # delete 10 existing rows; upsert 5 existing (new content) + 3 new
    dels = live.orderBy(*KEYS).limit(10).withColumn("_op", F.lit("delete"))
    ups_existing = (live.orderBy(F.col("path").desc(), "repo", "commit")
                    .limit(5)
                    .withColumn("content", F.concat(F.lit("UPDATED:"),
                                                    F.col("content")))
                    .withColumn("_op", F.lit("upsert")))
    rows = [("orgX/new", f"src/new{i}.rs", f"{i:040x}", "rust",
             f"new content {i}", "upsert") for i in range(3)]
    ups_new = spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, "
              "content string, _op string")
    changes = dels.unionByName(ups_existing).unionByName(ups_new)
    snap = t.merge(changes, key_columns=KEYS)
    return w, t, snap, {
        "deleted": [tuple(r) for r in dels.select(*KEYS).collect()],
        "upserted_existing": [tuple(r) for r in
                              ups_existing.select(*KEYS).collect()],
    }


def test_merge_semantics(spark, merged):
    w, t, snap, info = merged
    assert snap.version == 1
    v0 = t.scan(0).count()
    v1 = t.scan(1).count()
    # 10 deletes, 5 upserts (delete+insert: net 0), 3 inserts
    assert v1 == v0 - 10 + 3

    live = t.scan(1)
    # deleted keys gone
    for key in info["deleted"][:3]:
        assert live.filter((F.col("repo") == key[0]) &
                           (F.col("path") == key[1]) &
                           (F.col("commit") == key[2])).count() == 0
    # upserted keys have the new content exactly once
    for key in info["upserted_existing"][:3]:
        rows = live.filter((F.col("repo") == key[0]) &
                           (F.col("path") == key[1]) &
                           (F.col("commit") == key[2])).collect()
        assert len(rows) == 1
        assert rows[0]["content"].startswith("UPDATED:")
    # new keys present
    assert live.filter(F.col("repo") == "orgX/new").count() == 3


def test_merge_agrees_with_pandas_oracle(merged):
    w, t, snap, info = merged
    store = SnapshotStore(w)
    oracle = live_rows_pandas(store, 1)
    assert sorted(r["h"] for r in t.scan(1).selectExpr(
        "sha2(content,256) as h").collect()) == content_sha_multiset(oracle)


def test_merge_then_optimize_folds_dvs(spark, merged):
    w, t, snap, info = merged
    before = sorted(r["h"] for r in t.scan(1).selectExpr(
        "sha2(content,256) as h").collect())
    s2 = t.optimize("full")
    assert s2.version >= 2
    entries = SnapshotStore(w).manifest_entries(s2.version)
    assert all((e["dv_cardinality"] or 0) == 0 for e in entries)
    after = sorted(r["h"] for r in t.scan(s2.version).selectExpr(
        "sha2(content,256) as h").collect())
    assert after == before


def test_merge_salted_path_matches_broadcast(spark, tmp_path):
    """The salted-join MERGE (huge-batch path) must produce the same
    result as the broadcast path."""
    w1, w2 = str(tmp_path / "a"), str(tmp_path / "b")
    for w in (w1, w2):
        synthesize_cdc_aftermath(w, seed=37, n_files=8,
                                 rows_per_file=(30, 80), n_repos=4,
                                 content_bytes=(64, 128))
    ta = MoonTable(spark, w1, CFG)
    tb = MoonTable(spark, w2, CFG)
    dels = (ta.scan(0).select(*KEYS, "lang", "content")
            .orderBy(*KEYS).limit(12)
            .withColumn("_op", F.lit("delete")))
    sa = ta.merge(dels, key_columns=KEYS, broadcast_changes=True)
    sb = tb.merge(dels, key_columns=KEYS, broadcast_changes=False)
    ha = sorted(r["h"] for r in ta.scan(sa.version).selectExpr(
        "sha2(content,256) as h").collect())
    hb = sorted(r["h"] for r in tb.scan(sb.version).selectExpr(
        "sha2(content,256) as h").collect())
    assert ha == hb


def test_merge_every_file_batch(spark, tmp_path):
    """A batch whose deletes touch every file (every 3rd row by key
    order) plus 4 inserts commits the right manifest: the scan equals
    the pandas oracle over the committed manifest and v0 minus the
    deleted keys plus the inserts, the changelog reports exactly those
    events, and a follow-up optimize keeps the content."""
    from pyspark.sql.window import Window

    w = str(tmp_path / "wh")
    synthesize_cdc_aftermath(w, seed=53, n_files=10,
                             rows_per_file=(30, 60), n_repos=4,
                             content_bytes=(32, 64))
    t = MoonTable(spark, w, CFG)
    live = t.scan(0).select(*KEYS, "lang", "content")
    dels = (live.withColumn(
                "_rn", F.row_number().over(Window.orderBy(*KEYS)))
            .filter(F.col("_rn") % 3 == 0).drop("_rn")
            .withColumn("_op", F.lit("delete")))
    fresh = [("orgZ/new", f"src/n{i}.rs", f"{i:040x}", "rust",
              f"fresh {i}", "upsert") for i in range(4)]
    ups = spark.createDataFrame(
        fresh, "repo string, path string, commit string, lang string, "
               "content string, _op string")
    deleted = {tuple(r) for r in dels.select(*KEYS).collect()}
    v0 = live.toPandas()
    located = t.scan(0, with_location=True)
    files = lambda df: {r[0] for r in df.select(FILE_COL).distinct()
                        .collect()}
    assert files(located.join(dels.select(*KEYS), on=KEYS)) \
        == files(located)

    snap = t.merge(dels.unionByName(ups), key_columns=KEYS)
    assert snap.version == 1
    got = content_sha_multiset(t.scan(1).toPandas())
    assert got == content_sha_multiset(live_rows_pandas(t.store, 1))
    kept = v0[[tuple(k) not in deleted
               for k in v0[KEYS].itertuples(index=False)]]
    want = list(kept["content"]) + [r[4] for r in fresh]
    assert got == content_sha_multiset({"content": want})
    dv_rows = lambda v: sum(e["dv_cardinality"] or 0
                            for e in t.store.manifest_entries(v))
    assert dv_rows(1) == dv_rows(0) + len(deleted)

    events = sorted((r["_change_type"], r["repo"], r["path"], r["commit"])
                    for r in t.changes(0).collect())
    assert events == sorted([("delete", *k) for k in deleted]
                            + [("insert", *r[:3]) for r in fresh])
    snap2 = t.optimize("full")
    assert content_sha_multiset(t.scan(snap2.version).toPandas()) == got
