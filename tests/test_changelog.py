"""Changelog (incremental read) tests.

Invariants:
- replaying the changelog on top of scan(A) reproduces scan(B) exactly
  (the CDC-consumer contract — inserts applied, deletes removed);
- optimize/compaction commits emit NO events (content-preserving
  replace), metadata-only commits emit none;
- delete events carry the deleted row's payload;
- the window composes: changes(a,b) ∪ changes(b,c) == changes(a,c).
"""

import pytest
from pyspark.sql import functions as F

from moonlink_spark.catalog import Catalog
from moonlink_spark.config import CompactionConfig, TableConfig

SCHEMA = ["repo", "path", "commit", "lang", "content", "_pos"]
KEYS = ["repo", "path"]


def rows_df(spark, ids, tag="x"):
    ids_df = spark.createDataFrame([(i,) for i in ids], "id int")
    return ids_df.select(
        F.concat(F.lit("r"), (F.col("id") % 4).cast("string")).alias("repo"),
        F.concat(F.lit("p/"), F.col("id").cast("string")).alias("path"),
        F.concat(F.lit(tag), F.lit("-c"), F.col("id")).alias("commit"),
        F.lit("py").alias("lang"),
        F.concat(F.lit(tag), F.lit("-content-"), F.col("id")
                 ).alias("content"),
        F.lit("upsert").alias("_op"))


@pytest.fixture()
def table(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path / "base"))
    t = cat.create_table(
        "db", "t", schema=SCHEMA,
        config=TableConfig(
            compaction=CompactionConfig(min_files_to_compact=2,
                                        target_file_bytes=1 << 20)))
    t.merge(rows_df(spark, range(100), tag="v1"), key_columns=KEYS,
            job_tag="m1")                                    # v1: +100
    return t


def key_set(df):
    return {(r["repo"], r["path"], r["_change_type"])
            for r in df.select("repo", "path", "_change_type").collect()}


def test_inserts_and_deletes_reported(spark, table):
    t = table
    dels = rows_df(spark, range(10), tag="v1") \
        .withColumn("_op", F.lit("delete"))
    t.merge(dels, key_columns=KEYS, job_tag="m2")            # v2: -10
    t.merge(rows_df(spark, range(100, 120), tag="v3"),
            key_columns=KEYS, job_tag="m3")                  # v3: +20

    ch = t.changes(1)  # v2..v3
    counts = dict(ch.groupBy("_change_type").count().collect())
    assert counts == {"delete": 10, "insert": 20}
    # delete events carry the deleted payload
    one = ch.filter((F.col("_change_type") == "delete")
                    & (F.col("path") == "p/3")).collect()
    assert len(one) == 1 and one[0]["content"] == "v1-content-3"
    # versions stamped
    vers = {r["_commit_version"] for r in
            ch.select("_commit_version").distinct().collect()}
    assert vers == {2, 3}


def test_replay_reproduces_target_snapshot(spark, table):
    t = table
    # upsert = delete+insert for 15 existing keys, plus 5 new
    t.merge(rows_df(spark, list(range(50, 65)) + list(range(200, 205)),
                    tag="v2"), key_columns=KEYS, job_tag="m2")
    ch = t.changes(1, 2)
    base = t.scan(1).select("repo", "path", "content")
    ins = ch.filter(F.col("_change_type") == "insert") \
        .select("repo", "path", "content")
    rm = ch.filter(F.col("_change_type") == "delete") \
        .select("repo", "path")
    replayed = base.join(rm, on=KEYS, how="left_anti").unionByName(ins)
    want = t.scan(2).select("repo", "path", "content")
    assert replayed.exceptAll(want).count() == 0
    assert want.exceptAll(replayed).count() == 0


def test_compaction_and_metadata_commits_emit_nothing(spark, table):
    t = table
    dels = rows_df(spark, range(5), tag="v1") \
        .withColumn("_op", F.lit("delete"))
    t.merge(dels, key_columns=KEYS, job_tag="m2")            # v2
    v_before = t.current_version()
    t.optimize("full")                                       # replace
    t.create_snapshot()                                      # metadata
    t.add_column("license", default="mit")                   # metadata
    assert t.current_version() == v_before + 3
    assert t.changes(v_before).count() == 0
    # while the logical window before still reports its events
    assert t.changes(1, v_before).count() == 5


def test_windows_compose(spark, table):
    t = table
    t.merge(rows_df(spark, range(100, 110), tag="v2"),
            key_columns=KEYS, job_tag="m2")
    dels = rows_df(spark, range(20, 30), tag="v1") \
        .withColumn("_op", F.lit("delete"))
    t.merge(dels, key_columns=KEYS, job_tag="m3")
    a = key_set(t.changes(1, 2)) | key_set(t.changes(2, 3))
    assert a == key_set(t.changes(1, 3))
    assert len(a) == 20


@pytest.mark.parametrize("seed", [5])
def test_changelog_replay_chaos(spark, tmp_path, seed):
    """Random op sequences: from any sync point, replaying the
    changelog reproduces the current snapshot exactly — across merges
    (deletes + upserts), compactions, metadata commits, and rollbacks
    (which force an explicit re-sync instead of a silent wrong delta)."""
    import numpy as np

    from moonlink_spark.config import CompactionConfig
    from moonlink_spark.engine import MoonTable
    from moonlink_spark.synth import synthesize_cdc_aftermath

    keys = ["repo", "path", "commit"]
    w = str(tmp_path / "wh")
    synthesize_cdc_aftermath(w, seed=seed, n_files=8,
                             rows_per_file=(20, 50), n_repos=4,
                             content_bytes=(48, 96))
    t = MoonTable(spark, w, TableConfig(compaction=CompactionConfig(
        target_file_bytes=48 << 10, bin_target_bytes=128 << 10,
        bin_concurrency=2)))
    rng = np.random.default_rng(seed)
    sync = t.current_version()

    def row_set(df):
        return {tuple(r) for r in
                df.selectExpr(*keys, "sha2(content, 256) as h").collect()}

    for step in range(7):
        op = rng.choice(["delete", "upsert", "full", "snapshot",
                         "rollback"])
        rolled_back = False
        if op in ("delete", "upsert"):
            live = t.scan().select(*keys, "lang", "content")
            k = int(rng.integers(1, 9))
            batch = live.orderBy(*keys).limit(k)
            if op == "upsert":
                batch = batch.withColumn(
                    "content", F.concat(F.lit(f"u{step}:"),
                                        F.col("content")))
            t.merge(batch.withColumn("_op", F.lit(op if op == "delete"
                                                  else "upsert")),
                    key_columns=keys, job_tag=f"ch{step}")
        elif op == "full":
            t.optimize("full")
        elif op == "snapshot":
            t.create_snapshot()
        else:
            t.rollback_to(max(sync, t.current_version() - 1))
            rolled_back = True

        now = t.current_version()
        if rolled_back and now > sync:
            with pytest.raises(ValueError, match="rollback"):
                t.changes(sync, now).count()
            sync = now  # consumer re-syncs from a fresh base
            continue
        ch = t.changes(sync, now)
        base = t.scan(sync).select(*keys, "content")
        # CDC-consumer replay: per key, the LAST event in the window
        # wins (insert beats delete within one version — an upsert is
        # delete+insert at the same commit); untouched keys keep their
        # base row.
        from pyspark.sql import Window
        w_last = Window.partitionBy(*keys).orderBy(
            F.col("_commit_version").desc(),
            F.when(F.col("_change_type") == "insert", 1)
            .otherwise(0).desc())
        last = (ch.withColumn("_rn", F.row_number().over(w_last))
                .filter(F.col("_rn") == 1))
        replayed = (base.join(last.select(*keys), on=keys,
                              how="left_anti")
                    .unionByName(
                        last.filter(F.col("_change_type") == "insert")
                        .select(*keys, "content")))
        assert row_set(replayed) == row_set(
            t.scan(now).select(*keys, "content")), \
            f"seed={seed} step={step} op={op} window=({sync},{now})"
        if rng.random() < 0.4:
            sync = now  # consumer advances its watermark


def test_delete_images_carry_column_defaults(spark, tmp_path):
    """Rows written before ``add_column(default=...)`` read back with the
    default in their delete images, exactly as ``scan()`` shows them;
    the insert and delete images of an upserted pre-existing row agree
    on the defaulted column."""
    from moonlink_spark.engine import MoonTable
    from moonlink_spark.synth import synthesize_cdc_aftermath

    keys = ["repo", "path", "commit"]
    w = str(tmp_path / "wh")
    synthesize_cdc_aftermath(w, seed=3, n_files=6, rows_per_file=(20, 40),
                             n_repos=3, content_bytes=(32, 64))
    t = MoonTable(spark, w)
    t.add_column("license", default="mit")
    cols = [*keys, "lang", "content", "license"]
    live = t.scan().select(*cols).orderBy(*keys)
    victims = live.limit(3).collect()
    assert {r["license"] for r in victims} == {"mit"}

    v = t.current_version()
    t.merge(spark.createDataFrame(victims, live.schema)
            .withColumn("_op", F.lit("delete")), key_columns=keys)
    dels = t.changes(v).filter(F.col("_change_type") == "delete")
    assert ({tuple(r) for r in dels.select(*cols).collect()}
            == {tuple(r) for r in victims})

    v = t.current_version()
    row = t.scan().select(*cols).orderBy(*keys).first()
    t.merge(spark.createDataFrame([row], live.schema)
            .withColumn("content", F.lit("upserted"))
            .withColumn("_op", F.lit("upsert")), key_columns=keys)
    images = {r["_change_type"]: r for r in t.changes(v).collect()}
    assert set(images) == {"delete", "insert"}
    assert images["delete"]["content"] == row["content"]
    assert images["insert"]["content"] == "upserted"
    assert images["delete"]["license"] == images["insert"]["license"] \
        == "mit"
