"""Append-only ingest: the IdentityProp::None fast path.

The reference models row identity per table
(``src/moonlink/src/row/moonlink_row.rs:271-291``): tables with
``IdentityProp::None`` are append-only — deletes are rejected at the
API boundary (``storage/mooncake_table.rs:129-139``) and appends skip
delete→position matching entirely.  This operator is that fast path in
Spark terms: NO key join, NO scan of existing data, no DV work — rows
become fresh size-rolled ingest files (snappy, same row budget as the
reference's mem-slice flush, ``mooncake_table_config.rs:158-163``) and
the commit is a pure manifest DELTA: one new segment of fresh entries,
every existing segment carried by reference.

Scale shape: one narrow write job over the incoming rows; commit cost
is O(new files) regardless of table size.
"""

from __future__ import annotations

import math
import os
import uuid

from pyspark.sql import DataFrame

from moonlink_spark.config import TableConfig
from moonlink_spark.fs import rename_many
from moonlink_spark.operators.rewrite import (
    assign_positions,
    footer_stats_many,
)
from moonlink_spark.snapshotstore import (
    DATA_DIR,
    CommitConflict,
    Snapshot,
    SnapshotStore,
    staged_names,
)

INGEST_ROLL_ROWS = 131_072  # mem-slice flush row budget analogue


def append_rows(
    spark,
    store: SnapshotStore,
    snapshot: Snapshot,
    rows: DataFrame,
    *,
    config: TableConfig,
    job_tag: str | None = None,
    extra_properties: dict | None = None,
) -> Snapshot:
    """Write ``rows`` as new ingest files and commit old ∪ new.

    Retries the commit against a fresh base on conflict (appends never
    conflict semantically — the new files are private until published),
    mirroring the reference's bounded commit-retry loop
    (``table_property.rs:14-24``)."""
    data_cols = [c for c in snapshot.schema if c != "_pos"]
    missing = [c for c in data_cols if c not in rows.columns]
    if missing:
        raise ValueError(f"append is missing table columns: {missing}")
    nonce = uuid.uuid4().hex[:8]
    job_id = f"{job_tag or 'append'}-v{snapshot.version:06d}-{nonce}"

    n_rows = rows.count()
    if n_rows == 0:
        return snapshot
    n_files = max(1, math.ceil(n_rows / INGEST_ROLL_ROWS))
    # cluster incoming rows by the table's clustering columns when
    # present so fresh files carry tight bounds (better pruning until
    # the next compaction); fall back to the natural column order
    order_cols = [c for c in config.zorder_columns if c in data_cols] \
        or data_cols[:1]
    final = assign_positions(
        rows.select(*data_cols)
        .repartitionByRange(n_files, *order_cols)
        .sortWithinPartitions(*order_cols))

    tmp = os.path.join(store.warehouse, "tmp", job_id, "app")
    (final.write.mode("overwrite")
     .option("compression", config.ingest_compression).parquet(tmp))
    pairs, rels = staged_names(store, tmp, DATA_DIR, f"data-{job_id}")
    rename_many(store.fs, pairs)
    new_entries = []
    for rel, st in zip(rels, footer_stats_many(
            [store.abs(r) for r in rels], config.stats_columns)):
        if st["rows"]:
            new_entries.append({
                "path": rel, "dv_path": None, "dv_cardinality": 0, **st})
    store.fs.rmtree(os.path.join(store.warehouse, "tmp", job_id))
    new_entries.sort(key=lambda e: e["path"])
    if config.index_key_columns and not snapshot.properties.get(
            "append_only"):
        # identity-keyed tables index appended files at birth too (an
        # append_only table has IdentityProp::None — no identity key, no
        # index, like the reference); skipping would only widen later
        # MERGE scans (uncovered files are always candidates), never
        # break them
        from moonlink_spark.operators import keyindex
        keyindex.write_index(
            spark, store, [e["path"] for e in new_entries],
            list(config.index_key_columns),
            n_buckets=config.index_buckets, job_id=job_id)

    base = snapshot
    for attempt in range(5):
        props = dict(base.properties)
        props.update({
            "flush_lsn": base.flush_lsn + 1,
            "job_id": job_id,
            "operation": "append",
            "appended_rows": n_rows,
        })
        if extra_properties:
            props.update(extra_properties)
        # pure delta: appends only ADD entries, so the commit writes one
        # new manifest segment and references every existing segment —
        # O(new files), never O(table)
        try:
            return store.commit_delta(
                base.version, added=new_entries,
                schema=base.schema,
                stats_columns=config.stats_columns,
                properties=props,
                expected_parent=base.version)
        except CommitConflict:
            if attempt == 4:
                raise
            base = store.read_snapshot()
    raise AssertionError("unreachable")
