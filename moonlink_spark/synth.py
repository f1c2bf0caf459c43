"""Deterministic CDC-aftermath synthesizer (test & bench input).

Recreates the table state moonlink leaves behind after CDC ingestion so the
maintenance engine has something real to fix (cf. FIXTURES.md §1.1):

- **many tiny commit files** — moonlink flushes every commit and triggers
  an Iceberg snapshot after every single new data file
  (``storage/mooncake_table_config.rs:80-89``,
  ``DEFAULT_ICEBERG_NEW_DATA_FILE_COUNT = 1``), so a busy table ends up
  with thousands of sub-MiB parquet files;
- **positional delete vectors** — CDC ``Update`` = ``Delete`` + ``Append``
  (``moonlink_connectors/src/pg_replicate/moonlink_sink.rs:295-327``), so
  files accumulate per-file DVs: ~30 % of files with scattered deletes, a
  few with >= 50 % deleted (trips the deletion-percentage compaction
  trigger, ``compaction_config.rs:53-54``), a few 100 % deleted
  (compaction drops them entirely, ``compactor.rs:412-430``);
- **snapshot v0** listing data files + DV sidecars with ``flush_lsn``.

Schema is the north-rule input table
``(repo, path, commit, lang, content)`` plus an explicit ``_pos`` column
(row position within its data file, 0-based) written at file-creation
time — the engine's stand-in for moonlink's
``RecordLocation::DiskFile(file_id, row_idx)``
(``storage/storage_utils.rs:83-90``); Spark exposes no stable in-file row
position at read time, so we materialize it.

Determinism: every random draw comes from a ``numpy`` Generator seeded by
``(seed, file_index)`` — content for a given (seed, file, row) is
byte-identical across runs and independent of generation parallelism.
The hot repo holds ~``hot_fraction`` of all rows (Zipf-ish tail for the
rest) to exercise skew salting.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from moonlink_spark.snapshotstore import DATA_DIR, DV_DIR, Snapshot, SnapshotStore

SCHEMA = ["repo", "path", "commit", "lang", "content", "_pos"]
STATS_COLUMNS = ("repo", "path", "commit", "lang")

_LANGS = ["rust", "python", "c", "go", "md", "toml", "js", "java"]
_EXT = {"rust": "rs", "python": "py", "c": "c", "go": "go", "md": "md",
        "toml": "toml", "js": "js", "java": "java"}
_VOCAB = np.array(
    ("fn let mut pub use mod struct impl enum match if else for while loop "
     "return self super crate async await move ref box vec map set str "
     "def class import from lambda yield with try except raise pass None "
     "void int char static const extern sizeof typedef union goto break "
     "func go chan defer select interface package range type var fallthrough "
     "# = == != <= >= && || -> => :: ; { } ( ) [ ] + - * / % ! & | ^ "
     "foo bar baz qux quux corge grault garply waldo fred plugh xyzzy thud "
     "data value index count total result buffer stream handle config state "
     "0 1 2 42 100 0xff 3.14 1e-9 true false null").split()
)
_VOCAB_LEN = np.array([len(w) + 1 for w in _VOCAB])  # +1 for the space


def _zipf_repo_weights(n_repos: int, hot_fraction: float) -> np.ndarray:
    """Repo 0 gets ``hot_fraction`` of the mass, the tail is Zipf(1.1)."""
    tail = 1.0 / np.arange(1, n_repos, dtype=np.float64) ** 1.1
    tail = tail / tail.sum() * (1.0 - hot_fraction)
    return np.concatenate([[hot_fraction], tail])


def _make_content(rng: np.random.Generator, n_rows: int,
                  lo: int, hi: int) -> pa.Array:
    """Vectorized pseudo-source text: log-uniform byte lengths in
    [lo, hi], token stream drawn from a code-ish vocabulary.  The join
    runs in Arrow C++ (``binary_join`` over a ListArray) — no per-row
    Python, so synthesis keeps up with multi-GB bench inputs."""
    target = np.exp(rng.uniform(np.log(lo), np.log(hi), n_rows))
    # tokens per row ~= target_bytes / avg_token_len
    avg = _VOCAB_LEN.mean()
    n_tok = np.maximum(4, (target / avg).astype(np.int64))
    ids = rng.integers(0, len(_VOCAB), n_tok.sum())
    flat = pa.array(_VOCAB[ids], pa.string())
    offsets = np.zeros(n_rows + 1, dtype=np.int32)
    np.cumsum(n_tok, out=offsets[1:])
    lists = pa.ListArray.from_arrays(pa.array(offsets, pa.int32()), flat)
    import pyarrow.compute as pc
    return pc.binary_join(lists, " ")


def _file_batch(seed: int, file_idx: int, *, n_repos: int,
                weights: np.ndarray, rows_lo: int, rows_hi: int,
                content_lo: int, content_hi: int) -> pa.Table:
    rng = np.random.default_rng(np.random.SeedSequence([seed, file_idx]))
    n = int(rng.integers(rows_lo, rows_hi + 1))
    # a commit file touches 1-3 repos (CDC commits are repo-local)
    k = int(rng.integers(1, 4))
    touched = rng.choice(n_repos, size=k, replace=False, p=weights)
    repo_idx = touched[rng.integers(0, k, n)]
    repos = np.array([f"org{i % 17}/repo{i:04d}" for i in repo_idx])
    lang_idx = rng.integers(0, len(_LANGS), n)
    langs = np.array(_LANGS)[lang_idx]
    mods = rng.integers(0, 40, n)
    files = rng.integers(0, 200, n)
    paths = np.array([
        f"src/mod{m:02d}/file{f:03d}.{_EXT[lg]}"
        for m, f, lg in zip(mods, files, langs)
    ])
    commit_words = rng.integers(0, 1 << 60, n)
    commits = np.array([f"{w:040x}" for w in commit_words])
    content = _make_content(rng, n, content_lo, content_hi)
    return pa.table({
        "repo": pa.array(repos, pa.string()),
        "path": pa.array(paths, pa.string()),
        "commit": pa.array(commits, pa.string()),
        "lang": pa.array(langs, pa.string()),
        "content": content,
        "_pos": pa.array(np.arange(n, dtype=np.int64)),
    })


def _dv_positions(rng: np.random.Generator, n_rows: int,
                  category: str) -> np.ndarray | None:
    if category == "none":
        return None
    if category == "full":
        return np.arange(n_rows, dtype=np.int64)
    if category == "heavy":  # >= 50 % deleted -> deletion trigger
        frac = rng.uniform(0.5, 0.9)
    else:  # scattered
        frac = rng.uniform(0.01, 0.2)
    k = max(1, int(n_rows * frac))
    return np.sort(rng.choice(n_rows, size=k, replace=False)).astype(np.int64)


def _gen_one_file(args) -> tuple[dict, dict | None]:
    """Generate + write one data file; returns (manifest entry, DV
    record or None).  Top-level so it pickles into worker processes."""
    (warehouse, seed, i, n_repos, weights, rows_lo, rows_hi,
     c_lo, c_hi) = args
    store = SnapshotStore(warehouse)
    table = _file_batch(seed, i, n_repos=n_repos, weights=weights,
                        rows_lo=rows_lo, rows_hi=rows_hi,
                        content_lo=c_lo, content_hi=c_hi)
    rel = os.path.join(DATA_DIR, f"data-{seed:04d}-{i:06d}.parquet")
    pq.write_table(table, store.abs(rel), compression="snappy")
    n = table.num_rows

    rng = np.random.default_rng(np.random.SeedSequence([seed, i, 7]))
    u = rng.uniform()
    category = ("full" if u < 0.02 else
                "heavy" if u < 0.07 else
                "scattered" if u < 0.37 else "none")
    pos = _dv_positions(rng, n, category)
    dv_rec = None
    if pos is not None:
        dv_rec = {
            "referenced_file": rel,
            "positions": pos.tolist(),
            "cardinality": int(len(pos)),
            "max_row_count": int(n),
        }
    import pyarrow.compute as pc
    bounds = {}
    for c in STATS_COLUMNS:
        col = table[c]
        bounds[c] = (pc.min(col).as_py(), pc.max(col).as_py())
    entry = {
        "path": rel,
        "rows": n,
        "bytes": os.path.getsize(store.abs(rel)),
        "bounds": bounds,
    }
    return entry, dv_rec


def synthesize_cdc_aftermath(
    warehouse: str,
    *,
    seed: int = 42,
    n_files: int = 200,
    rows_per_file: tuple[int, int] = (100, 800),
    n_repos: int = 20,
    hot_fraction: float = 0.5,
    content_bytes: tuple[int, int] = (64, 2048),
    dv_files_per_sidecar: int = 20,
    flush_lsn: int = 1000,
    store: SnapshotStore | None = None,
) -> Snapshot:
    """Write the aftermath into ``warehouse`` and commit snapshot v0.

    ``store`` selects the format backend the v0 commit publishes
    through (default: the Iceberg-shaped :class:`SnapshotStore`; pass a
    :class:`~moonlink_spark.deltastore.DeltaLogStore` to seed a
    Delta-log table).  Data/DV bytes are identical either way — only
    the commit protocol differs."""
    store = store or SnapshotStore(warehouse)
    store.init_warehouse()
    weights = _zipf_repo_weights(n_repos, hot_fraction)
    rows_lo, rows_hi = rows_per_file
    c_lo, c_hi = content_bytes

    # Phase 1 — data files: embarrassingly parallel (every draw is
    # seeded by (seed, file_idx), so generation order / worker count
    # never changes the bytes).  Process pool for n_files >= 64.
    args = [(warehouse, seed, i, n_repos, weights, rows_lo, rows_hi,
             c_lo, c_hi) for i in range(n_files)]
    if n_files >= 64:
        import multiprocessing as mp
        with mp.get_context("fork").Pool(min(24, os.cpu_count() or 4)) as p:
            results = p.map(_gen_one_file, args, chunksize=8)
    else:
        results = [_gen_one_file(a) for a in args]

    entries = [r[0] for r in results]

    # Phase 2 — DV sidecars: grouped ~dv_files_per_sidecar referenced
    # files per parquet to mimic many small puffin blobs (gives
    # optimize("index") real merge work).  Serial, deterministic order.
    pending: dict[str, tuple[str, int]] = {}  # file -> (dv_path, card)
    dv_records = [r[1] for r in results if r[1] is not None]
    for j in range(0, len(dv_records), dv_files_per_sidecar):
        group = dv_records[j:j + dv_files_per_sidecar]
        rel = os.path.join(DV_DIR,
                           f"dv-{j // dv_files_per_sidecar:06d}.parquet")
        t = pa.table({
            "referenced_file": pa.array([d["referenced_file"] for d in group]),
            "positions": pa.array([d["positions"] for d in group],
                                  pa.list_(pa.int64())),
            "cardinality": pa.array([d["cardinality"] for d in group],
                                    pa.int64()),
            "max_row_count": pa.array([d["max_row_count"] for d in group],
                                      pa.int64()),
        })
        pq.write_table(t, store.abs(rel), compression="zstd")
        for d in group:
            pending[d["referenced_file"]] = (rel, d["cardinality"])

    for e in entries:
        dv = pending.get(e["path"])
        if dv is not None:
            e["dv_path"], e["dv_cardinality"] = dv

    types = {c: "string" for c in SCHEMA}
    types["_pos"] = "bigint"
    ddl = ", ".join(f"`{c}` {types[c]}" for c in SCHEMA)
    return store.commit(
        entries,
        schema=SCHEMA,
        stats_columns=STATS_COLUMNS,
        properties={"flush_lsn": flush_lsn, "origin": "synth",
                    "seed": seed, "n_files": n_files,
                    "schema_types": types, "schema_ddl": ddl},
        expected_parent=None,
    )


# ---------------------------------------------------------------------------
# Mini fixture: the reference's canonical 3-column users table
# (id, name, age) used by nearly every moonlink unit test
# (``compaction_tests.rs:46-58``: ID=[1,2,3,4], NAME=[a,b,c,d],
# AGE=[10,20,30,40]).  Used here to port the compaction state matrix.
# ---------------------------------------------------------------------------

USERS_SCHEMA = ["id", "name", "age", "_pos"]


def write_users_file(store: SnapshotStore, file_no: int,
                     ids: list[int], names: list[str],
                     ages: list[int]) -> dict:
    """Write one users data file; returns its manifest entry."""
    n = len(ids)
    rel = os.path.join(DATA_DIR, f"users-{file_no:06d}.parquet")
    t = pa.table({
        "id": pa.array(ids, pa.int32()),
        "name": pa.array(names, pa.string()),
        "age": pa.array(ages, pa.int32()),
        "_pos": pa.array(np.arange(n, dtype=np.int64)),
    })
    pq.write_table(t, store.abs(rel))
    return {"path": rel, "rows": n, "bytes": os.path.getsize(store.abs(rel))}


def write_users_dv(store: SnapshotStore, dv_no: int,
                   deletes: dict[str, tuple[list[int], int]]) -> str:
    """Write a DV sidecar: {data_file_relpath: (positions, max_rows)}."""
    rel = os.path.join(DV_DIR, f"users-dv-{dv_no:06d}.parquet")
    t = pa.table({
        "referenced_file": pa.array(list(deletes.keys())),
        "positions": pa.array([v[0] for v in deletes.values()],
                              pa.list_(pa.int64())),
        "cardinality": pa.array([len(v[0]) for v in deletes.values()],
                                pa.int64()),
        "max_row_count": pa.array([v[1] for v in deletes.values()],
                                  pa.int64()),
    })
    pq.write_table(t, store.abs(rel))
    return rel
