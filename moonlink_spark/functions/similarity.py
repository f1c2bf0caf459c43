"""Approximate-nearest-neighbor search over an embedding column.

Three tiers, trading recall for scale:

- **brute-force cosine top-k** — the correctness baseline: broadcast the
  (small) query set against the corpus; one pass, no shuffle on the
  corpus side; dot products via `zip_with`+`aggregate` (JVM-side, no
  Python).
- **IVF (inverted-file) top-k** — k-means-style coarse quantizer:
  corpus rows are assigned to their nearest centroid once (cheap
  broadcast of C centroids); a query probes only `nprobe` cells, so the
  scan reads `nprobe/C` of the corpus. Centroid choice is deterministic
  (seeded sample), assignment is a pandas UDF doing one (batch × C)
  matmul per Arrow batch.
- **random-hyperplane LSH bucketing** — b seeded hyperplanes → b-bit
  bucket id; near-dup verification joins within buckets only
  (dedup.embedding_neardup_pairs at bucket granularity).

At 10^12-row scale the IVF assignment is the only full-corpus pass and
it is embarrassingly parallel; the per-query work is bounded by cell
sizes (balanced by construction — centroids come from a corpus sample).
"""

from __future__ import annotations


import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf
from pyspark.sql.window import Window


def _normed(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    return (
        df.select(F.col(id_col),
                  F.col(vec_col).cast("array<double>").alias("v"))
        .withColumn("norm", F.sqrt(
            F.aggregate("v", F.lit(0.0), lambda a, x: a + x * x)))
    )


def cosine_topk(corpus: DataFrame, queries: DataFrame, *,
                id_col: str = "vec_id", vec_col: str = "embedding",
                k: int = 10) -> DataFrame:
    """Exact top-k by cosine: (query_id, rank, vec_id).

    The query side is broadcast (it is small by contract); the corpus is
    never shuffled until the final per-query top-k, which reduces
    k·|queries| rows. Ties break on corpus id ascending so results are
    total-order deterministic."""
    c = _normed(corpus, id_col, vec_col).alias("c")
    q = (_normed(queries, id_col, vec_col)
         .withColumnRenamed(id_col, "query_id").alias("q"))
    dot = F.aggregate(
        F.zip_with(F.col("q.v"), F.col("c.v"), lambda x, y: x * y),
        F.lit(0.0), lambda a, x: a + x)
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col(f"c.{id_col}"))
        .withColumn("cosine", dot / (F.col("q.norm") * F.col("c.norm")))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col(f"c.{id_col}").asc())
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", F.col("rank").cast("long").alias("rank"),
                    F.col(f"c.{id_col}").alias("neighbor_id")))


def train_centroids(corpus: DataFrame, *, vec_col: str = "embedding",
                    n_centroids: int = 16, sample_rows: int = 4096,
                    iters: int = 5, seed: int = 13) -> np.ndarray:
    """Deterministic mini k-means on a bounded driver-side sample
    (sample_rows is O(centroids), independent of corpus size).

    The sample is the ``sample_rows`` smallest rows by ``xxhash64`` of
    the vector — a deterministic spread across the whole corpus
    (executed as per-partition top-k + merge, no full sort), instead of
    ``limit()``'s first-partitions bias which would train centroids on
    whatever data happened to land in partition 0."""
    sample = (corpus.select(F.col(vec_col).cast("array<double>").alias("v"))
              .orderBy(F.xxhash64(F.col("v")))
              .limit(sample_rows).collect())
    x = np.array([r["v"] for r in sample], dtype=np.float64)
    x /= np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
    rng = np.random.default_rng(seed)
    cents = x[rng.choice(len(x), size=min(n_centroids, len(x)),
                         replace=False)]
    for _ in range(iters):
        assign = np.argmax(x @ cents.T, axis=1)
        for j in range(len(cents)):
            m = assign == j
            if m.any():
                c = x[m].mean(axis=0)
                cents[j] = c / max(np.linalg.norm(c), 1e-12)
    return cents


def assign_cells(df: DataFrame, centroids: np.ndarray, *,
                 vec_col: str = "embedding",
                 out_col: str = "cell") -> DataFrame:
    """Nearest-centroid id per row — one matmul per Arrow batch."""
    cents = centroids.astype(np.float64)

    @pandas_udf(T.IntegerType())
    def _cell(v: pd.Series) -> pd.Series:
        x = np.array(v.tolist(), dtype=np.float64)
        x /= np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
        return pd.Series(np.argmax(x @ cents.T, axis=1).astype(np.int32))

    return df.withColumn(out_col, _cell(F.col(vec_col)))


def ivf_topk(corpus: DataFrame, queries: DataFrame, *,
             id_col: str = "vec_id", vec_col: str = "embedding",
             k: int = 10, n_centroids: int = 16, nprobe: int = 4,
             seed: int = 13) -> DataFrame:
    """IVF approximate top-k: probe ``nprobe`` nearest cells per query.
    Same output shape as :func:`cosine_topk` (recall < 1 by design)."""
    cents = train_centroids(corpus, vec_col=vec_col,
                            n_centroids=n_centroids, seed=seed)
    indexed = assign_cells(corpus, cents, vec_col=vec_col)

    @pandas_udf(T.ArrayType(T.IntegerType()))
    def _probes(v: pd.Series) -> pd.Series:
        x = np.array(v.tolist(), dtype=np.float64)
        x /= np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
        order = np.argsort(-(x @ cents.T), axis=1)[:, :nprobe]
        return pd.Series([row.astype(np.int32).tolist() for row in order])

    q = (queries.withColumn("cell", F.explode(_probes(F.col(vec_col))))
         .withColumnRenamed(id_col, "query_id"))
    qn = (q.select(F.col("query_id"), F.col(vec_col), F.col("cell"))
          .withColumn("qv", F.col(vec_col).cast("array<double>"))
          .withColumn("qnorm", F.sqrt(
              F.aggregate("qv", F.lit(0.0), lambda a, x: a + x * x)))
          .drop(vec_col))
    cn = (indexed
          .withColumn("cv", F.col(vec_col).cast("array<double>"))
          .withColumn("cnorm", F.sqrt(
              F.aggregate("cv", F.lit(0.0), lambda a, x: a + x * x)))
          .select(F.col(id_col).alias("neighbor_id"), "cv", "cnorm", "cell"))
    dot = F.aggregate(F.zip_with("qv", "cv", lambda x, y: x * y),
                      F.lit(0.0), lambda a, x: a + x)
    scored = (cn.join(F.broadcast(qn), on="cell")
              .filter(F.col("neighbor_id") != F.col("query_id"))
              .withColumn("cosine", dot / (F.col("qnorm") * F.col("cnorm"))))
    w = (Window.partitionBy("query_id")
         .orderBy(F.col("cosine").desc(), F.col("neighbor_id").asc()))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", F.col("rank").cast("long").alias("rank"),
                    "neighbor_id"))


def lsh_bucket(df: DataFrame, *, vec_col: str = "embedding",
               n_planes: int = 8, seed: int = 29, dim: int = 64,
               out_col: str = "bucket") -> DataFrame:
    """Random-hyperplane LSH bucket id (sign pattern over n_planes
    seeded Gaussian hyperplanes) — the scale path for embedding
    near-dup: verification joins run within buckets only."""
    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((n_planes, dim))

    @pandas_udf(T.IntegerType())
    def _bucket(v: pd.Series) -> pd.Series:
        x = np.array(v.tolist(), dtype=np.float64)
        signs = (x @ planes.T) > 0
        return pd.Series(
            (signs @ (1 << np.arange(n_planes))).astype(np.int32))

    return df.withColumn(out_col, _bucket(F.col(vec_col)))


# deterministic axis choices for axis_lsh_bucket (seeded once; spread
# over a 64-dim embedding)
AXIS_LSH_DIMS = (0, 9, 21, 33, 47, 58)


def axis_lsh_bucket(df: DataFrame, *, vec_col: str = "embedding",
                    dims: tuple[int, ...] = AXIS_LSH_DIMS,
                    out_col: str = "bucket") -> DataFrame:
    """Axis-aligned hyperplane LSH bucket id: bit i = sign of
    ``v[dims[i]]`` — the hyperplanes are coordinate axes (a fixed seeded
    choice of dimensions) instead of Gaussian draws.

    Same locality-sensitive family as :func:`lsh_bucket` for
    sign-symmetric embeddings, but a pure whole-stage-codegen expression
    (no UDF, no Arrow round-trip) *and* expressible in ANSI SQL — which
    is what lets the bucketed near-dup pipeline carry a DuckDB oracle."""
    v = F.col(vec_col).cast("array<double>")
    b = F.lit(0)
    for i, d in enumerate(dims):
        b = b + F.when(F.element_at(v, d + 1) > 0,
                       F.lit(1 << i)).otherwise(F.lit(0))
    return df.withColumn(out_col, b.cast("int"))


def kmeans(corpus: DataFrame, *, vec_col: str = "embedding",
           k: int = 16, iters: int = 10, sample_rows: int = 4096,
           seed: int = 13) -> tuple[np.ndarray, DataFrame]:
    """Distributed Lloyd's k-means over unit-normalized vectors
    (spherical k-means — the metric every other operator here uses).

    Returns ``(centroids, assigned)``: the final ``k x d`` centroid
    array and the corpus with a ``cluster`` column.  The standard use
    downstream is cluster-balanced selection — feed ``cluster`` to
    ``sampling.stratified_sample`` to cap any one content region's
    share of a training mix (topic balancing), or inspect per-cluster
    counts for corpus composition drift.

    The canonical Spark k-means loop, linear per iteration at any
    corpus size:

    - init: the bounded deterministic sample of :func:`train_centroids`
      (per-partition top-k by hash, never ``limit()``'s partition-0
      bias);
    - assign: one matmul per Arrow batch against the broadcast ``k x
      d`` centroid array (:func:`assign_cells`);
    - recompute: per-cluster vector sums via ``posexplode`` +
      ``groupBy(cluster, dim)`` — pure codegen and map-side
      combinable, so each partition emits at most ``k x d`` partial
      rows regardless of its row count; only ``k x d`` aggregated rows
      (plus ``k`` counts) ever reach the driver per iteration.

    Empty clusters keep their previous centroid.  Note the per-cluster
    mean is a floating-point sum over an unordered partitioning, so
    centroids can differ in the last ulps across runs; for
    well-separated data assignments are stable (the seeded INIT is
    exactly reproducible).
    """
    cents = train_centroids(corpus, vec_col=vec_col, n_centroids=k,
                            sample_rows=sample_rows, iters=1, seed=seed)
    v = F.col(vec_col).cast("array<double>")
    norm = F.sqrt(F.aggregate(v, F.lit(0.0), lambda a, x: a + x * x))
    unit = corpus.withColumn(
        "_uv", F.transform(v, lambda x: x / F.greatest(norm, F.lit(1e-12))))
    for _ in range(iters):
        assigned = assign_cells(unit, cents, vec_col="_uv",
                                out_col="cluster")
        stats = (assigned.select("cluster", F.posexplode("_uv")
                                 .alias("_d", "_x"))
                 .groupBy("cluster", "_d")
                 .agg(F.sum("_x").alias("_s"),
                      F.count(F.lit(1)).alias("_n"))
                 .collect())
        sums = np.zeros_like(cents)
        counts = np.zeros(len(cents), dtype=np.int64)
        for r in stats:
            sums[r["cluster"], r["_d"]] = r["_s"]
            counts[r["cluster"]] = r["_n"]
        nxt = cents.copy()
        nz = counts > 0
        nxt[nz] = sums[nz] / counts[nz, None]
        nxt /= np.maximum(np.linalg.norm(nxt, axis=1, keepdims=True),
                          1e-12)
        cents = nxt
    assigned = assign_cells(unit, cents, vec_col="_uv",
                            out_col="cluster").drop("_uv")
    return cents, assigned


def semdedup(corpus: DataFrame, *, id_col: str = "vec_id",
             vec_col: str = "embedding", k: int = 16,
             threshold: float = 0.95, iters: int = 4,
             sample_rows: int = 4096, seed: int = 13) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, public): semantic deduplication.
    Cluster the embedding space with spherical k-means, find cosine
    near-duplicates WITHIN each cluster only, and keep one document per
    near-dup component.  Returns the keep-list ``(id, component)`` —
    one row per kept doc (survivor = min id; singletons survive as
    their own component).

    Scale shape: the only full-corpus passes are the k-means
    assignments (one broadcast matmul per Arrow batch per iteration);
    the pair join is an equi-join on the cluster id, so its cost is
    bounded by per-cluster sizes, not n² — pick ``k`` ~ sqrt(n/target
    cluster size) to bound them.  Component collapse is the O(log n)
    star-contraction; the final keep-list is one groupBy on the
    (uniform) component key.

    Iterative (k-means) → no SQL oracle by nature; evidenced by the
    unit twin test in ``tests/test_functions.py``."""
    from moonlink_spark.functions import dedup as dd

    _, assigned = kmeans(corpus, vec_col=vec_col, k=k, iters=iters,
                         sample_rows=sample_rows, seed=seed)
    pairs = dd.embedding_neardup_pairs(
        assigned, id_col=id_col, vec_col=vec_col,
        threshold=threshold, bucket_col="cluster")
    labels = dd.neardup_components(pairs)
    lab = labels.select(F.col("id").alias("_lab_id"), "component")
    with_comp = (corpus.select(F.col(id_col))
                 .join(lab, F.col(id_col) == F.col("_lab_id"), "left")
                 .select(F.col(id_col),
                         F.coalesce("component", F.col(id_col))
                         .alias("component")))
    return (with_comp.groupBy("component")
            .agg(F.min(id_col).alias(id_col))
            .select(id_col, "component"))


# ---------------------------------------------------------------------------
# Product quantization (PQ) — the memory-scale ANN tier
# ---------------------------------------------------------------------------
# IVF bounds the SCAN (probe a few cells); PQ bounds the MEMORY: a
# d-dim float vector becomes m small codes (one per d/m-dim subspace),
# ~32x smaller, and query-to-vector similarity is computed from
# per-subspace lookup tables (ADC — asymmetric distance computation)
# without ever touching the original floats.  At 10^12 vectors the
# codes fit where the floats never could, which is why every
# billion-scale ANN system (FAISS IVFPQ, ScaNN) runs on this shape.
#
# Everything below is built-in-expression Spark (zip_with/aggregate/
# min_by/broadcast joins — JVM codegen, no UDF): codebooks and LUTs are
# tiny (m x k) and broadcast; the only corpus-sized passes are the
# encode (n x m x k distance evals, embarrassingly parallel) and the
# ADC scan (n x m LUT lookups → one groupBy sum).


def pq_subvectors(df: DataFrame, *, m: int, vec_col: str = "embedding",
                  id_col: str = "vec_id") -> DataFrame:
    """Explode each vector into its ``m`` contiguous subvectors:
    (id, subspace, subvec) with subvec cast to array<double>.  The
    dimension must divide evenly by ``m`` (checked at runtime inside
    the expression: a ragged tail would silently mis-rank)."""
    if m <= 0:
        raise ValueError(f"m must be positive, got {m}")
    v = F.col(vec_col).cast("array<double>")
    dsub = (F.size(v) / m).cast("int")
    sub = F.explode(F.sequence(F.lit(0), F.lit(m - 1))).alias("subspace")
    out = (df.select(F.col(id_col), v.alias("_v"), dsub.alias("_dsub"),
                     sub)
           .withColumn(
               "subvec",
               # the check lives INSIDE the consumed expression —
               # a separate assert column would be pruned away
               F.when(F.size("_v") % m == 0,
                      F.slice("_v",
                              F.col("subspace") * F.col("_dsub") + 1,
                              F.col("_dsub")))
               .otherwise(F.raise_error(F.concat(
                   F.lit(f"vector dim not divisible by m={m}: dim="),
                   F.size("_v").cast("string"))))))
    return out.select(id_col, "subspace", "subvec")


def pq_build_codebooks(corpus: DataFrame, *, m: int,
                       vec_col: str = "embedding",
                       id_col: str = "vec_id") -> DataFrame:
    """Distinct-subvector codebooks: (subspace, code, subvec), codes
    numbered deterministically by subvector value order.

    This is the LOSSLESS codebook (every corpus subvector IS a code) —
    exact by construction for low-cardinality subvectors, e.g. after
    scalar quantization of the embedding values.  It is also the
    exactness boundary for the whole PQ pipeline: with lossless
    codebooks, ADC scores equal exact scores, so a brute-force oracle
    value-checks encode + LUT + ADC end to end (the same pattern as
    the IVF full-probe boundary).  :func:`pq_train_codebooks` is the
    trained (k-means-per-subspace, lossy) drop-in for real-valued
    embeddings; the rest of the pipeline is identical."""
    sv = pq_subvectors(corpus, m=m, vec_col=vec_col, id_col=id_col)
    w = Window.partitionBy("subspace").orderBy("subvec")
    return (sv.select("subspace", "subvec").distinct()
            .withColumn("code", F.row_number().over(w).cast("int")))


def pq_train_codebooks(corpus: DataFrame, *, m: int, n_codes: int = 256,
                       vec_col: str = "embedding", id_col: str = "vec_id",
                       sample_rows: int = 4096, iters: int = 8,
                       seed: int = 13) -> DataFrame:
    """Trained (k-means-per-subspace) codebooks: (subspace, code,
    subvec) with dense codes 1..k — the drop-in replacement for
    :func:`pq_build_codebooks` that makes PQ usable on REAL-VALUED
    embeddings, where the distinct-subvector (lossless) codebook would
    be corpus-sized.

    This is classic product quantization (Jegou et al. 2011, public):
    split each vector into ``m`` subvectors and learn an independent
    ``n_codes``-centroid quantizer per subspace by Lloyd's k-means.
    Training is driver-side on the SAME bounded deterministic sample
    discipline as :func:`train_centroids` (the ``sample_rows`` smallest
    rows by ``xxhash64`` of the vector — per-partition top-k + merge, no
    full sort, no partition-0 bias), so training cost is O(sample x m x
    n_codes x iters) and INDEPENDENT of corpus size; only the m x
    n_codes codebook — a few hundred KB — is ever materialized.  Encode
    (`pq_encode`) stays the map-only broadcast pass; at 10^12 vectors
    nothing here grows with n.

    Determinism: the sample, the seeded init (distinct subvectors
    chosen by rng(seed + subspace)), and the fixed iteration count make
    the codebook exactly reproducible; empty clusters keep their
    previous centroid (standard Lloyd fallback).  Codes are numbered by
    centroid value order so equal inputs yield identical relations.

    Reference parity: moonlink itself stops at IVF-style file pruning;
    the PQ tier is the memory-scale extension this engine adds for the
    embedding-pipeline workload (see SURVEY.md §2 LLM-ops)."""
    if m <= 0 or n_codes <= 0:
        raise ValueError(f"m and n_codes must be positive: {m}, {n_codes}")
    sample = (corpus.select(F.col(vec_col).cast("array<double>").alias("v"))
              .orderBy(F.xxhash64(F.col("v")))
              .limit(sample_rows).collect())
    x = np.array([r["v"] for r in sample], dtype=np.float64)
    if x.ndim != 2 or x.shape[1] % m != 0:
        raise ValueError(
            f"vector dim {x.shape} not divisible by m={m}")
    dsub = x.shape[1] // m
    rows: list[tuple[int, int, list[float]]] = []
    for s in range(m):
        sub = x[:, s * dsub:(s + 1) * dsub]
        uniq = np.unique(sub, axis=0)
        k = min(n_codes, len(uniq))
        rng = np.random.default_rng(seed + s)
        cents = uniq[rng.choice(len(uniq), size=k, replace=False)]
        for _ in range(iters):
            # squared-L2 assignment via the expanded form; argmin ties
            # go to the lower centroid index (np.argmin), matching
            # pq_encode's keep-lower-code tie rule
            d2 = ((sub * sub).sum(1)[:, None]
                  - 2.0 * (sub @ cents.T)
                  + (cents * cents).sum(1)[None, :])
            assign = np.argmin(d2, axis=1)
            for j in range(k):
                msk = assign == j
                if msk.any():
                    cents[j] = sub[msk].mean(axis=0)
        # value-order the centroids so code numbering is input-determined
        order = np.lexsort(cents.T[::-1])
        for c, row in enumerate(cents[order], start=1):
            rows.append((s, c, [float(v) for v in row]))
    return corpus.sparkSession.createDataFrame(
        rows, "subspace int, code int, subvec array<double>")


def _codebook_row(codebooks: DataFrame) -> DataFrame:
    """Collapse (subspace, code, subvec) to ONE broadcastable row:
    ``_cbs`` = per-subspace entry arrays, subspace-ordered, each entry
    array code-ordered (codes are dense 1..k by construction, so
    ``element_at(entries, code)`` is the lookup)."""
    per = codebooks.groupBy("subspace").agg(
        F.array_sort(F.collect_list(F.struct("code", "subvec")))
        .alias("entries"))
    return per.groupBy().agg(
        F.array_sort(F.collect_list(F.struct("subspace", "entries")))
        .alias("_cbs"))


def pq_encode(corpus: DataFrame, codebooks: DataFrame, *, m: int,
              vec_col: str = "embedding",
              id_col: str = "vec_id") -> DataFrame:
    """Encode each vector as its per-subspace nearest-code array:
    (id, codes array<int>).

    ZERO corpus shuffle: the whole (m x k) codebook broadcasts as one
    nested-array row; each vector's code array is computed inside a
    single projection — an ``aggregate`` argmin over the subspace's
    entries (squared L2 via ``zip_with``; exact ties keep the lower
    code, matching ``min_by(code, (dist, code))``).  At 10^12 vectors
    this is the only shape that works: encode is a map-only pass, the
    n x m x k distance evaluations never leave the row."""
    cb1 = _codebook_row(codebooks)
    v = F.col(vec_col).cast("array<double>")
    dsub = (F.size(v) / m).cast("int")

    def code_for(s):
        sub = F.slice(v, s * dsub + 1, dsub)
        entries = F.element_at(F.col("_cbs"), s + 1)["entries"]

        def dist(e):
            return F.aggregate(
                F.zip_with(sub, e["subvec"],
                           lambda x, y: (x - y) * (x - y)),
                F.lit(0.0), lambda a, x: a + x)
        best = F.aggregate(
            entries,
            F.struct(F.lit(float("inf")).alias("d"),
                     F.lit(0).alias("c")),
            lambda acc, e: F.when(
                dist(e) < acc["d"],
                F.struct(dist(e).alias("d"), e["code"].alias("c")))
            .otherwise(acc))
        return best["c"]

    codes = F.when(
        (F.size(v) % m == 0) & (F.size("_cbs") == m),
        F.transform(F.sequence(F.lit(0), F.lit(m - 1)), code_for)
    ).otherwise(F.raise_error(F.concat(
        F.lit(f"pq_encode: dim not divisible by m={m} or codebook "
              "subspaces != m: dim="), F.size(v).cast("string"),
        F.lit(" subspaces="), F.size("_cbs").cast("string"))))
    return (corpus.crossJoin(F.broadcast(cb1))
            .select(F.col(id_col), codes.alias("codes")))


def pq_topk(corpus: DataFrame, queries: DataFrame, *, m: int,
            k: int = 10, codebooks: DataFrame | None = None,
            id_col: str = "vec_id",
            vec_col: str = "embedding") -> DataFrame:
    """PQ/ADC cosine top-k: (query_id, rank, neighbor_id).

    Per query the codebook becomes an (m x k) lookup table of
    (subspace dot product, subspace squared norm), collapsed with the
    query norms into ONE broadcast row.  The corpus-sized scan touches
    ONLY the code arrays: one projection reconstructs dot(q, c) and
    |c|^2 by indexing the LUT per subspace (``element_at`` — codes are
    dense 1..k), then a per-query window ranks.  Corpus-side cost: a
    map-only pass emitting n x q scored rows into the top-k exchange —
    no per-subspace shuffle, no join fan-out.  Self-matches are
    excluded, ties break on neighbor id."""
    codebooks = codebooks if codebooks is not None else \
        pq_build_codebooks(corpus, m=m, vec_col=vec_col, id_col=id_col)
    codes = pq_encode(corpus, codebooks, m=m, vec_col=vec_col,
                      id_col=id_col)
    qsv = (pq_subvectors(queries, m=m, vec_col=vec_col, id_col=id_col)
           .withColumnRenamed(id_col, "query_id"))
    # (query, subspace) LUT rows against the broadcast codebook, then
    # collapsed: per query -> subspace-ordered tables, code-ordered
    # entries of (dot, csq); plus the query norm
    lut = (qsv.join(F.broadcast(codebooks.withColumnRenamed(
                "subvec", "_cb")), on="subspace")
           .select("query_id", "subspace", "code",
                   F.aggregate(F.zip_with("subvec", "_cb",
                                          lambda x, y: x * y),
                               F.lit(0.0), lambda a, x: a + x)
                   .alias("_dot"),
                   F.aggregate("_cb", F.lit(0.0),
                               lambda a, x: a + x * x).alias("_csq")))
    per_sub = (lut.groupBy("query_id", "subspace")
               .agg(F.array_sort(F.collect_list(
                   F.struct("code", "_dot", "_csq"))).alias("tbl")))
    qnorm = (pq_subvectors(queries, m=m, vec_col=vec_col, id_col=id_col)
             .groupBy(F.col(id_col).alias("query_id"))
             .agg(F.sqrt(F.sum(F.aggregate(
                 "subvec", F.lit(0.0), lambda a, x: a + x * x)))
                 .alias("_qnorm")))
    luts1 = (per_sub.groupBy("query_id")
             .agg(F.array_sort(F.collect_list(
                 F.struct("subspace", "tbl")))["tbl"].alias("tables"))
             .join(qnorm, on="query_id")
             .groupBy()
             .agg(F.collect_list(F.struct("query_id", "tables",
                                          "_qnorm")).alias("_luts")))

    q = F.col("_q")
    ent = lambda s: F.element_at(
        F.element_at(q["tables"], s + 1),
        F.element_at(F.col("codes"), s + 1))
    dot = F.aggregate(F.sequence(F.lit(0), F.lit(m - 1)), F.lit(0.0),
                      lambda a, s: a + ent(s)["_dot"])
    csq = F.aggregate(F.sequence(F.lit(0), F.lit(m - 1)), F.lit(0.0),
                      lambda a, s: a + ent(s)["_csq"])
    scored = (codes.crossJoin(F.broadcast(luts1))
              .select(F.col(id_col).alias("neighbor_id"), "codes",
                      F.explode("_luts").alias("_q"))
              .filter(F.col("_q")["query_id"] != F.col("neighbor_id"))
              .select(F.col("_q")["query_id"].alias("query_id"),
                      "neighbor_id",
                      (dot / (q["_qnorm"] * F.sqrt(csq))).alias("_cos")))
    w = Window.partitionBy("query_id").orderBy(F.desc("_cos"),
                                               "neighbor_id")
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", F.col("rank").cast("long").alias("rank"),
                    "neighbor_id"))
