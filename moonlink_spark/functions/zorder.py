"""Z-order (Morton) clustering key.

moonlink has **no** Z-order/Hilbert clustering (verified in SURVEY.md —
its compactor emits files strictly in input file-id order,
``storage/compaction/compactor.rs:333-344``); interleaved clustering on
``(repo, path)`` is mandated on top of compaction semantics by
BASELINE.json's north rule.  Design:

1. each dimension is mapped to a *numeric proxy* that preserves order —
   strings take their first-7-bytes big-endian integer (lexicographic
   within the prefix), numerics cast to float64;
2. per-dimension quantile boundaries rank-normalize the proxy into
   ``2**bits`` buckets, so skewed distributions still fill the key space
   evenly.  They come from one seeded, bounded sample collected to the
   driver (:func:`compute_zorder_boundaries`); the quantiles are numpy;
3. the bucket bits are interleaved (Morton part1by1 spread) into one
   long ``zkey``.  The default Morton key is a plain Spark expression
   (:func:`with_zorder_key`), so the rewrite's scan stage never leaves
   the JVM; only the Hilbert curve runs as a pandas UDF.

The zkey is a *physical layout* device only: rewrites split it into
ranges at the global zkey cutpoints (``ZCUTS_KEY``) and sort within
partitions, which gives every output file a narrow (repo, path)
footprint -> tight per-file min/max bounds in the manifest -> effective
file pruning.  No Catalyst rule is needed; the key never survives into
committed data files.
"""

from __future__ import annotations

import threading

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

# key under which compute_zorder_boundaries stores the global zkey
# quantile cutpoints (int64 array) alongside the per-column boundaries
ZCUTS_KEY = "__zcuts__"


class ZOrderBoundaries(dict):
    """One job's boundaries: ``{column: float64 array, ZCUTS_KEY: int64
    array}``, as returned by :func:`compute_zorder_boundaries`.

    Every bin of a job keys its rows from the same boundaries, so the
    zkey's Column expressions are built once per job and kept here:
    :func:`with_zorder_key` looks them up instead of re-spelling two
    4095-element literal arrays per dimension (and the interleave) on
    the driver for every bin.  The lock makes the concurrently-submitted
    bins wait for the first build instead of each doing their own."""

    def __init__(self, *args, **kwargs):
        super().__init__(*args, **kwargs)
        self._lock = threading.Lock()
        self._key_stages: dict[tuple, list] = {}

    def key_stages(self, key: tuple, build):
        """The stages memoized under ``key``; ``build()`` makes them on
        the first call."""
        with self._lock:
            if key not in self._key_stages:
                self._key_stages[key] = build()
            return self._key_stages[key]


def _string_proxy_np(s: pd.Series) -> np.ndarray:
    """First-7-bytes big-endian integer of a string column (vectorized)."""
    encoded = s.fillna("").str.encode("utf-8", "ignore")
    raw = encoded.to_numpy(dtype="S8")  # truncate/pad to 8 bytes
    v = np.frombuffer(raw.tobytes(), dtype=">u8").astype(np.uint64)
    return (v >> np.uint64(8)).astype(np.float64)  # top 7 bytes, fits f64<2^56


def _quantiles(values: np.ndarray, probs: np.ndarray) -> np.ndarray:
    """``np.quantile(values, probs)`` (its default ``linear`` method)
    from one full sort.

    ``np.quantile`` partitions the array around every requested index;
    with 4095 of them that costs 100+ ms per call on a 10^4-value
    sample, against well under a millisecond for one sort.  The index,
    weight and interpolation arithmetic below is numpy's own, step for
    step, so the result is bit-equal to ``np.quantile`` for float and
    integer input (a test pins this).  The one exception is the sign of
    a zero: ``-0.0`` and ``0.0`` compare equal, so which one a sort or a
    partition places first may differ — ranks are unaffected."""
    a = np.sort(values)
    virtual = (a.size - 1) * probs
    lo = np.floor(virtual)
    hi = lo + 1
    top = virtual >= a.size - 1  # at or past the last value: take it
    lo[top] = -1
    hi[top] = -1
    t = virtual - lo
    below, above = a[lo.astype(np.intp)], a[hi.astype(np.intp)]
    diff = np.subtract(above, below)
    out = np.add(below, diff * t)
    np.subtract(above, diff * (1 - t), out=out, where=t >= 0.5,
                 casting="unsafe", dtype=out.dtype)
    if a.dtype.kind == "f" and np.isnan(a[-1]):
        out[:] = np.nan  # NaN sorts last; np.quantile then returns it
    return out


def compute_zorder_boundaries(
    df: DataFrame,
    columns: list[str],
    bits: int = 12,
    sample_cap: int = 262_144,
    seed: int = 42,
    total_rows: int | None = None,
    curve: str = "morton",
) -> dict[str, np.ndarray]:
    """Quantile boundaries per clustering column from a seeded sample.

    One column-pruned count + one seeded-sample collect (≤ ``sample_cap``
    rows regardless of table size); the quantiles themselves are numpy
    on the driver.  Deterministic for a fixed input file set, so a
    resumed job re-derives identical boundaries.  (An approxQuantile
    pass would be exact-er but costs a full aggregate with 2^bits
    quantile targets — the sample is statistically equivalent for a
    *layout* decision: bucket skew only costs write balance, never
    correctness.)"""
    sel = df.select(*columns)
    # callers that know the row count (e.g. from manifest metadata) pass
    # it to skip the count job — at 10^12-file scale the count is a full
    # footer sweep, while the manifest sum is free
    n = total_rows if total_rows is not None else sel.count()
    if n == 0:
        return ZOrderBoundaries(
            {c: np.array([], dtype=np.float64) for c in columns})
    fraction = min(1.0, (sample_cap * 1.25) / n)
    sample = (sel.sample(fraction=fraction, seed=seed).limit(sample_cap)
              .toPandas())
    dtypes = dict(df.dtypes)
    n_b = (1 << bits) - 1
    probs = np.linspace(0.0, 1.0, n_b + 2)[1:-1]
    out = ZOrderBoundaries()
    bucketed = []
    for c in columns:
        vals = (_string_proxy_np(sample[c].astype(str))
                if dtypes[c] == "string"
                else sample[c].fillna(0).to_numpy(dtype=np.float64))
        out[c] = _quantiles(vals, probs).astype(np.float64)
        bucketed.append(np.searchsorted(out[c], vals, side="right"))
    # global zkey distribution cutpoints (ZCUTS_KEY): rewrite bins carve
    # these into per-output-file ranges so output splits are explicit
    # and deterministic (no runtime range sampling)
    zk = CURVES[curve](bucketed, bits)
    out[ZCUTS_KEY] = _quantiles(
        zk, np.linspace(0.0, 1.0, 4097)[1:-1]).astype(np.int64)
    return out


def _part1by1_16(x: np.ndarray) -> np.ndarray:
    """Spread the low 16 bits of x so there is a 0 bit between each
    (Morton encode helper), vectorized uint64."""
    x = x.astype(np.uint64) & np.uint64(0xFFFF)
    x = (x | (x << np.uint64(8))) & np.uint64(0x00FF00FF)
    x = (x | (x << np.uint64(4))) & np.uint64(0x0F0F0F0F)
    x = (x | (x << np.uint64(2))) & np.uint64(0x33333333)
    x = (x | (x << np.uint64(1))) & np.uint64(0x55555555)
    return x


def morton_interleave(buckets: list[np.ndarray], bits: int) -> np.ndarray:
    """Interleave bucket indices of each dimension into one key.
    Supports 1..4 dims, <=16 bits each (our default: 2 dims x 12)."""
    ndim = len(buckets)
    if ndim == 1:
        return buckets[0].astype(np.int64)
    assert bits <= 16 and ndim <= 4
    out = np.zeros(len(buckets[0]), dtype=np.uint64)
    if ndim == 2:
        out = _part1by1_16(buckets[0]) << np.uint64(1)
        out |= _part1by1_16(buckets[1])
    else:
        for d, b in enumerate(buckets):
            b = b.astype(np.uint64)
            for i in range(bits):
                bit = (b >> np.uint64(i)) & np.uint64(1)
                out |= bit << np.uint64(i * ndim + (ndim - 1 - d))
    return out.astype(np.int64)


def hilbert_interleave(buckets: list[np.ndarray], bits: int) -> np.ndarray:
    """2-D Hilbert curve distance of bucket coordinates (vectorized
    xy→d).  Hilbert preserves locality strictly better than Morton (no
    quadrant jumps): consecutive keys are always adjacent cells, so
    range-partitioned files get the tightest possible 2-D footprints.
    Falls back to Morton for ndim != 2."""
    if len(buckets) != 2:
        return morton_interleave(buckets, bits)
    x = buckets[0].astype(np.int64).copy()
    y = buckets[1].astype(np.int64).copy()
    d = np.zeros_like(x)
    s = np.int64(1) << (bits - 1)
    while s > 0:
        rx = ((x & s) > 0).astype(np.int64)
        ry = ((y & s) > 0).astype(np.int64)
        d += s * s * ((3 * rx) ^ ry)
        # rotate quadrant: where ry==0 → (maybe flip) then swap x/y
        flip = (ry == 0) & (rx == 1)
        x = np.where(flip, s - 1 - x, x)
        y = np.where(flip, s - 1 - y, y)
        swap = ry == 0
        x, y = np.where(swap, y, x), np.where(swap, x, y)
        s >>= 1
    return d


CURVES = {"morton": morton_interleave, "hilbert": hilbert_interleave}


def _jvm_string_proxy(col):
    """JVM twin of :func:`_string_proxy_np`: first-7-bytes big-endian
    integer of the UTF-8 encoding, zero-padded, surfaced as double
    (both sides round the same 56-bit integer to the nearest f64, so
    ranks agree bit-for-bit with the numpy boundary computation)."""
    b = F.encode(F.coalesce(col, F.lit("")), "UTF-8")
    h = F.rpad(F.hex(F.substring(b, 1, 7)), 14, "0")
    return F.conv(h, 16, 10).cast("double")


def _double_array_lit(vals: list[float]):
    """A literal ``array<double>`` whose plan footprint is THREE nodes.

    ``F.lit(list)`` / ``F.array(*lits)`` round-trips every element
    through py4j (measured 29 s for a 4095-element boundary array) and
    ``F.expr("array(...)")`` still parses to a ``CreateArray`` with
    4095 children that every analyzer/optimizer pass re-traverses —
    at 24 rank-subtree occurrences in the Morton interleave this was
    the dominant driver-side serial term in the maintenance scaling
    profile.  ``cast(split(<one string literal>))`` is a 3-node
    subtree that the optimizer constant-folds exactly once into a
    single array Literal before codegen."""
    def _fmt(v: float) -> str:
        # repr() spells non-finite floats 'inf'/'nan', which Spark's
        # string->double cast does NOT parse (silent NULL -> boundary
        # dropped -> every rank shifts).  Spark accepts the Java
        # spellings.
        if v != v:
            return "NaN"
        if v == float("inf"):
            return "Infinity"
        if v == float("-inf"):
            return "-Infinity"
        return repr(v)

    body = ",".join(_fmt(float(v)) for v in vals)
    return F.expr(f"CAST(split('{body}', ',') AS array<double>)")


# boundaries per fine block of the two-level rank search
_RANK_BLOCK = 64


def _jvm_block(proxy, bnds: np.ndarray):
    """Coarse step of :func:`_jvm_rank`: how many of every-64th boundary
    are <= proxy, i.e. the 64-boundary block the proxy falls in."""
    coarse = _double_array_lit(bnds[_RANK_BLOCK - 1::_RANK_BLOCK])
    return F.size(F.filter(coarse, lambda b: b <= proxy))


def _jvm_rank(proxy, bnds: np.ndarray, block=None):
    """#{boundary <= proxy} (``np.searchsorted`` side='right') as a
    Spark expression: a two-level search over *literal* boundary arrays
    — a coarse filter over every-64th boundary picks the block
    (:func:`_jvm_block`, or the precomputed ``block`` column), a fine
    filter over that 64-element slice finishes.  ~128 comparisons per
    row instead of 4095.

    ``proxy`` is evaluated inside the filter lambdas once per array
    element, and the block index twice, so callers keying many rows
    pass both as column references (see :func:`with_zorder_key`)."""
    vals = [float(x) for x in bnds]
    if not vals:
        return F.lit(0).cast("long")
    if len(vals) <= _RANK_BLOCK:
        # small boundary sets (bits <= 6): one flat filter — the coarse
        # slice would be EMPTY and an empty array literal cannot be
        # spelled through split('') under ANSI casts
        return F.size(F.filter(_double_array_lit(vals),
                               lambda b: b <= proxy)).cast("long")
    if block is None:
        block = _jvm_block(proxy, bnds)
    fine = F.slice(_double_array_lit(vals), block * _RANK_BLOCK + 1,
                   _RANK_BLOCK)
    return (block * _RANK_BLOCK
            + F.size(F.filter(fine, lambda b: b <= proxy))).cast("long")


def _jvm_part1by1(x, bits: int):
    """JVM twin of :func:`_part1by1_16` (the same spread steps) on the
    low ``bits`` bits of a long Column."""
    x = x.bitwiseAND(F.lit((1 << bits) - 1))
    for shift, mask in ((8, 0x00FF00FF), (4, 0x0F0F0F0F),
                        (2, 0x33333333), (1, 0x55555555)):
        x = x.bitwiseOR(F.shiftleft(x, shift)).bitwiseAND(F.lit(mask))
    return x


def _jvm_morton(ranks: list, bits: int):
    """JVM twin of :func:`morton_interleave` (same bit layout: dim 0
    takes the higher interleaved bit)."""
    ndim = len(ranks)
    ranks = [r.cast("long") for r in ranks]
    if ndim == 1:
        return ranks[0]
    if ndim == 2 and bits <= 16:
        return F.shiftleft(_jvm_part1by1(ranks[0], bits), 1).bitwiseOR(
            _jvm_part1by1(ranks[1], bits))
    out = F.lit(0).cast("long")
    for d, r in enumerate(ranks):
        for i in range(bits):
            bit = F.shiftright(r, i).bitwiseAND(F.lit(1))
            out = out + F.shiftleft(bit, i * ndim + (ndim - 1 - d))
    return out


def _morton_stages(col_kinds: list[tuple[str, bool]],
                   bnds: dict[str, np.ndarray], bits: int,
                   out_col: str) -> list[dict]:
    """The Morton zkey as successive projections: proxies, coarse block
    indices, ranks, then the interleave.  Each intermediate is its own
    column, so the string proxy (four string conversions) and the block
    search run once per row instead of once per boundary compared
    inside the rank's filter lambdas, and each rank once instead of
    once per interleaved bit: Catalyst does not inline a non-trivial
    projection back into a consumer that uses it more than once."""
    proxies, blocks, ranks = {}, {}, {}
    for i, (c, is_str) in enumerate(col_kinds):
        proxy, block = f"__zproxy{i}", None
        proxies[proxy] = (
            _jvm_string_proxy(F.col(c)) if is_str
            else F.coalesce(F.col(c).cast("double"), F.lit(0.0)))
        if len(bnds[c]) > _RANK_BLOCK:
            block = f"__zblock{i}"
            blocks[block] = _jvm_block(F.col(proxy), bnds[c])
            block = F.col(block)
        ranks[f"__zrank{i}"] = _jvm_rank(F.col(proxy), bnds[c], block)
    zkey = _jvm_morton([F.col(r) for r in ranks], bits)
    return [proxies, blocks, ranks, {out_col: zkey}]


def with_zorder_key(
    df: DataFrame,
    columns: list[str],
    boundaries: dict[str, np.ndarray],
    bits: int = 12,
    out_col: str = "_zkey",
    curve: str = "morton",
) -> DataFrame:
    """Append the space-filling-curve key column (Morton or Hilbert).

    Morton (the default) is computed entirely JVM-side — per dimension
    one proxy, one coarse and one fine literal-array filter (~128
    comparisons per row at 12 bits), then a shift/or interleave —
    keeping the rewrite scan stage free of any Arrow round-trip through
    Python.  Given a :class:`ZOrderBoundaries` the Column expressions
    are built once and reused by every later call.  Hilbert (stateful
    per-bit rotations) stays a vectorized pandas UDF."""
    dtypes = dict(df.dtypes)
    col_kinds = [(c, dtypes[c] == "string") for c in columns]
    bnds = {c: np.asarray(boundaries[c], dtype=np.float64) for c in columns}

    if curve == "morton":
        def build():
            return _morton_stages(col_kinds, bnds, bits, out_col)
        stages = (boundaries.key_stages((tuple(col_kinds), bits, out_col),
                                        build)
                  if isinstance(boundaries, ZOrderBoundaries) else build())
        for stage in stages:
            if stage:
                df = df.withColumns(stage)
        return df.drop(*[n for st in stages[:-1] for n in st])

    interleave = CURVES[curve]

    @pandas_udf(T.LongType())
    def _zkey(*cols: pd.Series) -> pd.Series:
        bucketed = []
        for (name, is_str), s in zip(col_kinds, cols):
            proxy = (_string_proxy_np(s) if is_str
                     else s.fillna(0).to_numpy(dtype=np.float64))
            bucketed.append(
                np.searchsorted(bnds[name], proxy, side="right"))
        return pd.Series(interleave(bucketed, bits))

    return df.withColumn(out_col, _zkey(*[F.col(c) for c in columns]))
