"""Z-order (Morton) clustering key.

moonlink has **no** Z-order/Hilbert clustering (verified in SURVEY.md —
its compactor emits files strictly in input file-id order,
``storage/compaction/compactor.rs:333-344``); interleaved clustering on
``(repo, path)`` is mandated on top of compaction semantics by
BASELINE.json's north rule.  Design:

1. each dimension is mapped to a *numeric proxy* that preserves order
   (:func:`zorder_proxy`) — strings take their first-7-bytes big-endian
   integer (lexicographic within the prefix), numbers, dates and
   timestamps their float64 value; a null or NaN is 0;
2. per-dimension quantile boundaries rank-normalize the proxy into
   ``2**bits`` buckets, so skewed distributions still fill the key space
   evenly.  They come from one seeded, bounded sample of Arrow batches
   read on the driver (:func:`compute_zorder_boundaries`); the
   quantiles are numpy;
3. the bucket bits are interleaved into one long ``zkey`` by the
   curve's numpy kernel (:data:`CURVES`: Morton part1by1 spread, or
   Hilbert).  The rewrite keys its rows with the same proxy and kernel
   in whichever process reads them, the driver or a Spark task
   (``operators/rewrite.py``).

The zkey is a *physical layout* device only: rewrites split it into
ranges at the global zkey cutpoints (``ZCUTS_KEY``) and sort within
partitions, which gives every output file a narrow (repo, path)
footprint -> tight per-file min/max bounds in the manifest -> effective
file pruning.  No Catalyst rule is needed; the key never survives into
committed data files.
"""

from __future__ import annotations

from typing import Iterable

import numpy as np
import pandas as pd
import pyarrow as pa

# key under which compute_zorder_boundaries stores the global zkey
# quantile cutpoints (int64 array) alongside the per-column boundaries
ZCUTS_KEY = "__zcuts__"


def _string_proxy_np(s: pd.Series) -> np.ndarray:
    """First-7-bytes big-endian integer of a string column (vectorized)."""
    encoded = s.fillna("").str.encode("utf-8", "ignore")
    raw = encoded.to_numpy(dtype="S8")  # truncate/pad to 8 bytes
    v = np.frombuffer(raw.tobytes(), dtype=">u8").astype(np.uint64)
    return (v >> np.uint64(8)).astype(np.float64)  # top 7 bytes, fits f64<2^56


def zorder_proxy(values: pa.Array | pa.ChunkedArray) -> np.ndarray:
    """The float64 proxy a column's values are ranked by, for the
    boundary sample and the rewrite's zkey alike: a string's first 7
    UTF-8 bytes as a big-endian integer (:func:`_string_proxy_np`, a
    null as ``""``), any other value its number (a date or timestamp its
    integer storage value), with a null or NaN as 0."""
    if isinstance(values, pa.ChunkedArray):
        values = values.combine_chunks()
    t = values.type
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return _string_proxy_np(values.to_pandas())
    if pa.types.is_temporal(t):
        values = values.view(pa.int32() if t.bit_width == 32
                             else pa.int64())
    v = values.cast(pa.float64(), safe=False).to_numpy(zero_copy_only=False)
    return np.where(np.isnan(v), 0.0, v)


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
    batches: pa.Table | Iterable[pa.RecordBatch],
    columns: list[str],
    bits: int = 12,
    sample_cap: int = 262_144,
    seed: int = 42,
    total_rows: int | None = None,
    curve: str = "morton",
) -> dict[str, np.ndarray]:
    """Quantile boundaries per clustering column from a seeded sample of
    ``batches`` (an Arrow table, or record batches holding ``columns``),
    drawn and ranked on the driver: no Spark job.

    The sample keeps each row with probability ``fraction = sample_cap
    * 1.25 / total_rows`` (callers that know the row count from
    manifest metadata pass it; otherwise the input is counted).  At a
    fraction of 1 every row is kept, the multiset Spark's ``sample``
    keeps.  Below it, a ``np.random.default_rng(seed)`` draw keeps rows
    batch by batch until ``sample_cap`` are held, and no further batch
    is read.  Deterministic for a fixed batch sequence, so a resumed
    job re-derives identical boundaries.  (An approxQuantile pass would
    be exact-er but costs a full aggregate with 2^bits quantile targets
    — the sample is statistically equivalent for a *layout* decision:
    bucket skew only costs write balance, never correctness.)

    Each column is ranked by :func:`zorder_proxy`, as the rewrite
    keys it."""
    if isinstance(batches, pa.Table):
        batches = batches.to_batches()
    if total_rows is None:
        batches = list(batches)
        total_rows = sum(b.num_rows for b in batches)
    fraction = min(1.0, (sample_cap * 1.25) / max(1, total_rows))
    rng = np.random.default_rng(seed)
    kept, held = [], 0
    for b in batches:
        b = b.select(columns)
        if fraction < 1.0:
            b = b.filter(pa.array(rng.random(b.num_rows) < fraction))
        kept.append(b.slice(0, sample_cap - held))
        held += kept[-1].num_rows
        if held >= sample_cap:
            break
    if not held:
        return {c: np.array([], dtype=np.float64) for c in columns}
    sample = pa.Table.from_batches(kept)
    n_b = (1 << bits) - 1
    probs = np.linspace(0.0, 1.0, n_b + 2)[1:-1]
    out = {}
    bucketed = []
    for c in columns:
        vals = zorder_proxy(sample[c])
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
