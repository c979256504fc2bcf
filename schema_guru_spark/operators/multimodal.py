"""Multimodal column plumbing: image/audio/video as opaque binary columns
with typed metadata.

The Spark-side contract — schema, partitioning, Arrow batch shapes, UDF
signatures — is real and tested. The decode step supports three paths:

  * REAL PNG decode via the pure-Python codec in ``operators/png.py``
    (zlib inflate + all five predictor filters) — any payload starting
    with the PNG signature is actually decoded to pixels.
  * REAL baseline-JPEG decode via ``operators/jpeg.py`` (marker parse,
    canonical Huffman entropy decode, dequantize, IDCT) — any payload
    starting with the SOI marker is actually decoded; progressive /
    subsampled / restart-interval streams raise NotImplementedError
    (declared scope, not a fake).
  * REAL Motion-JPEG video decode via ``operators/avi.py`` +
    ``operators/jpeg.py`` — 'MJPG' AVI streams are entropy-decoded
    frame by frame (each frame an independent baseline JPEG).
  * a deterministic fake decoder (byte-stats pseudo-pixels) behind
    ``fake=True`` for shape tests and for container formats with no
    in-container codec (inter-frame codecs like H.264 stay declared
    stubs).

Schema convention:
    media struct<data: binary, meta: struct<kind: string, format: string,
                                            width: int, height: int,
                                            duration_ms: int>>
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

from schema_guru_spark.operators.png import (
    PNG_SIGNATURE, decode_png, encode_png,
)
from schema_guru_spark.operators.avi import (
    decode_avi_rgb, encode_avi_mjpeg, encode_avi_rgb,
)
from schema_guru_spark.operators.jpeg import (
    FLAT_QUANT, JPEG_SOI, decode_jpeg, encode_jpeg,
    encode_jpeg_progressive,
)
from schema_guru_spark.operators.wav import decode_wav, encode_wav
from schema_guru_spark.worker import worker_fn

MEDIA_META = T.StructType([
    T.StructField("kind", T.StringType()),
    T.StructField("format", T.StringType()),
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
    T.StructField("duration_ms", T.IntegerType()),
])
MEDIA_SCHEMA = T.StructType([
    T.StructField("data", T.BinaryType()),
    T.StructField("meta", MEDIA_META),
])


def attach_fake_media(df: DataFrame, id_col: str) -> DataFrame:
    """Deterministic binary media column derived from the id — payload is
    sha256-keyed bytes; metadata typed. Used to test the plumbing."""
    payload = F.sha2(F.col(id_col).cast("string"), 256).cast("binary")
    meta = F.struct(
        F.lit("image").alias("kind"),
        F.when(F.col(id_col) % 2 == 0, "png").otherwise("jpeg").alias("format"),
        (F.col(id_col) % 64 + 16).cast("int").alias("width"),
        (F.col(id_col) % 48 + 16).cast("int").alias("height"),
        F.lit(None).cast("int").alias("duration_ms"),
    )
    return df.withColumn("media", F.struct(payload.alias("data"),
                                           meta.alias("meta")))


def _png_pixels(rid: int, width: int, height: int) -> np.ndarray:
    """Deterministic test-pattern pixels for id ``rid`` — an affine
    formula both the Spark side (via encode/decode) and the DuckDB
    oracle (analytically, without any codec) can compute:
        px(x, y, c) = (7x + 13y + 29c + 31*id) mod 256
    """
    x = np.arange(width)[None, :, None]
    y = np.arange(height)[:, None, None]
    c = np.arange(3)[None, None, :]
    return ((7 * x + 13 * y + 29 * c + 31 * int(rid)) % 256).astype(np.uint8)


def png_dims(rid):
    """Deterministic per-id fixture dimensions — the single source the
    encoder uses; the DuckDB oracle mirrors the same formula in SQL."""
    return (rid % 16 + 8, rid % 12 + 8)


def attach_png_media(df: DataFrame, id_col: str) -> DataFrame:
    """REAL PNG media column: each row carries an actual encoded PNG of
    the deterministic test pattern, with per-row filter types cycling
    through all five predictors ((id + y) % 5) so the decoder's every
    branch is exercised. Arrow-batched; encoding is per-row numpy."""

    @worker_fn
    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            medias = []
            for rid in pdf[id_col]:
                rid = int(rid)
                w, h = png_dims(rid)
                arr = _png_pixels(rid, w, h)
                data = encode_png(arr, [(rid + y) % 5 for y in range(h)])
                medias.append({"data": data,
                               "meta": {"kind": "image", "format": "png",
                                        "width": w, "height": h,
                                        "duration_ms": None}})
            yield pd.DataFrame({id_col: pdf[id_col], "media": medias})

    out_schema = T.StructType([
        T.StructField(id_col, df.schema[id_col].dataType),
        T.StructField("media", MEDIA_SCHEMA),
    ])
    return df.select(id_col).mapInPandas(fn, out_schema)


def jpeg_dims(rid):
    """Per-id JPEG fixture dimensions in BLOCKS (w_blocks, h_blocks) —
    8x8-aligned so the flat-block fixtures round-trip bit-exactly."""
    return (rid % 3 + 2, rid % 2 + 2)


def _jpeg_pixels(rid: int) -> np.ndarray:
    """Deterministic flat-8x8-block test pattern for id ``rid``:
        block(bx, by, c) = (7*bx + 13*by + 29*c + 31*rid) mod 256
    Flat blocks + the all-ones quant table make baseline JPEG LOSSLESS
    on this pattern (see operators/jpeg.py docstring), so the DuckDB
    oracle can recompute channel means analytically over block indices
    and a hash match proves the entropy decode round-trips the encoder.
    """
    wb, hb = jpeg_dims(int(rid))
    bx = np.arange(wb)[None, :, None]
    by = np.arange(hb)[:, None, None]
    c = np.arange(3)[None, None, :]
    blocks = ((7 * bx + 13 * by + 29 * c + 31 * int(rid)) % 256) \
        .astype(np.uint8)
    return np.repeat(np.repeat(blocks, 8, axis=0), 8, axis=1)


def attach_jpeg_media(df: DataFrame, id_col: str) -> DataFrame:
    """REAL JPEG media column: each row carries an actual baseline-JPEG
    encoding (Huffman entropy coding, DCT, quantization) of the
    deterministic flat-block pattern. Arrow-batched."""

    @worker_fn
    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            medias = []
            for rid in pdf[id_col]:
                rid = int(rid)
                wb, hb = jpeg_dims(rid)
                data = encode_jpeg(_jpeg_pixels(rid), FLAT_QUANT)
                medias.append({"data": data,
                               "meta": {"kind": "image", "format": "jpeg",
                                        "width": wb * 8, "height": hb * 8,
                                        "duration_ms": None}})
            yield pd.DataFrame({id_col: pdf[id_col], "media": medias})

    out_schema = T.StructType([
        T.StructField(id_col, df.schema[id_col].dataType),
        T.StructField("media", MEDIA_SCHEMA),
    ])
    return df.select(id_col).mapInPandas(fn, out_schema)


def attach_progressive_jpeg_media(df: DataFrame, id_col: str) -> DataFrame:
    """REAL progressive-JPEG media column: the same flat-block pattern
    as ``attach_jpeg_media`` serialized as a six-scan SOF2 stream
    (spectral selection + successive approximation). Flat blocks stay
    bit-exact, so the same analytic oracle pins the whole progressive
    path: multi-scan marker walk, EOB-run decode, DC/AC refinement."""

    @worker_fn
    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            medias = []
            for rid in pdf[id_col]:
                rid = int(rid)
                wb, hb = jpeg_dims(rid)
                data = encode_jpeg_progressive(_jpeg_pixels(rid), FLAT_QUANT)
                medias.append({"data": data,
                               "meta": {"kind": "image",
                                        "format": "jpeg-progressive",
                                        "width": wb * 8, "height": hb * 8,
                                        "duration_ms": None}})
            yield pd.DataFrame({id_col: pdf[id_col], "media": medias})

    out_schema = T.StructType([
        T.StructField(id_col, df.schema[id_col].dataType),
        T.StructField("media", MEDIA_SCHEMA),
    ])
    return df.select(id_col).mapInPandas(fn, out_schema)


def _wav_samples(rid: int) -> np.ndarray:
    """Deterministic audio test pattern for id ``rid`` — like
    ``_png_pixels``, an integer formula both the encode/decode path and
    the DuckDB oracle can evaluate:
        s(t) = ((t*t + 7t + 31*rid) mod 2001) - 1000,  mono int16,
        n = (rid mod 5 + 1) * 400 samples at 8 kHz.
    """
    rid = int(rid)
    n = (rid % 5 + 1) * 400
    t = np.arange(n, dtype=np.int64)
    return (((t * t + 7 * t + 31 * rid) % 2001) - 1000).astype(np.int16)


def attach_wav_media(df: DataFrame, id_col: str) -> DataFrame:
    """REAL WAV media column: each row carries an actual PCM-encoded WAV
    of the deterministic test pattern. Arrow-batched."""

    @worker_fn
    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            medias = []
            for rid in pdf[id_col]:
                s = _wav_samples(rid)
                medias.append({
                    "data": encode_wav(s, 8000),
                    "meta": {"kind": "audio", "format": "wav",
                             "width": None, "height": None,
                             "duration_ms": len(s) * 1000 // 8000}})
            yield pd.DataFrame({id_col: pdf[id_col], "media": medias})

    out_schema = T.StructType([
        T.StructField(id_col, df.schema[id_col].dataType),
        T.StructField("media", MEDIA_SCHEMA),
    ])
    return df.select(id_col).mapInPandas(fn, out_schema)


def decode_audio_features(df: DataFrame, media_col: str = "media",
                          id_col: str = "id") -> DataFrame:
    """REAL audio decode -> per-clip features over ``mapInPandas``:
    (id, n_samples, n_channels, sample_rate, duration_ms, mean_abs,
    rms). WAV payloads are decoded by the pure-Python PCM codec; other
    audio formats raise NotImplementedError (declared stub — codecs not
    in this container)."""

    out_schema = ("id bigint, n_samples int, n_channels int, "
                  "sample_rate int, duration_ms int, "
                  "mean_abs double, rms double")

    @worker_fn
    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for rid, media in zip(pdf[id_col], pdf[media_col]):
                data = bytes(media["data"])
                if data[:4] != b"RIFF":
                    raise NotImplementedError(
                        "only PCM WAV decode is available in this "
                        "container")
                samples, rate = decode_wav(data)
                x = samples.astype(np.float64)
                rows.append((int(rid), samples.shape[0], samples.shape[1],
                             rate, samples.shape[0] * 1000 // rate,
                             float(np.abs(x).mean()),
                             float(np.sqrt((x * x).mean()))))
            yield pd.DataFrame(rows, columns=[
                "id", "n_samples", "n_channels", "sample_rate",
                "duration_ms", "mean_abs", "rms"])

    return df.select(id_col, media_col).mapInPandas(fn, out_schema)


def _avi_frames(rid: int) -> np.ndarray:
    """Deterministic video test pattern for id ``rid``:
        px(x, y, c, t) = (7x + 13y + 29c + 17t + 31*rid) mod 256,
        w = rid%8+4, h = rid%6+4, n_frames = rid%4+2, 10 fps.
    Same analytic-oracle trick as ``_png_pixels``/``_wav_samples``."""
    rid = int(rid)
    w, h, n = rid % 8 + 4, rid % 6 + 4, rid % 4 + 2
    x = np.arange(w)[None, None, :, None]
    y = np.arange(h)[None, :, None, None]
    c = np.arange(3)[None, None, None, :]
    t = np.arange(n)[:, None, None, None]
    return ((7 * x + 13 * y + 29 * c + 17 * t + 31 * rid) % 256) \
        .astype(np.uint8)


def attach_avi_media(df: DataFrame, id_col: str) -> DataFrame:
    """REAL video media column: each row carries an actual uncompressed
    24-bit RGB AVI of the deterministic test pattern. Arrow-batched."""

    @worker_fn
    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            medias = []
            for rid in pdf[id_col]:
                fr = _avi_frames(rid)
                medias.append({
                    "data": encode_avi_rgb(fr, fps=10),
                    "meta": {"kind": "video", "format": "avi",
                             "width": fr.shape[2], "height": fr.shape[1],
                             "duration_ms": fr.shape[0] * 100}})
            yield pd.DataFrame({id_col: pdf[id_col], "media": medias})

    out_schema = T.StructType([
        T.StructField(id_col, df.schema[id_col].dataType),
        T.StructField("media", MEDIA_SCHEMA),
    ])
    return df.select(id_col).mapInPandas(fn, out_schema)


def mjpeg_dims(rid: int):
    """Per-id MJPEG fixture dims in BLOCKS plus frame count
    (w_blocks, h_blocks, n_frames) — 8x8-aligned so the flat-block
    frames round-trip bit-exactly through the baseline-JPEG codec."""
    return (rid % 3 + 1, rid % 2 + 1, rid % 4 + 2)


def _mjpeg_frames(rid: int) -> np.ndarray:
    """Deterministic flat-8x8-block VIDEO test pattern for id ``rid``:
        block(bx, by, c, t) = (7*bx + 13*by + 29*c + 17*t + 31*rid) mod 256
    Flat blocks + the all-ones quant table make each baseline-JPEG frame
    LOSSLESS on this pattern (same trick as ``_jpeg_pixels``), so the
    DuckDB oracle recomputes per-frame channel means analytically over
    block indices and a hash match proves the full MJPEG path — RIFF
    walk, per-frame Huffman entropy decode, dequantize, IDCT —
    round-trips the encoder with zero loss."""
    rid = int(rid)
    wb, hb, n = mjpeg_dims(rid)
    bx = np.arange(wb)[None, None, :, None]
    by = np.arange(hb)[None, :, None, None]
    c = np.arange(3)[None, None, None, :]
    t = np.arange(n)[:, None, None, None]
    blocks = ((7 * bx + 13 * by + 29 * c + 17 * t + 31 * rid) % 256) \
        .astype(np.uint8)
    return np.repeat(np.repeat(blocks, 8, axis=1), 8, axis=2)


def attach_mjpeg_media(df: DataFrame, id_col: str) -> DataFrame:
    """REAL compressed-video media column: each row carries an actual
    Motion-JPEG AVI (every frame an independent baseline JPEG) of the
    deterministic flat-block pattern. Arrow-batched."""

    @worker_fn
    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            medias = []
            for rid in pdf[id_col]:
                fr = _mjpeg_frames(rid)
                medias.append({
                    "data": encode_avi_mjpeg(fr, fps=10),
                    "meta": {"kind": "video", "format": "mjpeg",
                             "width": fr.shape[2], "height": fr.shape[1],
                             "duration_ms": fr.shape[0] * 100}})
            yield pd.DataFrame({id_col: pdf[id_col], "media": medias})

    out_schema = T.StructType([
        T.StructField(id_col, df.schema[id_col].dataType),
        T.StructField("media", MEDIA_SCHEMA),
    ])
    return df.select(id_col).mapInPandas(fn, out_schema)


def decode_video_features(df: DataFrame, media_col: str = "media",
                          id_col: str = "id",
                          every_n: int = 2) -> DataFrame:
    """REAL frame sampling + decode: every ``every_n``-th frame of each
    AVI payload is decoded and featurized — one output row per sampled
    frame (id, frame_idx, n_frames, width, height, mean_r/g/b). This is
    ``frame_sample_plan`` made physical: the plan enumerates timestamps,
    this decodes the frames those timestamps select. Handles both
    in-container codecs (uncompressed BI_RGB and Motion JPEG — the
    dispatch lives in ``decode_avi_rgb``); non-AVI payloads raise
    NotImplementedError (inter-frame codecs are out of container scope
    — declared, not faked)."""
    if every_n < 1:
        raise ValueError(f"every_n must be >= 1, got {every_n}")

    out_schema = ("id bigint, frame_idx int, n_frames int, width int, "
                  "height int, mean_r double, mean_g double, "
                  "mean_b double")

    @worker_fn
    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for rid, media in zip(pdf[id_col], pdf[media_col]):
                data = bytes(media["data"])
                if data[:4] != b"RIFF" or data[8:12] != b"AVI ":
                    raise NotImplementedError(
                        "only uncompressed AVI decode is available in "
                        "this container")
                frames, _fps = decode_avi_rgb(data)
                n, h, w, _ = frames.shape
                for t in range(0, n, every_n):
                    f = frames[t].astype(np.float64)
                    rows.append((int(rid), t, n, w, h,
                                 float(f[:, :, 0].mean()),
                                 float(f[:, :, 1].mean()),
                                 float(f[:, :, 2].mean())))
            yield pd.DataFrame(rows, columns=[
                "id", "frame_idx", "n_frames", "width", "height",
                "mean_r", "mean_g", "mean_b"])

    return df.select(id_col, media_col).mapInPandas(fn, out_schema)


def _fake_decode(data: bytes, width: int, height: int) -> np.ndarray:
    """Deterministic pseudo-decode: tile the payload digest into an
    (h, w, 3) uint8 array — stands in for a real codec with identical
    downstream shapes."""
    seed = hashlib.sha256(data or b"").digest()
    raw = np.frombuffer(
        (seed * (width * height * 3 // len(seed) + 1))[: width * height * 3],
        dtype=np.uint8)
    return raw.reshape(height, width, 3)


def decode_and_featurize(df: DataFrame, media_col: str = "media",
                         id_col: str = "id", fake: bool = False,
                         resize_to: int = 8) -> DataFrame:
    """Decode -> resize -> feature-extract over ``mapInPandas``.

    Output: (id, width, height, mean_r/g/b double, thumb array<int> of
    resize_to*resize_to grayscale). Arrow-batched; per-image numpy work.

    PNG and baseline-JPEG payloads (signature-sniffed) are REALLY
    decoded by the pure-Python codecs; other formats raise
    NotImplementedError unless ``fake=True`` selects the deterministic
    test decoder. Width/height come from the decoded header (IHDR /
    SOF0), not the metadata struct."""

    def _decode(data, w, h):
        data = bytes(data) if data is not None else b""
        if data[:8] == PNG_SIGNATURE:
            img = decode_png(data)
        elif data[:2] == JPEG_SOI:
            img = decode_jpeg(data)
        else:
            if not fake:
                raise NotImplementedError(
                    "only PNG and baseline-JPEG decode are available in "
                    "this container; pass fake=True for the "
                    "deterministic test decoder")
            return _fake_decode(data, w, h)
        ch = img.shape[2]
        if ch <= 2:                     # gray / gray+alpha -> RGB
            img = np.repeat(img[:, :, :1], 3, axis=2)
        return img[:, :, :3]            # drop alpha if present

    out_schema = (f"id bigint, width int, height int, "
                  f"mean_r double, mean_g double, mean_b double, "
                  f"thumb array<int>")

    @worker_fn
    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for rid, media in zip(pdf[id_col], pdf[media_col]):
                data, meta = media["data"], media["meta"]
                w, h = int(meta["width"]), int(meta["height"])
                img = _decode(data, w, h)
                h, w = img.shape[:2]   # decoded dims win (PNG: from IHDR)
                # resize: block-mean to resize_to x resize_to. For an
                # image SMALLER than the grid, linspace repeats edges
                # and the empty slice's mean is NaN (int(NaN) raises) —
                # clamp every cell to at least one source pixel, which
                # replicates pixels exactly like nearest-neighbor
                # upscaling would.
                ys = np.linspace(0, h, resize_to + 1).astype(int)
                xs = np.linspace(0, w, resize_to + 1).astype(int)
                ylo = np.minimum(ys[:-1], h - 1)
                xlo = np.minimum(xs[:-1], w - 1)
                yhi = np.maximum(ys[1:], ylo + 1)
                xhi = np.maximum(xs[1:], xlo + 1)
                gray = img.mean(axis=2)
                thumb = [
                    int(gray[ylo[i]:yhi[i], xlo[j]:xhi[j]].mean())
                    for i in range(resize_to) for j in range(resize_to)
                ]
                rows.append((int(rid), w, h,
                             float(img[:, :, 0].mean()),
                             float(img[:, :, 1].mean()),
                             float(img[:, :, 2].mean()),
                             thumb))
            yield pd.DataFrame(rows, columns=["id", "width", "height",
                                              "mean_r", "mean_g", "mean_b",
                                              "thumb"])

    return df.select(id_col, media_col).mapInPandas(fn, out_schema)


def frame_sample_plan(df: DataFrame, media_col: str = "media",
                      every_ms: int = 1000) -> DataFrame:
    """Video frame-sampling PLAN: expands each video row into the frame
    timestamps that a decoder would extract — JVM-native sequence over
    duration metadata (decode itself is the stub above)."""
    dur = F.col(f"{media_col}.meta.duration_ms")
    return (df.where(F.col(f"{media_col}.meta.kind") == "video")
            .withColumn("frame_ms",
                        F.explode(F.sequence(F.lit(0),
                                             F.greatest(dur - 1, F.lit(0)),
                                             F.lit(every_ms)))))
