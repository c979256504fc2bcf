"""Multimodal decode queries (PNG, baseline and progressive JPEG, WAV,
AVI, Motion-JPEG) with their analytic oracles.

Each row of documents with doc_id < 40 gets a REAL encoded payload of a
deterministic test pattern; the pure-Python codec decodes it and
featurizes it. The oracle recomputes the features from the pattern
formula without any codec, so a hash match proves the decoder
round-trips the encoder.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from driver_queries import table
from schema_guru_spark.operators import multimodal as MM


def _media(spark, sf, attach):
    ids = table(spark, sf, "documents").where(F.col("doc_id") < 40) \
        .select("doc_id")
    return attach(ids, "doc_id")


def _means():
    return [F.round(c, 6).alias(c) for c in ("mean_r", "mean_g", "mean_b")]


def _image(spark, sf, attach):
    feats = MM.decode_and_featurize(_media(spark, sf, attach),
                                    id_col="doc_id")
    return feats.select("id", "width", "height", *_means()).orderBy("id")


def _video(spark, sf, attach):
    # every 2nd frame is decoded and featurized
    feats = MM.decode_video_features(_media(spark, sf, attach),
                                     id_col="doc_id", every_n=2)
    return feats.select("id", "frame_idx", "n_frames", "width", "height",
                        *_means()).orderBy("id", "frame_idx")


def png(spark, sf):
    # all 5 PNG predictor filters are exercised: a hash match proves
    # the IHDR parse, inflate and unfilter
    return _image(spark, sf, MM.attach_png_media)


PNG = """
            -- analytic twin of the PNG test pattern: the Spark side
            -- encodes px(x,y,c) = (7x+13y+29c+31*id) mod 256 into real
            -- PNGs and decodes them back; this recomputes the means
            -- without any codec
            WITH ids AS (
              SELECT doc_id AS id,
                     (doc_id % 16 + 8)::INT AS width,
                     (doc_id % 12 + 8)::INT AS height
              FROM documents WHERE doc_id < 40),
            px AS (
              SELECT i.id, i.width, i.height, gx.x, gy.y
              FROM ids i,
                   generate_series(0, 23) gx(x),
                   generate_series(0, 19) gy(y)
              WHERE gx.x < i.width AND gy.y < i.height)
            SELECT id, width, height,
                   round(avg((7*x + 13*y + 31*id) % 256), 6) AS mean_r,
                   round(avg((7*x + 13*y + 29 + 31*id) % 256), 6) AS mean_g,
                   round(avg((7*x + 13*y + 58 + 31*id) % 256), 6) AS mean_b
            FROM px GROUP BY 1, 2, 3 ORDER BY id
        """


def jpeg(spark, sf):
    # baseline JPEGs (Huffman entropy coding + DCT + quantization) of a
    # FLAT-8x8-BLOCK pattern. With the all-ones quant table a flat block
    # round-trips bit-exactly (operators/jpeg.py docstring), so the
    # oracle recomputes channel means over BLOCK indices — a hash match
    # proves the full entropy decode is lossless
    return _image(spark, sf, MM.attach_jpeg_media)


# the flat-block pattern's channel means, over block indices
_FLAT_BLOCK_MEANS = """\
            WITH ids AS (
              SELECT doc_id AS id,
                     (doc_id % 3 + 2)::INT AS wb,
                     (doc_id % 2 + 2)::INT AS hb
              FROM documents WHERE doc_id < 40),
            px AS (
              SELECT i.id, i.wb, i.hb, gx.x AS bx, gy.y AS by
              FROM ids i,
                   generate_series(0, 4) gx(x),
                   generate_series(0, 3) gy(y)
              WHERE gx.x < i.wb AND gy.y < i.hb)
            SELECT id, (wb * 8)::INT AS width, (hb * 8)::INT AS height,
                   round(avg((7*bx + 13*by + 31*id) % 256), 6) AS mean_r,
                   round(avg((7*bx + 13*by + 29 + 31*id) % 256), 6)
                     AS mean_g,
                   round(avg((7*bx + 13*by + 58 + 31*id) % 256), 6)
                     AS mean_b
            FROM px GROUP BY 1, 2, 3 ORDER BY id
        """


JPEG = """
            -- analytic twin of the flat-block JPEG pattern: the Spark
            -- side entropy-encodes block(bx,by,c) = (7bx+13by+29c+31id)
            -- mod 256 into real baseline JPEGs and decodes them back
            -- LOSSLESSLY (flat blocks, unit quant table); this
            -- recomputes the means over block indices without a codec
""" + _FLAT_BLOCK_MEANS


def progressive_jpeg(spark, sf):
    # progressive (SOF2): the same flat-block pattern serialized as a
    # six-scan stream (DC first/refine, AC first/refine over two
    # spectral bands, EOB-run coding). Flat blocks + unit quant stay
    # bit-exact, so the same analytic oracle pins the multi-scan path
    return _image(spark, sf, MM.attach_progressive_jpeg_media)


PROGRESSIVE_JPEG = """
            -- analytic twin of the flat-block pattern, decoded from a
            -- six-scan PROGRESSIVE (SOF2) stream — same formula as
            -- jpeg_decode_features because progressive re-serializes
            -- the same quantized coefficients losslessly
""" + _FLAT_BLOCK_MEANS


def wav(spark, sf):
    # PCM WAV payloads of a deterministic integer pattern; the oracle
    # recomputes amplitude stats analytically — a hash match proves the
    # RIFF/PCM header parse, alignment and sample widths
    feats = MM.decode_audio_features(
        _media(spark, sf, MM.attach_wav_media), id_col="doc_id")
    return feats.select(
        "id", "n_samples", "n_channels", "sample_rate", "duration_ms",
        F.round("mean_abs", 6).alias("mean_abs"),
        F.round("rms", 6).alias("rms"),
    ).orderBy("id")


WAV = """
            -- analytic twin of the WAV test pattern
            -- s(t) = ((t*t + 7t + 31*id) mod 2001) - 1000, mono 8 kHz
            WITH ids AS (
              SELECT doc_id AS id, ((doc_id % 5) + 1) * 400 AS n
              FROM documents WHERE doc_id < 40),
            s AS (
              SELECT i.id, i.n,
                     ((gt.t * gt.t + 7 * gt.t + 31 * i.id) % 2001) - 1000
                       AS v
              FROM ids i CROSS JOIN generate_series(0, 1999) gt(t)
              WHERE gt.t < i.n)
            SELECT id, n::INT AS n_samples, 1::INT AS n_channels,
                   8000::INT AS sample_rate,
                   (n * 1000 // 8000)::INT AS duration_ms,
                   round(avg(abs(v)), 6) AS mean_abs,
                   round(sqrt(avg(v * v)), 6) AS rms
            FROM s GROUP BY id, n ORDER BY id
        """


def avi(spark, sf):
    # uncompressed 24-bit AVI: a hash match proves the RIFF/DIB decode
    # (bottom-up rows, BGR, stride padding) frame-exactly
    return _video(spark, sf, MM.attach_avi_media)


AVI = """
            -- analytic twin of the AVI test pattern
            -- px(x,y,c,t) = (7x + 13y + 29c + 17t + 31*id) mod 256
            WITH ids AS (
              SELECT doc_id AS id,
                     (doc_id % 8 + 4)::INT AS width,
                     (doc_id % 6 + 4)::INT AS height,
                     (doc_id % 4 + 2)::INT AS n_frames
              FROM documents WHERE doc_id < 40),
            sampled AS (
              SELECT i.*, gt.t AS frame_idx
              FROM ids i, generate_series(0, 4) gt(t)
              WHERE gt.t < i.n_frames AND gt.t % 2 = 0),
            px AS (
              SELECT s.id, s.frame_idx, s.n_frames, s.width, s.height,
                     gx.x, gy.y
              FROM sampled s,
                   generate_series(0, 11) gx(x),
                   generate_series(0, 9) gy(y)
              WHERE gx.x < s.width AND gy.y < s.height)
            SELECT id, frame_idx::INT AS frame_idx, n_frames, width,
                   height,
                   round(avg((7*x + 13*y + 17*frame_idx + 31*id) % 256),
                         6) AS mean_r,
                   round(avg((7*x + 13*y + 29 + 17*frame_idx + 31*id)
                             % 256), 6) AS mean_g,
                   round(avg((7*x + 13*y + 58 + 17*frame_idx + 31*id)
                             % 256), 6) AS mean_b
            FROM px GROUP BY 1, 2, 3, 4, 5 ORDER BY id, frame_idx
        """


def mjpeg(spark, sf):
    # Motion-JPEG AVIs (each frame an independent baseline JPEG) of the
    # flat-8x8-block pattern: the oracle recomputes per-frame channel
    # means over BLOCK indices — a hash match proves the RIFF walk,
    # per-frame Huffman decode and IDCT are lossless on this pattern
    return _video(spark, sf, MM.attach_mjpeg_media)


MJPEG = """
            -- analytic twin of the MJPEG flat-block pattern
            -- block(bx,by,c,t) = (7bx + 13by + 29c + 17t + 31*id) mod 256
            -- mean over pixels == mean over blocks (each block is 64
            -- identical pixels), so the oracle never touches a codec
            WITH ids AS (
              SELECT doc_id AS id,
                     (doc_id % 3 + 1)::INT AS wb,
                     (doc_id % 2 + 1)::INT AS hb,
                     (doc_id % 4 + 2)::INT AS n_frames
              FROM documents WHERE doc_id < 40),
            sampled AS (
              SELECT i.*, gt.t AS frame_idx
              FROM ids i, generate_series(0, 4) gt(t)
              WHERE gt.t < i.n_frames AND gt.t % 2 = 0),
            blk AS (
              SELECT s.id, s.frame_idx, s.n_frames, s.wb, s.hb,
                     gx.bx, gy.by
              FROM sampled s,
                   generate_series(0, 2) gx(bx),
                   generate_series(0, 1) gy(by)
              WHERE gx.bx < s.wb AND gy.by < s.hb)
            SELECT id, frame_idx::INT AS frame_idx, n_frames,
                   (wb * 8)::INT AS width, (hb * 8)::INT AS height,
                   round(avg((7*bx + 13*by + 17*frame_idx + 31*id) % 256),
                         6) AS mean_r,
                   round(avg((7*bx + 13*by + 29 + 17*frame_idx + 31*id)
                             % 256), 6) AS mean_g,
                   round(avg((7*bx + 13*by + 58 + 17*frame_idx + 31*id)
                             % 256), 6) AS mean_b
            FROM blk GROUP BY 1, 2, 3, 4, 5 ORDER BY id, frame_idx
        """
