"""Minimal pure-Python AVI codec for UNCOMPRESSED 24-bit RGB video
(stdlib struct only) — completes the multimodal codec trio alongside
png.py and wav.py, so the video modality is really decoded, not
stubbed.

Scope: RIFF/AVI with a single 'vids' stream, two codecs:

  * BI_RGB (compression 0, 24 bpp) '00db' frames — the classic
    uncompressed DIB flavor. Frames are stored the DIB way: bottom-up
    rows, BGR byte order, row stride padded to 4 bytes; the codec
    round-trips that faithfully.
  * MJPG (biCompression = 'MJPG') '00dc' frames — Motion JPEG, each
    frame an independent baseline JPEG decoded by the real entropy
    decoder in ``operators/jpeg.py`` (the one compressed video codec
    that is free once baseline JPEG exists).

Inter-frame codecs (H.264 etc.) raise — decoding those requires
external libraries this container doesn't have, and stub-free honesty
beats a fake.

  encode_avi_rgb(frames, fps) -> bytes     frames: (n, h, w, 3) uint8 RGB
  encode_avi_mjpeg(frames, fps) -> bytes   same shape, JPEG-compressed
  decode_avi_rgb(data) -> (frames, fps)    handles both codecs
"""

from __future__ import annotations

import struct

import numpy as np

from schema_guru_spark.operators.jpeg import decode_jpeg, encode_jpeg

MJPG_FOURCC = struct.unpack("<I", b"MJPG")[0]


def _chunk(cid: bytes, body: bytes) -> bytes:
    pad = b"\x00" if len(body) % 2 else b""
    return cid + struct.pack("<I", len(body)) + body + pad


def _list(list_type: bytes, body: bytes) -> bytes:
    return _chunk(b"LIST", list_type + body)


def encode_avi_rgb(frames: np.ndarray, fps: int = 10) -> bytes:
    a = np.asarray(frames, dtype=np.uint8)
    if a.ndim != 4 or a.shape[3] != 3:
        raise ValueError("frames must be (n, h, w, 3) uint8")
    if fps <= 0:
        raise ValueError(f"fps must be positive, got {fps}")
    n, h, w, _ = a.shape
    stride = (w * 3 + 3) & ~3
    us_per_frame = 1_000_000 // fps

    # DIB framing: bottom-up rows, BGR, stride padded to 4
    rows = a[:, ::-1, :, ::-1]                       # flip rows, RGB->BGR
    padded = np.zeros((n, h, stride), dtype=np.uint8)
    padded[:, :, : w * 3] = rows.reshape(n, h, w * 3)
    frame_bytes = [padded[i].tobytes() for i in range(n)]

    avih = struct.pack("<14I", us_per_frame, stride * h * fps, 0, 0x10,
                       n, 0, 1, stride * h, w, h, 0, 0, 0, 0)
    strh = (b"vids" + b"DIB " + struct.pack("<10I", 0, 0, 0, 1, fps, 0,
                                            n, stride * h, 0xFFFFFFFF, 0)
            + struct.pack("<4H", 0, 0, w, h))
    strf = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, stride * h,
                       0, 0, 0, 0)
    hdrl = _list(b"hdrl", _chunk(b"avih", avih)
                 + _list(b"strl", _chunk(b"strh", strh)
                         + _chunk(b"strf", strf)))
    movi = _list(b"movi", b"".join(_chunk(b"00db", fb)
                                   for fb in frame_bytes))
    body = b"AVI " + hdrl + movi
    return b"RIFF" + struct.pack("<I", len(body)) + body


def encode_avi_mjpeg(frames: np.ndarray, fps: int = 10) -> bytes:
    """(n, h, w, 3) uint8 RGB -> Motion-JPEG AVI: each frame is an
    independent baseline JPEG ('00dc' chunks, biCompression='MJPG').
    Uses the flat quant table, so encode->decode is bit-exact (see
    operators/jpeg.py)."""
    a = np.asarray(frames, dtype=np.uint8)
    if a.ndim != 4 or a.shape[3] != 3:
        raise ValueError("frames must be (n, h, w, 3) uint8")
    if fps <= 0:
        raise ValueError(f"fps must be positive, got {fps}")
    n, h, w, _ = a.shape
    us_per_frame = 1_000_000 // fps
    frame_bytes = [encode_jpeg(a[i]) for i in range(n)]
    buf_size = max(len(fb) for fb in frame_bytes) if n else 0

    avih = struct.pack("<14I", us_per_frame, buf_size * fps, 0, 0x10,
                       n, 0, 1, buf_size, w, h, 0, 0, 0, 0)
    strh = (b"vids" + b"MJPG" + struct.pack("<10I", 0, 0, 0, 1, fps, 0,
                                            n, buf_size, 0xFFFFFFFF, 0)
            + struct.pack("<4H", 0, 0, w, h))
    strf = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, MJPG_FOURCC,
                       buf_size, 0, 0, 0, 0)
    hdrl = _list(b"hdrl", _chunk(b"avih", avih)
                 + _list(b"strl", _chunk(b"strh", strh)
                         + _chunk(b"strf", strf)))
    movi = _list(b"movi", b"".join(_chunk(b"00dc", fb)
                                   for fb in frame_bytes))
    body = b"AVI " + hdrl + movi
    return b"RIFF" + struct.pack("<I", len(body)) + body


def _iter_chunks(data: bytes, pos: int, end: int):
    while pos + 8 <= end:
        cid = data[pos:pos + 4]
        (size,) = struct.unpack("<I", data[pos + 4:pos + 8])
        body_start = pos + 8
        if body_start + size > end:
            raise ValueError(f"truncated {cid!r} chunk")
        yield cid, body_start, size
        pos = body_start + size + (size & 1)


def decode_avi_rgb(data: bytes):
    """Decode an uncompressed 24-bit AVI -> ((n, h, w, 3) uint8 RGB, fps)."""
    if len(data) < 12 or data[:4] != b"RIFF" or data[8:12] != b"AVI ":
        raise ValueError("not a RIFF/AVI file")
    (riff_size,) = struct.unpack("<I", data[4:8])
    if riff_size + 8 > len(data):
        raise ValueError("truncated RIFF payload")
    width = height = None
    us_per_frame = None
    compression = None
    frames = []

    def walk(pos, end):
        nonlocal width, height, us_per_frame, compression
        for cid, body_start, size in _iter_chunks(data, pos, end):
            if cid == b"LIST":
                walk(body_start + 4, body_start + size)
            elif cid == b"avih":
                if size < 56:
                    raise ValueError(f"avih chunk too short ({size} bytes)")
                vals = struct.unpack("<14I", data[body_start:body_start + 56])
                us_per_frame = vals[0]
                width, height = vals[8], vals[9]
            elif cid == b"strf":
                if size < 20:
                    raise ValueError(f"strf chunk too short ({size} bytes)")
                (_sz, _w, _h, _planes, bpp, comp) = struct.unpack(
                    "<IiiHHI", data[body_start:body_start + 20])
                if comp not in (0, MJPG_FOURCC):
                    raise ValueError(
                        f"compressed AVI (biCompression={comp}) not "
                        "supported — BI_RGB and MJPG only")
                if comp == 0 and bpp != 24:
                    raise ValueError(f"unsupported bit depth {bpp}")
                compression = comp
            elif cid in (b"00db", b"00dc"):
                frames.append((body_start, size))

    walk(12, 8 + riff_size)
    if width is None or us_per_frame is None:
        raise ValueError("missing avih header")
    # every frame is checked against the header's dimensions before an
    # array is sized by them: a corrupt header raises, never allocates
    imgs = []
    if compression == MJPG_FOURCC:
        for i, (start, size) in enumerate(frames):
            img = decode_jpeg(data[start:start + size])
            if img.ndim != 3 or img.shape != (height, width, 3):
                raise ValueError(
                    f"MJPG frame {i} decoded to {img.shape}, header says "
                    f"({height}, {width}, 3)")
            imgs.append(img)                         # JPEG is top-down RGB
    else:
        stride = (width * 3 + 3) & ~3
        for i, (start, size) in enumerate(frames):
            if size < stride * height:
                raise ValueError("frame chunk smaller than stride * height")
            raw = np.frombuffer(data[start:start + stride * height],
                                dtype=np.uint8).reshape(height, stride)
            bgr = raw[:, : width * 3].reshape(height, width, 3)
            imgs.append(bgr[::-1, :, ::-1])          # un-flip, BGR->RGB
    out = (np.stack(imgs) if imgs
           else np.empty((0, height, width, 3), dtype=np.uint8))
    fps = round(1_000_000 / us_per_frame) if us_per_frame else 0
    return out, fps
