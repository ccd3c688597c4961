"""Pure-numpy PNG codec — a REAL image decode path with no media libs.

The container ships no PIL/OpenCV, but PNG (RFC 2083) is zlib (Python
stdlib) plus five per-scanline byte filters — implementable exactly
with numpy. This upgrades the multimodal surface from "decode is a
documented stub" to "decode works on real bytes": 8-bit greyscale /
RGB / palette / grey+alpha / RGBA, non-interlaced (the overwhelmingly
common case; anything else raises ``PngError`` cleanly, never
misparses).

Scale posture: the codec is the per-record edge step of a
``mapInPandas`` pipeline (`decode_image_batch`) — one Arrow batch of
payloads in executor memory at a time, embarrassingly parallel, no
shuffle. A production deployment swaps `decode_png` for a vectorized
decoder (PIL-SIMD, nvJPEG) WITHOUT touching the Spark plumbing: the
schema, batching, and partition behavior stay identical. The encoder
exists for fixtures and for the closed-form oracle trick in
``queries/llmdata.py:image_pipeline`` (deterministic synthetic images
⇒ expected stats computable in plain SQL).
"""

from __future__ import annotations

import struct
import zlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

_PNG_SIG = b"\x89PNG\r\n\x1a\n"
#: channels per color type (8-bit depth)
_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


class PngError(ValueError):
    pass


def _chunk(tag: bytes, data: bytes) -> bytes:
    return (
        struct.pack(">I", len(data))
        + tag
        + data
        + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
    )


def encode_png(arr: np.ndarray, filter_type: int = 0) -> bytes:
    """Minimal PNG encoder for uint8 arrays shaped (h, w) grey,
    (h, w, 3) RGB, or (h, w, 4) RGBA. ``filter_type`` applies one
    filter (0-4) to every scanline — used by tests to exercise each
    decode branch; filtering is the non-sequential direction, so it
    vectorizes fully."""
    a = np.ascontiguousarray(arr, dtype=np.uint8)
    if a.ndim == 2:
        a = a[:, :, None]
    h, w, c = a.shape
    color_type = {1: 0, 2: 4, 3: 2, 4: 6}[c]
    if filter_type not in range(5):
        raise PngError(f"bad filter {filter_type}")

    raw = a.reshape(h, w * c).astype(np.int16)
    left = np.zeros_like(raw)
    left[:, c:] = raw[:, :-c]
    up = np.zeros_like(raw)
    up[1:] = raw[:-1]
    up_left = np.zeros_like(raw)
    up_left[1:, c:] = raw[:-1, :-c]
    if filter_type == 0:
        filt = raw
    elif filter_type == 1:
        filt = raw - left
    elif filter_type == 2:
        filt = raw - up
    elif filter_type == 3:
        filt = raw - (left + up) // 2
    else:  # Paeth
        p = left + up - up_left
        pa, pb, pc = np.abs(p - left), np.abs(p - up), np.abs(p - up_left)
        pred = np.where((pa <= pb) & (pa <= pc), left, np.where(pb <= pc, up, up_left))
        filt = raw - pred
    scanlines = np.concatenate(
        [np.full((h, 1), filter_type, dtype=np.uint8), (filt % 256).astype(np.uint8)], axis=1
    )
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    return (
        _PNG_SIG
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(scanlines.tobytes(), 6))
        + _chunk(b"IEND", b"")
    )


def decode_png(data: bytes) -> np.ndarray:
    """PNG → uint8 array (h, w, channels). Verifies chunk CRCs;
    supports 8-bit color types 0/2/3/4/6 non-interlaced; raises
    PngError on anything else (16-bit, interlaced, truncated)."""
    if not data.startswith(_PNG_SIG):
        raise PngError("bad PNG signature")
    pos = len(_PNG_SIG)
    width = height = None
    color_type = bpp = 0
    palette: np.ndarray | None = None
    idat = bytearray()
    while pos + 8 <= len(data):
        (length,) = struct.unpack_from(">I", data, pos)
        if pos + 12 + length > len(data):
            raise PngError("truncated chunk")
        tag = data[pos + 4 : pos + 8]
        body = data[pos + 8 : pos + 8 + length]
        (crc,) = struct.unpack_from(">I", data, pos + 8 + length)
        if zlib.crc32(tag + body) & 0xFFFFFFFF != crc:
            raise PngError(f"CRC mismatch in {tag!r}")
        pos += 12 + length
        if tag == b"IHDR":
            width, height, depth, color_type, comp, filt, interlace = struct.unpack(
                ">IIBBBBB", body
            )
            if depth != 8:
                raise PngError(f"bit depth {depth} not supported (8 only)")
            if color_type not in _CHANNELS:
                raise PngError(f"color type {color_type} not supported")
            if comp or filt:
                raise PngError("nonstandard compression/filter method")
            if interlace:
                raise PngError("interlaced PNG not supported")
            bpp = _CHANNELS[color_type]
        elif tag == b"PLTE":
            palette = np.frombuffer(body, dtype=np.uint8).reshape(-1, 3)
        elif tag == b"IDAT":
            idat += body
        elif tag == b"IEND":
            break
    if width is None or not idat:
        raise PngError("missing IHDR/IDAT")

    raw = np.frombuffer(zlib.decompress(bytes(idat)), dtype=np.uint8)
    stride = width * bpp
    if raw.size != height * (stride + 1):
        raise PngError("decompressed size mismatch")
    lines = raw.reshape(height, stride + 1)
    filters = lines[:, 0]
    out = np.zeros((height, stride), dtype=np.uint8)
    for y in range(height):
        f = filters[y]
        cur = lines[y, 1:].astype(np.int32)
        prev = out[y - 1].astype(np.int32) if y else np.zeros(stride, dtype=np.int32)
        if f == 0:
            rec = cur
        elif f == 1:  # Sub: prefix sum per byte lane
            rec = np.cumsum(cur.reshape(width, bpp), axis=0).reshape(stride)
        elif f == 2:
            rec = cur + prev
        elif f == 3:  # Average: sequential in x
            rec = np.empty(stride, dtype=np.int32)
            for i in range(stride):
                left = rec[i - bpp] if i >= bpp else 0
                rec[i] = (cur[i] + (left + prev[i]) // 2) % 256
        elif f == 4:  # Paeth: sequential in x
            rec = np.empty(stride, dtype=np.int32)
            for i in range(stride):
                left = rec[i - bpp] if i >= bpp else 0
                ul = prev[i - bpp] if i >= bpp else 0
                p = left + prev[i] - ul
                pa, pb, pc = abs(p - left), abs(p - prev[i]), abs(p - ul)
                pred = left if (pa <= pb and pa <= pc) else (prev[i] if pb <= pc else ul)
                rec[i] = (cur[i] + pred) % 256
        else:
            raise PngError(f"bad scanline filter {f}")
        out[y] = (rec % 256).astype(np.uint8)

    img = out.reshape(height, width, bpp)
    if color_type == 3:
        if palette is None:
            raise PngError("palette image missing PLTE")
        img = palette[img[:, :, 0]]
    return img


IMAGE_STATS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("channels", T.IntegerType(), True),
        T.StructField("mean_r", T.DoubleType(), True),
        T.StructField("mean_g", T.DoubleType(), True),
        T.StructField("mean_b", T.DoubleType(), True),
        T.StructField("decode_error", T.StringType(), True),
    ]
)


def decode_image_batch(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """Real image decode over Arrow batches: payload bytes → (width,
    height, channels, per-channel means). Rows whose payload fails to
    decode keep NULL stats + the error string (bad media is data, not
    a job failure — at 100 TB a poison payload must not kill the
    pipeline)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            recs = []
            for doc_id, payload in zip(pdf[id_col], pdf[payload_col]):
                rec = {"doc_id": int(doc_id), "width": None, "height": None,
                       "channels": None, "mean_r": None, "mean_g": None,
                       "mean_b": None, "decode_error": None}
                try:
                    img = decode_png(bytes(payload))
                    h, w, c = img.shape
                    means = img.reshape(-1, c).mean(axis=0)
                    rec.update(
                        width=w, height=h, channels=c,
                        mean_r=float(means[0]),
                        mean_g=float(means[1]) if c >= 3 else float(means[0]),
                        mean_b=float(means[2]) if c >= 3 else float(means[0]),
                    )
                except Exception as e:  # noqa: BLE001 — poison payloads become rows
                    rec["decode_error"] = f"{type(e).__name__}: {e}"[:200]
                recs.append(rec)
            yield pd.DataFrame(recs)

    return df.select(id_col, payload_col).mapInPandas(run, schema=IMAGE_STATS_SCHEMA)
