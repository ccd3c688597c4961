"""Pure-numpy PNG codec: encode/decode round-trips through every
scanline filter, clean failures on unsupported variants, and the
Spark-side decode_image_batch operator (real bytes end-to-end)."""

from __future__ import annotations

import struct
import zlib

import numpy as np
import pytest
from pyspark.sql import functions as F

from nycitibike_data_transform_spark.operators.imaging import (
    PngError,
    decode_image_batch,
    decode_png,
    encode_png,
)

RNG = np.random.default_rng(7)


@pytest.mark.parametrize("filter_type", [0, 1, 2, 3, 4])
@pytest.mark.parametrize("channels", [1, 3, 4])
def test_round_trip_every_filter(filter_type, channels):
    shape = (11, 7) if channels == 1 else (11, 7, channels)
    img = RNG.integers(0, 256, size=shape, dtype=np.uint8)
    back = decode_png(encode_png(img, filter_type=filter_type))
    expected = img[:, :, None] if channels == 1 else img
    np.testing.assert_array_equal(back, expected)


def test_solid_color_stats_are_exact():
    img = np.full((5, 9, 3), (10, 20, 30), dtype=np.uint8)
    back = decode_png(encode_png(img))
    assert back.shape == (5, 9, 3)
    assert [back[:, :, i].mean() for i in range(3)] == [10.0, 20.0, 30.0]


def test_unsupported_variants_fail_cleanly():
    with pytest.raises(PngError, match="signature"):
        decode_png(b"JFIF not a png")
    good = encode_png(np.zeros((2, 2), dtype=np.uint8))
    # corrupt a byte inside IHDR -> CRC must catch it
    bad = bytearray(good)
    bad[16] ^= 0xFF
    with pytest.raises(PngError, match="CRC"):
        decode_png(bytes(bad))
    with pytest.raises(PngError, match="truncated|missing"):
        decode_png(good[:30])


def test_interlaced_and_16bit_rejected():
    # hand-build an IHDR claiming interlace=1 / depth=16
    def ihdr(depth, interlace):
        body = struct.pack(">IIBBBBB", 2, 2, depth, 0, 0, 0, interlace)
        return (
            b"\x89PNG\r\n\x1a\n"
            + struct.pack(">I", len(body))
            + b"IHDR"
            + body
            + struct.pack(">I", zlib.crc32(b"IHDR" + body) & 0xFFFFFFFF)
        )

    with pytest.raises(PngError, match="interlaced"):
        decode_png(ihdr(8, 1))
    with pytest.raises(PngError, match="depth"):
        decode_png(ihdr(16, 0))


def test_decode_image_batch_real_bytes_and_poison(spark):
    imgs = {
        1: np.full((3, 4, 3), (100, 150, 200), dtype=np.uint8),
        2: np.full((2, 2), 7, dtype=np.uint8),
    }
    rows = [(k, bytearray(encode_png(v))) for k, v in imgs.items()]
    rows.append((3, bytearray(b"not a png at all")))
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = {r["doc_id"]: r for r in decode_image_batch(df).collect()}
    assert (got[1]["width"], got[1]["height"], got[1]["channels"]) == (4, 3, 3)
    assert (got[1]["mean_r"], got[1]["mean_g"], got[1]["mean_b"]) == (100.0, 150.0, 200.0)
    assert (got[2]["width"], got[2]["channels"], got[2]["mean_r"]) == (2, 1, 7.0)
    assert got[3]["width"] is None and "PngError" in got[3]["decode_error"]
