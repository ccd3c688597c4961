"""Pure-numpy WAV/PCM codec: encode/decode round-trips (mono/stereo,
odd chunk padding, extra RIFF chunks), clean failures on unsupported
variants, and the Spark-side decode_audio_batch operator
(real bytes end-to-end)."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from nycitibike_data_transform_spark.operators.audio import (
    WavError,
    decode_audio_batch,
    decode_wav,
    encode_wav,
)

RNG = np.random.default_rng(11)


@pytest.mark.parametrize("channels", [1, 2, 4])
@pytest.mark.parametrize("rate", [8000, 44100])
def test_round_trip(channels, rate):
    samples = RNG.integers(-32768, 32768, size=(37, channels), dtype=np.int16)
    back, got_rate = decode_wav(encode_wav(samples, rate))
    assert got_rate == rate
    np.testing.assert_array_equal(back, samples)


def test_mono_1d_input_round_trips():
    mono = np.array([0, 100, -100, 32767, -32768], dtype=np.int16)
    back, _ = decode_wav(encode_wav(mono, 16000))
    np.testing.assert_array_equal(back[:, 0], mono)
    assert back.shape == (5, 1)


def test_extra_chunks_and_odd_padding_skipped():
    samples = np.array([[1], [2], [3]], dtype=np.int16)
    wav = bytearray(encode_wav(samples, 8000))
    # splice an odd-sized LIST chunk (plus pad byte) before fmt
    extra = b"LIST" + struct.pack("<I", 3) + b"abc" + b"\x00"
    spliced = wav[:12] + extra + wav[12:]
    spliced[4:8] = struct.pack("<I", len(spliced) - 8)  # patch RIFF size
    back, rate = decode_wav(bytes(spliced))
    assert rate == 8000
    np.testing.assert_array_equal(back[:, 0], [1, 2, 3])


def test_unsupported_variants_fail_cleanly():
    with pytest.raises(WavError, match="signature"):
        decode_wav(b"OggS definitely not wav")
    good = encode_wav(np.array([[1], [2]], dtype=np.int16), 8000)
    with pytest.raises(WavError, match="truncated"):
        decode_wav(good[:20])
    # flip the fmt audio_format field to 3 (IEEE float)
    bad = bytearray(good)
    bad[20:22] = struct.pack("<H", 3)
    with pytest.raises(WavError, match="PCM only"):
        decode_wav(bytes(bad))
    # flip bit depth to 8
    bad = bytearray(good)
    bad[34:36] = struct.pack("<H", 8)
    with pytest.raises(WavError, match="16 only"):
        decode_wav(bytes(bad))
    # zero channels (ADVICE r8: was ZeroDivisionError, not WavError)
    bad = bytearray(good)
    bad[22:24] = struct.pack("<H", 0)
    with pytest.raises(WavError, match="invalid fmt"):
        decode_wav(bytes(bad))
    # zero sample rate
    bad = bytearray(good)
    bad[24:28] = struct.pack("<I", 0)
    with pytest.raises(WavError, match="invalid fmt"):
        decode_wav(bytes(bad))


def test_encode_rejects_out_of_range():
    with pytest.raises(WavError, match="int16"):
        encode_wav(np.array([40000], dtype=np.int32), 8000)


def test_decode_audio_batch_real_bytes_and_poison(spark):
    # square wave: amplitude 1000, half-period 2, 3 cycles, stereo
    period = np.concatenate([np.full(2, 1000, np.int16), np.full(2, -1000, np.int16)])
    ch0 = np.tile(period, 3)
    stereo = np.stack([ch0, -ch0], axis=1)
    rows = [
        (1, bytearray(encode_wav(stereo, 8000))),
        (2, bytearray(encode_wav(np.zeros((4, 1), dtype=np.int16), 16000))),
        (3, bytearray(b"not audio")),
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = {r["doc_id"]: r for r in decode_audio_batch(df).collect()}
    r1 = got[1]
    assert (r1["sample_rate"], r1["n_channels"], r1["n_samples"]) == (8000, 2, 12)
    assert r1["duration_s"] == 12 / 8000
    assert r1["rms"] == 1000.0 and r1["peak"] == 1000
    assert r1["n_zero_crossings"] == 5  # 2*cycles - 1
    r2 = got[2]
    assert r2["rms"] == 0.0 and r2["peak"] == 0 and r2["n_zero_crossings"] == 0
    assert got[3]["rms"] is None and "WavError" in got[3]["decode_error"]
