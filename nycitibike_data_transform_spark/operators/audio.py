"""Pure-numpy WAV/PCM codec — a REAL audio decode path with no media libs.

Companion to ``operators/imaging.py`` (PNG): the container ships no
soundfile/librosa, but canonical WAV (RIFF + PCM16, the interchange
format every recorder emits) is a struct header plus an int16 sample
block — implementable exactly with numpy. Decode works on real
bytes: 16-bit PCM, any channel count and sample rate,
tolerant of extra RIFF chunks (LIST/fact); anything else (float PCM,
ADPCM, truncated) raises ``WavError`` cleanly, never misparses.

Scale posture: identical to the image pipeline — the codec is the
per-record edge step of a ``mapInPandas`` stage
(``decode_audio_batch``): one Arrow batch of payloads in executor
memory at a time, embarrassingly parallel, no shuffle. A production
deployment swaps ``decode_wav`` for a vectorized decoder (ffmpeg,
torchaudio) WITHOUT touching the Spark plumbing — schema, batching,
and partition behavior stay identical. The encoder exists for
fixtures and for the closed-form oracle trick
(``queries/llmdata.py:audio_pipeline``: deterministic synthetic
waveforms ⇒ expected stats computable in plain SQL).

Feature semantics (documented so the oracle can state them):

- ``rms``: sqrt(mean(x²)) over ALL channels' samples (int64-exact
  accumulation, one sqrt at the end);
- ``peak``: max(|x|) over all channels;
- ``n_zero_crossings``: count of strict sign flips between consecutive
  samples of CHANNEL 0 (``s[i]·s[i+1] < 0``) — the standard mono ZCR,
  pinned to one channel so multi-channel files have a well-defined
  value.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T


class WavError(ValueError):
    pass


def encode_wav(samples: np.ndarray, sample_rate: int) -> bytes:
    """Minimal canonical WAV encoder: int16 samples shaped (n,) mono
    or (n, channels), PCM16 little-endian, one fmt + one data chunk."""
    a = np.asarray(samples)
    if a.ndim == 1:
        a = a[:, None]
    if a.ndim != 2:
        raise WavError(f"samples must be (n,) or (n, ch), got {a.shape}")
    if a.dtype != np.int16:
        if not np.array_equal(a, a.astype(np.int16)):
            raise WavError("samples out of int16 range")
        a = a.astype(np.int16)
    n, ch = a.shape
    data = np.ascontiguousarray(a).tobytes()  # interleaved little-endian
    byte_rate = sample_rate * ch * 2
    fmt = struct.pack("<HHIIHH", 1, ch, sample_rate, byte_rate, ch * 2, 16)
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", len(body)) + body


def decode_wav(data: bytes) -> tuple[np.ndarray, int]:
    """WAV → (int16 array (n, channels), sample_rate). PCM16 only;
    skips unknown RIFF chunks (LIST, fact, cue); raises WavError on
    non-PCM format codes, other bit depths, or truncation."""
    if len(data) < 12 or data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        raise WavError("bad RIFF/WAVE signature")
    (riff_size,) = struct.unpack_from("<I", data, 4)
    if riff_size + 8 > len(data):
        raise WavError("truncated RIFF payload")
    pos = 12
    channels = sample_rate = None
    pcm: bytes | None = None
    while pos + 8 <= len(data):
        tag = data[pos : pos + 4]
        (length,) = struct.unpack_from("<I", data, pos + 4)
        body_at = pos + 8
        if body_at + length > len(data):
            raise WavError(f"truncated {tag!r} chunk")
        if tag == b"fmt ":
            if length < 16:
                raise WavError("fmt chunk too short")
            audio_format, channels, sample_rate, _br, _ba, bits = struct.unpack_from(
                "<HHIIHH", data, body_at
            )
            if audio_format != 1:
                raise WavError(f"format code {audio_format} not supported (PCM only)")
            if bits != 16:
                raise WavError(f"bit depth {bits} not supported (16 only)")
            # a crafted fmt chunk with zero channels/rate would
            # otherwise surface as ZeroDivisionError below, breaking
            # the "malformed input raises WavError cleanly" contract
            # (ADVICE r8)
            if channels == 0 or sample_rate == 0:
                raise WavError(
                    f"invalid fmt chunk: channels={channels} rate={sample_rate}"
                )
        elif tag == b"data":
            pcm = data[body_at : body_at + length]
        # word-aligned chunks: odd sizes carry a pad byte
        pos = body_at + length + (length & 1)
    if channels is None or pcm is None:
        raise WavError("missing fmt/data chunk")
    if len(pcm) % (2 * channels):
        raise WavError("data chunk not a whole number of frames")
    arr = np.frombuffer(pcm, dtype="<i2").reshape(-1, channels)
    return arr, sample_rate


AUDIO_STATS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("sample_rate", T.IntegerType(), True),
        T.StructField("n_channels", T.IntegerType(), True),
        T.StructField("n_samples", T.IntegerType(), True),
        T.StructField("duration_s", T.DoubleType(), True),
        T.StructField("rms", T.DoubleType(), True),
        T.StructField("peak", T.IntegerType(), True),
        T.StructField("n_zero_crossings", T.IntegerType(), True),
        T.StructField("decode_error", T.StringType(), True),
    ]
)


def decode_audio_batch(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """Real audio decode over Arrow batches: payload bytes → (rate,
    channels, frames, duration, RMS, peak, zero crossings). Rows whose
    payload fails to decode keep NULL stats + the error string (bad
    media is data, not a job failure — at 100 TB a poison payload must
    not kill the pipeline). Same contract as ``decode_image_batch``."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            recs = []
            for doc_id, payload in zip(pdf[id_col], pdf[payload_col]):
                rec = {"doc_id": int(doc_id), "sample_rate": None,
                       "n_channels": None, "n_samples": None,
                       "duration_s": None, "rms": None, "peak": None,
                       "n_zero_crossings": None, "decode_error": None}
                try:
                    arr, rate = decode_wav(bytes(payload))
                    n, ch = arr.shape
                    x = arr.astype(np.int64)
                    sq_sum = int((x * x).sum())
                    rms = float(np.sqrt(sq_sum / (n * ch))) if n else None
                    ch0 = x[:, 0]
                    zc = int(np.count_nonzero(ch0[1:] * ch0[:-1] < 0)) if n else 0
                    rec.update(
                        sample_rate=int(rate), n_channels=ch, n_samples=n,
                        duration_s=n / rate if rate else None, rms=rms,
                        peak=int(np.abs(x).max()) if n else 0,
                        n_zero_crossings=zc,
                    )
                except Exception as e:  # noqa: BLE001 — poison payloads become rows
                    rec["decode_error"] = f"{type(e).__name__}: {e}"[:200]
                recs.append(rec)
            yield pd.DataFrame(recs)

    return df.select(id_col, payload_col).mapInPandas(run, schema=AUDIO_STATS_SCHEMA)
