"""Multimodal column plumbing (north-star, SURVEY.md §2.9).

Images/audio/video ride through the engine as opaque ``binary``
payloads plus a typed metadata struct — the same posture the reference
takes toward its WKB ``geometry: binary`` column (reference
``ref/2_DIM___AUX_NYC|nyc_nta_zones.parquet``, SURVEY.md §2.1 S6):
store, move, and partition the bytes; decode only at the edge.

The codecs live in their own modules:
``operators/imaging.py`` (pure-numpy PNG: zlib + scanline filters),
``operators/audio.py`` (RIFF/WAV PCM16) and ``operators/video.py``
(length-prefixed frame container, stride sampling), each driven
end-to-end by its own driver query (``image_pipeline``,
``audio_pipeline``, ``video_frames``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def attach_payload(df: DataFrame, text_col: str = "text", mime: str = "text/plain") -> DataFrame:
    """Wrap a column's bytes as an opaque media payload + metadata
    struct (the testdata carries no real media; text bytes stand in —
    the engine-side plumbing is identical for jpeg/wav bytes)."""
    payload = F.encode(F.col(text_col), "UTF-8")
    return df.withColumn("payload", payload).withColumn(
        "media_meta",
        F.struct(
            F.lit(mime).alias("mime"),
            F.octet_length(payload).cast("long").alias("n_bytes"),
            F.md5(payload).alias("checksum_md5"),
        ),
    )
