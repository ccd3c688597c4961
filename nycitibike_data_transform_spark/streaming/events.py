"""The events feed as a Structured Streaming source.

The reference has NO streaming path — its freshness model is a 4-hour
full re-run on Cloud Scheduler (reference
``terraform/a2_config_second_apply/main.tf:196-216``; SURVEY.md §2.7).
``read_events_stream`` is the capability *upgrade* the Spark target
makes natural: the batch events table read as a stream, so a
deployment can replace the 4-hour re-run with incremental
micro-batches (or ``availableNow`` for the same scheduled-batch
cadence with incremental state).

Streaming output is not DuckDB-oracle-comparable (the driver contract
is batch), so the registry certifies the stream through its converged
batch results: ``streaming_upsert_view`` runs the real availableNow
upsert stream (``streaming/upsert.py``) against the ``dedup_latest``
oracle, and ``streaming_user_totals`` runs the stateful running totals
(``streaming/stateful.py``).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

def _events_schema(sf_dir: str) -> tuple[T.StructType, bool]:
    """(readStream schema, ts_is_nanos) for the feed at ``sf_dir``.

    The driver's parquet has shipped two temporal encodings across
    rounds (see catalog.load_table): timestamp[us] no-tz (Spark:
    TIMESTAMP_NTZ) and TIMESTAMP(NANOS) (only readable as nanos longs
    under the legacy conf). readStream needs the schema up front, so
    probe the footer with pyarrow and build the matching one — the
    batch path branches on the inferred schema instead."""
    ts_is_nanos = False
    try:
        import glob as _glob

        import pyarrow.parquet as pq

        src = f"{sf_dir}/events.parquet"
        if os.path.isdir(src):
            # directory-shaped feed (e.g. the stress replica): probe
            # the first part file's footer instead
            src = sorted(_glob.glob(f"{src}/*.parquet"))[0]
        ts_is_nanos = "ns" in str(pq.read_schema(src).field("ts").type)
    except Exception:
        pass  # no footer to probe — assume µs/NTZ
    ts_type = T.LongType() if ts_is_nanos else T.TimestampNTZType()
    return (
        T.StructType(
            [
                T.StructField("event_id", T.LongType(), True),
                T.StructField("ts", ts_type, True),
                T.StructField("user_id", T.LongType(), True),
                T.StructField("event_type", T.StringType(), True),
                T.StructField("value", T.DoubleType(), True),
                T.StructField("props", T.StringType(), True),
            ]
        ),
        ts_is_nanos,
    )


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet-directory source for the events feed (one file per
    micro-batch discovery; real deployments point this at Kafka).
    Normalizes ``ts`` to session-UTC TIMESTAMP for either on-disk
    encoding, mirroring the batch path."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    schema, ts_is_nanos = _events_schema(sf_dir)
    if ts_is_nanos:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    reader = spark.readStream.schema(schema)
    if os.path.isdir(f"{sf_dir}/events.parquet"):
        # directory-shaped feed: the source can point straight at it
        raw = reader.parquet(f"{sf_dir}/events.parquet")
    else:
        # single-file feed: the streaming file source needs a
        # DIRECTORY, so scope sf_dir down to the one file via the
        # leaf-name glob (pathGlobFilter matches leaf file names —
        # which is also why it cannot serve the directory layout:
        # the leaves there are part-*.parquet)
        raw = reader.option("pathGlobFilter", "events.parquet").parquet(sf_dir)
    if ts_is_nanos:
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))
