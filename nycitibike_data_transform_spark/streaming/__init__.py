"""Structured Streaming surface over the events and documents feeds."""

from nycitibike_data_transform_spark.streaming.events import read_events_stream
from nycitibike_data_transform_spark.streaming.documents import (
    read_documents_stream,
    source_counts_stream,
)
from nycitibike_data_transform_spark.streaming.stateful import running_user_totals
from nycitibike_data_transform_spark.streaming.upsert import (
    apply_upsert_batch,
    upsert_stream_to_table,
)

__all__ = [
    "apply_upsert_batch",
    "upsert_stream_to_table",
    "read_events_stream",
    "running_user_totals",
    "read_documents_stream",
    "source_counts_stream",
]
