"""Streaming ingestion for the LLM-data surface.

The batch llmdata aggregations are Column expressions, so the same
logic runs unchanged on a stream — this module is the wiring: a
parquet-directory document feed (production: Kafka / autoloader) and
the source-mix counts as a streaming aggregation (state = one row per
(source, lang), bounded by the domain, not the corpus).

Parity with the batch aggregation is pinned by tests/test_streaming.py
and by the registry query ``streaming_source_mix``, which streams a
staged multi-file copy of the feed through ``source_counts_stream``;
streaming output itself is not DuckDB-oracle-comparable (the driver
contract is batch).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

DOCUMENTS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
        T.StructField("source", T.StringType(), True),
        T.StructField("n_chars", T.LongType(), True),
    ]
)


def read_documents_stream(
    spark: SparkSession,
    sf_dir: str,
    glob: str = "documents.parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Parquet-directory source for the document feed (one file per
    micro-batch discovery). ``glob``/``max_files_per_trigger`` let a
    caller stream a STAGED multi-file copy of the feed one file per
    micro-batch — how the batch-parity verdicts force real cross-batch
    aggregation state instead of a single-batch degenerate run."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    reader = spark.readStream.schema(DOCUMENTS_SCHEMA).option(
        "pathGlobFilter", glob
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.parquet(sf_dir)


def source_counts_stream(
    spark: SparkSession,
    sf_dir: str,
    glob: str = "documents.parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Per-(source, lang) doc/token counts as a streaming aggregation.
    State is one row per domain pair — bounded by |sources × langs|,
    not corpus size, so 'complete' output mode stays cheap forever."""
    from nycitibike_data_transform_spark.functions.text import token_count

    docs = read_documents_stream(
        spark, sf_dir, glob=glob, max_files_per_trigger=max_files_per_trigger
    )
    n_tokens = token_count("text")
    return (
        docs.select("source", "lang", n_tokens.alias("n_tok"))
        .groupBy("source", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").cast("long").alias("n_tokens"),
        )
    )
