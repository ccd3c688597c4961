"""Source connectors.

The reference exposes two source shapes:

- **External parquet tables**: globbed GZIP parquet with schema
  autodetect (reference ``terraform/a2_config_second_apply/main.tf:289-306``).
  Spark's parquet reader is the direct equivalent — self-describing
  schema, predicate pushdown, column pruning; gzip codec handled
  natively. Unlike BigQuery external tables (which "cannot be
  partitioned", reference ``main.tf:301-304`` comment), Spark scans
  support partition discovery + dynamic partition pruning for free
  when the lake layout is hive-partitioned — a deliberate upgrade.

- **CSV seeds with forced column types**: the 265-row taxi-zone lookup
  with ``locationid`` forced NUMERIC (reference ``dbt_project.yml:16-21``).
  Spark equivalent: explicit StructType (never ``inferSchema`` in a
  pipeline — a second pass over the data and nondeterministic types).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def read_parquet_source(
    spark: SparkSession,
    path: str | list[str],
    merge_schema: bool = False,
) -> DataFrame:
    """Schema-on-read parquet scan over a path or glob.

    ``merge_schema=True`` reconciles per-file schema drift (the
    autodetect-over-many-files behavior of the reference's external
    tables); leave it off when files are homogeneous — schema merge
    costs a footer read per file at planning time.
    """
    reader = spark.read
    if merge_schema:
        reader = reader.option("mergeSchema", "true")
    paths = path if isinstance(path, list) else [path]
    return reader.parquet(*paths)


#: Seed schema for the taxi-zone lookup (reference
#: ``seeds/x_seed_taxi_zone_lookup.csv:1`` header; ``locationid``
#: forced NUMERIC per ``dbt_project.yml:19-21`` — BigQuery NUMERIC is
#: DecimalType(38,9) in Spark).
TAXI_ZONE_LOOKUP_SCHEMA = T.StructType(
    [
        T.StructField("locationid", T.DecimalType(38, 9), False),
        T.StructField("borough", T.StringType(), True),
        T.StructField("zone", T.StringType(), True),
        T.StructField("service_zone", T.StringType(), True),
    ]
)


def read_csv_seed(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    header: bool = True,
) -> DataFrame:
    """Load a seed CSV with a declared schema (dbt seed analogue)."""
    return spark.read.csv(path, header=header, schema=schema, mode="FAILFAST")
