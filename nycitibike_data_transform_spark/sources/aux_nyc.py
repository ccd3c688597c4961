"""Aux NYC dataset ingestion (SURVEY.md §7 step 4; FIXTURES.md §5).

The reference stages these manually outside the repo (reference
``notes.md:196-207``) and ships only data dictionaries under ``ref/``;
here they are first-class typed sources: explicit schemas (never
inferSchema), string-date parsing at the edge, messy-header renaming.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: restaurant inspections (dict
#: ``ref/1_SRC___AUX_NYC_RESTAURANT|dict_nyc_restaurant_inspections.csv``).
INSPECTIONS_RAW_SCHEMA = T.StructType(
    [
        T.StructField("CAMIS", T.LongType(), True),
        T.StructField("DBA", T.StringType(), True),
        T.StructField("BORO", T.StringType(), True),
        T.StructField("CUISINE DESCRIPTION", T.StringType(), True),
        T.StructField("INSPECTION DATE", T.StringType(), True),
        T.StructField("ACTION", T.StringType(), True),
        T.StructField("SCORE", T.DecimalType(10, 2), True),
        T.StructField("GRADE", T.StringType(), True),
        T.StructField("GRADE DATE", T.StringType(), True),
        T.StructField("Latitude", T.DoubleType(), True),
        T.StructField("Longitude", T.DoubleType(), True),
        T.StructField("NTA", T.StringType(), True),
    ]
)


def _snake(name: str) -> str:
    return (
        name.strip()
        .lower()
        .replace("/", "_")
        .replace(" ", "_")
    )


def read_inspections(spark: SparkSession, path: str) -> DataFrame:
    """Typed restaurant inspections: snake_case, date parsing, grade
    domain preserved (A/B/C/P/Z/N per the data dictionary)."""
    raw = spark.read.csv(path, header=True, schema=INSPECTIONS_RAW_SCHEMA)
    df = raw.select(*[F.col(f"`{f.name}`").alias(_snake(f.name)) for f in raw.schema.fields])
    return df.withColumn("inspection_date", F.to_date("inspection_date", "M/d/yyyy")).withColumn(
        "grade_date", F.to_date("grade_date", "M/d/yyyy")
    )
