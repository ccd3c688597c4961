"""Aux-NYC dataset queries — the reference's declared-but-never-
modeled surface (reference ``notes.md:196-207``: the aux NYC sources
were staged manually and never got SQL models; only data dictionaries
and samples ship under ``ref/``).

Two driver-checked queries close that gap, over synthetic
repo-resident fixtures (``tests/fixtures/``, generated with fixed
seeds by ``tools/make_aux_fixtures.py``):

- ``aux_econ_by_nta``: typed CSV ingestion of the NTA economics table
  (one row per NTA, the real table's ``Borough``/``Pop16plE``/``LFE``
  columns) + borough-level aggregation. Plain SQL oracle over the same
  file.
- ``inspections_by_nta``: the geo-enrichment pipeline the reference
  implied but never built — string-date parsing, WGS84→EPSG:2263
  forward projection (closed-form Column trig, no UDF), WKB
  point-in-polygon against the NTA zones parquet (concave tracts,
  MultiPolygons, and holes holding other NTAs' tracts), then a
  grouped aggregate. The oracle aggregates on the fixture's stored
  NTA codes (ground-truth by construction), so a hash match
  certifies the whole projection + ray-casting chain, not just the
  groupBy.

Scale posture: the zones dimension (2,327 polygons in the reference's
real parquet) is collected driver-side once per query — index
metadata, like an ANN quantizer (``operators/geo_wkb.py``) — while
the point table streams through ``mapInPandas`` in Arrow batches with
a bbox prefilter; the projection itself is pure codegen expressions. At 100 TB the point
table never shuffles for this enrichment.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nycitibike_data_transform_spark.functions.projection import lcc_forward
from nycitibike_data_transform_spark.operators.geo_wkb import tag_points_with_zones
from nycitibike_data_transform_spark.queries import QuerySpec
from nycitibike_data_transform_spark.sources.aux_nyc import read_inspections

_FIXTURES = Path(__file__).resolve().parents[2] / "tests" / "fixtures"
ECON_CSV = str(_FIXTURES / "nyc_econ_by_nta.csv")
ZONES_PARQUET = str(_FIXTURES / "nyc_nta_zones.parquet")
INSPECTIONS_CSV = str(_FIXTURES / "nyc_restaurant_inspections_sample.csv")


def aux_econ_by_nta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Borough rollup of the NTA economics table: NTA count, 16+
    population, labor force, participation rate."""
    raw = spark.read.csv(ECON_CSV, header=True)
    df = raw.select(
        F.col("Borough").alias("borough"),
        F.col("Pop16plE").cast("long").alias("pop"),
        F.col("LFE").cast("long").alias("lf"),
    )
    return df.groupBy("borough").agg(
        F.count(F.lit(1)).alias("n_nta"),
        F.sum("pop").alias("pop_16plus"),
        F.sum("lf").alias("labor_force"),
        F.round(F.sum("lf") / F.sum("pop"), 6).alias("lf_rate"),
    )


_AUX_ECON_SQL = f"""
SELECT
  Borough AS borough,
  CAST(count(*) AS BIGINT) AS n_nta,
  CAST(sum(CAST(Pop16plE AS BIGINT)) AS BIGINT) AS pop_16plus,
  CAST(sum(CAST(LFE AS BIGINT)) AS BIGINT) AS labor_force,
  round(CAST(sum(CAST(LFE AS BIGINT)) AS DOUBLE) / sum(CAST(Pop16plE AS BIGINT)), 6) AS lf_rate
FROM read_csv('{ECON_CSV}', header=true)
GROUP BY Borough
"""


def load_zones() -> list[tuple[str, bytes]]:
    """(NTA2020, wkb) pairs of the zones dimension, read driver-side
    with pyarrow directly — it is index metadata for the mapInPandas
    closure (like an ANN quantizer), so spinning a Spark job + collect
    for it only added ~4 s of cold-start per query run."""
    import pyarrow.parquet as pq

    tbl = pq.read_table(ZONES_PARQUET, columns=["NTA2020", "geometry"])
    return list(zip(tbl["NTA2020"].to_pylist(), tbl["geometry"].to_pylist()))


def inspections_by_nta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(NTA, grade) inspection stats where the NTA is computed
    GEOMETRICALLY: lat/lng → EPSG:2263 → point-in-polygon against the
    zones fixture's tract polygons. The oracle groups by the
    fixture's stored NTA codes instead — matching hashes prove the
    geo chain end-to-end."""
    insp = read_inspections(spark, INSPECTIONS_CSV)
    x, y = lcc_forward("latitude", "longitude")
    projected = insp.withColumn("x_ft", x).withColumn("y_ft", y)
    tagged = tag_points_with_zones(projected, load_zones(), x_col="x_ft", y_col="y_ft")
    return tagged.groupBy(
        F.col("zone_id").alias("nta"), F.col("grade")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("score").cast("double").alias("sum_score"),
        F.min("inspection_date").alias("first_inspection"),
    )


_INSPECTIONS_SQL = f"""
SELECT
  NTA AS nta,
  GRADE AS grade,
  CAST(count(*) AS BIGINT) AS n,
  CAST(CAST(sum(CAST(SCORE AS DECIMAL(10,2))) AS STRING) AS DOUBLE) AS sum_score,
  min(CAST(strptime("INSPECTION DATE", '%m/%d/%Y') AS DATE)) AS first_inspection
FROM read_csv('{INSPECTIONS_CSV}', header=true,
              types={{'SCORE': 'VARCHAR', 'CAMIS': 'BIGINT',
                      'INSPECTION DATE': 'VARCHAR'}})
GROUP BY NTA, GRADE
"""

QUERIES: dict[str, QuerySpec] = {
    "aux_econ_by_nta": QuerySpec(aux_econ_by_nta, _AUX_ECON_SQL),
    "inspections_by_nta": QuerySpec(inspections_by_nta, _INSPECTIONS_SQL),
}
