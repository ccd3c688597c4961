"""Aux NYC ingestion surface (FIXTURES.md §5): typed CSV, date parsing."""

from __future__ import annotations

import datetime as dt

from nycitibike_data_transform_spark.sources.aux_nyc import read_inspections

INSPECTIONS_CSV = """CAMIS,DBA,BORO,CUISINE DESCRIPTION,INSPECTION DATE,ACTION,SCORE,GRADE,GRADE DATE,Latitude,Longitude,NTA
41234,CAFE X,Brooklyn,Coffee,2/20/2023,No violations,10.5,A,2/20/2023,40.69,-73.99,BK09
41235,DINER Y,Queens,American,11/1/2022,Violations cited,28.0,C,,40.74,-73.88,QN31
"""


def test_inspections_typed(spark, tmp_path):
    p = tmp_path / "inspections.csv"
    p.write_text(INSPECTIONS_CSV)
    df = read_inspections(spark, str(p))
    rows = {r["camis"]: r for r in df.collect()}
    assert rows[41234]["inspection_date"] == dt.date(2023, 2, 20)
    assert float(rows[41234]["score"]) == 10.5
    assert rows[41235]["grade_date"] is None


def test_inspections_by_nta_geo_chain(spark, sf_dir):
    """The driver query's geometric NTA must agree with the fixture's
    stored ground-truth NTA for EVERY row (not just in aggregate):
    540 fixture points, all interior by construction, so projection +
    point-in-polygon must tag each one with its source tract's NTA."""
    from nycitibike_data_transform_spark.functions.projection import lcc_forward
    from nycitibike_data_transform_spark.operators.geo_wkb import tag_points_with_zones
    from nycitibike_data_transform_spark.queries.aux_nyc import (
        INSPECTIONS_CSV as FIXTURE,
        inspections_by_nta,
        load_zones,
    )
    from nycitibike_data_transform_spark.sources.aux_nyc import read_inspections
    from pyspark.sql import functions as F

    insp = read_inspections(spark, FIXTURE)
    x, y = lcc_forward("latitude", "longitude")
    tagged = tag_points_with_zones(
        insp.withColumn("x_ft", x).withColumn("y_ft", y), load_zones(), "x_ft", "y_ft"
    )
    mismatches = tagged.filter(
        F.col("zone_id").isNull() | (F.col("zone_id") != F.col("nta"))
    ).count()
    assert mismatches == 0
    agg = inspections_by_nta(spark, sf_dir)
    assert agg.agg(F.sum("n")).first()[0] == 540


def test_aux_econ_rollup(spark, sf_dir):
    from nycitibike_data_transform_spark.queries.aux_nyc import aux_econ_by_nta

    rows = {r["borough"]: r for r in aux_econ_by_nta(spark, sf_dir).collect()}
    assert set(rows) == {"Bronx", "Brooklyn", "Manhattan", "Queens", "Staten Island"}
    for r in rows.values():
        assert 0.4 < r["lf_rate"] < 0.9  # participation rate sanity
        assert r["pop_16plus"] > r["labor_force"] > 0
