"""Source readers: schema-enforced CSV seeds + parquet scans (SURVEY.md
§2.1 S1/S2)."""

from __future__ import annotations

import decimal

import pytest
from pyspark.sql import types as T

from nycitibike_data_transform_spark.sources.readers import (
    TAXI_ZONE_LOOKUP_SCHEMA,
    read_csv_seed,
    read_parquet_source,
)

SEED_CSV = """locationid,borough,zone,service_zone
1,EWR,Newark Airport,EWR
4,Manhattan,Alphabet City,Yellow Zone
23,Staten Island,Bloomfield/Emerson Hill,Boro Zone
264,Unknown,NV,N/A
265,Unknown,NA,N/A
"""


def test_seed_schema_enforced(spark, tmp_path):
    p = tmp_path / "seed.csv"
    p.write_text(SEED_CSV)
    df = read_csv_seed(spark, str(p), TAXI_ZONE_LOOKUP_SCHEMA)
    assert df.schema["locationid"].dataType == T.DecimalType(38, 9)
    rows = df.collect()
    assert len(rows) == 5
    assert rows[0]["locationid"] == decimal.Decimal("1.000000000")
    assert {r["borough"] for r in rows[-2:]} == {"Unknown"}


def test_seed_failfast_on_malformed(spark, tmp_path):
    p = tmp_path / "bad.csv"
    p.write_text("locationid,borough,zone,service_zone\nnot_a_number,x,y,z\n")
    with pytest.raises(Exception, match="Malformed|FAILFAST"):
        read_csv_seed(spark, str(p), TAXI_ZONE_LOOKUP_SCHEMA).collect()


def test_parquet_source_glob_and_merge(spark, tmp_path, sf_dir):
    # two files with overlapping-but-different schemas (the external
    # autodetect-over-many-files case, SURVEY.md §1.2)
    a = spark.createDataFrame([(1, "x")], "id bigint, a string")
    b = spark.createDataFrame([(2, 3.5)], "id bigint, b double")
    a.write.parquet(str(tmp_path / "lake" / "f1"))
    b.write.parquet(str(tmp_path / "lake" / "f2"))
    merged = read_parquet_source(
        spark, [str(tmp_path / "lake" / "f1"), str(tmp_path / "lake" / "f2")], merge_schema=True
    )
    assert set(merged.columns) == {"id", "a", "b"}
    assert merged.count() == 2


def test_parquet_source_plain(spark, sf_dir):
    df = read_parquet_source(spark, f"{sf_dir}/nation.parquet")
    assert df.count() == 25
