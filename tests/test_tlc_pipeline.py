"""End-to-end reference-parity pipeline on real TLC schemas
(FIXTURES.md §1-§3): seed → dim → 4-feed stage."""

from __future__ import annotations

import datetime as dt
import decimal

from pyspark.sql import functions as F

from nycitibike_data_transform_spark.models.tlc import (
    TLC_RIDE_SPEC,
    aux_tlc_rides,
    location_id_to_neighborhood,
)
from nycitibike_data_transform_spark.sources.readers import (
    TAXI_ZONE_LOOKUP_SCHEMA,
    read_csv_seed,
)

SEED_CSV = """locationid,borough,zone,service_zone
1,EWR,Newark Airport,EWR
4,Manhattan,Alphabet City,Yellow Zone
23,Staten Island,Bloomfield/Emerson Hill,Boro Zone
264,Unknown,NV,N/A
265,Unknown,NA,N/A
"""

T0 = dt.datetime(2024, 1, 1, 8, 0)


def _seed_dim(spark, tmp_path):
    p = tmp_path / "seed.csv"
    p.write_text(SEED_CSV)
    return location_id_to_neighborhood(
        read_csv_seed(spark, str(p), TAXI_ZONE_LOOKUP_SCHEMA)
    )


def _feeds(spark):
    yellow = spark.createDataFrame(
        [
            (T0, T0, 4, 23, 1, 2.5, 1, 10.0, 2.0, 0.0, 1.75, 2.5, 0.3, 0.5, 1.0, 17.05, 1, "N", 2),
            (T0, T0, 264, 4, 2, 1.0, 1, 5.0, 0.0, 0.0, 0.0, 2.5, 0.3, 0.5, 0.0, 8.3, 0, "Y", 1),
        ],
        "tpep_pickup_datetime timestamp, tpep_dropoff_datetime timestamp, PULocationID bigint,"
        " DOLocationID bigint, passenger_count bigint, trip_distance double, RatecodeID bigint,"
        " fare_amount double, tip_amount double, tolls_amount double, Airport_fee double,"
        " congestion_surcharge double, improvement_surcharge double, mta_tax double,"
        " extra double, total_amount double, payment_type bigint, store_and_fwd_flag string,"
        " VendorID bigint",
    )
    green = spark.createDataFrame(
        [(T0, T0, 23, 1, 1, 3.0, 1, 2, 12.0, 1.0, 0.0, 0.0, 2.75, 0.3, 0.5, 0.0, 16.55, 2, "N", 2)],
        "lpep_pickup_datetime timestamp, lpep_dropoff_datetime timestamp, PULocationID bigint,"
        " DOLocationID bigint, passenger_count bigint, trip_distance double, RatecodeID bigint,"
        " trip_type bigint, fare_amount double, tip_amount double, tolls_amount double,"
        " ehail_fee double, congestion_surcharge double, improvement_surcharge double,"
        " mta_tax double, extra double, total_amount double, payment_type bigint,"
        " store_and_fwd_flag string, VendorID bigint",
    )
    fhv = spark.createDataFrame(
        [(T0, T0, 1, 4, 1, "B00001", "B00002")],
        "pickup_datetime timestamp, dropOff_datetime timestamp, PUlocationID bigint,"
        " DOlocationID bigint, SR_Flag bigint, dispatching_base_num string,"
        " Affiliated_base_number string",
    )
    fhvhv = spark.createDataFrame(
        [(T0, T0, 4, 265, 5.5, 25.0, 3.0, 0.0, 0.0, 2.75, "HV0003", "B03404", "B03404")],
        "Pickup_datetime timestamp, DropOff_datetime timestamp, PULocationID bigint,"
        " DOLocationID bigint, trip_miles double, base_passenger_fare double, tips double,"
        " tolls double, airport_fee double, congestion_surcharge double,"
        " Hvfhs_license_num string, Dispatching_base_num string, originating_base_num string",
    )
    return {"yellow": yellow, "green": green, "fhv": fhv, "fhvhv": fhvhv}


def test_dim_model(spark, tmp_path):
    dim = _seed_dim(spark, tmp_path)
    assert dim.columns == ["location_id", "borough", "neighborhood", "service_zone"]
    rows = {int(r["location_id"]): r for r in dim.collect()}
    assert rows[23]["service_zone"] == "Green Zone"  # Boro -> Green (P5)
    assert rows[4]["neighborhood"] == "Alphabet City"


def test_stage_schema_is_canonical_28_cols(spark, tmp_path):
    staged = aux_tlc_rides(_feeds(spark), _seed_dim(spark, tmp_path))
    expected = [*TLC_RIDE_SPEC.columns, "source", "pickup_borough", "pickup_neighborhood",
                "dropoff_borough", "dropoff_neighborhood", "payment_type_desc"]
    assert staged.columns == expected
    assert len(TLC_RIDE_SPEC.columns) == 24  # FIXTURES.md §3


def test_stage_semantics(spark, tmp_path):
    staged = aux_tlc_rides(_feeds(spark), _seed_dim(spark, tmp_path)).collect()
    assert len(staged) == 5  # union all keeps every ride
    by_src = {}
    for r in staged:
        by_src.setdefault(r["source"], []).append(r)

    y_known, y_unknown = sorted(by_src["yellow"], key=lambda r: r["pickup_location_id"])
    assert y_known["vendor_id"] == "2"  # bigint VendorID cast to string
    assert y_known["payment_type_desc"] == "Credit card"
    assert y_known["pickup_borough"] == "Manhattan"
    # ride pointing at an 'Unknown' zone keeps its row, NULL enrichment
    assert y_unknown["pickup_location_id"] == 264
    assert y_unknown["pickup_borough"] is None
    assert y_unknown["payment_type_desc"] is None  # payment_type 0 out of domain

    (g,) = by_src["green"]
    assert g["airport_fee"] is None  # green lacks Airport_fee -> NULL pad
    assert g["trip_type"] == 2

    (f,) = by_src["fhv"]
    assert f["vendor_id"] == ""  # '' pad, not NULL
    assert f["fare_amount"] is None
    assert f["sr_flag"] == "1"

    (h,) = by_src["fhvhv"]
    assert h["vendor_id"] == "HV0003"  # string license num unified
    assert h["trip_distance"] == 5.5
    assert h["dropoff_borough"] is None  # 265 = Unknown zone


def test_dim_filter_happens_before_join_not_after(spark, tmp_path):
    """If the filter ran after the joins, unknown-zone rides would be
    dropped; they must survive with NULL enrichment."""
    staged = aux_tlc_rides(_feeds(spark), _seed_dim(spark, tmp_path))
    unknown_rides = staged.filter(F.col("pickup_location_id").isin([264, 265]))
    assert unknown_rides.count() == 1


def test_tlc_pipeline_via_parquet_roundtrip(spark, tmp_path):
    """Schema-on-read end-to-end: feeds written as parquet files (the
    lake layout), read back via read_parquet_source, staged, and
    materialized — the full reference deployment path on disk."""
    from nycitibike_data_transform_spark.sources.readers import read_parquet_source

    feeds = _feeds(spark)
    lake = tmp_path / "lake"
    for name, df in feeds.items():
        df.write.mode("overwrite").parquet(str(lake / name))
    reread = {name: read_parquet_source(spark, str(lake / name)) for name in feeds}
    staged = aux_tlc_rides(reread, _seed_dim(spark, tmp_path))
    out = tmp_path / "warehouse" / "aux_tlc_rides"
    staged.write.mode("overwrite").partitionBy("source").parquet(str(out))
    back = spark.read.parquet(str(out))
    assert back.count() == 5
    assert {d.name for d in out.iterdir() if d.is_dir()} == {
        "source=yellow", "source=green", "source=fhv", "source=fhvhv",
    }


def test_env_qualified_materialization(spark, tmp_path):
    """CORE/DEV environment isolation via a per-env warehouse path
    (the reference's dataset-prefix scheme, terraform main.tf:239-255)."""
    staged = aux_tlc_rides(_feeds(spark), _seed_dim(spark, tmp_path))
    for env in ("core", "dev"):
        path = str(tmp_path / "wh" / env / "2_stg" / "aux_tlc_rides")
        staged.write.mode("overwrite").parquet(path)
    core = spark.read.parquet(str(tmp_path / "wh" / "core" / "2_stg" / "aux_tlc_rides"))
    dev = spark.read.parquet(str(tmp_path / "wh" / "dev" / "2_stg" / "aux_tlc_rides"))
    assert core.count() == dev.count() == 5
