"""The reference's full pipeline as a declared DAG (SURVEY.md §3.1).

What ``dbt run`` does for the reference — topo-order the models,
full-refresh each — expressed over this engine's testdata models:

    seed feeds (sources)
      └─ location_dim      (≙ LOCATION_ID_TO_NEIGHBORHOOD)
          └─ stage_rides   (≙ AUX_TLC_RIDES, partitioned by feed)
              └─ mart_borough_daily  (the 4_MART layer the reference
                                      declared and never shipped)

Run with ``testdata_pipeline(sf_dir, warehouse).run(spark)`` — the
whole DAG materializes under the warehouse dir, one committed snapshot
per model per run, with dependency ordering, full-refresh semantics,
and a partitioned MART (partition pruning is live on ``ride_date``).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from nycitibike_data_transform_spark.catalog import read_parquet
from nycitibike_data_transform_spark.models.rides import stage_rides
from nycitibike_data_transform_spark.models.zones import location_dim
from nycitibike_data_transform_spark.pipeline import Pipeline


def _mart_borough_daily(spark, stage_rides):  # noqa: ANN001 - pipeline signature
    """Daily ride counts + revenue per pickup borough — the 'retail
    analysis table' (reference ``README.md:29``). Exact DECIMAL money
    math; partitioned by date for pruning."""
    return (
        stage_rides.withColumn("ride_date", F.col("pickup_ts").cast("date"))
        .groupBy("ride_date", "pickup_borough")
        .agg(
            F.count(F.lit(1)).alias("n_rides"),
            F.sum(F.col("fare_amount").cast("decimal(18,2)")).cast("double").alias("revenue"),
            F.countDistinct("pickup_location_id").alias("n_pickup_zones"),
        )
    )


def testdata_pipeline(sf_dir: str, warehouse_dir: str | None) -> Pipeline:
    """Configured DAG over the driver's testdata tables."""
    p = Pipeline(warehouse_dir=warehouse_dir)
    for table in ("lineitem", "nation", "region"):
        p.add_source(table, lambda s, t=table: read_parquet(s, f"{sf_dir}/{t}.parquet"))
    p.add_model(
        "location_dim",
        lambda s, nation, region: location_dim(nation, region),
        deps=("nation", "region"),
    )
    p.add_model(
        "stage_rides",
        lambda s, lineitem, nation, region: stage_rides(lineitem, nation, region),
        deps=("lineitem", "nation", "region"),
        partition_by=("source",),
    )
    p.add_model(
        "mart_borough_daily",
        _mart_borough_daily,
        deps=("stage_rides",),
        partition_by=("ride_date",),
    )
    return p
