"""Partitioned materialization + dynamic partition pruning — the
upgrade the reference explicitly wanted and couldn't have (BigQuery
external tables can't partition; reference ``main.tf:301-304``,
SURVEY.md §4)."""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import functions as F

from nycitibike_data_transform_spark.pipeline import Pipeline
from nycitibike_data_transform_spark.plans import formatted_plan
from nycitibike_data_transform_spark.versioning import VersionedTable


def test_partitioned_write_and_pruned_read(spark, tmp_path, sf_dir):
    p = Pipeline(warehouse_dir=str(tmp_path / "wh"))
    p.add_source("orders", lambda s: s.read.parquet(f"{sf_dir}/orders.parquet"))
    p.add_model(
        "orders_by_year",
        lambda s, orders: orders.withColumn("order_year", F.year("o_orderdate")),
        deps=("orders",),
        partition_by=("order_year",),
    )
    built = p.run(spark)

    # hive-layout directories per partition value in the snapshot
    t = VersionedTable(str(tmp_path / "wh" / "orders_by_year"))
    years = {d.name for d in Path(t._data_dir(t.current_version())).iterdir() if d.is_dir()}
    assert any(y.startswith("order_year=") for y in years)

    # a filter on the partition column must prune at plan time
    pruned = built["orders_by_year"].filter(F.col("order_year") == 1997)
    plan = formatted_plan(pruned)
    assert "PartitionFilters" in plan
    assert "order_year" in plan.split("PartitionFilters", 1)[1].split("]", 1)[0]
    assert pruned.count() == built["orders_by_year"].filter(F.year("o_orderdate") == 1997).count()


def test_dynamic_partition_pruning_fires_on_fact_dim_join(spark, tmp_path, sf_dir):
    """A fact⋈dim join where the dim carries the selective filter must
    prune fact partitions at RUNTIME (dynamicpruning subquery in the
    scan's PartitionFilters) — the 100 TB payoff of partitioned
    layouts: the star-schema query never reads the pruned dates."""
    p = Pipeline(warehouse_dir=str(tmp_path / "wh3"))
    p.add_source("orders", lambda s: s.read.parquet(f"{sf_dir}/orders.parquet"))
    p.add_model(
        "orders_by_year",
        lambda s, orders: orders.withColumn("order_year", F.year("o_orderdate")),
        deps=("orders",),
        partition_by=("order_year",),
    )
    fact = p.run(spark)["orders_by_year"]
    dim = spark.createDataFrame(
        [(y, "keep" if y == 1997 else "drop") for y in range(1992, 1999)],
        "order_year int, tag string",
    )
    q = fact.join(dim.filter(F.col("tag") == "keep"), "order_year").select(
        "o_orderkey", "order_year"
    )
    plan = formatted_plan(q)
    assert "dynamicpruning" in plan.lower()
    assert q.count() == fact.filter(F.col("order_year") == 1997).count()


def test_partition_counts_preserved(spark, tmp_path, sf_dir):
    p = Pipeline(warehouse_dir=str(tmp_path / "wh2"))
    p.add_source("orders", lambda s: s.read.parquet(f"{sf_dir}/orders.parquet"))
    p.add_model(
        "orders_by_status",
        lambda s, orders: orders,
        deps=("orders",),
        partition_by=("o_orderstatus",),
    )
    built = p.run(spark)
    assert built["orders_by_status"].count() == spark.read.parquet(f"{sf_dir}/orders.parquet").count()
