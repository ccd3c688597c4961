"""Data-quality assertion capabilities (SURVEY.md §5.2 layer 3)."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nycitibike_data_transform_spark.quality import (
    AcceptedRange,
    AcceptedValues,
    EqualRowcount,
    Expression,
    FewerRowsThan,
    NotConstant,
    NotNull,
    QualityError,
    Relationship,
    Unique,
    accepted_values_violations,
    check_all,
    expression_violations,
    not_null_violations,
    relationship_violations,
    unique_violations,
)


def test_unique_and_not_null_on_real_dim(spark, sf_dir):
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    assert unique_violations(nation, ["n_nationkey"]).count() == 0
    assert not_null_violations(nation, ["n_nationkey", "n_name"]).count() == 0


def test_unique_violations_detected(spark):
    df = spark.createDataFrame([(1, "a"), (1, "b"), (2, "c")], "k int, v string")
    v = unique_violations(df, ["k"]).collect()
    assert len(v) == 1 and v[0]["k"] == 1 and v[0]["n_rows"] == 2


def test_accepted_values(spark, sf_dir):
    lineitem = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    assert accepted_values_violations(lineitem, "l_returnflag", ["A", "N", "R"]).count() == 0
    assert accepted_values_violations(lineitem, "l_returnflag", ["A", "N"]).count() > 0


def test_accepted_values_null_handling(spark):
    df = spark.createDataFrame([("x",), (None,)], "v string")
    assert accepted_values_violations(df, "v", ["x"], allow_null=True).count() == 0
    assert accepted_values_violations(df, "v", ["x"], allow_null=False).count() == 1


def test_relationships(spark, sf_dir):
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
    assert relationship_violations(orders, "o_custkey", customer, "c_custkey").count() == 0
    orphan = spark.createDataFrame([(999999,)], "o_custkey bigint")
    assert relationship_violations(orphan, "o_custkey", customer, "c_custkey").count() == 1


def test_expression_and_check_all(spark, sf_dir):
    lineitem = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    ok = expression_violations(lineitem, F.col("l_quantity") > 0)
    bad = expression_violations(lineitem, F.col("l_discount") > 1.0)
    assert ok.count() == 0
    with pytest.raises(QualityError, match="discount_gt_one"):
        check_all({"qty_positive": ok, "discount_gt_one": bad})
    check_all({"qty_positive": ok})  # passing set raises nothing


def test_fused_counts_match_violation_frames(spark):
    # every way check_all folds a test into its relation's aggregate:
    # extra unique-key sets, distinct counts on and off the grouped
    # key, joins with NULL keys, row counts across relations, empty
    # relations and a plain frame
    df = spark.createDataFrame(
        [(1, "a", None), (1, "b", 5), (2, "b", -1), (None, "b", 3)],
        "k int, g string, v int",
    )
    parent = spark.createDataFrame([(1,), (1,), (3,)], "k int")
    same = spark.createDataFrame([(1, "x", 7), (2, "x", 7)], "k int, g string, v int")
    empty = spark.createDataFrame([], "k int, g string, v int")
    checks = {
        "df k unique": Unique(df, ["k"]),
        "df k g unique": Unique(df, ["k", "g"]),
        "df g not constant": NotConstant(df, "g"),
        "df v not null": NotNull(df, ["v"]),
        "df v range": AcceptedRange(df, "v", min_value=0),
        "df k in parent": Relationship(df, "k", parent, "k"),
        "df g values": AcceptedValues(df, "g", ["a"]),
        "df v positive": Expression(df, F.col("v") > 0),
        "df rows equal parent": EqualRowcount(df, parent),
        "df fewer rows than parent": FewerRowsThan(df, parent),
        "same g unique": Unique(same, ["g"]),
        "same g not constant": NotConstant(same, "g"),
        "same v not constant": NotConstant(same, "v"),
        "same k unique": Unique(same, ["k"]),
        "empty k unique": Unique(empty, ["k"]),
        "empty v not constant": NotConstant(empty, "v"),
        "empty fewer rows than df": FewerRowsThan(empty, df),
        "plain": df.filter(F.col("v") > 4),
    }
    expected = {
        name: (c if isinstance(c, DataFrame) else c.violations()).count()
        for name, c in checks.items()
    }
    with pytest.raises(QualityError) as exc:
        check_all(checks, sample=1)
    got = dict(re.findall(r"(?:^|; )([a-z ]+): (\d+) violations", str(exc.value)))
    assert {k: int(v) for k, v in got.items()} == {k: n for k, n in expected.items() if n}
    assert len(got) == 12


def test_freshness(spark, sf_dir):
    import datetime as dt

    from nycitibike_data_transform_spark.catalog import load_table
    from nycitibike_data_transform_spark.quality import freshness_violation

    events = load_table(spark, sf_dir, "events")
    newest = events.agg(F.max("ts").alias("m")).first()["m"]
    fresh_now = newest + dt.timedelta(hours=1)
    stale_now = newest + dt.timedelta(hours=10)
    four_hours = 4 * 3600
    assert freshness_violation(events, "ts", four_hours, fresh_now).count() == 0
    v = freshness_violation(events, "ts", four_hours, stale_now).collect()
    assert len(v) == 1 and v[0]["age_seconds"] == 36000.0


def test_freshness_empty_source_is_stale(spark):
    # a feed that stopped producing must flag, not silently pass
    # (max(ts)=NULL used to fall out of the age comparison)
    import datetime as dt

    from nycitibike_data_transform_spark.quality import freshness_violation

    empty = spark.createDataFrame([], "ts timestamp, v long")
    v = freshness_violation(empty, "ts", 3600, dt.datetime(2024, 1, 1)).collect()
    assert len(v) == 1 and v[0]["newest_row"] is None
