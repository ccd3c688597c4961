"""as-of / range join operator semantics."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from nycitibike_data_transform_spark.operators.joins import (
    as_of_join,
    range_join,
)


def _ts(minute):
    return dt.datetime(2024, 1, 1, 0, minute)


def test_asof_basic_and_equal_ts_inclusive(spark):
    left = spark.createDataFrame(
        [(1, "u", _ts(10)), (2, "u", _ts(20)), (3, "u", _ts(5))],
        "id bigint, k string, ts timestamp",
    )
    right = spark.createDataFrame(
        [("u", _ts(10), 100.0), ("u", _ts(15), 200.0)], "k string, ts timestamp, v double"
    )
    out = as_of_join(left, right, key="k", left_ts="ts", right_ts="ts", right_values=["v"])
    got = {r["id"]: r["v"] for r in out.collect()}
    assert got[3] is None  # before any right row
    assert got[1] == 100.0  # equal timestamp IS visible (rt <= lt)
    assert got[2] == 200.0  # latest prior


def test_asof_tolerance(spark):
    left = spark.createDataFrame([(1, "u", _ts(59))], "id bigint, k string, ts timestamp")
    right = spark.createDataFrame([("u", _ts(0), 1.0)], "k string, ts timestamp, v double")
    wide = as_of_join(left, right, "k", "ts", "ts", ["v"])
    tight = as_of_join(left, right, "k", "ts", "ts", ["v"], tolerance_seconds=600)
    assert wide.first()["v"] == 1.0
    assert tight.first()["v"] is None  # match older than 10 min discarded


def test_asof_null_in_matched_row_not_overwritten(spark):
    # The matched (latest) right row carries a NULL value: ASOF
    # semantics return that NULL, not an older row's non-NULL value.
    left = spark.createDataFrame([(1, "u", _ts(30))], "id bigint, k string, ts timestamp")
    right = spark.createDataFrame(
        [("u", _ts(10), 100.0, "a"), ("u", _ts(20), None, "b")],
        "k string, ts timestamp, v double, tag string",
    )
    row = as_of_join(left, right, "k", "ts", "ts", ["v", "tag"]).first()
    assert row["v"] is None and row["tag"] == "b"


def test_asof_all_values_from_same_matched_row(spark):
    # Two value columns NULL in different right rows: both projected
    # values must come from the single matched row, never mixed.
    left = spark.createDataFrame([(1, "u", _ts(30))], "id bigint, k string, ts timestamp")
    right = spark.createDataFrame(
        [("u", _ts(10), None, "x"), ("u", _ts(20), 5.0, None)],
        "k string, ts timestamp, a double, b string",
    )
    row = as_of_join(left, right, "k", "ts", "ts", ["a", "b"]).first()
    assert row["a"] == 5.0 and row["b"] is None


def test_asof_equal_ts_right_rows_deterministic(spark):
    # Ties at identical (key, ts) resolve by content hash — the same
    # winner on every run and under any input partitioning.
    left = spark.createDataFrame([(1, "u", _ts(30))], "id bigint, k string, ts timestamp")
    right = spark.createDataFrame(
        [("u", _ts(20), float(i)) for i in range(10)], "k string, ts timestamp, v double"
    )
    winners = {
        as_of_join(left, right.repartition(n), "k", "ts", "ts", ["v"]).first()["v"]
        for n in (1, 3, 7)
    }
    assert len(winners) == 1


def test_asof_column_collision_raises(spark):
    df = spark.createDataFrame([(1, "u", _ts(0), 5.0)], "id bigint, k string, ts timestamp, v double")
    with pytest.raises(ValueError, match="collide"):
        as_of_join(df, df, "k", "ts", "ts", ["v"])


def test_asof_keys_do_not_leak_across_partitions(spark):
    left = spark.createDataFrame(
        [(1, "a", _ts(10)), (2, "b", _ts(10))], "id bigint, k string, ts timestamp"
    )
    right = spark.createDataFrame([("a", _ts(5), 7.0)], "k string, ts timestamp, v double")
    got = {r["id"]: r["v"] for r in as_of_join(left, right, "k", "ts", "ts", ["v"]).collect()}
    assert got == {1: 7.0, 2: None}


def test_range_join_half_open(spark):
    fact = spark.createDataFrame([(1, 10.0), (2, 20.0), (3, 30.0)], "id bigint, x double")
    ranges = spark.createDataFrame([("lo", 0.0, 20.0), ("hi", 20.0, 40.0)], "band string, lo double, hi double")
    out = range_join(fact, ranges, F.col("x"), F.col("lo"), F.col("hi"))
    got = {r["id"]: r["band"] for r in out.collect()}
    assert got == {1: "lo", 2: "hi", 3: "hi"}  # boundary 20 goes to the upper band
