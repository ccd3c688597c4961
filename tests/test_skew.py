"""Skew-split join operators: result parity with the plain join on a
hot-keyed fixture, plus the plan/distribution properties that are the
operators' whole point.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from nycitibike_data_transform_spark.operators.skew import hot_keys, skew_split_join


@pytest.fixture(scope="module")
def skewed(spark):
    # key 1 is hot (300 rows), keys 2..11 have 3 rows each, key 99
    # appears only on the big side (exercises left-join misses)
    big_rows = [(1, i) for i in range(300)]
    big_rows += [(k, i) for k in range(2, 12) for i in range(3)]
    big_rows += [(99, 0)]
    big = spark.createDataFrame(big_rows, "k long, payload long")
    small = spark.createDataFrame(
        [(k, f"dim{k}") for k in range(1, 12)], "k long, label string"
    )
    return big, small


def _as_set(df):
    return {tuple(r) for r in df.collect()}


def test_hot_keys_finds_only_hot(spark, skewed):
    big, _ = skewed
    got = {r["k"]: r["n_rows"] for r in hot_keys(big, "k", 100).collect()}
    assert got == {1: 300}


def test_hot_keys_composite(spark):
    df = spark.createDataFrame(
        [(1, "a")] * 10 + [(1, "b"), (2, "a")], "k long, sub string"
    )
    got = {
        (r["k"], r["sub"]): r["n_rows"]
        for r in hot_keys(df, ["k", "sub"], 5).collect()
    }
    assert got == {(1, "a"): 10}


def test_skew_split_join_parity(spark, skewed):
    big, small = skewed
    hot = hot_keys(big, "k", 100)
    for how in ("inner", "left"):
        plain = _as_set(big.join(small, "k", how))
        split = _as_set(skew_split_join(big, small, "k", hot, how=how))
        assert split == plain and plain
    # left join keeps the dim-less key 99
    left = _as_set(skew_split_join(big, small, "k", hot, how="left"))
    assert any(k == 99 and label is None for k, _, label in left)


def test_skew_split_join_hot_path_broadcasts(spark, skewed):
    from nycitibike_data_transform_spark.plans import formatted_plan

    big, small = skewed
    plan = formatted_plan(skew_split_join(big, small, "k", hot_keys(big, "k", 100)))
    assert "BroadcastHashJoin" in plan


def test_skew_split_join_empty_hot_degenerates_cleanly(spark, skewed):
    big, small = skewed
    no_hot = hot_keys(big, "k", 10_000)  # nothing crosses the bar
    assert _as_set(skew_split_join(big, small, "k", no_hot)) == _as_set(
        big.join(small, "k")
    )


def test_skew_split_join_rejects_unsupported_how(spark, skewed):
    big, small = skewed
    with pytest.raises(ValueError, match="inner/left"):
        skew_split_join(big, small, "k", hot_keys(big, "k", 100), how="full")
