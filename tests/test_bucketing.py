"""Bucketed tables (bucketing.py): pre-shuffled storage so repeated
joins on the bucket key are co-located (zero Exchange) — the 100 TB
answer to "this join runs every 4 hours on the same key"."""

from __future__ import annotations

import glob
import uuid

import pytest
from pyspark.sql import functions as F

from nycitibike_data_transform_spark.bucketing import colocated_join, write_bucketed
from nycitibike_data_transform_spark.plans import count_exchanges, formatted_plan


@pytest.fixture(scope="module")
def bucketed_tables(spark, sf_dir, tmp_path_factory):
    base = tmp_path_factory.mktemp("bucketed")
    suffix = uuid.uuid4().hex[:8]
    orders_t, lineitem_t = f"orders_b_{suffix}", f"lineitem_b_{suffix}"
    write_bucketed(
        spark.read.parquet(f"{sf_dir}/orders.parquet"),
        orders_t,
        "o_orderkey",
        8,
        path=str(base / orders_t),
    )
    write_bucketed(
        spark.read.parquet(f"{sf_dir}/lineitem.parquet"),
        lineitem_t,
        "l_orderkey",
        8,
        path=str(base / lineitem_t),
    )
    yield orders_t, lineitem_t, str(base)
    spark.sql(f"DROP TABLE IF EXISTS {orders_t}")
    spark.sql(f"DROP TABLE IF EXISTS {lineitem_t}")


def test_bucketed_join_has_no_shuffle(spark, bucketed_tables):
    orders_t, lineitem_t, _ = bucketed_tables
    o = spark.table(orders_t)
    l = spark.table(lineitem_t)
    joined = colocated_join(l, o, l.l_orderkey == o.o_orderkey).select(
        "o_orderkey", "l_quantity"
    )
    plan = formatted_plan(joined)
    assert count_exchanges(joined) == 0, plan
    assert "SortMergeJoin" in plan, plan


def test_bucketed_agg_has_no_shuffle(spark, bucketed_tables):
    _, lineitem_t, _ = bucketed_tables
    l = spark.table(lineitem_t)
    agg = l.groupBy("l_orderkey").agg(F.count(F.lit(1)).alias("n"))
    assert count_exchanges(agg) == 0, formatted_plan(agg)


def test_one_file_per_bucket(spark, bucketed_tables):
    # files = partitions × buckets unless the writer repartitions by
    # the bucket expression first; >1 file per bucket also voids the
    # sortBy metadata (see bucketing.py docstring)
    orders_t, lineitem_t, base = bucketed_tables
    for t in (orders_t, lineitem_t):
        files = glob.glob(f"{base}/{t}/part-*.parquet")
        assert len(files) == 8, sorted(files)


def test_mismatched_bucket_counts_coalesce(spark, sf_dir, bucketed_tables, tmp_path):
    # 16-bucket ⋈ 8-bucket joins shuffle-free via bucket coalescing
    # (session conf spark.sql.bucketing.coalesceBucketsInJoin.enabled)
    _, lineitem_t, _ = bucketed_tables
    orders16 = f"orders_b16_{uuid.uuid4().hex[:8]}"
    write_bucketed(
        spark.read.parquet(f"{sf_dir}/orders.parquet"),
        orders16,
        "o_orderkey",
        16,
        path=str(tmp_path / orders16),
    )
    try:
        o = spark.table(orders16)
        l = spark.table(lineitem_t)
        joined = colocated_join(o, l, o.o_orderkey == l.l_orderkey).select(
            "o_orderkey", "l_quantity"
        )
        assert count_exchanges(joined) == 0, formatted_plan(joined)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {orders16}")


def test_bucketed_results_match_plain(spark, sf_dir, bucketed_tables):
    # layout must never change answers: full row-level parity with the
    # plain (unbucketed) join, not just a count
    orders_t, lineitem_t, _ = bucketed_tables
    o, l = spark.table(orders_t), spark.table(lineitem_t)
    bucketed = (
        colocated_join(l, o, l.l_orderkey == o.o_orderkey)
        .groupBy("o_orderkey")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("l_quantity").alias("qty"))
    )
    plain_l = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    plain_o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    plain = (
        plain_l.join(plain_o, plain_l.l_orderkey == plain_o.o_orderkey)
        .groupBy("o_orderkey")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("l_quantity").alias("qty"))
    )
    assert sorted(map(tuple, bucketed.collect())) == sorted(
        map(tuple, plain.collect())
    )


def test_write_bucketed_rejects_bad_bucket_count(spark, sf_dir, tmp_path):
    with pytest.raises(ValueError, match="num_buckets"):
        write_bucketed(
            spark.read.parquet(f"{sf_dir}/orders.parquet"),
            "never_created",
            "o_orderkey",
            0,
            path=str(tmp_path / "never_created"),
        )


def test_bucketed_write_keeps_null_and_skewed_keys(spark, tmp_path):
    # NULL bucket keys and heavy key skew must survive the layout
    # round-trip exactly — bucketing is storage, never a filter
    rows = [(None, "n")] * 7 + [(1, "a")] * 500 + [(k, "b") for k in range(2, 40)]
    df = spark.createDataFrame(rows, "k int, v string")
    t = f"bkt_nulls_{uuid.uuid4().hex[:8]}"
    write_bucketed(df, t, "k", 4, path=str(tmp_path / t))
    try:
        got = spark.table(t)
        assert got.count() == len(rows)
        assert got.filter(F.col("k").isNull()).count() == 7
        assert got.filter(F.col("k") == 1).count() == 500
        # groupBy on the bucket key still plans shuffle-free with
        # nulls present
        agg = got.groupBy("k").agg(F.count(F.lit(1)).alias("n"))
        assert count_exchanges(agg) == 0, formatted_plan(agg)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {t}")
