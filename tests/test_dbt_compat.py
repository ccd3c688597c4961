"""dbt_utils macro-surface parity (functions/dbt_compat.py +
quality.py extensions) — semantics per the public dbt_utils 1.1.1
docs, pinned on hand-checked fixtures."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from nycitibike_data_transform_spark.functions.dbt_compat import (
    SURROGATE_KEY_NULL,
    date_spine,
    deduplicate,
    generate_surrogate_key,
    safe_divide,
    star,
)
from nycitibike_data_transform_spark.quality import (
    accepted_range_violations,
    equal_rowcount_violation,
    fewer_rows_than_violation,
    mutually_exclusive_ranges_violations,
    not_constant_violation,
    not_null_proportion_violation,
    sequential_values_violations,
)


def test_surrogate_key_matches_dbt_semantics(spark):
    df = spark.createDataFrame(
        [(1, "a"), (2, None), (None, "")], "id bigint, v string"
    )
    got = {
        r["id"]: r["sk"]
        for r in df.select("id", generate_surrogate_key("id", "v").alias("sk")).collect()
    }
    def dbt_md5(*vals):
        parts = [v if v is not None else SURROGATE_KEY_NULL for v in vals]
        return hashlib.md5("-".join(parts).encode()).hexdigest()
    assert got[1] == dbt_md5("1", "a")
    assert got[2] == dbt_md5("2", None)
    assert got[None] == dbt_md5(None, "")
    # NULL and '' must produce DIFFERENT keys (the 1.x sentinel fix)
    assert dbt_md5("2", None) != dbt_md5("2", "")


def test_safe_divide_null_on_zero_and_null(spark):
    df = spark.createDataFrame(
        [(10.0, 2.0), (1.0, 0.0), (1.0, None), (None, 5.0)], "n double, d double"
    )
    got = [r["q"] for r in df.select(safe_divide(F.col("n"), F.col("d")).alias("q")).collect()]
    assert got == [5.0, None, None, None]


def test_star_excludes_and_validates(spark):
    df = spark.createDataFrame([(1, "x", 2.0)], "a int, b string, c double")
    assert [c._jc.toString() for c in star(df, ["b"])] == ["a", "c"]
    with pytest.raises(ValueError, match="nope"):
        star(df, ["nope"])


def test_date_spine_day_end_exclusive(spark):
    spine = date_spine(spark, "day", "2024-02-27", "2024-03-02")
    days = sorted(str(r["date_day"]) for r in spine.collect())
    # leap day included, end date EXCLUDED
    assert days == ["2024-02-27", "2024-02-28", "2024-02-29", "2024-03-01"]


def test_date_spine_rejects_unknown_datepart(spark):
    with pytest.raises(ValueError, match="datepart"):
        date_spine(spark, "fortnight", "2024-01-01", "2024-02-01")


def test_deduplicate_keeps_ordered_winner(spark):
    df = spark.createDataFrame(
        [(1, 10, "old"), (1, 20, "new"), (2, 5, "only")], "k int, v int, tag string"
    )
    got = {
        r["k"]: r["tag"]
        for r in deduplicate(df, ["k"], [F.col("v").desc()]).collect()
    }
    assert got == {1: "new", 2: "only"}


def test_equal_rowcount_and_fewer_rows(spark, spark_jobs):
    a, b = spark.range(5), spark.range(5)
    with spark_jobs() as jobs:  # lazy: building either frame counts nothing
        equal = equal_rowcount_violation(a, spark.range(6))
        fewer = fewer_rows_than_violation(a, b)
    assert jobs() == 0
    assert equal.collect() == [(5, 6)] and equal.columns == ["count_a", "count_b"]
    assert fewer.collect() == [(5, 5)] and fewer.columns == ["count_df", "count_than"]
    assert equal_rowcount_violation(a, b).count() == 0
    assert fewer_rows_than_violation(a, spark.range(6)).count() == 0


def test_not_null_proportion(spark):
    df = spark.createDataFrame([(1,), (None,), (3,), (4,)], "v int")
    assert not_null_proportion_violation(df, "v", 0.5).count() == 0
    assert not_null_proportion_violation(df, "v", 0.9).count() == 1
    empty = spark.createDataFrame([], "v int")
    assert not_null_proportion_violation(empty, "v", 0.9).count() == 0


def test_accepted_range(spark):
    df = spark.createDataFrame([(0,), (5,), (11,), (None,)], "v int")
    assert accepted_range_violations(df, "v", 0, 10).count() == 1  # just 11
    # exclusive bounds: 0 now violates too
    assert accepted_range_violations(df, "v", 0, 10, inclusive=False).count() == 2


def test_not_constant(spark):
    same = spark.createDataFrame([(7,), (7,)], "v int")
    mixed = spark.createDataFrame([(7,), (8,)], "v int")
    assert not_constant_violation(same, "v").count() == 1
    assert not_constant_violation(mixed, "v").count() == 0
    assert not_constant_violation(spark.createDataFrame([], "v int"), "v").count() == 0


def test_sequential_values(spark):
    df = spark.createDataFrame([(1,), (2,), (3,), (5,)], "v int")
    bad = [r["v"] for r in sequential_values_violations(df, "v").collect()]
    assert bad == [5]
    per_part = spark.createDataFrame(
        [("a", 1), ("a", 2), ("b", 1), ("b", 3)], "p string, v int"
    )
    bad2 = [
        (r["p"], r["v"])
        for r in sequential_values_violations(per_part, "v", partition_by="p").collect()
    ]
    assert bad2 == [("b", 3)]


def test_mutually_exclusive_ranges(spark):
    df = spark.createDataFrame(
        [(0, 10), (10, 20), (15, 30), (40, 40)], "lo int, hi int"
    )
    bad = sorted(
        (r["lo"], r["hi"])
        for r in mutually_exclusive_ranges_violations(df, "lo", "hi").collect()
    )
    assert bad == [(15, 30), (40, 40)]  # overlap + zero-length


def test_date_spine_other_dateparts(spark):
    from nycitibike_data_transform_spark.functions.dbt_compat import date_spine

    assert date_spine(spark, "month", "2024-01-01", "2025-01-01").count() == 12
    assert date_spine(spark, "hour", "2024-01-01", "2024-01-02").count() == 24
    assert date_spine(spark, "year", "2020-01-01", "2024-01-01").count() == 4
    weeks = [str(r["date_week"]) for r in date_spine(spark, "week", "2024-01-01", "2024-01-22").collect()]
    assert weeks == ["2024-01-01", "2024-01-08", "2024-01-15"]


def test_date_spine_empty_and_inverted_range(spark):
    from nycitibike_data_transform_spark.functions.dbt_compat import date_spine

    assert date_spine(spark, "day", "2024-01-02", "2024-01-02").count() == 0
    assert date_spine(spark, "day", "2024-01-05", "2024-01-02").count() == 0
    assert date_spine(spark, "month", "2024-05-01", "2024-05-01").count() == 0
    assert date_spine(spark, "month", "2024-05-02", "2024-05-01").count() == 0


def test_date_spine_month_end_of_month_boundary(spark):
    """ADVICE r7 (medium): sequence(start, end - 1 month, 1 month)
    silently dropped the final period whenever start's day-of-month
    exceeds end's. dbt semantics: n = boundary-crossing datediff,
    rows = dateadd(month, i, start) — start+2 months = 2024-03-31 is
    inside [start, end) and MUST appear."""
    spine = date_spine(spark, "month", "2024-01-31", "2024-04-15")
    got = [str(r["date_month"]) for r in spine.collect()]
    assert got == ["2024-01-31", "2024-02-29", "2024-03-31"]


def test_date_spine_month_year_property_vs_duckdb(spark):
    """Boundary-crossing n + per-addition day-clamping must match
    DuckDB's ``start + i * INTERVAL 1 <part>`` over
    ``range(0, greatest(datediff(part, start, end), 0))`` for
    end-of-month starts, leap days, and inverted ranges alike."""
    import itertools

    import duckdb

    from nycitibike_data_transform_spark.functions.dbt_compat import date_spine

    starts = ["2023-01-31", "2024-02-29", "2023-12-31", "2023-06-30", "2023-01-15"]
    ends = ["2023-02-01", "2023-03-30", "2023-03-31", "2025-02-28", "2022-06-01"]
    for dp, (s, e) in itertools.product(
        ("month", "year"), itertools.product(starts, ends)
    ):
        got = [str(r[0]) for r in date_spine(spark, dp, s, e).collect()]
        want = [
            str(r[0])
            for r in duckdb.sql(
                f"SELECT CAST(TIMESTAMP '{s}' + (i * INTERVAL 1 {dp}) AS DATE) "
                f"FROM range(0, greatest(datediff('{dp}', DATE '{s}', "
                f"DATE '{e}'), 0)) t(i)"
            ).fetchall()
        ]
        assert got == want, (dp, s, e)


def test_get_column_values_orders_and_caps(spark):
    from nycitibike_data_transform_spark.functions.dbt_compat import (
        get_column_values,
    )

    df = spark.createDataFrame(
        [("b",), ("a",), ("b",), ("c",), ("b",), ("a",), (None,)], "v string"
    )
    # dbt default: most frequent first, value tie-break; NULLs excluded
    assert get_column_values(df, "v") == ["b", "a", "c"]
    assert get_column_values(df, "v", order_by="value") == ["a", "b", "c"]
    assert get_column_values(df, "v", max_records=2) == ["b", "a"]
    empty = df.filter(F.col("v").isNull())
    assert get_column_values(empty, "v", default=["x"]) == ["x"]
    assert get_column_values(empty, "v") == []
    with pytest.raises(ValueError, match="order_by"):
        get_column_values(df, "v", order_by="rand")


def test_get_relations_by_pattern(spark):
    from nycitibike_data_transform_spark.functions.dbt_compat import (
        get_relations_by_pattern,
    )

    spark.createDataFrame([(1,)], "x int").createOrReplaceTempView(
        "core_4_mart__alpha"
    )
    spark.createDataFrame([(1,)], "x int").createOrReplaceTempView(
        "core_4_mart__beta"
    )
    spark.createDataFrame([(1,)], "x int").createOrReplaceTempView(
        "dev_4_mart__alpha"
    )
    got = get_relations_by_pattern(spark, "core_4_mart__%")
    assert got == ["core_4_mart__alpha", "core_4_mart__beta"]
    # SQL '_' wildcard matches exactly one character
    assert get_relations_by_pattern(spark, "core_4_mart__alph_") == [
        "core_4_mart__alpha"
    ]
    for v in ("core_4_mart__alpha", "core_4_mart__beta", "dev_4_mart__alpha"):
        spark.catalog.dropTempView(v)


def test_pivot_columns_matches_dbt_expression_shape(spark):
    from nycitibike_data_transform_spark.functions.dbt_compat import (
        get_column_values,
        pivot_columns,
    )

    df = spark.createDataFrame(
        [("us", "a", 2), ("us", "b", 3), ("eu", "a", 5), ("eu", "a", 7)],
        "region string, k string, n int",
    )
    vals = get_column_values(df, "k", order_by="value")
    got = {
        r["region"]: (r["a"], r["b"])
        for r in df.groupBy("region").agg(*pivot_columns("k", vals)).collect()
    }
    # default: sum(CASE WHEN k = v THEN 1 ELSE 0 END) — occurrence counts
    assert got == {"us": (1, 1), "eu": (2, 0)}
    got2 = {
        r["region"]: (r["sum_a"], r["sum_b"])
        for r in df.groupBy("region")
        .agg(
            *pivot_columns(
                "k", vals, agg="sum", then_value=F.col("n"), else_value=0,
                prefix="sum_",
            )
        )
        .collect()
    }
    assert got2 == {"us": (2, 3), "eu": (12, 0)}
    with pytest.raises(ValueError, match="agg"):
        pivot_columns("k", vals, agg="median")


def test_date_spine_substep_range_returns_start(spark):
    """Code-review r8: 0 < end - start < step crashed sequence() with
    inverted boundaries; the correct spine is [start] alone (start is
    inside [start, end))."""
    from nycitibike_data_transform_spark.functions.dbt_compat import date_spine

    got = [str(r["date_week"]) for r in
           date_spine(spark, "week", "2024-01-01", "2024-01-03").collect()]
    assert got == ["2024-01-01"]
    assert date_spine(spark, "hour", "2024-01-01 00:00:00",
                      "2024-01-01 00:30:00").count() == 1
    # boundary: end - start == step still yields exactly one row
    got2 = [str(r["date_week"]) for r in
            date_spine(spark, "week", "2024-01-01", "2024-01-08").collect()]
    assert got2 == ["2024-01-01"]
