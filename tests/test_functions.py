"""Unit tests for the column-function library (SURVEY.md §5.2 layer 1)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from nycitibike_data_transform_spark.functions.decode import decode, payment_type_description
from nycitibike_data_transform_spark.functions.geo import haversine
from nycitibike_data_transform_spark.functions.text import (
    language_id,
    quality_score_columns,
    text_fingerprint,
    token_count,
)
from nycitibike_data_transform_spark.functions.money import (
    fast_charge_sum,
    fast_money_sum,
    fast_revenue_sum,
)
from nycitibike_data_transform_spark.functions.vectors import cosine_similarity, dot_product


def test_fast_money_sum_exact(spark):
    df = spark.createDataFrame([(1.01,), (2.02,), (0.97,)], "x double")
    assert df.select(fast_money_sum("x").alias("s")).first()["s"] == 4.0


def test_fast_money_sum_overflow_guard_raises(spark):
    # units = 9.1e18 (within int64) but 2 rows would wrap the sum.
    # Two defense layers, either may fire first: ANSI mode (Spark 4
    # default) raises ARITHMETIC_OVERFLOW inside the sum; with ANSI
    # off, the envelope guard raises. Never a silently-wrapped value.
    df = spark.createDataFrame([(9.1e16,), (9.1e16,)], "x double")
    with pytest.raises(Exception, match="envelope|ARITHMETIC_OVERFLOW"):
        df.select(fast_money_sum("x")).collect()
    # per-group: a bounded group aggregates fine
    big = spark.createDataFrame([("a", 1.5), ("b", 9.1e16), ("b", 9.1e16)], "g string, x double")
    ok = big.filter("g = 'a'").groupBy("g").agg(fast_money_sum("x").alias("s"))
    assert ok.first()["s"] == 1.5
    with pytest.raises(Exception, match="envelope|ARITHMETIC_OVERFLOW"):
        big.groupBy("g").agg(fast_money_sum("x")).collect()


def test_fast_money_guard_fires_with_ansi_off(spark):
    # The case ANSI can't cover: spark.sql.ansi.enabled=false makes
    # sum(long) wrap silently — the envelope guard must still raise.
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try:
        df = spark.createDataFrame([(9.1e16,), (9.1e16,)], "x double")
        with pytest.raises(Exception, match="envelope"):
            df.select(fast_money_sum("x")).collect()
    finally:
        spark.conf.unset("spark.sql.ansi.enabled")


def test_fast_sums_null_and_empty_groups_pass_guard(spark):
    df = spark.createDataFrame([("a", None), ("a", None)], "g string, x double")
    assert df.groupBy("g").agg(fast_money_sum("x").alias("s")).first()["s"] is None


def test_fast_charge_sum_guard_raises_on_envelope_breach(spark):
    # price 1e9 → 1e15 units/row at 10^-6 scale; 1e4 rows ⇒
    # max·count = 1e19 > 9e18 ⇒ guarded failure, not a wrapped sum
    # (with ANSI on the sum itself raises first — either way, no
    # silent corruption).
    rows = [(1.0e9, 0.0, 0.0)] * 10_000
    df = spark.createDataFrame(rows, "p double, d double, t double")
    with pytest.raises(Exception, match="envelope|ARITHMETIC_OVERFLOW"):
        df.select(fast_charge_sum("p", "d", "t")).collect()


def test_fast_revenue_sum_normal_values_unaffected(spark):
    df = spark.createDataFrame([(100.0, 0.05), (200.0, 0.10)], "p double, d double")
    got = df.select(fast_revenue_sum("p", "d").alias("r")).first()["r"]
    assert got == pytest.approx(100.0 * 0.95 + 200.0 * 0.90, abs=1e-9)


def test_haversine_known_distance(spark):
    # Times Square (40.758, -73.9855) to Empire State (40.7484, -73.9857):
    # ~1.06 km per standard great-circle calculators.
    df = spark.createDataFrame([(40.758, -73.9855, 40.7484, -73.9857)], "a double, b double, c double, d double")
    km = df.select(haversine("a", "b", "c", "d", "km").alias("d")).first()["d"]
    mi = df.select(haversine("a", "b", "c", "d", "mi").alias("d")).first()["d"]
    assert km == pytest.approx(1.067, abs=0.01)
    assert mi == pytest.approx(0.663, abs=0.01)
    assert km / mi == pytest.approx(6371.0 / 3959.0, rel=1e-9)


def test_haversine_identical_points_zero_not_nan(spark):
    df = spark.createDataFrame([(40.7, -74.0)], "lat double, lng double")
    d = df.select(haversine("lat", "lng", F.lit(40.7), F.lit(-74.0), "km").alias("d")).first()["d"]
    # not NaN (the clamp), and ~0 up to acos'ing a double that rounds
    # epsilon below 1.0 (≈9e-5 km of noise)
    assert d == pytest.approx(0.0, abs=1e-3)


def test_haversine_invalid_unit_raises_at_build_time():
    # plan-build-time validation (the dbt raise_compiler_error analogue)
    with pytest.raises(ValueError, match="unit"):
        haversine("a", "b", "c", "d", "furlongs")


def test_payment_decode_domain_and_null(spark):
    df = spark.createDataFrame([(i,) for i in [1, 2, 3, 4, 5, 6, 7, None]], "pt int")
    got = [r["d"] for r in df.select(payment_type_description("pt").alias("d")).collect()]
    assert got[:6] == ["Credit card", "Cash", "No charge", "Dispute", "Unknown", "Voided trip"]
    assert got[6] is None  # out-of-domain -> NULL
    assert got[7] is None  # NULL -> NULL


def test_decode_empty_mapping_raises():
    with pytest.raises(ValueError):
        decode("x", {})


def test_token_count_edges(spark):
    df = spark.createDataFrame(
        [("a b c",), ("",), ("   ",), ("one",), ("a  b\t c\n",)], "t string"
    )
    got = [r["n"] for r in df.select(token_count("t").alias("n")).collect()]
    assert got == [3, 0, 0, 1, 3]


def test_quality_scores(spark):
    df = spark.createDataFrame([("The cat, and the dog!",)], "t string")
    cols = quality_score_columns(F.col("t"))
    row = df.select(*[c.alias(k) for k, c in cols.items()]).first()
    assert row["n_tokens"] == 5
    assert row["n_chars"] == 21
    assert row["punct_ratio"] == pytest.approx(2 / 21)
    # 'the' twice + 'and' once over 5 tokens
    assert row["stopword_ratio"] == pytest.approx(3 / 5)


def test_language_id(spark):
    df = spark.createDataFrame(
        [
            ("the cat and the dog of the house",),
            ("el gato de la casa el perro",),
            ("der hund und die katze und der vogel",),
            ("xyzzy plugh",),
        ],
        "t string",
    )
    got = [r["lang"] for r in df.select(language_id("t").alias("lang")).collect()]
    assert got == ["en", "es", "de", None]


def test_fingerprint_normalization(spark):
    df = spark.createDataFrame([("Hello  World",), ("hello world",), ("other",)], "t string")
    got = [r["f"] for r in df.select(text_fingerprint("t").alias("f")).collect()]
    assert got[0] == got[1]
    assert got[0] != got[2]


def test_vector_math(spark):
    df = spark.createDataFrame([([1.0, 2.0, 3.0], [4.0, 5.0, 6.0])], "a array<float>, b array<float>")
    row = df.select(
        dot_product("a", "b").alias("dot"), cosine_similarity("a", "b").alias("cos")
    ).first()
    assert row["dot"] == pytest.approx(32.0)
    assert row["cos"] == pytest.approx(32.0 / (math.sqrt(14) * math.sqrt(77)))


def test_cosine_zero_vector_is_null(spark):
    df = spark.createDataFrame([([0.0, 0.0], [1.0, 1.0])], "a array<float>, b array<float>")
    assert df.select(cosine_similarity("a", "b").alias("c")).first()["c"] is None


def test_scrub_pii(spark):
    from nycitibike_data_transform_spark.functions.text import scrub_pii

    df = spark.createDataFrame(
        [
            ("contact bob@example.com or visit https://foo.io/x?id=1 now",),
            ("call 5551234567 today",),
            ("clean text stays clean",),
        ],
        "t string",
    )
    got = [r["s"] for r in df.select(scrub_pii("t").alias("s")).collect()]
    assert got[0] == "contact <EMAIL> or visit <URL> now"
    assert got[1] == "call <NUM> today"
    assert got[2] == "clean text stays clean"
