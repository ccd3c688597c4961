"""The refresh's data tests (``__main__.data_tests``): each check fires
alone, with its violation-frame count, when exactly its invariant is
broken; and the suite costs about half the Spark jobs it used to."""

from __future__ import annotations

import operator
from functools import reduce

import pytest
from pyspark.sql import functions as F

from nycitibike_data_transform_spark import quality
from nycitibike_data_transform_spark.__main__ import data_tests
from nycitibike_data_transform_spark.models import pipeline_def
from nycitibike_data_transform_spark.models.zones import UNKNOWN_BOROUGH


@pytest.fixture(scope="module")
def built(spark, sf_dir):
    return pipeline_def.testdata_pipeline(sf_dir, None).run(spark)


def _set(df, where, col: str, value):
    """``df`` with ``col`` set to ``value`` on the rows ``where`` holds."""
    v = F.lit(value).cast(df.schema[col].dataType)
    return df.withColumn(col, F.when(where, v).otherwise(F.col(col)))


def _one_row(df, *cols):
    """A predicate matching one row of ``df``, by its key ``cols``."""
    row = df.filter(F.col(cols[-1]).isNotNull()).first()
    return reduce(operator.and_, (F.col(c) == row[c] for c in cols))


def _dim_row(m):
    return _one_row(m["location_dim"], "location_id")


def _ride_row(m):
    return _one_row(m["stage_rides"], "order_key", "line_number")


def _mart_row(m):
    return _one_row(m["mart_borough_daily"], "ride_date", "pickup_borough")


def _longer_mart(mart):
    """The mart plus a copy shifted 100000 days: twice the rows, grain
    still unique."""
    return mart.unionByName(mart.withColumn("ride_date", F.date_add("ride_date", 100000)))


# check -> (model, corruption of that model, the check's violation frame)
CASES = {
    "location_dim.location_id unique": (
        "location_dim",
        lambda m: m["location_dim"].unionByName(m["location_dim"].filter(_dim_row(m))),
        lambda m: quality.unique_violations(m["location_dim"], ["location_id"]),
    ),
    "location_dim not-null keys": (
        "location_dim",
        lambda m: _set(m["location_dim"], _dim_row(m), "neighborhood", None),
        lambda m: quality.not_null_violations(
            m["location_dim"], ["location_id", "borough", "neighborhood"]
        ),
    ),
    "stage_rides not-null grain": (
        "stage_rides",
        lambda m: _set(m["stage_rides"], _ride_row(m), "line_number", None),
        lambda m: quality.not_null_violations(
            m["stage_rides"], ["order_key", "line_number", "source"]
        ),
    ),
    "stage_rides.source accepted values": (
        "stage_rides",
        lambda m: _set(m["stage_rides"], _ride_row(m), "source", "bus"),
        lambda m: quality.accepted_values_violations(
            m["stage_rides"], "source", ["yellow", "green", "fhv"], allow_null=False
        ),
    ),
    "stage_rides.pickup_borough relationship": (
        "stage_rides",
        lambda m: _set(m["stage_rides"], _ride_row(m), "pickup_borough", "ATLANTIS"),
        lambda m: quality.relationship_violations(
            m["stage_rides"],
            "pickup_borough",
            m["location_dim"].filter(F.col("borough") != UNKNOWN_BOROUGH),
            "borough",
        ),
    ),
    "mart grain unique": (
        "mart_borough_daily",
        lambda m: m["mart_borough_daily"].unionByName(
            m["mart_borough_daily"].filter(_mart_row(m))
        ),
        lambda m: quality.unique_violations(
            m["mart_borough_daily"], ["ride_date", "pickup_borough"]
        ),
    ),
    "mart counts positive": (
        "mart_borough_daily",
        lambda m: _set(m["mart_borough_daily"], _mart_row(m), "n_rides", 0),
        lambda m: quality.expression_violations(
            m["mart_borough_daily"], F.col("n_rides") > 0
        ),
    ),
    "mart revenue accepted range": (
        "mart_borough_daily",
        lambda m: _set(m["mart_borough_daily"], _mart_row(m), "revenue", -1.0),
        lambda m: quality.accepted_range_violations(
            m["mart_borough_daily"], "revenue", min_value=0
        ),
    ),
    "mart borough not constant": (
        "mart_borough_daily",
        lambda m: m["mart_borough_daily"].filter(_mart_row(m)),
        lambda m: quality.not_constant_violation(m["mart_borough_daily"], "pickup_borough"),
    ),
    "mart fewer rows than stage": (
        "mart_borough_daily",
        lambda m: _longer_mart(m["mart_borough_daily"]),
        lambda m: quality.fewer_rows_than_violation(m["mart_borough_daily"], m["stage_rides"]),
    ),
}


@pytest.mark.parametrize("check", list(CASES))
def test_each_check_fires_alone(built, check):
    model, corrupt, violations = CASES[check]
    models = {**built, model: corrupt(built)}
    expected = violations(models).count()
    assert expected >= 1
    with pytest.raises(quality.QualityError) as exc:
        data_tests(models)
    report = str(exc.value)
    assert report.startswith(f"{check}: {expected} violations, e.g. [")
    assert all(other not in report for other in CASES if other != check)


def test_suite_runs_in_few_jobs(built, spark_jobs, monkeypatch):
    data_tests(built)  # warm: plans analysed, sources' schemas known
    check_all, before_check = quality.check_all, []

    def counted(checks, *args, **kwargs):
        before_check.append(jobs())
        return check_all(checks, *args, **kwargs)

    monkeypatch.setattr(quality, "check_all", counted)
    with spark_jobs() as jobs:
        data_tests(built)
    # sf0.001 models (unmaterialized), local[4]: one count job per check
    # started 55 jobs, 2 of them row counts before check_all; the fused
    # evaluator starts 16. The bound is half the former
    assert before_check == [0]
    assert jobs() <= 27
