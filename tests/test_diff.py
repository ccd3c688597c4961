"""snapshot_diff semantics on constructed snapshots."""

from __future__ import annotations

import pytest

from nycitibike_data_transform_spark.operators.diff import snapshot_diff


@pytest.fixture(scope="module")
def snapshots(spark):
    old = spark.createDataFrame(
        [
            (1, "same", 10),
            (2, "will change", 20),
            (3, "will vanish", 30),
            (4, None, 40),          # NULL payload in both -> unchanged
            (5, "NULL", 50),        # the STRING 'NULL'...
        ],
        "k long, text string, v long",
    )
    new = spark.createDataFrame(
        [
            (1, "same", 10),
            (2, "changed!", 20),
            (4, None, 40),
            (5, None, 50),          # ...becomes SQL NULL -> must be 'changed'
            (6, "brand new", 60),
        ],
        "k long, text string, v long",
    )
    return old, new


def test_statuses(spark, snapshots):
    old, new = snapshots
    got = {r["k"]: r["status"] for r in snapshot_diff(old, new, "k").collect()}
    assert got == {
        1: "unchanged",
        2: "changed",
        3: "removed",
        4: "unchanged",
        5: "changed",  # string 'NULL' vs SQL NULL must NOT collide
        6: "added",
    }


def test_composite_key_and_schema_mismatch(spark, snapshots):
    old, new = snapshots
    got = {
        (r["k"], r["v"]): r["status"]
        for r in snapshot_diff(old, new, ["k", "v"]).collect()
    }
    assert got[(1, 10)] == "unchanged" and got[(6, 60)] == "added"
    with pytest.raises(ValueError, match="schema mismatch"):
        snapshot_diff(old.drop("v"), new, "k")


def test_null_key_matches_null_safely(spark):
    """ADVICE r4: a NULL-keyed row present in both snapshots must be
    classified changed/unchanged, not double-reported added+removed."""
    old = spark.createDataFrame(
        [(None, "a"), (1, "x"), (2, "gone")], "k int, v string"
    )
    new = spark.createDataFrame(
        [(None, "b"), (1, "x"), (3, "fresh")], "k int, v string"
    )
    got = {(r["k"], r["status"]) for r in snapshot_diff(old, new, "k").collect()}
    assert got == {
        (None, "changed"),
        (1, "unchanged"),
        (2, "removed"),
        (3, "added"),
    }


def test_null_key_multi_key_null_safe(spark):
    old = spark.createDataFrame([(1, None, "a")], "k1 int, k2 int, v string")
    new = spark.createDataFrame([(1, None, "a")], "k1 int, k2 int, v string")
    got = [
        (r["k1"], r["k2"], r["status"])
        for r in snapshot_diff(old, new, ["k1", "k2"]).collect()
    ]
    assert got == [(1, None, "unchanged")]
