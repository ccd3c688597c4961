"""Deterministic sampling/splitting semantics."""

from __future__ import annotations

import pytest

from nycitibike_data_transform_spark.operators.sampling import (
    hash_sample,
    train_test_split,
)


def test_hash_sample_deterministic_and_roughly_sized(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    s1 = {r["doc_id"] for r in hash_sample(docs, 0.2, "doc_id").collect()}
    s2 = {r["doc_id"] for r in hash_sample(docs, 0.2, "doc_id").collect()}
    assert s1 == s2  # re-run identical
    assert 0.1 < len(s1) / docs.count() < 0.3
    # larger fraction is a superset (monotone in the same hash order)
    s_half = {r["doc_id"] for r in hash_sample(docs, 0.5, "doc_id").collect()}
    assert s1 <= s_half


def test_train_test_split_disjoint_exhaustive(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    train, test = train_test_split(docs, "doc_id", test_fraction=0.25)
    tr = {r["doc_id"] for r in train.collect()}
    te = {r["doc_id"] for r in test.collect()}
    assert tr.isdisjoint(te)
    assert len(tr) + len(te) == docs.count()
    assert 0.15 < len(te) / docs.count() < 0.35


def test_validation():
    with pytest.raises(ValueError):
        train_test_split(None, "id", test_fraction=1.5)
    with pytest.raises(ValueError):
        hash_sample(None, -0.1, "id")


def test_weighted_sample_prefers_heavy_rows(spark):
    from nycitibike_data_transform_spark.operators.sampling import weighted_sample

    rows = [(i, 1) for i in range(200)] + [(1000 + i, 100_000) for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id long, weight long")
    picked = {r["doc_id"] for r in weighted_sample(df, "weight", 10, "doc_id").collect()}
    # weight ratio 1e5:1 — the ten heavy rows dominate the top-10
    assert sum(1 for d in picked if d >= 1000) >= 9


def test_weighted_sample_deterministic_and_partition_invariant(spark):
    from nycitibike_data_transform_spark.operators.sampling import weighted_sample

    rows = [(i, (i % 7) + 1) for i in range(500)]
    df = spark.createDataFrame(rows, "doc_id long, weight long")
    a = [tuple(r) for r in weighted_sample(df, "weight", 50, "doc_id").collect()]
    b = [tuple(r) for r in weighted_sample(df.repartition(13), "weight", 50, "doc_id").collect()]
    assert sorted(a) == sorted(b) and len(a) == 50


def test_weighted_sample_excludes_nonpositive_weights(spark):
    from nycitibike_data_transform_spark.operators.sampling import weighted_sample

    df = spark.createDataFrame(
        [(1, 0), (2, -5), (3, None), (4, 10)], "doc_id long, weight long"
    )
    picked = [r["doc_id"] for r in weighted_sample(df, "weight", 10, "doc_id").collect()]
    assert picked == [4]


# ------------------------------------------------- UniMax waterfilling


def _unimax_ref(caps: dict, budget: float) -> dict:
    """The paper's ITERATIVE allocation loop — the independent truth
    the closed-form window pipeline must reproduce."""
    remaining = sorted(caps.items(), key=lambda x: (x[1], x[0]))
    left, alloc = budget, {}
    while remaining:
        share = left / len(remaining)
        name, cap = remaining[0]
        if cap <= share:
            alloc[name] = float(cap)
            left -= cap
            remaining.pop(0)
        else:
            for n, _ in remaining:
                alloc[n] = share
            return alloc
    return alloc


def _unimax_run(spark, avail: dict, **kw) -> dict:
    from nycitibike_data_transform_spark.operators.sampling import (
        unimax_allocation,
    )

    df = spark.createDataFrame(
        list(avail.items()), "src string, available_tokens long"
    )
    return {
        r["src"]: r
        for r in unimax_allocation(df, ["src"], **kw).collect()
    }


AVAIL = {"a": 10, "b": 50, "c": 200, "d": 1000, "e": 0}


@pytest.mark.parametrize("budget", [100, 2000, 3000, 5040, 10000])
def test_unimax_matches_iterative_reference(spark, budget):
    got = _unimax_run(spark, AVAIL, max_epochs=4, budget_tokens=budget)
    ref = _unimax_ref({s: n * 4 for s, n in AVAIL.items()}, budget)
    for s in AVAIL:
        assert got[s]["allocation_tokens"] == pytest.approx(ref[s], abs=1e-5)
        assert got[s]["cap_tokens"] == AVAIL[s] * 4


def test_unimax_degenerate_ends(spark):
    # budget >= sum(caps): everyone capped at max_epochs
    got = _unimax_run(spark, AVAIL, max_epochs=2, budget_tokens=10_000)
    assert all(r["capped"] == 1 for r in got.values())
    assert got["d"]["epochs_used"] == 2.0
    # budget < k * min positive cap: nobody capped except zero strata,
    # everyone gets budget/k
    got = _unimax_run(spark, {"a": 100, "b": 200, "c": 300}, max_epochs=2, budget_tokens=90)
    assert [r["capped"] for r in got.values()] == [0, 0, 0]
    assert {r["allocation_tokens"] for r in got.values()} == {30.0}


def test_unimax_budget_ratio_is_total_relative(spark):
    # ratio 0.5 of total available (1260) = 630 absolute
    got_r = _unimax_run(spark, AVAIL, max_epochs=4, budget_ratio=0.5)
    got_a = _unimax_run(spark, AVAIL, max_epochs=4, budget_tokens=630)
    for s in AVAIL:
        assert got_r[s]["allocation_tokens"] == got_a[s]["allocation_tokens"]


def test_unimax_zero_stratum_and_epochs_used(spark):
    got = _unimax_run(spark, AVAIL, max_epochs=4, budget_tokens=2000)
    assert got["e"]["allocation_tokens"] == 0.0
    assert got["e"]["epochs_used"] == 0.0  # no 0/0 NaN
    for s, r in got.items():
        if AVAIL[s]:
            assert r["epochs_used"] == pytest.approx(
                round(r["allocation_tokens"] / AVAIL[s], 6)
            )
            assert r["epochs_used"] <= 4.0 + 1e-9


def test_unimax_validates(spark):
    from nycitibike_data_transform_spark.operators.sampling import (
        unimax_allocation,
    )

    df = spark.createDataFrame([("a", 1)], "src string, available_tokens long")
    with pytest.raises(ValueError):
        unimax_allocation(df, ["src"])  # neither budget form
    with pytest.raises(ValueError):
        unimax_allocation(df, ["src"], budget_tokens=1, budget_ratio=0.5)
    with pytest.raises(ValueError):
        unimax_allocation(df, ["src"], budget_tokens=1, max_epochs=0)
    with pytest.raises(ValueError):
        unimax_allocation(df, [], budget_tokens=1)


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_unimax_random_cap_sets_match_reference(spark, seed):
    # deterministic pseudo-random cap sets spanning ties, zeros, and
    # budgets on both sides of the waterline
    import random

    rng = random.Random(seed)
    avail = {f"s{i}": rng.choice([0, 1, 7, 7, 50, 300, 1000]) for i in range(12)}
    total_cap = sum(n * 3 for n in avail.values())
    for budget in (1, total_cap // 3, total_cap - 1, total_cap + 5):
        got = _unimax_run(spark, avail, max_epochs=3, budget_tokens=budget)
        ref = _unimax_ref({s: n * 3 for s, n in avail.items()}, budget)
        for s in avail:
            assert got[s]["allocation_tokens"] == pytest.approx(
                ref[s], abs=1e-4
            ), (seed, budget, s)
