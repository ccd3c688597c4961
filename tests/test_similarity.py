"""Similarity-search operators: exact correctness + ANN recall."""

from __future__ import annotations

from pyspark.sql import functions as F

from nycitibike_data_transform_spark.operators.similarity import (
    cosine_topk,
    cosine_topk_lsh,
)

VECS = [
    (1, [1.0, 0.0, 0.0]),
    (2, [0.9, 0.1, 0.0]),  # closest to 1
    (3, [0.0, 1.0, 0.0]),
    (4, [0.0, 0.9, 0.2]),  # closest to 3
    (5, [-1.0, 0.0, 0.0]),  # anti-parallel to 1
]


def _emb(spark):
    return spark.createDataFrame(VECS, "vec_id bigint, embedding array<float>")


def test_cosine_topk_exact_ordering(spark):
    emb = _emb(spark)
    out = cosine_topk(emb, emb.filter(F.col("vec_id") == 1), k=4).collect()
    ranked = [r["neighbor_id"] for r in sorted(out, key=lambda r: r["rank"])]
    assert ranked[0] == 2  # most similar
    assert ranked[-1] == 5  # anti-parallel last
    assert all(r["query_id"] == 1 for r in out)


def test_cosine_topk_excludes_self(spark):
    emb = _emb(spark)
    out = cosine_topk(emb, emb, k=10).collect()
    assert all(r["query_id"] != r["neighbor_id"] for r in out)


def test_lsh_recall_on_testdata(spark, sf_dir):
    """ANN recall vs exact top-5 on the real embeddings table: the
    single-band SRP index should recover a solid share of true
    neighbors (it's approximate by construction)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 20)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in cosine_topk(emb, queries, k=5).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in cosine_topk_lsh(emb, queries, dim=64, k=5, bits=4, bands=8).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, f"ANN recall collapsed: {recall}"


def test_ivf_recall_on_testdata(spark, sf_dir):
    """IVF (kmeans coarse quantizer + nprobe lists) recall vs exact
    top-5 — approximate by construction; probe depth trades recall."""
    from nycitibike_data_transform_spark.operators.similarity import cosine_topk_ivf

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 20)
    exact = {
        (r["query_id"], r["neighbor_id"]) for r in cosine_topk(emb, queries, k=5).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in cosine_topk_ivf(emb, queries, dim=64, k=5, n_centroids=16, nprobe=6).collect()
    }
    assert len(exact & approx) / len(exact) >= 0.5


def test_ivf_centroids_deterministic(spark, sf_dir):
    from nycitibike_data_transform_spark.operators.similarity import train_ivf_centroids
    import numpy as np

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    c1 = train_ivf_centroids(emb, dim=64, n_centroids=8, iterations=1)
    c2 = train_ivf_centroids(emb, dim=64, n_centroids=8, iterations=1)
    assert np.array_equal(c1, c2)
    assert c1.shape == (8, 64)


def test_null_and_ragged_vectors_survive_all_tiers(spark):
    """A NULL embedding or wrong-length vector must be filtered out
    JVM-side, not crash the Arrow matmul in the Python worker."""
    from nycitibike_data_transform_spark.operators.similarity import (
        cosine_topk,
        cosine_topk_ivf,
        cosine_topk_lsh,
    )

    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.9, 0.1, 0.0]),
        (3, None),            # NULL vector
        (4, [1.0, 2.0]),      # ragged length
        (5, [0.0, 1.0, 0.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = emb.filter("vec_id = 1")
    for out in (
        cosine_topk(emb, q, k=3),
        cosine_topk_lsh(emb, q, dim=3, k=3, bits=2, bands=4),
        cosine_topk_ivf(emb, q, dim=3, k=3, n_centroids=2, nprobe=2),
    ):
        got = {r["neighbor_id"] for r in out.collect()}
        assert 3 not in got and 4 not in got  # guarded rows never rank


def test_zero_norm_query_returns_no_neighbors(spark):
    from nycitibike_data_transform_spark.operators.similarity import cosine_topk

    rows = [(1, [0.0, 0.0]), (2, [1.0, 0.0]), (3, [0.0, 1.0])]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = cosine_topk(emb, emb.filter("vec_id = 1"), k=2)
    # cosine undefined against a zero vector → no ranked neighbors
    assert out.count() == 0

