"""Similarity search over embedding columns (north-star, SURVEY.md §2.9).

Two tiers:

- **Brute-force cosine top-k** — exact baseline: broadcast the query
  set, zip_with/aggregate dot products JVM-side, rank with a window.
  Right answer, O(queries × corpus) — fine when the query set is small
  or as the verification tier.
- **LSH-bucketed top-k** — the scale path: sign-random-projection
  buckets (SimHash for vectors) prune the candidate space; exact
  cosine re-ranks within buckets. Recall is tunable via bands/bits.

Scoring math runs in double via JVM higher-order functions; the only
Python is the SRP bucketing matmul — an Arrow-batched pandas_udf kept
deliberately (see ``_banded_buckets`` for why a Column-literal version
is pathological).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from nycitibike_data_transform_spark.functions.vectors import (
    cosine_similarity,
    dot_product,
    l2_norm,
)
from nycitibike_data_transform_spark.operators.util import fan_out

# ------------------------------------------------------- brute force top-k

def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors for every query vector.

    Physical shape: broadcast-nested-loop of corpus × queries with the
    dot product evaluated in codegen, then a per-query ranking window.
    Broadcast the smaller side (queries) — the corpus stays
    partitioned and never shuffles. O(|queries|·|corpus|) — the
    audit/truth tier, fine on a bounded corpus or query set.
    Approximate search at scale is ``cosine_topk_lsh`` or
    ``cosine_topk_ivf``, called directly. Building the plan starts no
    Spark job.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("query_vec"),
        l2_norm(vec_col).alias("qn"),
    )
    c = fan_out(corpus).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cand_vec"),
        l2_norm(vec_col).alias("cn"),
    )
    # norms are per-row; only the dot product runs per-pair
    denom = F.col("qn") * F.col("cn")
    cosine = F.when(denom == 0, F.lit(None).cast("double")).otherwise(
        dot_product(F.col("query_vec"), F.col("cand_vec")) / denom
    )
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", cosine.alias("cosine"))
    )
    return _rank_topk(scored, k)


def _rank_topk(scored: DataFrame, k: int) -> DataFrame:
    """Per-query top-k rank over (query_id, neighbor_id, cosine).
    NULL cosines (zero-norm query or candidate — similarity undefined)
    are excluded BEFORE ranking: without the filter they'd still
    receive row numbers (nulls sort last but are numbered) and a
    zero-norm query would 'return' k arbitrary neighbors."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.filter(F.col("cosine").isNotNull())
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


# ------------------------------------------------- LSH (sign random proj.)

def _projection_vectors(dim: int, bits: int, seed: int = 7) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes (LCG — dependency-free,
    reproducible across runs/machines)."""
    state = seed
    planes: list[list[float]] = []
    for _ in range(bits):
        row = []
        for _ in range(dim):
            state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 64)
            row.append(((state >> 11) / float(1 << 53)) * 2.0 - 1.0)
        planes.append(row)
    return planes


def _banded_buckets(
    df: DataFrame, out_id: str, dim: int, bits: int, bands: int, id_col: str, vec_col: str
) -> DataFrame:
    """(id, vec, band, bucket) rows — one per band, each band an
    independent SRP table (seed varies per band).

    All bands×bits projections are evaluated as ONE Arrow-vectorized
    matmul in a pandas_udf. This is the deliberate exception to the
    built-ins-first rule: expressing 8 bands × 4 bits × 64 dims as
    Column literals builds a ~2000-literal expression tree whose
    analysis/codegen cost dominates the query (~10 s fixed overhead,
    independent of data size); the numpy path is a microsecond-scale
    (n, dim) @ (dim, bands·bits) product per batch and keeps the plan
    tiny. Still fully deterministic: planes come from the same LCG.
    """
    planes = np.array(
        [
            _projection_vectors(dim, bits, seed=7 + 101 * band)
            for band in range(bands)
        ],
        dtype=np.float64,
    ).reshape(bands * bits, dim)
    weights = 1 << np.arange(bits, dtype=np.int64)

    @F.pandas_udf("array<int>")
    def band_buckets(vecs: pd.Series) -> pd.Series:
        x = np.vstack(vecs.to_numpy()).astype(np.float64)  # (n, dim)
        signs = (x @ planes.T) >= 0.0  # (n, bands*bits)
        bucketed = signs.reshape(len(x), bands, bits) @ weights  # (n, bands)
        return pd.Series(list(bucketed.astype(np.int32)))

    # NULL or wrong-length vectors would crash np.vstack inside the
    # Python worker with an opaque error; filter them JVM-side first —
    # mirroring how the expression tiers null-propagate such rows out
    return (
        df.filter(F.col(vec_col).isNotNull() & (F.size(vec_col) == dim))
        .select(
            F.col(id_col).alias(out_id),
            F.col(vec_col).alias(f"{out_id}_vec"),
            F.posexplode(band_buckets(F.col(vec_col))).alias("band", "bucket"),
        )
    )


def _assign_udf(centroids: "np.ndarray", nprobe: int):
    """pandas_udf: nprobe nearest centroid ids (by dot with L2-normalized
    centroids ≙ cosine order) per vector — one matmul per Arrow batch."""
    norms = np.linalg.norm(centroids, axis=1)
    norms[norms == 0] = 1.0
    normed = centroids / norms[:, None]

    @F.pandas_udf("array<int>")
    def assign(vecs: pd.Series) -> pd.Series:
        x = np.vstack(vecs.to_numpy()).astype(np.float64)
        sims = x @ normed.T  # (n, k)
        top = np.argsort(-sims, axis=1)[:, :nprobe].astype(np.int32)
        return pd.Series(list(top))

    return assign


def train_ivf_centroids(
    corpus: DataFrame,
    dim: int,
    n_centroids: int = 16,
    iterations: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> "np.ndarray":
    """Distributed Lloyd's k-means for the IVF coarse quantizer.

    Init: the ``n_centroids`` corpus vectors with smallest id-hash
    (deterministic, uniform). Each iteration: assign every vector to
    its nearest centroid (Arrow matmul), then recompute centroids as
    member means via posexplode + groupBy — the shuffle carries
    (centroid, position, partial sums), i.e. O(k·dim) per partition,
    never the vectors themselves. Returns a (k, dim) numpy array —
    index metadata, small by construction, lives driver-side like any
    ANN index's quantizer."""
    corpus = corpus.filter(
        F.col(vec_col).isNotNull() & (F.size(vec_col) == dim)
    )  # NULL/ragged vectors would crash the Arrow matmul
    seed_rows = (
        corpus.select(vec_col, F.xxhash64(F.col(id_col)).alias("__h"))
        .orderBy("__h")
        .limit(n_centroids)
        .collect()
    )
    if not seed_rows:  # empty corpus → empty quantizer, shape-correct
        return np.zeros((0, dim), dtype=np.float64)
    centroids = np.array([list(r[vec_col]) for r in seed_rows], dtype=np.float64)

    for _ in range(iterations):
        assign = _assign_udf(centroids, nprobe=1)
        assigned = corpus.select(
            F.element_at(assign(F.col(vec_col)), 1).alias("cid"),
            F.posexplode(F.col(vec_col).cast("array<double>")).alias("pos", "val"),
        )
        sums = (
            assigned.groupBy("cid", "pos")
            .agg(F.sum("val").alias("s"), F.count(F.lit(1)).alias("n"))
            .collect()
        )
        # empty clusters keep their previous centroid (copy + sparse
        # overwrite: a cluster with no members gets no sums rows)
        new = centroids.copy()
        for r in sums:
            new[r["cid"], r["pos"]] = r["s"] / r["n"]
        centroids = new
    return centroids


def cosine_topk_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 4,
    iterations: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF approximate top-k: corpus vectors live in their nearest
    centroid's inverted list; each query probes its ``nprobe`` nearest
    lists and exact cosine re-ranks the candidates.

    Recall ≈ P(true neighbor's list ∈ query's nprobe lists) — tune
    nprobe↑ for recall, n_centroids↑ for selectivity. Shuffle profile:
    equi-join on centroid id (corpus side unexploded — each vector is
    in exactly one list), linear in corpus size."""
    centroids = train_ivf_centroids(
        corpus, dim, n_centroids, iterations, id_col, vec_col
    )
    if centroids.shape[0] == 0:  # empty corpus: no lists, no neighbors
        id_type = corpus.schema[id_col].dataType.simpleString()
        return corpus.sparkSession.createDataFrame(
            [], f"query_id {id_type}, neighbor_id {id_type}, rank int, cosine double"
        )
    c_assign = _assign_udf(centroids, nprobe=1)
    q_assign = _assign_udf(centroids, nprobe=nprobe)
    # same NULL/ragged guard as _banded_buckets: the assign matmul
    # can't take a missing or wrong-length vector
    guard = F.col(vec_col).isNotNull() & (F.size(vec_col) == dim)
    corpus = corpus.filter(guard)
    queries = queries.filter(guard)
    cb = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cand_vec"),
        l2_norm(vec_col).alias("cn"),
        F.element_at(c_assign(F.col(vec_col)), 1).alias("cid"),
    )
    qb = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("query_vec"),
        l2_norm(vec_col).alias("qn"),
        F.explode(q_assign(F.col(vec_col))).alias("cid"),
    )
    denom = F.col("qn") * F.col("cn")
    cosine = F.when(denom == 0, F.lit(None).cast("double")).otherwise(
        dot_product(F.col("query_vec"), F.col("cand_vec")) / denom
    )
    scored = (
        cb.join(F.broadcast(qb), ["cid"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", cosine.alias("cosine"))
    )
    return _rank_topk(scored, k)


def cosine_topk_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    bits: int = 4,
    bands: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: a candidate pair needs ALL bits equal in ANY
    of ``bands`` independent SRP tables (recall ≈ 1-(1-p^bits)^bands,
    p = 1-θ/π), then exact cosine re-ranks the candidates.

    Shuffle profile: corpus expands ×bands but the join is a linear
    equi-join on (band, bucket) — broadcastable when the query side is
    small; never O(corpus²). Tune bits↑ for precision (fewer
    candidates), bands↑ for recall."""
    # No fan_out before the pandas_udf: each extra partition costs a
    # Python-worker round trip that dwarfs the vectorized matmul at
    # moderate row counts, and wide inputs at scale are already wide.
    cb = _banded_buckets(corpus, "neighbor_id", dim, bits, bands, id_col, vec_col)
    qb = _banded_buckets(queries, "query_id", dim, bits, bands, id_col, vec_col)
    candidates = (
        cb.join(F.broadcast(qb), ["band", "bucket"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "query_id_vec", "neighbor_id", "neighbor_id_vec")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    scored = candidates.select(
        "query_id",
        "neighbor_id",
        cosine_similarity(F.col("query_id_vec"), F.col("neighbor_id_vec")).alias("cosine"),
    )
    return _rank_topk(scored, k)
