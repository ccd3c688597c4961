"""Dedup operator family semantics on known fixtures."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from nycitibike_data_transform_spark.operators.dedup import (
    exact_dedup,
    hamming_distance64,
    minhash_candidate_pairs,
    ngram_jaccard_pairs,
    shingles,
    simhash64,
)

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "The quick  brown fox jumps over the lazy dog"),  # exact dup after normalize
    (3, "the quick brown fox jumps over the lazy cat"),  # near dup (1 token差)
    (4, "completely different text about spark engines and shuffles here"),
    (5, ""),
]


def _docs(spark):
    return spark.createDataFrame(DOCS, "doc_id bigint, text string")


def test_exact_dedup_groups(spark):
    out = exact_dedup(_docs(spark)).collect()
    by_id = {r["doc_id"]: r["n_copies"] for r in out}
    assert by_id[1] == 2  # docs 1+2 collapse, min id wins
    assert 2 not in by_id
    assert by_id[3] == 1 and by_id[4] == 1 and by_id[5] == 1


def test_shingles_short_arrays_empty(spark):
    df = spark.createDataFrame([(["a", "b"],), (["a", "b", "c", "d"],)], "t array<string>")
    got = [r["s"] for r in df.select(shingles(F.col("t"), 3).alias("s")).collect()]
    assert got[0] == []
    assert got[1] == ["a b c", "b c d"]


def test_ngram_jaccard_finds_near_dups(spark):
    pairs = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in ngram_jaccard_pairs(_docs(spark)).collect()}
    assert pairs[(1, 2)] == 1.0  # identical after normalization
    assert (1, 3) in pairs and 0.5 < pairs[(1, 3)] < 1.0
    assert not any(4 in p for p in pairs)


def test_minhash_candidates_superset_of_real_dups(spark):
    cands = {(r["doc_a"], r["doc_b"]) for r in minhash_candidate_pairs(_docs(spark)).collect()}
    assert (1, 2) in cands  # identical shingle sets always collide
    assert not any(4 in p for p in cands)  # unrelated text shouldn't bucket


def test_simhash_near_dup_distance(spark):
    sh = {r["doc_id"]: r["simhash"] for r in simhash64(_docs(spark)).collect()}
    df = spark.createDataFrame(
        [(sh[1], sh[2]), (sh[1], sh[3]), (sh[1], sh[4])], "a bigint, b bigint"
    )
    d12, d13, d14 = [r["d"] for r in df.select(hamming_distance64(F.col("a"), F.col("b")).alias("d")).collect()]
    assert d12 == 0  # identical token sets
    assert d13 < d14  # near-dup closer than unrelated
    assert d13 <= 16


def test_blocked_jaccard_equals_exact(spark):
    exact = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(_docs(spark), mode="exact").collect()
    }
    blocked = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(_docs(spark), mode="blocked").collect()
    }
    assert blocked == exact


def test_near_dedup_docs_drops_higher_id_members(spark):
    from nycitibike_data_transform_spark.operators.dedup import near_dedup_docs

    kept = sorted(r["doc_id"] for r in near_dedup_docs(_docs(spark)).collect())
    # pairs (1,2) J=1.0 and (1,3) J=0.75 drop docs 2 and 3
    assert kept == [1, 4, 5]


def test_embedding_grid_equals_broadcast(spark, sf_dir):
    from nycitibike_data_transform_spark.operators.dedup import embedding_near_dup_pairs

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    grid = {
        (r["id_a"], r["id_b"]): round(r["cosine"], 9)
        for r in embedding_near_dup_pairs(emb, 0.4, method="grid").collect()
    }
    bcast = {
        (r["id_a"], r["id_b"]): round(r["cosine"], 9)
        for r in embedding_near_dup_pairs(emb, 0.4, method="broadcast").collect()
    }
    assert grid == bcast
    assert grid  # non-vacuous: qualifying pairs exist at 0.4


def test_embedding_probe_equals_grid_restriction(spark, sf_dir):
    """The bounded probe audit must be BIT-identical to the full grid
    tier restricted to pairs touching the probe set — same pairs, same
    cosine doubles (no rounding: the exactness contract in the
    operator docstring)."""
    from pyspark.sql import functions as F

    from nycitibike_data_transform_spark.operators.dedup import (
        embedding_near_dup_pairs,
        embedding_near_dup_probe,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    probe = emb.filter(F.col("vec_id") < 60)
    probed = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in embedding_near_dup_probe(emb, probe, 0.4).collect()
    }
    grid = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in embedding_near_dup_pairs(emb, 0.4, method="grid").collect()
        if r["id_a"] < 60 or r["id_b"] < 60
    }
    assert probed == grid
    assert probed  # non-vacuous: probe-touching pairs exist at 0.4


def test_blocked_equals_exact_on_testdata_corpus(spark, sf_dir):
    """ADVICE r3: dedup_clusters builds its pair graph with
    mode="blocked" while its oracle computes the exact all-pairs
    closure — pin blocked == exact on the driver's own documents
    corpus so an LSH recall miss can't silently desync clusters."""
    from nycitibike_data_transform_spark.catalog import load_table

    docs = load_table(spark, sf_dir, "documents")
    exact = {
        (r["doc_a"], r["doc_b"])
        for r in ngram_jaccard_pairs(docs, mode="exact").collect()
    }
    blocked = {
        (r["doc_a"], r["doc_b"])
        for r in ngram_jaccard_pairs(docs, mode="blocked").collect()
    }
    assert blocked == exact
    assert exact  # non-vacuous: the corpus must actually contain near-dups


def test_flag_contaminated_tiers_identical(spark, sf_dir):
    """Broadcast and shuffled decontamination tiers are the same
    logical plan modulo join strategy — outputs must be row-identical
    (r4 verdict: the shuffled tier is the big-benchmark fallback), and
    an unknown tier is refused."""
    from nycitibike_data_transform_spark.operators.dedup import flag_contaminated

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    bench = docs.filter(F.col("doc_id") % 50 == 0)
    corpus = docs.filter(F.col("doc_id") % 50 != 0)
    rows_b = {
        tuple(r)
        for r in flag_contaminated(corpus, bench, method="broadcast").collect()
    }
    rows_s = {
        tuple(r) for r in flag_contaminated(corpus, bench, method="shuffle").collect()
    }
    assert rows_b == rows_s
    assert len(rows_b) == corpus.count()
    with pytest.raises(ValueError):
        flag_contaminated(corpus, bench, method="auto")


def test_incremental_equals_exact_cross_set_on_testdata(spark, sf_dir):
    """ADVICE r4: pin incremental_near_dup's LSH-banded cross-set path
    against an exact cross-set Jaccard join on the driver corpus (the
    same split the dedup_incremental query uses), so a recall miss on
    a future testdata drop fails HERE deterministically instead of
    flipping the driver gate red."""
    from nycitibike_data_transform_spark.catalog import load_table
    from nycitibike_data_transform_spark.operators.dedup import (
        incremental_near_dup,
        shingles,
        tokenize,
    )

    docs = load_table(spark, sf_dir, "documents")
    is_batch = F.col("doc_id") % 5 == 4
    corpus, batch = docs.filter(~is_batch), docs.filter(is_batch)

    # exact truth: per-doc shingle sets (identical construction to the
    # operator), brute-force cross Jaccard in plain python
    sets = {
        r["doc_id"]: set(r["sh"])
        for r in tokenize(docs, "text")
        .select("doc_id", shingles(F.col("tokens"), 3).alias("sh"))
        .collect()
    }
    batch_ids = {r["doc_id"] for r in batch.select("doc_id").collect()}
    corpus_ids = set(sets) - batch_ids
    truth = {}
    for b in batch_ids:
        n_match = 0
        sb = sets.get(b, set())
        for c in corpus_ids:
            sc = sets.get(c, set())
            union = len(sb | sc)
            if union and len(sb & sc) / union >= 0.6:
                n_match += 1
        truth[b] = n_match

    got = {
        r["doc_id"]: r["n_matches"]
        for r in incremental_near_dup(corpus, batch, n=3, threshold=0.6).collect()
    }
    assert got == truth
    assert any(v > 0 for v in truth.values())  # non-vacuous

