"""Empty-input robustness: every documents/embeddings query must
return an empty result (not crash) on a zero-row table — the shape an
empty partition or an empty ingest day produces in production.

Found and fixed via this probe: cosine_topk_ivf crashed with a numpy
AxisError when k-means had zero vectors to seed from.
"""

from __future__ import annotations

import pytest

from nycitibike_data_transform_spark.catalog import load_table
from nycitibike_data_transform_spark.queries import all_queries

DOC_QUERIES = (
    "surrogate_keys",
    "dedup_exact",
    "text_stats",
    "quality_filter",
    "ngram_jaccard",
    "dedup_near",
    "dedup_clusters",
    "dedup_keep_best",
    "dedup_incremental",
    "decontaminate",
    "decontaminate_bloom",
    "stratified_sample",
    "resample_balanced",
    "source_mix_report",
    "minhash_pairs",
    "simhash",
    "tfidf_top_terms",
    "repetition_ratio",
    "cosine_topk",
    "embedding_near_dup",
    "crossmodal_dup_check",
    "span_dedup",
    "span_strip",
    "mixture_plan",
    "shard_manifest",
    "embedding_dedup",
    "curriculum_stages",
    # GROUPING SETS containing () still yields 0 groups over an empty
    # relation (both engines) — only implicit global aggregation
    # produces the 1-row summary shape
    "dataset_report",
    "compression_signal",
    "perplexity_score",
    "pack_render",
    "token_budget_select",
    "global_shuffle",
    "bigram_lm",
    "token_histogram",
    "containment_pairs",
    "quality_logit",
    "novelty_score",
    "split_leakage",
    "cdc_chunks",
    "lang_confusion",
    "padded_batches",
    "embedding_quantize",
    "quantized_topk",
    "collection_functions",
    "bpe_merges",
    "bpe_segment",
    "weighted_sample",
)

# Global-aggregate queries: a SQL aggregation with no GROUP BY
# returns exactly one row even over empty input — the correct
# empty-corpus answer is one summary row with zero counts, not zero
# rows. name -> zero-count column to check.
SUMMARY_QUERIES = {
    "cosine_topk_lsh": "n_exact_pairs",
    "cosine_topk_ivf": "n_exact_pairs",
}


@pytest.fixture(scope="module")
def empty_dir(spark, tmp_path_factory):
    out = tmp_path_factory.mktemp("empty_tables")
    for t in ("documents", "embeddings"):
        load_table(spark, "/root/testdata/sf0.001", t).limit(0).write.parquet(
            f"{out}/{t}.parquet"
        )
    return str(out)


@pytest.mark.parametrize("name", DOC_QUERIES)
def test_query_survives_empty_tables(spark, empty_dir, name):
    assert all_queries()[name].spark(spark, empty_dir).count() == 0


@pytest.mark.parametrize("name", sorted(SUMMARY_QUERIES))
def test_summary_query_survives_empty_tables(spark, empty_dir, name):
    rows = all_queries()[name].spark(spark, empty_dir).collect()
    assert len(rows) == 1
    assert rows[0][SUMMARY_QUERIES[name]] == 0


ADVERSARIAL_ROWS = [
    (1, None, "en", "web"),          # NULL text
    (2, "", "en", "web"),            # empty
    (3, "   ", "en", "web"),         # whitespace-only
    (4, "single", "en", "web"),      # below shingle width
    (5, "two tokens", None, "web"),  # NULL stratum key
    (6, "héllo wörld 你好 мир 🚀 emoji test here", "zh", None),  # unicode + NULL source
    (7, "a" * 5000, "en", "web"),    # one giant token
    (8, "tab\tseparated\nnewline\rcarriage tokens here now", "en", "books"),
]

ADVERSARIAL_QUERIES = (
    "surrogate_keys",
    "dedup_exact",
    "text_stats",
    "language_id",
    "quality_filter",
    "ngram_jaccard",
    "dedup_clusters",
    "dedup_keep_best",
    "decontaminate",
    "stratified_sample",
    "resample_balanced",
    "source_mix_report",
    "tfidf_top_terms",
    "repetition_ratio",
    "chunk_documents",
    "dedup_incremental",
    "span_dedup",
    "span_strip",
    "mixture_plan",
    "shard_manifest",
    "curriculum_stages",
    "dataset_report",
    "compression_signal",
    "perplexity_score",
    "pack_render",
    "token_budget_select",
    "global_shuffle",
    "bigram_lm",
    "token_histogram",
    "containment_pairs",
    "quality_logit",
    "novelty_score",
    "split_leakage",
    "cdc_chunks",
    "lang_confusion",
    "padded_batches",
    "collection_functions",
    "bpe_merges",
    "bpe_segment",
    "weighted_sample",
)


@pytest.fixture(scope="module")
def adversarial_dir(spark, tmp_path_factory):
    out = tmp_path_factory.mktemp("adversarial_docs")
    docs = spark.createDataFrame(
        [(i, t, l, s, len(t) if t else 0) for i, t, l, s in ADVERSARIAL_ROWS],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    docs.write.parquet(f"{out}/documents.parquet")
    return str(out)


@pytest.mark.parametrize("name", ADVERSARIAL_QUERIES)
def test_query_survives_adversarial_text(spark, adversarial_dir, name):
    # NULL text, empty/whitespace strings, sub-shingle docs, NULL
    # stratum keys, unicode, giant tokens: must compute, not crash.
    # collect(), NOT count() — count() lets Catalyst prune every
    # projection, so an expression-level crash (e.g. ANSI element_at
    # on an empty array) would ship green (review finding: exactly
    # that happened with collection_functions)
    all_queries()[name].spark(spark, adversarial_dir).collect()


# Fact-table queries on EMPTY warehouse tables (the empty-partition /
# first-day-of-ingest shape). Global aggregates return their 1-row
# (or per-column) summary; everything else returns zero rows.
FACT_QUERY_ROWS = {
    "order_priority_check": 0,
    "customer_distribution": 0,
    "promo_revenue": 1,       # global agg: one summary row
    "top_supplier": 0,
    "small_qty_revenue": 1,   # global agg
    "large_volume_customers": 0,
    "disjunctive_revenue": 1,  # global agg
    "idle_rich_customers": 0,
    "profit_by_nation_year": 0,
    "important_parts": 0,
    "supplier_wait": 0,
    "pricing_summary": 0,
    "table_profile": 6,       # one row per profiled column, all zeros
    "table_profile_approx": 6,
    "dedup_latest": 0,
    "date_spine": 365,        # the spine is calendar-bounded, never fact-bounded
    "events_gapfill": 0,      # no observed hours -> empty calendar
    "user_streaks": 0,
}


@pytest.fixture(scope="module")
def empty_fact_dir(spark, tmp_path_factory):
    out = tmp_path_factory.mktemp("empty_facts")
    for t in (
        "region",
        "nation",
        "customer",
        "supplier",
        "part",
        "orders",
        "lineitem",
        "events",
    ):
        load_table(spark, "/root/testdata/sf0.001", t).limit(0).write.parquet(
            f"{out}/{t}.parquet"
        )
    return str(out)


@pytest.mark.parametrize("name", sorted(FACT_QUERY_ROWS))
def test_fact_query_survives_empty_tables(spark, empty_fact_dir, name):
    assert all_queries()[name].spark(spark, empty_fact_dir).count() == FACT_QUERY_ROWS[name]
