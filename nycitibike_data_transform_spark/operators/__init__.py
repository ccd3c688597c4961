"""Relational/dataflow operators beyond single-column functions."""

from nycitibike_data_transform_spark.operators.bloom import (
    bloom_build,
    bloom_prefilter,
)
from nycitibike_data_transform_spark.operators.conform import ConformSpec, conform, conform_union
from nycitibike_data_transform_spark.operators.dedup import (
    embedding_near_dup_pairs,
    embedding_near_dup_probe,
    exact_dedup,
    minhash_candidate_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash64,
)
from nycitibike_data_transform_spark.operators.graph import (
    cluster_assignments,
    connected_components,
)
from nycitibike_data_transform_spark.operators.joins import (
    as_of_join,
    range_join,
)
from nycitibike_data_transform_spark.operators.multimodal import attach_payload
from nycitibike_data_transform_spark.operators.diff import snapshot_diff
from nycitibike_data_transform_spark.operators.packing import pack_sequences
from nycitibike_data_transform_spark.operators.sampling import (
    hash_sample,
    train_test_split,
)
from nycitibike_data_transform_spark.operators.similarity import cosine_topk, cosine_topk_lsh
from nycitibike_data_transform_spark.operators.skew import hot_keys, skew_split_join
from nycitibike_data_transform_spark.operators.spans import (
    duplicate_span_stats,
    strip_duplicate_spans,
)
from nycitibike_data_transform_spark.operators.compression import zlib_ratio
from nycitibike_data_transform_spark.operators.util import fan_out

__all__ = [
    "ConformSpec",
    "conform",
    "conform_union",
    "exact_dedup",
    "ngram_jaccard_pairs",
    "minhash_signatures",
    "minhash_candidate_pairs",
    "simhash64",
    "bloom_build",
    "bloom_prefilter",
    "embedding_near_dup_pairs",
    "embedding_near_dup_probe",
    "connected_components",
    "cluster_assignments",
    "as_of_join",
    "range_join",
    "attach_payload",
    "pack_sequences",
    "snapshot_diff",
    "hash_sample",
    "train_test_split",
    "cosine_topk",
    "cosine_topk_lsh",
    "hot_keys",
    "skew_split_join",
    "duplicate_span_stats",
    "strip_duplicate_spans",
    "zlib_ratio",
    "fan_out",
]
