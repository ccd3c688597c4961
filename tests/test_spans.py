"""Unit tests for exact duplicate-span detection (operators/spans.py)
and the round-5 export queries (mixture_plan, shard_manifest)."""

from __future__ import annotations

import math

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from nycitibike_data_transform_spark.operators.spans import duplicate_span_stats

DOCS_SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"


def _docs(spark, rows):
    return spark.createDataFrame(
        [(i, t, "en", "web", len(t) if t else 0) for i, t in rows], DOCS_SCHEMA
    )


def test_cross_doc_duplicate_spans_merge_overlaps(spark):
    # doc1/doc2 share the runs "a b c d" and "b c d e" (width 4):
    # doc1 dup positions {1,2} merge into [1,5] → 5 covered of 6;
    # doc2 dup positions {2,3} merge into [2,6] → 5 covered of 7.
    docs = _docs(
        spark,
        [
            (1, "a b c d e f"),
            (2, "x a b c d e y"),
            (3, "p q r s t u v w"),
        ],
    )
    out = {
        r["doc_id"]: r
        for r in duplicate_span_stats(docs, width=4).collect()
    }
    assert out[1]["n_tokens"] == 6 and out[1]["n_spans"] == 3
    assert out[1]["n_dup_spans"] == 2 and out[1]["dup_tokens"] == 5
    assert out[1]["dup_token_fraction"] == round(5 / 6, 6)
    assert out[2]["n_dup_spans"] == 2 and out[2]["dup_tokens"] == 5
    assert out[2]["dup_token_fraction"] == round(5 / 7, 6)
    assert out[3]["n_dup_spans"] == 0 and out[3]["dup_tokens"] == 0
    assert out[3]["n_spans"] == 5


def test_within_doc_repeat_counts_as_duplicate(spark):
    # "m n o p" occurs at positions 1 and 8 of the SAME document —
    # two disjoint islands, 8 covered tokens of 12.
    docs = _docs(spark, [(1, "m n o p z z z m n o p q")])
    row = duplicate_span_stats(docs, width=4).collect()[0]
    assert row["n_dup_spans"] == 2
    assert row["dup_tokens"] == 8
    assert row["dup_token_fraction"] == round(8 / 12, 6)


def test_short_null_and_blank_docs_get_zeros(spark):
    docs = _docs(spark, [(1, "one two three"), (2, None), (3, "   ")])
    rows = {r["doc_id"]: r for r in duplicate_span_stats(docs, width=4).collect()}
    for i in (1, 2, 3):
        assert rows[i]["n_spans"] == 0
        assert rows[i]["n_dup_spans"] == 0
        assert rows[i]["dup_token_fraction"] == 0.0
    assert rows[1]["n_tokens"] == 3
    assert rows[2]["n_tokens"] == 0


def test_identical_docs_fully_covered(spark):
    text = "the quick brown fox jumps over the lazy dog today"
    docs = _docs(spark, [(1, text), (2, text)])
    for row in duplicate_span_stats(docs, width=4).collect():
        assert row["dup_tokens"] == row["n_tokens"]
        assert row["dup_token_fraction"] == 1.0
        assert row["n_dup_spans"] == row["n_spans"]


def test_span_invariants_on_testdata(spark, sf_dir):
    from nycitibike_data_transform_spark.catalog import load_table

    docs = load_table(spark, sf_dir, "documents")
    out = duplicate_span_stats(docs, width=8)
    bad = out.filter(
        (F.col("dup_tokens") > F.col("n_tokens"))
        | (F.col("n_dup_spans") > F.col("n_spans"))
        | (F.col("dup_token_fraction") < 0)
        | (F.col("dup_token_fraction") > 1)
        | (F.col("n_spans") != F.greatest(F.col("n_tokens") - 7, F.lit(0)))
    )
    assert bad.count() == 0
    assert out.count() == docs.count()


def test_parameter_validation():
    with pytest.raises(ValueError):
        duplicate_span_stats(None, width=0)
    with pytest.raises(ValueError):
        duplicate_span_stats(None, min_count=1)


def test_mixture_plan_geometric_mean(spark, tmp_path):
    # 3 sources with 2/8/18-token corpora: target = floor(sqrt(n*18))
    rows = [
        (1, "a b", "small"),
        (2, " ".join(["w"] * 8), "mid"),
        (3, " ".join(["x"] * 9), "big"),
        (4, " ".join(["y"] * 9), "big"),
    ]
    spark.createDataFrame(
        [(i, t, "en", s, len(t)) for i, t, s in rows], DOCS_SCHEMA
    ).write.parquet(f"{tmp_path}/documents.parquet")
    from nycitibike_data_transform_spark.queries import all_queries

    out = {
        r["source"]: r
        for r in all_queries()["mixture_plan"].spark(spark, str(tmp_path)).collect()
    }
    assert out["small"]["available_tokens"] == 2
    assert out["small"]["target_tokens"] == math.floor(math.sqrt(2 * 18))  # 6
    assert out["small"]["n_epochs"] == 3
    assert out["mid"]["target_tokens"] == 12 and out["mid"]["n_epochs"] == 2
    assert out["big"]["target_tokens"] == 18 and out["big"]["n_epochs"] == 1
    assert out["big"]["sample_fraction"] == 1.0


def test_strip_keeps_first_occurrence_cuts_rest(spark):
    from nycitibike_data_transform_spark.operators.spans import strip_duplicate_spans

    docs = _docs(
        spark,
        [(1, "a b c d e f"), (2, "x a b c d e y"), (3, "p q r s t"), (4, None)],
    )
    out = {r["doc_id"]: r for r in strip_duplicate_spans(docs, width=4).collect()}
    # doc1 holds the first occurrences of both shared spans: untouched
    assert out[1]["text_clean"] == "a b c d e f"
    assert out[1]["n_tokens_after"] == 6
    # doc2's copies (positions 2-3 → merged [2,6]) are cut
    assert out[2]["text_clean"] == "x y"
    assert out[2]["n_tokens_after"] == 2
    assert out[3]["text_clean"] == "p q r s t"
    assert out[4]["text_clean"] == "" and out[4]["n_tokens_before"] == 0


def test_strip_identical_docs_keep_exactly_one(spark):
    from nycitibike_data_transform_spark.operators.spans import strip_duplicate_spans

    text = "the quick brown fox jumps over the lazy dog"
    docs = _docs(spark, [(1, text), (2, text), (3, text)])
    out = {r["doc_id"]: r for r in strip_duplicate_spans(docs, width=4).collect()}
    assert out[1]["text_clean"] == text  # first doc owns every span
    assert out[2]["text_clean"] == "" and out[3]["text_clean"] == ""


def test_strip_invariants_on_testdata(spark, sf_dir):
    from nycitibike_data_transform_spark.catalog import load_table
    from nycitibike_data_transform_spark.functions.text import normalize_text
    from nycitibike_data_transform_spark.operators.spans import (
        duplicate_span_stats,
        strip_duplicate_spans,
    )

    docs = load_table(spark, sf_dir, "documents")
    stripped = strip_duplicate_spans(docs, width=8)
    stats = duplicate_span_stats(docs, width=8)
    joined = stripped.join(stats, "doc_id")
    # cut count is bounded by the dup coverage (the kept-first
    # occurrences are a subset of the duplicated intervals)
    bad = joined.filter(
        (F.col("n_tokens_after") > F.col("n_tokens_before"))
        | (F.col("n_tokens_before") - F.col("n_tokens_after") > F.col("dup_tokens"))
    )
    assert bad.count() == 0
    # untouched docs reproduce their normalized text verbatim
    norm = docs.select(
        "doc_id", F.coalesce(normalize_text(F.col("text")), F.lit("")).alias("nt")
    )
    mismatched = (
        joined.filter(F.col("n_dup_spans") == 0)
        .join(norm, "doc_id")
        .filter(F.col("text_clean") != F.col("nt"))
    )
    assert mismatched.count() == 0


def _ref_span_stats(rows: list[tuple[int, str]], width: int) -> dict[int, tuple]:
    """Pure-Python reference for duplicate_span_stats."""
    import re

    toks: dict[int, list[str]] = {}
    for doc_id, text in rows:
        nt = re.sub(r"\s+", " ", (text or "").lower()).strip()
        toks[doc_id] = nt.split(" ") if nt else []
    occurrences: dict[tuple, list[tuple[int, int]]] = {}
    for d, w in toks.items():
        for p in range(len(w) - width + 1):
            occurrences.setdefault(tuple(w[p : p + width]), []).append((d, p + 1))
    dup_spans = {s for s, occ in occurrences.items() if len(occ) >= 2}
    out = {}
    for d, w in toks.items():
        n = len(w)
        positions = sorted(
            p for s in dup_spans for (dd, p) in occurrences[s] if dd == d
        )
        covered, last_end = 0, 0
        for p in positions:
            lo, hi = max(p, last_end + 1), p + width - 1
            if hi > last_end:
                covered += hi - lo + 1
                last_end = hi
        out[d] = (
            n,
            max(n - width + 1, 0),
            len(positions),
            covered,
            round(covered / n, 6) if n else 0.0,
        )
    return out


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.lists(st.sampled_from("ab"), min_size=0, max_size=10),
        min_size=1,
        max_size=5,
    )
)
def test_span_stats_match_python_reference(spark, corpora):
    rows = [(i, " ".join(tokens)) for i, tokens in enumerate(corpora)]
    docs = _docs(spark, rows)
    got = {
        r["doc_id"]: (
            r["n_tokens"],
            r["n_spans"],
            r["n_dup_spans"],
            r["dup_tokens"],
            r["dup_token_fraction"],
        )
        for r in duplicate_span_stats(docs, width=3).collect()
    }
    assert got == _ref_span_stats(rows, width=3)


def _ref_strip(rows: list[tuple[int, str]], width: int) -> dict[int, tuple]:
    """Pure-Python reference for strip_duplicate_spans."""
    import re

    toks: dict[int, list[str]] = {}
    for doc_id, text in rows:
        nt = re.sub(r"\s+", " ", (text or "").lower()).strip()
        toks[doc_id] = nt.split(" ") if nt else []
    occurrences: dict[tuple, list[tuple[int, int]]] = {}
    for d in sorted(toks):
        w = toks[d]
        for p in range(len(w) - width + 1):
            occurrences.setdefault(tuple(w[p : p + width]), []).append((d, p + 1))
    cut: dict[int, set[int]] = {d: set() for d in toks}
    for occ in occurrences.values():
        if len(occ) < 2:
            continue
        for d, p in sorted(occ)[1:]:  # keep globally-first occurrence
            cut[d].update(range(p, p + width))
    out = {}
    for d, w in toks.items():
        kept = [t for i, t in enumerate(w, start=1) if i not in cut[d]]
        out[d] = (len(w), len(kept), " ".join(kept))
    return out


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.lists(st.sampled_from("ab"), min_size=0, max_size=10),
        min_size=1,
        max_size=5,
    )
)
def test_strip_matches_python_reference(spark, corpora):
    from nycitibike_data_transform_spark.operators.spans import strip_duplicate_spans

    rows = [(i, " ".join(tokens)) for i, tokens in enumerate(corpora)]
    docs = _docs(spark, rows)
    got = {
        r["doc_id"]: (r["n_tokens_before"], r["n_tokens_after"], r["text_clean"])
        for r in strip_duplicate_spans(docs, width=3).collect()
    }
    assert got == _ref_strip(rows, width=3)


def test_mixture_plan_all_empty_source_gets_zero_not_nan(spark, tmp_path):
    rows = [
        (1, "", "emptysrc"),
        (2, "   ", "emptysrc"),
        (3, " ".join(["w"] * 8), "real"),
    ]
    spark.createDataFrame(
        [(i, t, "en", s, len(t)) for i, t, s in rows], DOCS_SCHEMA
    ).write.parquet(f"{tmp_path}/documents.parquet")
    from nycitibike_data_transform_spark.queries import all_queries

    out = {
        r["source"]: r
        for r in all_queries()["mixture_plan"].spark(spark, str(tmp_path)).collect()
    }
    assert out["emptysrc"]["available_tokens"] == 0
    assert out["emptysrc"]["target_tokens"] == 0
    assert out["emptysrc"]["sample_fraction"] == 0.0
    assert out["emptysrc"]["n_epochs"] == 0
    assert out["real"]["n_epochs"] == 1


def test_shard_manifest_partitions_corpus(spark, sf_dir):
    from nycitibike_data_transform_spark.catalog import load_table
    from nycitibike_data_transform_spark.queries import all_queries

    docs = load_table(spark, sf_dir, "documents")
    out = all_queries()["shard_manifest"].spark(spark, sf_dir).collect()
    assert sum(r["n_docs"] for r in out) == docs.count()
    assert all(0 <= r["shard_id"] < 16 for r in out)
    assert all(r["min_doc_id"] <= r["max_doc_id"] for r in out)


def test_export_queries_treat_null_text_as_zero_tokens(spark, tmp_path):
    """A source/shard whose documents are ALL NULL-text must report 0
    tokens (not NULL) from mixture_plan / shard_manifest, and
    curriculum_stages must rank NULL-text docs as 0-token docs —
    matching the oracles' coalesce semantics (review finding r5)."""
    rows = [
        (1, None, "nullsrc"),
        (2, None, "nullsrc"),
        (3, " ".join(["w"] * 8), "real"),
    ]
    spark.createDataFrame(
        [(i, t, "en", s, len(t) if t else 0) for i, t, s in rows], DOCS_SCHEMA
    ).write.parquet(f"{tmp_path}/documents.parquet")
    from nycitibike_data_transform_spark.queries import all_queries

    mix = {
        r["source"]: r
        for r in all_queries()["mixture_plan"].spark(spark, str(tmp_path)).collect()
    }
    assert mix["nullsrc"]["available_tokens"] == 0
    assert mix["nullsrc"]["target_tokens"] == 0
    assert mix["nullsrc"]["sample_fraction"] == 0.0 and mix["nullsrc"]["n_epochs"] == 0

    cur = {
        r["doc_id"]: r
        for r in all_queries()["curriculum_stages"].spark(spark, str(tmp_path)).collect()
    }
    assert cur[1]["n_tokens"] == 0 and cur[2]["n_tokens"] == 0

    shards = all_queries()["shard_manifest"].spark(spark, str(tmp_path)).collect()
    assert all(r["n_tokens"] is not None for r in shards)
    assert sum(r["n_tokens"] for r in shards) == 8


def test_span_bloom_prefilter_identical_results(spark, sf_dir):
    """The integrated Bloom prefilter (VERDICT r7 item #4) is
    LOSSLESS: both span operators must return exactly the same rows
    with and without it — duplicated spans can never fail the filter
    (no false negatives), and false positives only re-enter the exact
    join, which rejects them."""
    from nycitibike_data_transform_spark.operators.spans import (
        duplicate_span_stats,
        strip_duplicate_spans,
    )

    from nycitibike_data_transform_spark.catalog import load_table

    docs = load_table(spark, sf_dir, "documents")
    for fn in (duplicate_span_stats, strip_duplicate_spans):
        plain = sorted(map(tuple, fn(docs, width=6).collect()))
        bloomed = sorted(
            map(tuple, fn(docs, width=6, bloom_prefilter=True).collect())
        )
        assert plain == bloomed


def test_span_bloom_prefilter_no_duplicates_edge(spark):
    """All-unique corpus: the duplicated-hash set is EMPTY, the Bloom
    bitset is all zeros, and every span row is (correctly) cut before
    the join — outputs must still match the unfiltered path."""
    from nycitibike_data_transform_spark.operators.spans import (
        duplicate_span_stats,
        strip_duplicate_spans,
    )

    docs = spark.createDataFrame(
        [("a", "one two three four"), ("b", "five six seven eight")],
        "doc_id string, text string",
    )
    for fn in (duplicate_span_stats, strip_duplicate_spans):
        plain = sorted(map(tuple, fn(docs, width=3).collect()))
        bloomed = sorted(
            map(tuple, fn(docs, width=3, bloom_prefilter=True).collect())
        )
        assert plain == bloomed


def test_span_bloom_invalid_mode_rejected(spark):
    from nycitibike_data_transform_spark.operators.spans import duplicate_span_stats

    docs = spark.createDataFrame([("a", "x y z")], "doc_id string, text string")
    import pytest as _pytest

    with _pytest.raises(ValueError, match="bloom_prefilter"):
        duplicate_span_stats(docs, width=2, bloom_prefilter="yes").collect()


def test_strip_repeated_windows_keeps_first_occurrence(spark):
    """Hand-checkable intra-doc repetition surgery: with window=2,
    'a b c d a b x y' chunks to ['a b', 'c d', 'a b', 'x y'] — the
    second 'a b' is dropped, order is preserved, counts audit the
    cut. A doc with no repeats passes through identically; a partial
    trailing window participates like any other."""
    from nycitibike_data_transform_spark.operators.spans import (
        strip_repeated_windows,
    )

    docs = spark.createDataFrame(
        [
            (1, "a b c d a b x y"),   # repeat in the middle
            (2, "p q p q p q"),       # all-repeat after the first
            (3, "u v w"),             # partial trailing window, no repeats
            (4, "a b a"),             # trailing 'a' != window 'a b'
            (5, ""),                  # blank: one row, ('', 0, 0)
            (6, None),                # NULL text: same as blank
            (7, "   "),               # whitespace-only: same as blank
        ],
        "doc_id bigint, text string",
    )
    out = strip_repeated_windows(docs, window=2).collect()
    assert len(out) == docs.count()  # EXACTLY one row per input doc
    got = {
        r["doc_id"]: (r["clean_text"], r["windows_in"], r["windows_kept"])
        for r in out
    }
    assert got[1] == ("a b c d x y", 4, 3)
    assert got[2] == ("p q", 3, 1)
    assert got[3] == ("u v w", 2, 2)
    assert got[4] == ("a b a", 2, 2)
    assert got[5] == got[6] == got[7] == ("", 0, 0)


def test_strip_repeated_windows_validates_window(spark):
    import pytest as _pytest

    from nycitibike_data_transform_spark.operators.spans import (
        strip_repeated_windows,
    )

    docs = spark.createDataFrame([(1, "a b")], "doc_id bigint, text string")
    with _pytest.raises(ValueError):
        strip_repeated_windows(docs, window=0)
    with _pytest.raises(ValueError):
        strip_repeated_windows(docs, max_windows=0)


def test_strip_repeated_windows_single_pass(spark):
    """The empty-doc branch must NOT cost a second corpus scan
    (ADVICE r12): one explode_outer pass serves both populated and
    token-less documents, so the plan reads the source exactly once
    and carries exactly the two documented shuffles."""
    from nycitibike_data_transform_spark.operators.spans import (
        strip_repeated_windows,
    )
    from nycitibike_data_transform_spark.plans import count_exchanges

    docs = spark.createDataFrame(
        [(1, "a b a b"), (2, None)], "doc_id bigint, text string"
    )
    out = strip_repeated_windows(docs, window=2)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("LocalTableScan") <= 1
    assert "Union" not in plan
    assert count_exchanges(out) == 2


def test_strip_repeated_windows_pools_duplicate_ids(spark):
    """Non-unique ids are POOLED into one output row (the documented
    merge semantics, matching the SQL oracle): windows from every row
    sharing the id join one election, first-occurrence-by-wid wins."""
    from nycitibike_data_transform_spark.operators.spans import (
        strip_repeated_windows,
    )

    docs = spark.createDataFrame(
        [(1, "a b c d"), (1, "a b x y")], "doc_id bigint, text string"
    )
    out = strip_repeated_windows(docs, window=2).collect()
    assert len(out) == 1
    row = out[0]
    # pooled: 4 windows in, 'a b' elected once (min wid), 3 kept
    assert (row["windows_in"], row["windows_kept"]) == (4, 3)
    assert sorted(row["clean_text"].split()) == sorted("a b c d x y".split())


def test_strip_repeated_windows_enforces_max_windows(spark):
    """The bounded-document contract is a BEHAVIOR, not a comment
    (VERDICT r12 item 5): a document chunking past max_windows fails
    the job loudly, naming the document — never a silent truncation —
    while same-size documents under the bound pass untouched."""
    import pytest as _pytest

    from nycitibike_data_transform_spark.operators.spans import (
        strip_repeated_windows,
    )

    docs = spark.createDataFrame(
        [(7, " ".join(f"t{i}" for i in range(20))), (8, "a b")],
        "doc_id bigint, text string",
    )
    # 10 windows at window=2: bound of 10 passes, 9 refuses
    ok = strip_repeated_windows(docs, window=2, max_windows=10).collect()
    assert {r["doc_id"]: r["windows_kept"] for r in ok} == {7: 10, 8: 1}
    with _pytest.raises(Exception, match="document 7 exceeds max_windows=9"):
        strip_repeated_windows(docs, window=2, max_windows=9).collect()


def test_strip_repeated_windows_refuses_pooled_overflow(spark):
    """ADVICE r13: the pre-aggregation guard is per input ROW, so k
    duplicate-id rows can each clear it yet pool up to k·max_windows
    distinct windows into one buffer. The post-aggregation re-check
    must refuse that pooled overflow loudly — while the same rows
    under a bound that accommodates the pool still pass."""
    import pytest as _pytest

    from nycitibike_data_transform_spark.operators.spans import (
        strip_repeated_windows,
    )

    # two rows, same id, fully disjoint windows: 3 per row (each under
    # a bound of 4), 6 distinct pooled (over it)
    docs = spark.createDataFrame(
        [(1, "a b c d e f"), (1, "u v w x y z")],
        "doc_id bigint, text string",
    )
    ok = strip_repeated_windows(docs, window=2, max_windows=6).collect()
    assert (ok[0]["windows_in"], ok[0]["windows_kept"]) == (6, 6)
    with _pytest.raises(Exception, match="duplicate rows for id 1 pooled"):
        strip_repeated_windows(docs, window=2, max_windows=4).collect()
