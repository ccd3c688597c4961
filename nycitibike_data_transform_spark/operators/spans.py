"""Exact duplicate-span detection (substring-level dedup).

Detects token spans of a fixed width that occur more than once
anywhere in the corpus (across documents OR repeated within one
document) — the span-level analogue of exact document dedup, after
Lee et al. 2022 ("Deduplicating Training Data Makes Language Models
Better"), which removes repeated ~50-token substrings rather than
whole near-duplicate documents. North-star addition (SURVEY.md §2.9);
the reference has no text surface at all (its models are pure
relational SQL over ride feeds).

Scale shape (the 100 TB plan):

- tokenize + span-explode is a narrow per-row transform — ~n_tokens
  rows per document, same order of growth as the shingle pipeline in
  ``operators/dedup.py``;
- spans shuffle ONCE on their md5 hash for the occurrence count
  (map-side partial aggregation applies — duplicated spans collapse
  early), and the duplicated-hash set joins back to the span stream
  on the same key;
- interval merging (gaps-and-islands) runs per document: one shuffle
  on doc_id, windows sort within a document only — no global sort,
  no driver collect anywhere;
- the md5 span hash (not the raw span text) is what shuffles: 32
  bytes per span regardless of span width.

Everything is built-in Column expressions — no Python UDFs; the whole
pipeline stays inside whole-stage codegen except the two shuffles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from nycitibike_data_transform_spark.functions.text import token_array
from nycitibike_data_transform_spark.operators.util import fan_out


def _spans_with_positions(
    docs: DataFrame, width: int, id_col: str, text_col: str
) -> tuple[DataFrame, DataFrame]:
    """(base, spans): base = (doc_id, __w tokens, __n_tokens);
    spans = (doc_id, pos 1-based, __h md5-of-span)."""
    docs = fan_out(docs)
    base = docs.select(
        F.col(id_col).alias("doc_id"), token_array(text_col).alias("__w")
    ).withColumn("__n_tokens", F.size("__w"))
    span_structs = F.when(
        F.col("__n_tokens") >= width,
        F.expr(
            f"transform(sequence(1, __n_tokens - {width - 1}),"
            f" i -> struct(i as pos, concat_ws(' ', slice(__w, i, {width})) as span))"
        ),
    ).otherwise(F.expr("array()").cast("array<struct<pos:int,span:string>>"))
    spans = base.select("doc_id", F.explode(span_structs).alias("__s")).select(
        "doc_id", F.col("__s.pos").alias("pos"), F.md5("__s.span").alias("__h")
    )
    return base, spans


# --- bloom_prefilter="auto" gate (VERDICT r8 item #4, the size-gated
# pattern from similarity.cosine_topk). The prefilter provably cuts
# probe-side SHUFFLE ROWS (measured 10.9× at 0.07% FPR on the natural
# sf0.1 corpus, ROUND8_NOTES), but rows-cut only converts to wall time
# when shuffle bytes are expensive — i.e. when they cross a network.
# Measured both ways (r9, 10× organic corpus: 2.36M span rows, 5.3%
# dup-key fraction, local[32]): off 6.1 s, on 7.8 s — on a single node
# the shuffle is a memcpy and the prefilter's fixed costs (dup-set
# checkpoint + count, 343 KB bitset collect, extra probe jobs) never
# pay for themselves even at a 93% row cut. The row threshold is
# therefore calibrated for the CLUSTER regime the operator targets:
# ~50M span rows ≈ 1.6 GB of md5 hashes per shuffle side, where
# dropping >90% of them beats a sub-second bitset build by orders of
# magnitude. Local/test scales stay on the off-path (and the r9
# measurement shows that is the FASTER path there, not a missed win).
# The gate turns the prefilter on only when BOTH hold:
#
# - span stream ≥ BLOOM_AUTO_MIN_SPAN_ROWS (estimated from
#   sum(length(text)) — one column-pruned scan, no tokenize pass, no
#   shuffle; ~6 chars per whitespace token+space);
# - the duplicated-hash set is a small fraction of the span stream —
#   when most span hashes are duplicated the probe passes nearly
#   every row and the bitset buys nothing.
#
# The estimate is checked FIRST (r15): at local/test scales it fails
# the gate and the off-path costs only that one cheap scan — the
# dup-key checkpoint + count run only when the estimate passes, and
# that count is the SAME count the bitset sizing needs, so the on-path
# decision costs nothing extra. Bitset ceiling at the gate boundary:
# 50M rows × 25% dup keys × 16 bits = 25 MB broadcast — acceptable;
# callers forcing True on larger dup sets should size bits_per_key
# down or re-shard first.
BLOOM_AUTO_MIN_SPAN_ROWS = 50_000_000
BLOOM_AUTO_MAX_DUP_KEY_FRACTION = 0.25
_EST_CHARS_PER_TOKEN = 6


def _resolve_bloom(
    docs: DataFrame,
    text_col: str,
    spans: DataFrame,
    dup_keys: DataFrame,
    mode,
    bits_per_key: int,
) -> tuple[DataFrame, DataFrame]:
    """Apply the ``bloom_prefilter`` mode: True forces the prefilter,
    False bypasses it, "auto" decides by the size gate above. Returns
    (possibly prefiltered spans, checkpointed-or-passthrough dup_keys);
    output is bit-identical across all three modes (the prefilter is
    lossless — pinned in tests/test_spans.py both sides of the gate).

    Laziness contract (r9 review, narrowed r15): ``False`` builds a
    fully lazy plan; ``True`` EXECUTES at call time (checkpoint +
    count + bitset collect — the measured-faster shape, see
    ``_bloom_cut_probe_side``). ``"auto"`` executes ONE cheap
    column-pruned text scan at call time for the span-row estimate;
    only when that estimate passes the size gate (i.e. on the
    cluster-scale ON path) does it additionally checkpoint and count
    the dup-key relation — the count the gate's second condition and
    the bitset sizing both need. At local/test scales the estimate
    fails the gate first, so "auto" plans cost one metadata-cheap scan
    instead of r14's checkpoint + count + scan (r15 opt: interleaved
    A/B min-of-5 at sf0.1 — span_strip 2.58 → 2.05 s, span_dedup
    1.75 → 1.32 s).
    """
    if mode is False:
        return spans, dup_keys
    if mode is True:
        return _bloom_cut_probe_side(spans, dup_keys, bits_per_key)
    if mode != "auto":
        raise ValueError(
            f"bloom_prefilter must be True, False, or 'auto', got {mode!r}"
        )
    total_chars = docs.agg(F.sum(F.length(text_col)).alias("c")).first()[0] or 0
    est_span_rows = total_chars / _EST_CHARS_PER_TOKEN
    if est_span_rows < BLOOM_AUTO_MIN_SPAN_ROWS:
        # OFF path decided by the estimate alone — no dup-key
        # materialization, fully lazy downstream plan
        return spans, dup_keys
    dup_keys = dup_keys.localCheckpoint(eager=True)
    n_keys = dup_keys.count()
    if n_keys == 0:
        return spans, dup_keys  # nothing duplicated — the join is empty
    if n_keys > est_span_rows * BLOOM_AUTO_MAX_DUP_KEY_FRACTION:
        return spans, dup_keys
    # same sized build as the forced-True path — shared helper so the
    # bitset sizing/FPR math can never diverge between modes (r9 review)
    return _bloom_cut_probe_side(
        spans, dup_keys, bits_per_key, n_keys=n_keys
    )


def _bloom_cut_probe_side(
    spans: DataFrame,
    dup_keys: DataFrame,
    bits_per_key: int,
    n_keys: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Lossless Bloom prefilter in front of the spans ⋈ dup-hash
    equi-join (VERDICT r7 item #4 — the DEPLOY.md shuffle-cut wired
    into the operator, not just a standalone op): the duplicated-hash
    set is typically a small fraction of the span stream, so probing
    a kilobytes-to-MB bitset drops the provably-unmatched span rows
    BEFORE the join shuffle — the second full-spans shuffle shrinks
    to true matches + the ~0.8% FPR leak. No false negatives + inner
    join ⇒ output is bit-identical (pinned in tests/test_spans.py).

    ``dup_keys`` (one row per duplicated ``__h``) is
    localCheckpoint-ed first: the sizing count, the Bloom build's
    collect, and the final join would otherwise each recompute the
    full span groupBy from scratch (the flag_contaminated lesson,
    ADVICE r7). Returns (prefiltered spans, checkpointed dup_keys).
    Pass ``n_keys`` when the caller already checkpointed and counted
    (the auto gate) — the keys are then used as-is.

    r15 opt round measured (and REJECTED) a fully lazy alternative —
    the bitset built in-plan as a one-row relation (no checkpoint, no
    count, no collect; dup-key aggregate shared via ReusedExchange).
    One-session interleaved A/B at sf0.1, min of 5: span_strip_bloom
    4.43 s eager vs 4.95 s lazy, decontaminate_bloom 2.70 vs 2.78 —
    the lazy plan's deep SERIAL chain of broadcast stages (count →
    bitset → probe, each a synchronous materialization on the critical
    path) costs more than the three eager jobs it saves, and the
    checkpoint additionally spares the probe-side plan one full
    dup-key aggregate re-execution. Kept eager deliberately.
    """
    from nycitibike_data_transform_spark.operators.bloom import (
        bloom_build,
        bloom_prefilter,
    )

    if n_keys is None:
        dup_keys = dup_keys.localCheckpoint(eager=True)
        n_keys = dup_keys.count()
    m_bits = max(64, -(-(n_keys * bits_per_key) // 64) * 64)
    bits = bloom_build(dup_keys, "__h", m_bits=m_bits)
    return bloom_prefilter(spans, "__h", bits), dup_keys


def strip_duplicate_spans(
    docs: DataFrame,
    width: int = 8,
    min_count: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    bloom_prefilter: bool | str = "auto",
    bloom_bits_per_key: int = 16,
) -> DataFrame:
    """Remove duplicated spans, keeping each span's globally-first
    occurrence (smallest ``(doc_id, pos)``) — the cut step of Lee
    et al. 2022 substring dedup, paired with ``duplicate_span_stats``.

    Every occurrence of a duplicated span except the first is marked
    for removal; marked ``[pos, pos+width-1]`` intervals merge per
    document, and the covered token positions are cut from the
    normalized text. A kept first occurrence can still lose tokens to
    an overlapping removed occurrence of a DIFFERENT span — the
    standard approximation (exact "preserve one copy of every span"
    is not interval-expressible).

    Returns ``(doc_id, n_tokens_before, n_tokens_after, text_clean)``
    for every input document (text_clean is the normalized text with
    removed tokens cut; '' when everything was cut or the doc was
    empty).

    Scale shape: identical to duplicate_span_stats (one hash shuffle
    for the occurrence count + first-occurrence min-struct — both
    map-side combinable — then per-document windows). The rebuild
    collects each document's surviving tokens into one row — bounded
    by input-document size, which arrived as one row already.
    ``bloom_prefilter`` ("auto" default) cuts the join-back shuffle:
    span rows whose hash provably isn't duplicated are dropped by a
    broadcast Bloom bitset before they shuffle — lossless, output
    bit-identical. "auto" engages it only past the size gate (see
    ``_resolve_bloom``); True/False force either path. Laziness: False
    builds a fully lazy plan; True executes the dup-hash count and
    bitset build at plan construction; "auto" runs one column-pruned
    text scan at plan construction, plus the dup-hash count only when
    the size gate's ON path is reached (see ``_resolve_bloom``).
    """
    if width < 1:
        raise ValueError(f"width must be >= 1, got {width}")
    if min_count < 2:
        raise ValueError(f"min_count must be >= 2, got {min_count}")

    base, spans = _spans_with_positions(docs, width, id_col, text_col)

    # duplicated spans with their first occurrence — single grouped
    # pass: count + lexicographic min(struct) both partial-aggregate
    dup_first = (
        spans.groupBy("__h")
        .agg(
            F.count(F.lit(1)).alias("__cnt"),
            F.min(F.struct("doc_id", "pos")).alias("__first"),
        )
        .filter(F.col("__cnt") >= min_count)
        .select("__h", "__first")
    )
    spans, dup_first = _resolve_bloom(
        docs, text_col, spans, dup_first, bloom_prefilter, bloom_bits_per_key
    )
    removed = (
        spans.join(dup_first, "__h")
        .filter(
            ~(
                (F.col("doc_id") == F.col("__first.doc_id"))
                & (F.col("pos") == F.col("__first.pos"))
            )
        )
        .select("doc_id", "pos", (F.col("pos") + F.lit(width - 1)).alias("__end"))
    )

    w_ord = Window.partitionBy("doc_id").orderBy("pos")
    prev_max_end = F.max("__end").over(
        w_ord.rowsBetween(Window.unboundedPreceding, -1)
    )
    islands = removed.withColumn(
        "__new_island",
        F.when(prev_max_end.isNull() | (F.col("pos") > prev_max_end), 1).otherwise(0),
    ).withColumn(
        "__island",
        F.sum("__new_island").over(
            w_ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    cut_positions = (
        islands.groupBy("doc_id", "__island")
        .agg(F.min("pos").alias("__s"), F.max("__end").alias("__e"))
        .select(
            "doc_id", F.explode(F.sequence(F.col("__s"), F.col("__e"))).alias("idx")
        )
    )

    tokens = base.select(
        "doc_id", F.posexplode("__w").alias("__p0", "tok")
    ).select("doc_id", (F.col("__p0") + 1).alias("idx"), "tok")
    kept = tokens.join(cut_positions, ["doc_id", "idx"], "left_anti")
    rebuilt = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("__n_after"),
        F.concat_ws(
            " ",
            F.expr("transform(array_sort(collect_list(struct(idx, tok))), x -> x.tok)"),
        ).alias("__text_clean"),
    )
    return base.join(rebuilt, "doc_id", "left").select(
        "doc_id",
        F.col("__n_tokens").cast("long").alias("n_tokens_before"),
        F.coalesce(F.col("__n_after"), F.lit(0)).cast("long").alias("n_tokens_after"),
        F.coalesce(F.col("__text_clean"), F.lit("")).alias("text_clean"),
    )


def duplicate_span_stats(
    docs: DataFrame,
    width: int = 8,
    min_count: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    bloom_prefilter: bool | str = "auto",
    bloom_bits_per_key: int = 16,
) -> DataFrame:
    """Per-document duplicate-span statistics.

    A *span* is ``width`` consecutive whitespace tokens of the
    normalized text. A span is *duplicated* when its text occurs at
    ``min_count`` or more positions corpus-wide. Overlapping
    duplicated spans are merged into maximal intervals before counting
    covered tokens, so ``dup_tokens`` is the exact number of token
    positions lying inside at least one duplicated span.

    Returns one row per input document:
    ``(doc_id, n_tokens, n_spans, n_dup_spans, dup_tokens,
    dup_token_fraction)`` — documents shorter than ``width`` tokens
    get zero spans and fraction 0.0.
    """
    if width < 1:
        raise ValueError(f"width must be >= 1, got {width}")
    if min_count < 2:
        raise ValueError(f"min_count must be >= 2, got {min_count}")

    base, spans = _spans_with_positions(docs, width, id_col, text_col)

    dup_hashes = (
        spans.groupBy("__h")
        .agg(F.count(F.lit(1)).alias("__cnt"))
        .filter(F.col("__cnt") >= min_count)
        .select("__h")
    )
    spans, dup_hashes = _resolve_bloom(
        docs, text_col, spans, dup_hashes, bloom_prefilter, bloom_bits_per_key
    )
    dup_positions = spans.join(dup_hashes, "__h").select(
        "doc_id", "pos", (F.col("pos") + F.lit(width - 1)).alias("__end")
    )

    # Gaps-and-islands: merge overlapping [pos, pos+width-1] intervals
    # per document, then count covered token positions exactly.
    w_ord = Window.partitionBy("doc_id").orderBy("pos")
    prev_max_end = F.max("__end").over(
        w_ord.rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = dup_positions.withColumn(
        "__new_island",
        F.when(prev_max_end.isNull() | (F.col("pos") > prev_max_end), 1).otherwise(0),
    )
    islands = flagged.withColumn(
        "__island",
        F.sum("__new_island").over(
            w_ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    per_doc = (
        islands.groupBy("doc_id", "__island")
        .agg(
            F.count(F.lit(1)).alias("__n_pos"),
            (F.max("__end") - F.min("pos") + F.lit(1)).alias("__covered"),
        )
        .groupBy("doc_id")
        .agg(
            F.sum("__n_pos").alias("__n_dup_spans"),
            F.sum("__covered").alias("__dup_tokens"),
        )
    )

    return (
        base.join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.col("__n_tokens").cast("long").alias("n_tokens"),
            F.when(
                F.col("__n_tokens") >= width, F.col("__n_tokens") - F.lit(width - 1)
            )
            .otherwise(F.lit(0))
            .cast("long")
            .alias("n_spans"),
            F.coalesce(F.col("__n_dup_spans"), F.lit(0)).cast("long").alias(
                "n_dup_spans"
            ),
            F.coalesce(F.col("__dup_tokens"), F.lit(0)).cast("long").alias(
                "dup_tokens"
            ),
            F.round(
                F.when(F.col("__n_tokens") == 0, F.lit(0.0)).otherwise(
                    F.coalesce(F.col("__dup_tokens"), F.lit(0)).cast("double")
                    / F.col("__n_tokens")
                ),
                6,
            ).alias("dup_token_fraction"),
        )
    )


def strip_repeated_windows(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 2,
    max_windows: int = 1_000_000,
) -> DataFrame:
    """INTRA-document repetition removal: chunk each document's token
    stream into consecutive ``window``-token windows, drop every
    window whose exact text already appeared EARLIER IN THE SAME
    DOCUMENT (first occurrence wins), and reassemble the survivor
    windows in order. The within-doc counterpart of
    :func:`strip_duplicate_spans` (which removes spans duplicated
    ACROSS the corpus): boilerplate headers, nav bars, and
    copy-paste loops repeat inside one page long before they repeat
    across pages, and repetition-heavy documents are the classic
    LM-training poison the Gopher quality filters cut on.

    Returns one row per DISTINCT ``id_col`` value: ``(id_col,
    clean_text, windows_in, windows_kept)`` — the counts make the cut
    rate auditable without diffing texts. Token-less documents
    (NULL/blank text) pass through as ``('', 0, 0)`` instead of
    silently vanishing (r12 review finding: the first grouped
    implementation dropped them, diverging from the oracle). If the
    same ``id_col`` value appears on multiple input rows, their
    windows are POOLED into one output row (both groupBy stages key
    on ``id_col``; the SQL oracle does the same) — callers with
    non-unique ids that want per-row semantics must pre-assign a
    surrogate id (ADVICE r12: the old docstring over-promised
    "exactly one row per input document").

    ``max_windows`` bounds the per-document aggregation state: the
    reassembly stage collects one (wid, wtext) struct per surviving
    window into a single aggregation buffer, so the documented
    "per-document-bounded" claim is only real if a bound is ENFORCED
    (VERDICT r12 item 5). A document chunking into more than
    ``max_windows`` windows fails the job at execution with a
    ``raise_error`` naming the document — loud refusal, never a
    silent truncation that would diverge from the SQL oracle. The
    default (1M windows = 2M tokens at window=2) clears any
    book-length document while capping the buffer at ~tens of MB;
    pass a smaller bound for stricter memory budgets.

    The pre-aggregation guard is per input ROW (ADVICE r13): duplicate
    ids pool into ONE aggregation buffer, so k rows sharing an id can
    each clear the row bound yet pool up to k·max_windows distinct
    windows. A second ``raise_error`` therefore re-checks the POOLED
    size (``windows_kept``) after aggregation — by then the buffer has
    already been paid for, so this is a loud refusal of the documented
    contract, not a memory guard; callers with heavily duplicated ids
    who need the memory bound itself must pre-assign surrogate ids.

    Scale shape (100 TB posture): window ASSEMBLY is a narrow per-row
    higher-order projection (sequence/slice, the
    ``operators.dedup.shingles`` pattern — the window array is
    evaluated once per row and exploded); first-occurrence ELECTION
    and reassembly are two shuffles on per-document-bounded keys
    ((doc, window-text), then doc), so partial aggregation applies
    and no key exceeds one document's windows. A zero-shuffle variant
    electing with an indexed prefix-filter was tried and reverted
    (r12): Catalyst re-inlines the window-array expression inside the
    lambda — no CSE across lambda scopes — turning the election into
    O(windows²)·(window build) per document, a measured 70× slowdown
    at sf0.1. No UDFs, no driver-side state, no global sort.
    """
    if window < 1:
        raise ValueError(f"window must be >= 1, got {window}")
    if max_windows < 1:
        raise ValueError(f"max_windows must be >= 1, got {max_windows}")
    # materialize the token array ONCE as an attribute: the lambda
    # below references it per window element, and Catalyst inlines
    # (not CSEs) expression-valued references into lambda scopes —
    # with the regex-heavy tokenizer inlined, assembly re-tokenized
    # the document per window (measured 3× on the sweep entry)
    base = df.select(id_col, token_array(text_col).alias("_srw_toks"))
    toks = F.col("_srw_toks")
    n_wins_raw = F.when(
        F.size(toks) > 0,
        F.ceil(F.size(toks) / F.lit(window)).cast("int"),
    ).otherwise(F.lit(0))
    # bounded-document contract (VERDICT r12 item 5): refuse, at
    # execution time and naming the offender, any document whose
    # window count would exceed the reassembly buffer bound —
    # raise_error is a built-in, so the guard rides the same
    # whole-stage-codegen projection as the window assembly
    n_wins = F.when(
        n_wins_raw > F.lit(max_windows),
        F.raise_error(
            F.concat(
                F.lit("strip_repeated_windows: document "),
                F.col(id_col).cast("string"),
                F.lit(
                    f" exceeds max_windows={max_windows} "
                    f"(window={window}); raise max_windows or pre-split"
                ),
            )
        ).cast("int"),
    ).otherwise(n_wins_raw)
    idx = F.when(n_wins > 0, F.sequence(F.lit(0), n_wins - 1)).otherwise(
        F.array().cast("array<int>")
    )
    wins_arr = F.transform(
        idx,
        lambda k: F.struct(
            k.cast("bigint").alias("wid"),
            F.array_join(F.slice(toks, k * window + 1, window), " ").alias(
                "wtext"
            ),
        ),
    )
    # explode_OUTER: token-less docs survive the unnest as one row with
    # a NULL window and are folded back to ('', 0, 0) by the aggregates
    # below — ONE pass over the corpus, where the first implementation
    # re-scanned and re-tokenized everything just to find the empties
    # (ADVICE r12: that second scan doubled the most expensive narrow
    # stage at the 100 TB posture)
    exploded = base.select(id_col, F.explode_outer(wins_arr).alias("w")).select(
        id_col, F.col("w.wid").alias("wid"), F.col("w.wtext").alias("wtext")
    )
    # real windows never have NULL wtext (array_join of a non-empty
    # slice is always a string; token_array maps NULL/blank text to an
    # empty array) — NULL wtext is exactly the empty-doc marker, and it
    # groups as a single per-doc row through the election shuffle
    firsts = exploded.groupBy(id_col, "wtext").agg(
        F.min("wid").alias("wid"), F.count(F.lit(1)).alias("occ")
    )
    return firsts.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(  # collect_list drops NULL entries,
                        # so the empty-doc marker contributes nothing
                        F.when(
                            F.col("wtext").isNotNull(),
                            F.struct("wid", "wtext"),
                        )
                    )
                ),
                lambda s: s["wtext"],
            ),
            " ",
        ).alias("clean_text"),
        F.coalesce(
            F.sum(F.when(F.col("wtext").isNotNull(), F.col("occ"))), F.lit(0)
        )
        .cast("long")
        .alias("windows_in"),
        # pooled-size re-check (ADVICE r13, docstring above): duplicate
        # ids can pool past the per-row bound — refuse loudly instead
        # of silently exceeding the documented contract
        F.when(
            F.count(F.col("wtext")) > F.lit(max_windows),
            F.raise_error(
                F.concat(
                    F.lit("strip_repeated_windows: duplicate rows for id "),
                    F.col(id_col).cast("string"),
                    F.lit(
                        f" pooled more than max_windows={max_windows} "
                        "distinct windows in one aggregation buffer; "
                        "pre-assign surrogate ids or raise max_windows"
                    ),
                )
            ).cast("long"),
        )
        .otherwise(F.count(F.col("wtext")))
        .cast("long")
        .alias("windows_kept"),
    )
