"""Deduplication operator family (north-star, SURVEY.md §2.9).

Four tiers, cheapest first — all pure DataFrame ops, no Python UDFs:

- **exact**: group on a normalized-text fingerprint; keep the min-id
  representative. One shuffle on the (md5) fingerprint — uniformly
  distributed, skew-free at any scale.
- **n-gram Jaccard**: exact shingle-set similarity via explode +
  self-join on shingle. Quadratic in the worst case — correct
  semantics baseline for the approximate tiers, and the one the
  DuckDB oracle can verify.
- **MinHash + LSH**: k permutation-hashed min-signatures, banded into
  LSH buckets; candidate pairs only join within a bucket. This is the
  100 TB path: shuffle cost is O(docs × bands), never O(docs²).
- **SimHash**: 64-bit weighted token hash; near-dups differ in few
  bits; grouping on band substrings finds candidates.

MinHash/SimHash use xxhash64/murmur (engine-specific bit patterns) so
they are rows-only checks for the driver; their *semantics* are pinned
by unit tests on known near-duplicate fixtures.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from nycitibike_data_transform_spark.functions.text import (
    text_fingerprint,
    token_array,
)
from nycitibike_data_transform_spark.operators.util import fan_out

# ----------------------------------------------------------------- exact

def exact_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """One row per distinct normalized text: representative id (min),
    copy count, and the fingerprint. Map-side partial agg keeps the
    shuffle to one row per distinct fingerprint."""
    return (
        df.select(F.col(id_col), text_fingerprint(text_col).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("n_copies"))
    )


def dedup_by_url(
    df: DataFrame,
    url_col: str = "url",
    id_col: str = "doc_id",
    quality_col: str | None = None,
) -> DataFrame:
    """URL-level keep-best dedup for web corpora (VERDICT r14 item 5):
    group documents on ``canonical_url`` (scheme/host case, default
    ports, ``www.``, trailing slashes, tracking params, param order,
    fragments all normalized away — contract in ``functions/urls.py``)
    and keep the best member of each group — highest ``quality_col``
    (ties to the lower id), or simply the lowest id when no quality
    column is given.

    Rows whose URL cannot be canonicalized (no ``scheme://`` — NULL
    canonical form) are RETAINED as singletons with ``canonical_url``
    NULL: an unparseable locator is not evidence of duplication.

    Output: one row per kept document —
    ``(id_col, canonical_url, group_size)``.

    Scale shape: one shuffle on the canonical key (md5-free — the key
    is the canonical string itself, uniformly host-distributed in a web
    corpus); the per-group argmax is a window over groups that are
    mirror-count sized, never corpus-sized. Hot hosts shard naturally
    because the PATH stays in the key.
    """
    from pyspark.sql import Window

    from nycitibike_data_transform_spark.functions.urls import canonical_url

    curl = canonical_url(url_col)
    # NULL canonical forms must stay singletons, not lump into one
    # window group: give each a per-id sentinel key (no real canonical
    # form can collide — it always contains '://', the sentinel never
    # does because a '__raw__:…' string has no scheme-prefixed form)
    key = F.coalesce(
        F.col("__curl"),
        F.concat(F.lit("__raw__:"), F.col(id_col).cast("string")),
    )
    order = [F.col(id_col).asc()]
    if quality_col is not None:
        order.insert(0, F.col(quality_col).desc())
    w = Window.partitionBy("__key").orderBy(*order)
    cols = [F.col(id_col), F.col("__curl"), key.alias("__key")]
    if quality_col is not None:
        cols.append(F.col(quality_col))
    return (
        df.withColumn("__curl", curl)
        .select(*cols)
        .withColumn("__rn", F.row_number().over(w))
        .withColumn("__n", F.count(F.lit(1)).over(Window.partitionBy("__key")))
        .filter(F.col("__rn") == 1)
        .select(
            F.col(id_col),
            F.col("__curl").alias("canonical_url"),
            F.col("__n").cast("long").alias("group_size"),
        )
    )


# -------------------------------------------------------- shingles / jaccard

def tokenize(df: DataFrame, text_col: str, out_col: str = "tokens") -> DataFrame:
    """The shared tokenizer (functions.text.token_array): NULL/blank
    text → empty array, so every downstream pipeline (shingles,
    MinHash, SimHash) agrees that contentless docs have no tokens —
    a bare split() would hand SimHash a [''] token for blank docs.

    fan_out here, at the shared choke point: every tokenize consumer
    is a compute-bound regex/shingle stage, and a compact input (one
    parquet file ⇒ one scan task) would otherwise run it on a single
    core. No-op at real scale (inputs already wide)."""
    return fan_out(df).withColumn(out_col, token_array(text_col))


def shingles(col: Column, n: int = 3) -> Column:
    """Distinct n-token shingles from a token array (higher-order
    functions only — runs inside codegen). Arrays shorter than ``n``
    yield an empty set (guarded: F.sequence(0, -1) would count *down*)."""
    idx = F.when(F.size(col) >= n, F.sequence(F.lit(0), F.size(col) - n)).otherwise(
        F.array().cast("array<int>")
    )
    joined = F.transform(idx, lambda i: F.concat_ws(" ", F.slice(col, i + 1, n)))
    return F.array_distinct(joined)


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.6,
    mode: str = "blocked",
    num_hashes: int = 16,
    bands: int = 8,
    max_shingle_df: int | None = None,
    shingles_df: DataFrame | None = None,
) -> DataFrame:
    """Jaccard-similar pairs over n-gram shingle sets.

    ``shingles_df`` (optional): a precomputed DISTINCT ``(id_col,
    shingle)`` relation (empty shingles removed) to use instead of
    tokenizing ``df`` — the standard production shape where the
    shingle table is materialized once and shared across dedup /
    containment / minhash consumers. Passing the SAME DataFrame here
    and to ``minhash_candidate_pairs`` lets AQE reuse one shuffle
    exchange across every consumer in a combined plan.

    ``mode="blocked"`` (default, the 100 TB path): MinHash-LSH candidate
    pairs (equi-join on (band, bucket) — linear in corpus size, no
    shingle self-join, no hot-key skew) exactly re-verified with
    ``jaccard_on_candidate_pairs``. The result equals the exact tier
    whenever LSH recall is 1; with ``num_hashes=16, bands=8`` (2 rows
    per band) a true pair at Jaccard t is missed with probability
    (1-t²)^8 — 1.7e-6 at t=0.9. Measured on the testdata: every
    qualifying pair sits at t ≥ 0.9 (sf0.01: 25 pairs, all in the
    [0.9, 1.0] bin), so blocked == exact there, which is what keeps the
    driver's DuckDB oracle hash-green. Unrelated docs share no
    shingles, so their MinHash values are independent 64-bit draws and
    bucket collisions are ~2^-128 — candidate volume ≈ true-pair
    volume, not O(n²).

    ``mode="exact"``: explode shingles → self-join on shingle (ids
    ordered to halve the pair space) → count common → join per-doc set
    sizes → filter. Correctness baseline and the oracle the blocked
    tier is judged against. The shingle equi-join is the scale hazard:
    a shingle appearing in d docs makes one reducer do O(d²) work.
    ``max_shingle_df`` frequency-caps that: shingles with document
    frequency > cap are dropped from BOTH the pair counting and the
    set sizes (standard MinHash-corpus practice — boilerplate shingles
    carry no near-dup signal). Capping changes the similarity measure
    (Jaccard over the capped shingle universe), so it is opt-in and
    off for oracle-checked queries.
    """
    if mode == "blocked":
        if max_shingle_df is not None:
            raise ValueError(
                "max_shingle_df applies to the exact tier's shingle "
                "self-join only; the blocked tier has no hot-shingle "
                "reducer to cap (its join key is the MinHash bucket) — "
                "drop the argument or use mode='exact'"
            )
        candidates = minhash_candidate_pairs(
            df, text_col, id_col, n, num_hashes=num_hashes, bands=bands,
            shingles_df=shingles_df,
        )
        return jaccard_on_candidate_pairs(
            candidates, df, text_col, id_col, n, threshold
        )
    if mode != "exact":
        raise ValueError(f"unknown mode: {mode!r} (expected 'blocked' or 'exact')")
    # The .distinct() below looks redundant (shingles() already dedups
    # within a doc) but is deliberately load-bearing: it plans as an
    # aggregate whose shuffle exchange AQE REUSES for all three
    # consumers (both self-join sides and the sizes aggregation), so
    # the shingle explosion is computed once, cluster-wide. Measured
    # alternatives — carrying sizes through the explode, repartition on
    # the join key, shuffle-hash hints — all re-plan to broadcast +
    # serial recomputation and run 3-9× slower at sf0.1.
    sh = (
        shingles_df
        if shingles_df is not None
        else tokenize(df, text_col)
        .select(F.col(id_col), F.explode(shingles(F.col("tokens"), n)).alias("shingle"))
        .filter(F.length("shingle") > 0)
        .distinct()
    )
    if max_shingle_df is not None:
        keep = (
            sh.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("__df"))
            .filter(F.col("__df") <= max_shingle_df)
            .select("shingle")
        )
        sh = sh.join(keep, "shingle")
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    common = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
        )
        .agg(F.count(F.lit(1)).alias("common"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    jaccard = F.col("common").cast("double") / (
        F.col("sa.n_sh") + F.col("sb.n_sh") - F.col("common")
    ).cast("double")
    return (
        common.join(sa, F.col("doc_a") == F.col(f"sa.{id_col}"))
        .join(sb, F.col("doc_b") == F.col(f"sb.{id_col}"))
        .select("doc_a", "doc_b", jaccard.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


# ------------------------------------------------------------ minhash + lsh

def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 16,
    shingles_df: DataFrame | None = None,
) -> DataFrame:
    """(id, h0..h{k-1}) MinHash signature per document.

    Shape matters here: explode the shingle set once, hash each shingle
    row ``num_hashes`` ways, then two-phase ``min`` aggregation.
    (The tempting alternative — ``array_min(transform(shingles, hash))``
    per hash — re-inlines the shingle-construction expression into all
    k transforms after Catalyst's projection collapse: k× the work.)
    Map-side partial mins reduce the shuffle to k longs per doc.

    ``shingles_df``: precomputed ``(id_col, shingle)`` rows to hash
    instead of tokenizing ``df`` (min is idempotent, so a distinct or
    non-distinct shingle relation gives identical signatures)."""
    sh = (
        shingles_df
        if shingles_df is not None
        else tokenize(df, text_col).select(
            F.col(id_col), F.explode(shingles(F.col("tokens"), n)).alias("shingle")
        )
    )
    return sh.groupBy(id_col).agg(
        *[F.min(F.xxhash64("shingle", F.lit(i))).alias(f"h{i}") for i in range(num_hashes)]
    )


def minhash_banded(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    shingles_df: DataFrame | None = None,
) -> DataFrame:
    """(id, band, bucket) LSH banding of the MinHash signature — the
    shared candidate-generation primitive for within-corpus pairing
    (``minhash_candidate_pairs``) and cross-set incremental dedup
    (``incremental_near_dup``)."""
    if num_hashes % bands != 0:
        raise ValueError("num_hashes must divide evenly into bands")
    rows_per_band = num_hashes // bands
    sig = minhash_signatures(df, text_col, id_col, n, num_hashes, shingles_df=shingles_df)
    return sig.select(
        F.col(id_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.concat_ws(
                            ",",
                            *[
                                F.col(f"h{i}")
                                for i in range(b * rows_per_band, (b + 1) * rows_per_band)
                            ],
                        ).alias("bucket"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select(F.col(id_col), F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))


def minhash_candidate_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    shingles_df: DataFrame | None = None,
) -> DataFrame:
    """LSH candidate pairs: equal band-slices of the MinHash signature
    land in the same bucket; only bucket-mates pair up.

    Shuffle profile: explode to (doc × bands) rows, hash-shuffle on
    (band, slice) — linear in corpus size. Downstream, verify
    candidates with ``ngram_jaccard_pairs`` semantics on the candidate
    subset only.
    """
    banded = minhash_banded(df, text_col, id_col, n, num_hashes, bands, shingles_df=shingles_df)
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(F.col(f"a.{id_col}").alias("doc_a"), F.col(f"b.{id_col}").alias("doc_b"))
        .distinct()
    )


def jaccard_on_candidate_pairs(
    candidates: DataFrame,
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.6,
) -> DataFrame:
    """Exact Jaccard for a given (doc_a, doc_b) candidate list.

    Each side's shingle SET travels as one array column through an
    equi-join on doc id (linear; candidates are sparse by
    construction), and the intersection/union run in codegen via
    array_intersect — no shingle-exploded self-join anywhere, so no
    hot-shingle reducer. Per-pair cost is O(|set a| + |set b|), the
    same work the exact tier pays per surviving pair.
    """
    # One corpus-wide shingle pass: the repartition puts an exchange
    # boundary under BOTH join branches, so (a) ReuseExchange computes
    # the shingle arrays once, and (b) Catalyst can't push a
    # downstream predicate below the projection and re-inline the
    # whole shingle expression into a Filter (measured r2: that
    # re-inlining made verification 4× the cost of the shingling
    # itself). No emptiness filter needed — a candidate can only
    # reference docs that produced ≥1 shingle (MinHash signatures come
    # from the exploded shingle table), so denominators are never 0.
    sets = (
        tokenize(df, text_col)
        .select(
            F.col(id_col),
            F.filter(shingles(F.col("tokens"), n), lambda s: F.length(s) > 0).alias(
                "sh_set"
            ),
        )
        .repartition(F.col(id_col))
    )
    sa = sets.select(F.col(id_col).alias("doc_a"), F.col("sh_set").alias("set_a"))
    sb = sets.select(F.col(id_col).alias("doc_b"), F.col("sh_set").alias("set_b"))
    common = F.size(F.array_intersect("set_a", "set_b"))
    jaccard = common.cast("double") / (
        F.size("set_a") + F.size("set_b") - common
    ).cast("double")
    # no broadcast HINT on candidates: their volume ≈ true-pair volume,
    # which on a heavily-duplicated crawl is billions of rows — a
    # forced broadcast would OOM the driver exactly where this
    # operator is needed most. AQE still broadcasts at runtime
    # whenever the candidate set is actually small (the common case),
    # so the small-corpus plan is unchanged.
    return (
        sa.join(candidates, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", jaccard.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def incremental_near_dup(
    corpus: DataFrame,
    batch: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.6,
    num_hashes: int = 16,
    bands: int = 8,
) -> DataFrame:
    """Cross-set near-dup check: which BATCH documents near-duplicate
    any CORPUS document (the daily-crawl-vs-index shape — ids must be
    disjoint across the two sets). Returns one row per batch doc:
    ``(id_col, n_matches, is_dup)``.

    Scale shape: both sides band independently (in production the
    corpus banding is precomputed and stored — it is pure per-doc
    work), then meet in a SHUFFLED (band, bucket) equi-join: neither
    side broadcasts, so a billion-doc index works. Verification joins
    each side's shingle sets by id (linear), never exploding shingles
    into a self-join. Batch docs only ever pair with bucket-mates —
    O(batch × bands) shuffle rows, not O(batch × corpus)."""
    c_banded = minhash_banded(corpus, text_col, id_col, n, num_hashes, bands).select(
        F.col(id_col).alias("corpus_id"), "band", "bucket"
    )
    b_banded = minhash_banded(batch, text_col, id_col, n, num_hashes, bands).select(
        F.col(id_col).alias("batch_id"), "band", "bucket"
    )
    candidates = (
        c_banded.join(b_banded, ["band", "bucket"])
        .select("corpus_id", "batch_id")
        .distinct()
    )

    def _sets(df: DataFrame, out_id: str, out_set: str) -> DataFrame:
        return (
            tokenize(df, text_col)
            .select(
                F.col(id_col).alias(out_id),
                F.filter(
                    shingles(F.col("tokens"), n), lambda s: F.length(s) > 0
                ).alias(out_set),
            )
        )

    common = F.size(F.array_intersect("set_c", "set_b"))
    jaccard = common.cast("double") / (
        F.size("set_c") + F.size("set_b") - common
    ).cast("double")
    matches = (
        candidates.join(_sets(corpus, "corpus_id", "set_c"), "corpus_id")
        .join(_sets(batch, "batch_id", "set_b"), "batch_id")
        .filter(jaccard >= threshold)
        .groupBy("batch_id")
        .agg(F.count(F.lit(1)).alias("n_matches"))
    )
    return (
        batch.select(F.col(id_col))
        .join(matches.select(F.col("batch_id").alias(id_col), "n_matches"), id_col, "left")
        .select(
            id_col,
            F.coalesce("n_matches", F.lit(0)).cast("long").alias("n_matches"),
            (F.coalesce("n_matches", F.lit(0)) > 0).cast("int").alias("is_dup"),
        )
    )


def near_dedup_docs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.6,
) -> DataFrame:
    """End-to-end near-deduplication: keep every document except the
    higher-id member of each verified near-duplicate pair (the standard
    greedy corpus-dedup policy — deterministic, one pass, no iterative
    connected components; a chain a~b~c keeps a because both b and c
    appear as some pair's doc_b).

    Plan shape: MinHash-LSH banding (equi-join on (band, bucket)) →
    exact Jaccard verification on candidates → left-anti join of the
    corpus against the dropped ids. Every join is a linear equi-join.
    """
    pairs = ngram_jaccard_pairs(
        df, text_col, id_col, n, threshold, mode="blocked"
    )
    dropped = pairs.select(F.col("doc_b").alias(id_col)).distinct()
    return df.join(dropped, id_col, "left_anti")


# --------------------------------------------------- decontamination

# auto tier switch: benchmark shingle sets up to this many distinct
# shingles broadcast (a few hundred MB at ~60 bytes/shingle — inside
# a healthy executor broadcast budget); larger sets take the shuffled
# equi-join so an oversized "benchmark" degrades instead of OOMing.
DECON_BROADCAST_MAX_SHINGLES = 5_000_000


def flag_contaminated(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    method: str = "auto",
    broadcast_max_shingles: int = DECON_BROADCAST_MAX_SHINGLES,
    bloom_prefilter: bool = False,
    bloom_bits_per_shingle: int = 16,
) -> DataFrame:
    """Benchmark decontamination: one row per CORPUS doc with the count
    of distinct n-gram shingles it shares with any BENCHMARK doc and a
    0/1 ``contaminated`` flag — the standard pre-training overlap scrub.

    ``bloom_prefilter=True`` (r7, shuffle tier's scale cut): build a
    Bloom filter over the benchmark shingles (``operators/bloom.py`` —
    ~2 bytes/shingle at the default sizing, kilobytes-to-megabytes
    where the exact string set is GBs) and drop corpus shingle rows
    that provably have no match BEFORE they enter the join shuffle.
    No false negatives ⇒ the result is IDENTICAL (pinned in
    tests/test_bloom.py); only the corpus-side shuffle volume drops —
    to true matches + the ~0.8% FPR leak.

    Tiers (VERDICT r4 "what's wrong" #1 — the broadcast was previously
    unconditional and an oversized benchmark would OOM):

    - ``broadcast``: benchmark's distinct shingle set broadcast; the
      corpus streams through one linear explode + broadcast-semi-join.
      Right whenever eval suites are eval-suite-sized.
    - ``shuffle``: the same plan WITHOUT the broadcast hint — both
      sides hash-shuffle on ``shingle`` and meet in a sort/shuffle
      equi-join, mirroring ``incremental_near_dup``'s both-sides-
      shuffle shape. The benchmark side is pre-distinct (one row per
      shingle), so join fan-out stays bounded by the corpus-side
      shingle frequency — identical to the broadcast tier's.
    - ``auto``: count the benchmark's distinct shingles (one linear
      job over the benchmark only — never the corpus) and pick.

    Both tiers are the same logical plan modulo the join strategy, so
    outputs are identical by construction; pinned in tests/test_dedup.py.
    """
    if method not in ("auto", "broadcast", "shuffle"):
        raise ValueError(f"method must be auto|broadcast|shuffle, got {method!r}")

    def _sh(df: DataFrame) -> DataFrame:
        return (
            tokenize(df, text_col)
            .select(
                F.col(id_col), F.explode(shingles(F.col("tokens"), n)).alias("shingle")
            )
            .filter(F.length("shingle") > 0)
        )

    bench_shingles = _sh(benchmark).select("shingle").distinct()
    n_bench: int | None = None
    if method == "auto" or bloom_prefilter:
        # materialize the distinct set before counting it — the sizing
        # count, the Bloom build's collect, and the join below would
        # otherwise EACH run the full benchmark tokenize+explode+
        # distinct from scratch (ADVICE r7: with an explicit method +
        # bloom_prefilter that tripled the benchmark-side work the
        # prefilter exists to avoid)
        bench_shingles = bench_shingles.localCheckpoint(eager=True)
        n_bench = bench_shingles.count()
    if method == "auto":
        method = "broadcast" if n_bench <= broadcast_max_shingles else "shuffle"
    bench_side = (
        F.broadcast(bench_shingles) if method == "broadcast" else bench_shingles
    )
    corpus_shingles = _sh(corpus)
    if bloom_prefilter:
        from nycitibike_data_transform_spark.operators.bloom import (
            bloom_build,
        )
        from nycitibike_data_transform_spark.operators.bloom import (
            bloom_prefilter as _bloom_prefilter,
        )

        m_bits = max(64, -(-(n_bench * bloom_bits_per_shingle) // 64) * 64)
        bits = bloom_build(bench_shingles, "shingle", m_bits=m_bits)
        corpus_shingles = _bloom_prefilter(corpus_shingles, "shingle", bits)
    hits = (
        corpus_shingles
        .join(bench_side, "shingle")
        # shingles() emits distinct shingles per doc, so plain count is
        # the per-doc count of distinct contaminated shingles
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_contaminated"))
    )
    return (
        corpus.select(id_col)
        .join(hits, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_contaminated", F.lit(0)).cast("long").alias("n_contaminated"),
            (F.coalesce("n_contaminated", F.lit(0)) > 0).cast("int").alias("contaminated"),
        )
    )


# ----------------------------------------------------- embedding near-dup

def embedding_near_dup_pairs(
    embeddings: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    method: str = "grid",
    blocks: int = 8,
) -> DataFrame:
    """Semantic near-duplicate pairs: cosine similarity over the
    embedding column at/above ``threshold``. Two exact physical
    strategies, both returning the same (id_a < id_b, cosine) schema;
    they are the references :func:`embedding_near_dup_probe` is tested
    against:

    - ``method="grid"`` (default): exact answer via a fragment-
      replicate block join (Okcan & Riedewald's 1-bucket theta-join,
      SIGMOD'11). Rows land in block pmod(xxhash64(id), B); the left
      side replicates a block-β row to keys (β, β..B-1), the right to
      keys (0..β, β), so every unordered pair meets at exactly one
      (lo, hi) key of a plain shuffled EQUI-join — no broadcast, no
      BroadcastNestedLoopJoin, no all-corpus-in-one-executor memory
      wall. The O(n²) dot products are unavoidable for an exact answer
      but are spread EVENLY over B(B+1)/2 reducers (pick B ≈ √(2·
      target parallelism)); communication is O(n·B) rows, not O(n²).
    - ``method="broadcast"``: the r1 all-pairs broadcast-NLJ — only
      sane when one side fits in executor memory; kept as the
      small-data verification tier.
    """
    from nycitibike_data_transform_spark.functions.vectors import dot_product, l2_norm

    denom = F.col("na") * F.col("nb")
    cosine = F.when(denom == 0, F.lit(None).cast("double")).otherwise(
        dot_product(F.col("vec_a"), F.col("vec_b")) / denom
    )
    if method == "grid":
        blk = F.pmod(F.xxhash64(F.col(id_col)), F.lit(blocks)).cast("int")
        # norm computed BEFORE the B-way replication explode — a
        # post-explode norm would be evaluated up to B times per
        # vector (review finding r5), violating this function's own
        # per-row-work-before-pair-join rule
        base = embeddings.select(
            F.col(id_col), F.col(vec_col), l2_norm(vec_col).alias("_n"), blk.alias("_blk")
        )
        left = base.select(
            F.col(id_col).alias("id_a"),
            F.col(vec_col).alias("vec_a"),
            F.col("_n").alias("na"),
            F.col("_blk").alias("_lo"),
            F.explode(F.sequence(F.col("_blk"), F.lit(blocks - 1))).alias("_hi"),
        )
        right = base.select(
            F.col(id_col).alias("id_b"),
            F.col(vec_col).alias("vec_b"),
            F.col("_n").alias("nb"),
            F.explode(F.sequence(F.lit(0), F.col("_blk"))).alias("_lo"),
            F.col("_blk").alias("_hi"),
        )
        # cross-block pairs meet once (possibly id-unordered); same-block
        # pairs meet in both orders → keep one, then canonicalize ids.
        paired = (
            left.join(right, ["_lo", "_hi"])
            .filter(
                (F.col("_lo") != F.col("_hi")) | (F.col("id_a") < F.col("id_b"))
            )
            .filter(F.col("id_a") != F.col("id_b"))
        )
        return (
            paired.select(
                F.least("id_a", "id_b").alias("id_a_c"),
                F.greatest("id_a", "id_b").alias("id_b_c"),
                cosine.alias("cosine"),
            )
            .filter(F.col("cosine") >= threshold)
            .select(
                F.col("id_a_c").alias("id_a"),
                F.col("id_b_c").alias("id_b"),
                "cosine",
            )
        )
    if method != "broadcast":
        raise ValueError(
            f"unknown method: {method!r} (expected 'grid' or 'broadcast')"
        )
    a = embeddings.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("vec_a"),
        l2_norm(vec_col).alias("na"),
    )
    b = embeddings.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("vec_b"),
        l2_norm(vec_col).alias("nb"),
    )
    return (
        fan_out(a)
        .join(F.broadcast(b), F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", cosine.alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def embedding_near_dup_probe(
    embeddings: DataFrame,
    probe: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Bounded EXACT near-dup audit (VERDICT r6 item #1): all cosine
    pairs at/above ``threshold`` where at least one member belongs to
    the (small) ``probe`` subset. Same (id_a < id_b, cosine) schema as
    :func:`embedding_near_dup_pairs`, but LINEAR in the corpus —
    O(|probe| · n) dot products via a probe-side broadcast — instead
    of the full-corpus O(n²) grid. This is the sweep-cadence audit
    tier (mirrors ``quantized_topk``'s bounded-sample pattern); the
    exhaustive grid stays available as an explicit opt-in via
    ``embedding_near_dup_pairs(..., method="grid")``.

    Exactness contract: restricted to pairs touching the probe set,
    the result is bit-identical to the grid tier (pinned in
    tests/test_dedup.py) — dot products and norm products are
    element-order/commutative-stable, so which side carries the probe
    row doesn't change the cosine bits. Probe∧probe pairs meet twice
    (once per orientation); ``dropDuplicates`` on the canonical pair
    key keeps one — a shuffle bounded by the qualifying-pair count,
    not the corpus."""
    from nycitibike_data_transform_spark.functions.vectors import dot_product, l2_norm

    p = probe.select(
        F.col(id_col).alias("__p_id"),
        F.col(vec_col).alias("__p_vec"),
        l2_norm(vec_col).alias("__p_n"),
    )
    c = embeddings.select(
        F.col(id_col).alias("__c_id"),
        F.col(vec_col).alias("__c_vec"),
        l2_norm(vec_col).alias("__c_n"),
    )
    denom = F.col("__p_n") * F.col("__c_n")
    cosine = F.when(denom == 0, F.lit(None).cast("double")).otherwise(
        dot_product(F.col("__p_vec"), F.col("__c_vec")) / denom
    )
    # fan_out: a compact corpus (one parquet file ⇒ one task) would
    # serialize all |probe|·n dot products onto one core
    return (
        fan_out(c)
        .join(F.broadcast(p), F.col("__c_id") != F.col("__p_id"))
        .select(
            F.least("__p_id", "__c_id").alias("id_a"),
            F.greatest("__p_id", "__c_id").alias("id_b"),
            cosine.alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
        .dropDuplicates(["id_a", "id_b"])
    )


# ------------------------------------------------------------------ simhash

def simhash64(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """64-bit SimHash per document: sum ±1 per bit over token hashes,
    take the sign. Expressed with explode + groupBy bit-sums (two-phase
    agg; one shuffle on doc id).

    Counter packing (VERDICT r5 "what's wrong" #5): the obvious
    formulation is 64 independent ``sum`` buffers — a wide aggregate
    whose whole-stage codegen dominates the query's cold time.
    Instead the per-bit ONE-counts ride in 2 disjoint 32-bit lanes per
    long — 32 sum buffers + one row count — and the projection
    unpacks lanes and compares ``2·ones > n`` (exactly the old
    ``ones − zeros > 0`` sign rule: ones·2 > ones + zeros, ties → 0).
    Lane width: counts are per-doc DISTINCT-token counts, so the low
    lane carries into the high lane only past 2^32 distinct tokens
    (the high lane is unbounded inside the 64-bit sum) — a
    multi-gigabyte single document, unreachable before executor
    memory is. No runtime guard:
    an earlier 16-bit-lane version guarded with ``raise_error``, which
    Catalyst treats as non-deterministic — it blocked exchange reuse
    in the simhash verdict query and TRIPLED its cold time (measured
    14.2 s vs 5.1 s); deterministic width beats a clever check."""
    toks = tokenize(df, text_col).select(
        F.col(id_col), F.explode(F.array_distinct(F.col("tokens"))).alias("tok")
    )
    hashed = toks.select(F.col(id_col), F.xxhash64("tok").alias("h"))
    packed = []
    for g in range(32):
        lo = F.shiftright(F.col("h"), g * 2).bitwiseAND(F.lit(1))
        hi = F.shiftleft(
            F.shiftright(F.col("h"), g * 2 + 1).bitwiseAND(F.lit(1)), 32
        )
        packed.append(F.sum(lo + hi).alias(f"p{g}"))
    sums = hashed.groupBy(id_col).agg(F.count(F.lit(1)).alias("__n"), *packed)
    sim = None
    for i in range(64):
        g, lane = divmod(i, 2)
        ones = F.shiftright(F.col(f"p{g}"), 32 * lane).bitwiseAND(F.lit(0xFFFFFFFF))
        bit = F.when(ones * 2 > F.col("__n"), F.lit(1).cast("bigint")).otherwise(
            F.lit(0).cast("bigint")
        )
        term = F.shiftleft(bit, i)
        sim = term if sim is None else sim.bitwiseOR(term)
    return sums.select(F.col(id_col), sim.alias("simhash"))


def hamming_distance64(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))


# ------------------------------------------------- set-containment (prefix filter)

def containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.8,
    dst: DataFrame | None = None,
) -> DataFrame:
    """Directed set-containment pairs: ``(src, dst)`` where
    ``|S(src) ∩ S(dst)| / |S(src)| ≥ threshold`` over n-gram shingle
    sets — the asymmetric cousin of Jaccard that catches PARTIAL
    copies (a short doc quoted wholesale inside a long one has high
    containment but low Jaccard, so MinHash-for-Jaccard never
    surfaces it). Returns
    ``(src_doc, dst_doc, src_shingles, overlap, containment)``;
    both directions are emitted when both qualify (exact duplicates
    appear twice, once per direction).

    Pass ``dst`` for CROSS mode: src docs come from ``df`` and
    containers from ``dst`` (the train/val leakage shape — "is any
    val doc mostly contained in some train doc"). Only work
    proportional to the two sides is done — no self-pairs within
    either side are computed.

    Unlike the LSH tiers this is EXACT with no recall loss: candidate
    generation uses the *prefix filter* from the set-similarity-join
    literature (Bayardo et al. 2007 "Scaling Up All Pairs Similarity
    Search"; Xiao et al. 2008 PPJoin). Order each doc's shingles by
    global document frequency ascending (rarest first). A qualifying
    container may miss at most ``|S| - ceil(t·|S|)`` of src's
    shingles, so it must share one of src's
    ``L = |S| - ceil(t·|S|) + 1`` RAREST shingles. Joining just that
    L-shingle signature against the corpus shingle table yields a
    complete candidate set.

    Scale shape (100 TB):
    - the signature join's keys are rare by construction (prefix
      shingles are chosen df-ascending), so the classic hot-shingle
      reducer of a naive shingle self-join never forms; boilerplate
      shingles with huge df sit at the END of the df order and never
      enter a signature at realistic thresholds;
    - df counting and signature ranking are one shuffle on shingle
      plus one per-doc window (shuffle on doc id);
    - verification is the array_intersect pattern shared with the
      Jaccard tiers: each side's shingle SET travels as one array
      column through linear equi-joins on id — no exploded self-join;
    - ceil(t·|S|) is computed with a 1e-9 downward bias so FP rounding
      can only ENLARGE the signature (more candidates, never a missed
      pair); the threshold itself is applied exactly in verification
      with the same division the oracle uses.
    """
    if not (0.0 < threshold <= 1.0):
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    from pyspark.sql import Window

    def _sh(frame: DataFrame) -> DataFrame:
        return (
            tokenize(frame, text_col)
            .select(
                F.col(id_col), F.explode(shingles(F.col("tokens"), n)).alias("shingle")
            )
            .filter(F.length("shingle") > 0)
            .distinct()
        )

    sh = _sh(df)
    # cross mode: signatures come from ``df`` (the contained side),
    # probes and the df-rarity ordering from ``dst`` (the containing
    # corpus). Completeness is order-independent — the prefix bound
    # holds for ANY fixed total order on a doc's shingles — so ranking
    # src shingles by DST frequency (absent → 0, i.e. rarest) is a
    # join-key-rarity heuristic, never a correctness condition.
    sh_dst = sh if dst is None else _sh(dst)
    dfreq = sh_dst.groupBy("shingle").agg(F.count(F.lit(1)).alias("__df"))
    w_rank = Window.partitionBy(id_col).orderBy(
        F.col("__df").asc(), F.col("shingle").asc()
    )
    w_size = Window.partitionBy(id_col)
    ranked = (
        sh.join(dfreq, "shingle", "left")
        .withColumn("__df", F.coalesce(F.col("__df"), F.lit(0)))
        .withColumn("__rk", F.row_number().over(w_rank))
        .withColumn("__n_sh", F.count(F.lit(1)).over(w_size))
    )
    # signature length: |S| - ceil(t|S|) + 1, ceil biased low (→ L high)
    sig_len = (
        F.col("__n_sh")
        - F.ceil(F.lit(threshold) * F.col("__n_sh") - F.lit(1e-9))
        + F.lit(1)
    )
    sigs = ranked.filter(F.col("__rk") <= sig_len).select(
        F.col(id_col).alias("src_doc"), "shingle"
    )
    candidates = (
        sigs.join(sh_dst.select(F.col(id_col).alias("dst_doc"), "shingle"), "shingle")
        .filter(F.col("src_doc") != F.col("dst_doc"))
        .select("src_doc", "dst_doc")
        .distinct()
    )

    # exact verify: shingle sets as arrays, linear joins by id (the
    # jaccard_on_candidate_pairs shape). The arrays are REBUILT from
    # the shared distinct (id, shingle) relation instead of a second
    # tokenize+shingle pass (OPTIMIZATION_r16, guide §2.4): overlap and
    # containment only consume the sets as SETS (array_intersect /
    # size), so collect_list over the distinct rows is semantically
    # identical to the old filtered-shingles array, and the verify side
    # now hangs off the same exchange the candidate side already pays
    # for (verified at runtime: 120 → 93 executed tasks, same 12
    # stages; wall time locally neutral — 2.79 vs 2.73 min-of-5
    # interleaved at sf0.1 — the win is one fewer full tokenize/regex
    # scan of the corpus, which grows with the data while the regained
    # exchange is of rows the distinct already shuffled). Docs with
    # zero shingles vanish from the rebuilt relation, but they can
    # never appear in ``candidates`` (both of its sides come from
    # shingle rows), so the inner joins below dropped them anyway.
    def _sets_from(rel: DataFrame) -> DataFrame:
        return rel.groupBy(id_col).agg(
            F.collect_list("shingle").alias("sh_set")
        )

    sets = _sets_from(sh)
    sets_dst = sets if dst is None else _sets_from(sh_dst)
    s_src = sets.select(F.col(id_col).alias("src_doc"), F.col("sh_set").alias("set_src"))
    s_dst = sets_dst.select(
        F.col(id_col).alias("dst_doc"), F.col("sh_set").alias("set_dst")
    )
    overlap = F.size(F.array_intersect("set_src", "set_dst"))
    containment = overlap.cast("double") / F.size("set_src").cast("double")
    return (
        s_src.join(candidates, "src_doc")
        .join(s_dst, "dst_doc")
        .select(
            "src_doc",
            "dst_doc",
            F.size("set_src").cast("int").alias("src_shingles"),
            overlap.cast("int").alias("overlap"),
            containment.alias("containment"),
        )
        .filter(F.col("containment") >= threshold)
    )
