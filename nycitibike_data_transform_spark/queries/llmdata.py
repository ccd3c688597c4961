"""LLM-data-pipeline queries — dedup, text analysis, similarity,
multimodal plumbing (north-star additions, SURVEY.md §2.9), over the
driver's ``documents`` and ``embeddings`` tables.

Oracle policy: exact/deterministic operators (exact dedup, n-gram
Jaccard, text stats, brute-force cosine) carry full SQL oracles;
hash-sketch operators (MinHash-LSH, SimHash) use engine-specific hash
bit patterns, so they are rows-only checks with semantics pinned by
unit tests instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nycitibike_data_transform_spark.functions.text import (
    SCRUB_PATTERNS,
    language_id,
    quality_score_columns,
    scrub_pii,
    text_fingerprint,
)
from nycitibike_data_transform_spark.functions.vectors import l2_norm
from nycitibike_data_transform_spark.operators.dedup import (
    embedding_near_dup_probe,
    exact_dedup,
    hamming_distance64,
    minhash_candidate_pairs,
    ngram_jaccard_pairs,
    simhash64,
)
from nycitibike_data_transform_spark.operators.multimodal import attach_payload
from nycitibike_data_transform_spark.operators.util import fan_out
from nycitibike_data_transform_spark.operators.similarity import (
    cosine_topk,
    cosine_topk_ivf,
    cosine_topk_lsh,
)
from nycitibike_data_transform_spark.queries import eager_cached, QuerySpec, load

# -------------------------------------------------------------- exact dedup

def _q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load(spark, sf_dir, "documents")
    return exact_dedup(t["documents"])


_DEDUP_EXACT_SQL = """
SELECT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fingerprint,
       min(doc_id) AS doc_id,
       count(*) AS n_copies
FROM documents
GROUP BY 1
"""

# --------------------------------------------------------------- text stats

def _q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load(spark, sf_dir, "documents")
    cols = quality_score_columns(F.col("text"))
    return fan_out(t["documents"]).select(
        "doc_id",
        cols["n_chars"].alias("n_chars"),
        cols["n_tokens"].alias("n_tokens"),
        F.round(cols["mean_token_len"], 6).alias("mean_token_len"),
        F.round(cols["punct_ratio"], 6).alias("punct_ratio"),
        F.round(cols["stopword_ratio"], 6).alias("stopword_ratio"),
    )


# occurrence counting must mirror functions/text.py exactly:
# non-overlapping replace-based counts over ' '-padded normalized text.
_TEXT_STATS_SQL = r"""
WITH norm AS (
  SELECT doc_id,
         length(text) AS n_chars,
         trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS nt
  FROM documents
),
tok AS (
  SELECT doc_id, n_chars, nt,
         CASE WHEN length(nt) = 0 THEN 0
              ELSE CAST(len(string_split(nt, ' ')) AS INTEGER) END AS n_tokens,
         ' ' || nt || ' ' AS padded
  FROM norm
)
SELECT doc_id, n_chars, n_tokens,
       round(CASE WHEN n_tokens = 0 THEN 0.0
             ELSE CAST(length(replace(nt, ' ', '')) AS DOUBLE) / n_tokens END, 6)
           AS mean_token_len,
       round(CASE WHEN n_chars = 0 THEN 0.0
             ELSE CAST(n_chars - length(regexp_replace(CAST(nt AS VARCHAR),
                  '[.,!?;:''"()\[\]-]', '', 'g')) AS DOUBLE) / n_chars END, 6)
           AS punct_ratio,
       round(CASE WHEN n_tokens = 0 THEN 0.0 ELSE (
           (length(padded) - length(replace(padded, ' the ', ''))) / 5.0
         + (length(padded) - length(replace(padded, ' and ', ''))) / 5.0
         + (length(padded) - length(replace(padded, ' of ', ''))) / 4.0
         + (length(padded) - length(replace(padded, ' a ', ''))) / 3.0
         + (length(padded) - length(replace(padded, ' to ', ''))) / 4.0
         + (length(padded) - length(replace(padded, ' in ', ''))) / 4.0
       ) / n_tokens END, 6) AS stopword_ratio
FROM tok
"""

# ------------------------------------------------------------- language id

def _q_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load(spark, sf_dir, "documents")
    return fan_out(t["documents"]).select("doc_id", language_id(F.col("text")).alias("lang_pred"))


def _lang_score_sql(markers: tuple[str, ...]) -> str:
    terms = [
        f"(length(padded) - length(replace(padded, '{m}', ''))) / {float(len(m))}"
        for m in markers
    ]
    return "(" + " + ".join(terms) + ")"


_LANG_MARKERS = {
    "de": (" der ", " die ", " und "),
    "en": (" the ", " and ", " of "),
    "es": (" el ", " la ", " de "),
    "fr": (" le ", " la ", " et "),
}

_LANGUAGE_ID_SQL = r"""
WITH padded_docs AS (
  SELECT doc_id, ' ' || trim(regexp_replace(lower(text), '\s+', ' ', 'g')) || ' ' AS padded
  FROM documents
),
scored AS (
  SELECT doc_id,
         {scores}
  FROM padded_docs
)
SELECT doc_id,
       CASE WHEN greatest(s_de, s_en, s_es, s_fr) <= 0.0 THEN NULL
            WHEN s_de = greatest(s_de, s_en, s_es, s_fr) THEN 'de'
            WHEN s_en = greatest(s_de, s_en, s_es, s_fr) THEN 'en'
            WHEN s_es = greatest(s_de, s_en, s_es, s_fr) THEN 'es'
            WHEN s_fr = greatest(s_de, s_en, s_es, s_fr) THEN 'fr'
       END AS lang_pred
FROM scored
""".format(
    scores=",\n         ".join(
        f"{_lang_score_sql(m)} AS s_{lang}" for lang, m in _LANG_MARKERS.items()
    )
)

# ------------------------------------------------- language confusion matrix


def _q_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID evaluation: confusion matrix of the heuristic
    marker-based predictor against the corpus's ground-truth ``lang``
    column, row-normalized (share of each true language). The
    eval-side companion of ``language_id`` — a filtering heuristic is
    only trustworthy with its error profile on record.

    Scale shape: the per-doc prediction is pure codegen; the matrix is
    one map-side-combinable count on (lang, pred) — |langs|² rows out
    regardless of corpus size; the share window runs over matrix rows
    only."""
    from pyspark.sql import Window

    t = load(spark, sf_dir, "documents")
    pred = t["documents"].select(
        "lang", language_id(F.col("text")).alias("lang_pred")
    )
    counts = pred.groupBy("lang", "lang_pred").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    w = Window.partitionBy("lang")
    return counts.select(
        "lang",
        "lang_pred",
        "n_docs",
        F.round(
            F.col("n_docs").cast("double") / F.sum("n_docs").over(w).cast("double"), 6
        ).alias("share_of_true_lang"),
    )


_LANG_CONFUSION_SQL = (
    "WITH pred AS (" + _LANGUAGE_ID_SQL + ")\n"
    + r"""
SELECT d.lang, p.lang_pred,
       CAST(count(*) AS BIGINT) AS n_docs,
       round(CAST(count(*) AS DOUBLE)
             / sum(count(*)) OVER (PARTITION BY d.lang), 6)
           AS share_of_true_lang
FROM documents d JOIN pred p USING (doc_id)
GROUP BY d.lang, p.lang_pred
"""
)

# -------------------------------------------------------------- fingerprint

def _q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load(spark, sf_dir, "documents")
    return fan_out(t["documents"]).select("doc_id", text_fingerprint("text").alias("fingerprint"))


_DOC_FINGERPRINT_SQL = r"""
SELECT doc_id, md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fingerprint
FROM documents
"""

# ----------------------------------------------------------- n-gram jaccard

_JACCARD_N = 3
_JACCARD_THRESHOLD = 0.6

# DuckDB-side shingle concat, generated from _JACCARD_N so the oracle
# SQL cannot silently desync from the Spark shingle width (ADVICE r3):
# n=3 → "w[i] || ' ' || w[i+1] || ' ' || w[i+2]"
_SHINGLE_CONCAT_SQL = " || ' ' || ".join(
    f"w[i+{k}]" if k else "w[i]" for k in range(_JACCARD_N)
)


def _q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runs the BLOCKED tier (MinHash-LSH candidates → exact Jaccard
    re-verification) against the exact all-pairs SQL oracle: the green
    hash is the proof that blocked == exact on this corpus (every
    qualifying pair sits at Jaccard ≥ 0.9, where the 8-band/2-row
    LSH miss probability is ≤ 1.7e-6 per pair)."""
    t = load(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(
        t["documents"], n=_JACCARD_N, threshold=_JACCARD_THRESHOLD, mode="blocked"
    )


def _q_dedup_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end near-dedup of the corpus (VERDICT.md r1 item 2):
    MinHash banding → (band, bucket) equi-join → exact Jaccard verify →
    anti-join out the higher-id member of each pair. No
    BroadcastNestedLoopJoin anywhere (pinned by tests/test_plans.py)."""
    from nycitibike_data_transform_spark.operators.dedup import near_dedup_docs

    t = load(spark, sf_dir, "documents")
    return near_dedup_docs(
        t["documents"], n=_JACCARD_N, threshold=_JACCARD_THRESHOLD
    ).select("doc_id", F.length("text").alias("n_chars"))


_NGRAM_JACCARD_SQL = rf"""
WITH toks AS (
  SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w
  FROM documents
),
sh_list AS (
  SELECT doc_id,
         list_distinct(list_transform(
             generate_series(1, greatest(len(w) - {_JACCARD_N - 1}, 0)),
             i -> {_SHINGLE_CONCAT_SQL})) AS shingle_set
  FROM toks
),
sh AS (
  SELECT doc_id, unnest(shingle_set) AS shingle
  FROM sh_list
  WHERE len(shingle_set) > 0
),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       CAST(common AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - common AS DOUBLE) AS jaccard
FROM pairs
JOIN sizes sa ON doc_a = sa.doc_id
JOIN sizes sb ON doc_b = sb.doc_id
WHERE CAST(common AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - common AS DOUBLE) >= {_JACCARD_THRESHOLD}
"""

_DEDUP_NEAR_SQL = rf"""
WITH toks AS (
  SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w
  FROM documents
),
sh_list AS (
  SELECT doc_id,
         list_distinct(list_transform(
             generate_series(1, greatest(len(w) - {_JACCARD_N - 1}, 0)),
             i -> {_SHINGLE_CONCAT_SQL})) AS shingle_set
  FROM toks
),
sh AS (
  SELECT doc_id, unnest(shingle_set) AS shingle
  FROM sh_list
  WHERE len(shingle_set) > 0
),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
dropped AS (
  SELECT DISTINCT doc_b AS doc_id
  FROM pairs
  JOIN sizes sa ON doc_a = sa.doc_id
  JOIN sizes sb ON doc_b = sb.doc_id
  WHERE CAST(common AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - common AS DOUBLE)
        >= {_JACCARD_THRESHOLD}
)
SELECT d.doc_id, length(d.text) AS n_chars
FROM documents d
WHERE d.doc_id NOT IN (SELECT doc_id FROM dropped)
"""

# ------------------------------------------------------- dup clusters

def _q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive dup-CLUSTER assignment (VERDICT r2 item #3): the
    verified near-dup PAIR graph (same blocked MinHash→Jaccard pipeline
    as ``ngram_jaccard``) clustered with iterative min-label
    propagation (operators/graph.py), then every corpus row labeled
    ``(doc_id, cluster_id, cluster_size)`` — pairless docs as
    singletons of themselves. The oracle recomputes the same clusters
    with a DuckDB recursive transitive-closure CTE over the exact
    all-pairs graph, so a green hash proves blocked-pairs + distributed
    label propagation == exact closure end to end."""
    from nycitibike_data_transform_spark.operators.graph import cluster_assignments

    t = load(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(
        t["documents"], n=_JACCARD_N, threshold=_JACCARD_THRESHOLD, mode="blocked"
    ).select("doc_a", "doc_b")
    return cluster_assignments(t["documents"], pairs)


_DEDUP_CLUSTERS_SQL = rf"""
WITH RECURSIVE toks AS (
  SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w
  FROM documents
),
sh_list AS (
  SELECT doc_id,
         list_distinct(list_transform(
             generate_series(1, greatest(len(w) - {_JACCARD_N - 1}, 0)),
             i -> {_SHINGLE_CONCAT_SQL})) AS shingle_set
  FROM toks
),
sh AS (
  SELECT doc_id, unnest(shingle_set) AS shingle
  FROM sh_list
  WHERE len(shingle_set) > 0
),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
raw_pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
good_pairs AS (
  SELECT doc_a, doc_b
  FROM raw_pairs
  JOIN sizes sa ON doc_a = sa.doc_id
  JOIN sizes sb ON doc_b = sb.doc_id
  WHERE CAST(common AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - common AS DOUBLE)
        >= {_JACCARD_THRESHOLD}
),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM good_pairs
  UNION
  SELECT doc_b AS src, doc_a AS dst FROM good_pairs
),
reach(node, r) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.src, reach.r FROM edges e JOIN reach ON reach.node = e.dst
),
comp AS (SELECT node, min(r) AS cluster_id FROM reach GROUP BY 1),
csizes AS (SELECT cluster_id, count(*) AS cluster_size FROM comp GROUP BY 1)
SELECT d.doc_id,
       COALESCE(c.cluster_id, d.doc_id) AS cluster_id,
       COALESCE(s.cluster_size, CAST(1 AS BIGINT)) AS cluster_size
FROM documents d
LEFT JOIN comp c ON d.doc_id = c.node
LEFT JOIN csizes s ON c.cluster_id = s.cluster_id
"""

# -------------------------------------------------------------- tf-idf

def _q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document: token explode → per-doc TF,
    doc-frequency join, smooth-IDF score, ranking window with
    deterministic tie-break. Two shuffles (doc agg, term agg) + one
    broadcastable DF join — the classic bag-of-words pipeline shape."""
    t = load(spark, sf_dir, "documents")
    docs = t["documents"]
    # n_docs stays IN-PLAN (1-row count aggregate broadcast-cross-joined,
    # exactly the oracle SQL's `CROSS JOIN n` shape) — no driver-side
    # docs.count() action, so the corpus is scanned once, not twice.
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    toks = docs.select(
        "doc_id", F.explode(F.split(normalize_text_col(), " ")).alias("term")
    ).filter(F.length("term") > 0)
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_ = toks.select("doc_id", "term").distinct().groupBy("term").agg(
        F.count(F.lit(1)).alias("df")
    )
    from pyspark.sql import Window

    scored = tf.join(df_, "term").crossJoin(F.broadcast(n)).select(
        "doc_id",
        "term",
        F.round(
            F.col("tf").cast("double")
            * F.ln(
                (F.col("n_docs").cast("double") + 1.0)
                / (F.col("df").cast("double") + 1.0)
            ),
            6,
        ).alias("tfidf"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("term"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .groupBy("doc_id")
        .agg(F.concat_ws(",", F.sort_array(F.collect_list("term"))).alias("top_terms"))
    )


def normalize_text_col():
    from nycitibike_data_transform_spark.functions.text import normalize_text

    return normalize_text(F.col("text"))


_TFIDF_SQL = r"""
WITH toks AS (
  SELECT doc_id, t AS term
  FROM documents,
       unnest(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS u(t)
  WHERE length(t) > 0
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
df_ AS (SELECT term, count(*) AS df FROM (SELECT DISTINCT doc_id, term FROM toks) GROUP BY 1),
n AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term,
         round(CAST(tf.tf AS DOUBLE) * ln((n.n_docs + 1) / (CAST(df_.df AS DOUBLE) + 1.0)), 6)
             AS tfidf
  FROM tf JOIN df_ USING (term) CROSS JOIN n
),
ranked AS (
  SELECT doc_id, term,
         row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rn
  FROM scored
)
SELECT doc_id,
       array_to_string(list_sort(list(term)), ',') AS top_terms
FROM ranked WHERE rn <= 3
GROUP BY 1
"""

# ----------------------------------------------------- repetition ratio

def _ngrams_col(toks, n: int):
    """Non-distinct n-gram strings from a token array (multiplicity
    kept — repetition signals need it; shares the guarded-sequence
    shape with dedup.shingles so <n-token docs yield none)."""
    idx = F.when(
        F.size(toks) >= n, F.sequence(F.lit(0), F.size(toks) - n)
    ).otherwise(F.array().cast("array<int>"))
    return F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)))


def _q_gopher_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher repetition battery (Rae et al. 2021, Table A1), two
    representative members at n=2: TOP-n-gram character fraction
    (characters covered by the single most frequent n-gram) and
    DUPLICATE-n-gram character fraction (characters covered by n-grams
    occurring more than once) — the signals Gopher thresholds to drop
    repetitious documents. n=2 because that's where the synthetic
    word-soup corpus has real repeat mass (3.6% of distinct bigrams
    duplicate at sf0.01; 5-grams never do — the same signal-bearing-n
    rationale as ``_REPSTRIP_WINDOW``). ``repetition_ratio`` is the
    occurrence-count cousin; these are the paper's char-mass versions,
    and both derive from ONE bigram count relation (one explode).

    Documented simplification: covered chars = count x len(gram)
    (overlapping occurrences double-count, so dup fractions can exceed
    1 on degenerate docs — the threshold semantics don't care). Ties
    for 'most frequent' break by (count desc, char length desc, gram
    asc). Every document emits a row (blank/NULL text -> 0.0 fracs).

    Scale shape: one narrow bigram explode -> per-(doc, gram)
    map-side-combinable counts -> per-doc aggregates; the only windows
    partition by doc_id. Linear, same family as repetition_ratio."""
    t = load(spark, sf_dir, "documents")
    return gopher_repetition_signals(t["documents"])


def gopher_repetition_signals(documents: DataFrame) -> DataFrame:
    """Core of ``gopher_repetition`` over any (doc_id, text) frame —
    split out so tests can feed crafted documents with known
    fractions."""
    from pyspark.sql import Window

    from nycitibike_data_transform_spark.operators.dedup import tokenize

    docs = tokenize(documents, "text")
    base = docs.select(
        "doc_id",
        F.length(F.coalesce(normalize_text_col(), F.lit(""))).alias("total_chars"),
        F.col("tokens"),
    )
    c2 = (
        base.select("doc_id", F.explode(_ngrams_col(F.col("tokens"), 2)).alias("g"))
        .groupBy("doc_id", "g")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w2 = Window.partitionBy("doc_id").orderBy(
        F.col("n").desc(), F.length("g").desc(), F.col("g")
    )
    top2 = (
        c2.withColumn("rn", F.row_number().over(w2))
        .filter(F.col("rn") == 1)
        .select("doc_id", (F.col("n") * F.length("g")).alias("covered_top"))
    )
    dup2 = c2.groupBy("doc_id").agg(
        F.sum(
            F.when(F.col("n") >= 2, F.col("n") * F.length("g")).otherwise(F.lit(0))
        )
        .cast("long")
        .alias("covered_dup")
    )
    frac = lambda c: F.when(  # noqa: E731
        F.col("total_chars") == 0, F.lit(0.0)
    ).otherwise(
        F.round(
            F.coalesce(c, F.lit(0)).cast("double")
            / F.col("total_chars").cast("double"),
            6,
        )
    )
    return (
        base.select("doc_id", "total_chars")
        .join(top2, "doc_id", "left")
        .join(dup2, "doc_id", "left")
        .select(
            "doc_id",
            F.col("total_chars").cast("long").alias("n_chars_norm"),
            frac(F.col("covered_top")).alias("top2_char_frac"),
            frac(F.col("covered_dup")).alias("dup2_char_frac"),
        )
    )


_GOPHER_REPETITION_SQL = r"""
WITH base AS (
  SELECT doc_id,
         trim(regexp_replace(lower(coalesce(text, '')), '\s+', ' ', 'g')) AS nt
  FROM documents
),
toks AS (
  SELECT doc_id, length(nt) AS total_chars,
         CASE WHEN length(nt) = 0 THEN [] ELSE string_split(nt, ' ') END AS w
  FROM base
),
c2 AS (
  SELECT doc_id, g, count(*) AS n
  FROM (SELECT doc_id, w[i] || ' ' || w[i+1] AS g
        FROM toks, unnest(generate_series(1, greatest(len(w) - 1, 0))) AS t(i))
  GROUP BY 1, 2
),
top2 AS (
  SELECT doc_id, covered_top FROM (
    SELECT doc_id, n * length(g) AS covered_top,
           row_number() OVER (PARTITION BY doc_id
                              ORDER BY n DESC, length(g) DESC, g) AS rn
    FROM c2
  ) WHERE rn = 1
),
dup2 AS (
  SELECT doc_id,
         CAST(sum(CASE WHEN n >= 2 THEN n * length(g) ELSE 0 END) AS BIGINT) AS covered_dup
  FROM c2 GROUP BY 1
)
SELECT t.doc_id,
       CAST(t.total_chars AS BIGINT) AS n_chars_norm,
       CASE WHEN t.total_chars = 0 THEN 0.0
            ELSE round(CAST(coalesce(top2.covered_top, 0) AS DOUBLE)
                       / CAST(t.total_chars AS DOUBLE), 6) END AS top2_char_frac,
       CASE WHEN t.total_chars = 0 THEN 0.0
            ELSE round(CAST(coalesce(dup2.covered_dup, 0) AS DOUBLE)
                       / CAST(t.total_chars AS DOUBLE), 6) END AS dup2_char_frac
FROM toks t
LEFT JOIN top2 USING (doc_id)
LEFT JOIN dup2 USING (doc_id)
"""


def _q_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality signal: share of the document taken by its single most
    frequent trigram (repetitious docs score high). Explode → per-doc
    trigram counts → max/sum."""
    from nycitibike_data_transform_spark.operators.dedup import tokenize

    t = load(spark, sf_dir, "documents")
    toks = F.col("tokens")
    # non-distinct trigrams (unlike dedup.shingles — repetition needs
    # multiplicity); docs with <3 tokens yield no trigrams on either engine
    idx = F.when(F.size(toks) >= 3, F.sequence(F.lit(0), F.size(toks) - 3)).otherwise(
        F.array().cast("array<int>")
    )
    tri = tokenize(t["documents"], "text").select(
        "doc_id",
        F.explode(
            F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, 3)))
        ).alias("tri"),
    )
    counts = tri.groupBy("doc_id", "tri").agg(F.count(F.lit(1)).alias("n"))
    return counts.groupBy("doc_id").agg(
        F.round(
            F.max("n").cast("double") / F.sum("n").cast("double"), 6
        ).alias("repetition_ratio"),
        F.sum("n").alias("n_trigrams"),
    )


_REPSTRIP_WINDOW = 2  # token-window width; 2 is where the synthetic
# corpus has a real intra-doc repeat rate (~1.8% of windows at
# sf0.01) — wider windows make the pass a no-op on word-soup text


def _q_repetition_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTRA-document repetition removal (r12): drop every
    ``_REPSTRIP_WINDOW``-token window whose exact text already
    appeared earlier in the SAME document, keep-first, reassemble —
    the within-doc counterpart of ``span_strip`` (cross-corpus) and
    the surgical sibling of ``repetition_ratio`` (measure-only).
    Output counts make the cut auditable: windows_in - windows_kept
    is the removed-window total."""
    from nycitibike_data_transform_spark.operators.spans import (
        strip_repeated_windows,
    )

    t = load(spark, sf_dir, "documents")
    return strip_repeated_windows(
        t["documents"], "text", "doc_id", window=_REPSTRIP_WINDOW
    )


_REPETITION_STRIP_SQL = rf"""
WITH toks AS (
  -- token-less docs (NULL/blank text) get an EMPTY token list, not
  -- [''], so they flow through as ('', 0, 0) like the engine side
  -- rid distinguishes INPUT ROWS sharing a doc_id: each row windows
  -- its own token stream independently (matching the engine's per-row
  -- window assembly), then all of a doc_id's windows share ONE
  -- first-occurrence election (r13 review: grouping wins by position
  -- alone interleaved duplicate-id rows' tokens inside one window)
  SELECT doc_id, row_number() OVER () AS rid,
         CASE
           WHEN nullif(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), '')
                IS NULL THEN CAST([] AS VARCHAR[])
           ELSE string_split(
                trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')
         END AS w
  FROM documents
),
tok AS (
  SELECT doc_id, rid, w[i] AS tok, i
  FROM toks, unnest(generate_series(1, len(w))) AS t(i)
),
wins AS (
  SELECT doc_id,
         CAST(floor((i - 1) / {_REPSTRIP_WINDOW}) AS BIGINT) AS wid,
         string_agg(tok, ' ' ORDER BY i) AS wtext
  FROM tok GROUP BY doc_id, rid, wid
),
firsts AS (
  SELECT doc_id, wtext, min(wid) AS wid, count(*) AS occ
  FROM wins GROUP BY 1, 2
),
agg AS (
  SELECT doc_id,
         -- wid, wtext: the engine reassembles via array_sort over
         -- (wid, wtext) structs, so elected windows tying on wid
         -- (possible only under pooled duplicate ids) order by text
         string_agg(wtext, ' ' ORDER BY wid, wtext) AS clean_text,
         CAST(sum(occ) AS BIGINT) AS windows_in,
         count(*) AS windows_kept
  FROM firsts
  GROUP BY doc_id
)
SELECT t.doc_id,
       coalesce(a.clean_text, '') AS clean_text,
       CAST(coalesce(a.windows_in, 0) AS BIGINT) AS windows_in,
       CAST(coalesce(a.windows_kept, 0) AS BIGINT) AS windows_kept
-- DISTINCT doc_id (r13 review): the engine POOLS duplicate doc_ids
-- into one output row (both groupBys key on doc_id); joining from raw
-- toks would emit one row per INPUT row and diverge on any corpus
-- with repeated ids, even though both sides agree on the values
FROM (SELECT DISTINCT doc_id FROM toks) t LEFT JOIN agg a USING (doc_id)
"""


_REPETITION_SQL = r"""
WITH toks AS (
  SELECT doc_id,
         string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w
  FROM documents
),
tri AS (
  SELECT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS tri
  FROM toks, unnest(generate_series(1, greatest(len(w) - 2, 0))) AS t(i)
),
counts AS (SELECT doc_id, tri, count(*) AS n FROM tri GROUP BY 1, 2)
SELECT doc_id,
       round(CAST(max(n) AS DOUBLE) / CAST(sum(n) AS DOUBLE), 6) AS repetition_ratio,
       CAST(sum(n) AS BIGINT) AS n_trigrams
FROM counts
GROUP BY 1
"""

# ------------------------------------------------------------ chunking

_CHUNK_SIZE, _CHUNK_OVERLAP = 16, 4


def _q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size overlapping token windows per document
    (operators/chunking.py) — the pre-training/RAG text prep step."""
    from nycitibike_data_transform_spark.operators.chunking import chunk_documents

    t = load(spark, sf_dir, "documents")
    return chunk_documents(t["documents"], _CHUNK_SIZE, _CHUNK_OVERLAP)


_CHUNK_STEP = _CHUNK_SIZE - _CHUNK_OVERLAP

_CHUNK_DOCUMENTS_SQL = rf"""
WITH toks AS (
  SELECT doc_id,
         string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w
  FROM documents
),
sized AS (
  SELECT doc_id, w, len(w) AS nt,
         greatest(CAST(ceil((len(w) - {_CHUNK_OVERLAP}) * 1.0 / {_CHUNK_STEP}) AS INTEGER), 1)
             AS n_chunks
  FROM toks
)
SELECT doc_id,
       CAST(i AS INTEGER) AS chunk_id,
       array_to_string(w[(i * {_CHUNK_STEP} + 1):(i * {_CHUNK_STEP} + {_CHUNK_SIZE})], ' ')
           AS chunk_text,
       CAST(len(w[(i * {_CHUNK_STEP} + 1):(i * {_CHUNK_STEP} + {_CHUNK_SIZE})]) AS INTEGER)
           AS n_chunk_tokens
FROM sized, unnest(generate_series(0, n_chunks - 1)) AS t(i)
"""

# ----------------------------------------------------------- PII scrub

def _q_scrub_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text cleaning: emails/URLs/long numbers → placeholder tokens;
    emits the scrubbed fingerprint + a changed flag (the synthetic
    corpus is clean, so `changed` doubles as a false-positive check)."""
    t = load(spark, sf_dir, "documents")
    scrubbed = scrub_pii(F.col("text"))
    return fan_out(t["documents"]).select(
        "doc_id",
        F.md5(scrubbed).alias("scrubbed_md5"),
        (scrubbed != F.col("text")).alias("changed"),
    )


def _scrub_sql_chain() -> str:
    expr = "text"
    for pattern, replacement in SCRUB_PATTERNS.values():
        expr = f"regexp_replace({expr}, '{pattern}', '{replacement}', 'g')"
    return expr


_SCRUB_PII_SQL = f"""
SELECT doc_id,
       md5({_scrub_sql_chain()}) AS scrubbed_md5,
       {_scrub_sql_chain()} <> text AS changed
FROM documents
"""

# --------------------------------------- minhash / simhash (invariant verdicts)
#
# xxhash64 signatures are Spark-specific bit patterns, so the raw
# sketches can never hash-match a DuckDB oracle. Instead (VERDICT r4
# item 1) each query emits an engine-independent *verdict*: the exact
# truth set (oracle-computable) annotated with a boolean the sketch
# must satisfy. The driver hash-compares truth columns AND the
# verdict, so a recall/semantics regression flips the gate red.

def _q_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH containment verdict: every EXACT-tier near-dup pair
    (shingle self-join — deliberately not the blocked tier, which
    derives from the same MinHash candidates and would be circular)
    must be found by the 8-band LSH candidate generator. Miss
    probability per pair at Jaccard 0.9 is (1-0.9²)⁸ ≈ 1.7e-6, and
    every qualifying testdata pair sits at J ≥ 0.9 — measured 100%
    containment at sf0.001/0.01/0.1.

    Both sides consume ONE shared distinct-shingle relation (r7: the
    production materialized-shingle-table shape via ``shingles_df`` —
    at corpus scale the shingle table is computed once and persisted,
    so truth, sizes, and signatures all read it instead of
    re-tokenizing). In this single-plan local form the measured effect
    is neutral (~2.1 s at sf0.1 either way: the exact-tier self-join
    dominates and Catalyst still inlines the subtree per consumer);
    the win is the API shape, not this plan. Cost history note
    (VERDICT r6 "what's wrong" #2): this query's 1.1-1.25 s
    r1/r4 bench rows measured the PRE-r5 candidates-only query;
    the containment verdict introduced in r5 strictly contains the
    exact jaccard tier, so ~2.1-2.6 s at sf0.1 is its honest cost —
    see ROUND7_NOTES.md for the full A/B."""
    from nycitibike_data_transform_spark.operators.dedup import (
        shingles as shingle_sets,
        tokenize,
    )

    t = load(spark, sf_dir, "documents")
    docs = t["documents"]
    # tokenize fans out internally (OPTIMIZATION_r15): the shared
    # shingle relation is the plan's hottest subtree (every consumer —
    # exact self-join sides, sizes, MinHash signatures — hangs off its
    # exchange via AQE reuse), and a compact input serializes the whole
    # tokenize+shingle+hash pass onto one core (guide §2.6/§6: one
    # small parquet file ⇒ one scan task). Interleaved A/B at sf0.1:
    # min 2.39 s → 1.70 s (med 2.01 → 1.77). No-op at real scale.
    sh = (
        tokenize(docs, "text")
        .select(
            F.col("doc_id"),
            F.explode(shingle_sets(F.col("tokens"), _JACCARD_N)).alias("shingle"),
        )
        .filter(F.length("shingle") > 0)
        .distinct()
    )
    truth = ngram_jaccard_pairs(
        docs, n=_JACCARD_N, threshold=_JACCARD_THRESHOLD, mode="exact",
        shingles_df=sh,
    )
    cand = minhash_candidate_pairs(docs, n=_JACCARD_N, shingles_df=sh).withColumn(
        "__cand", F.lit(1)
    )
    return truth.join(cand, ["doc_a", "doc_b"], "left").select(
        "doc_a",
        "doc_b",
        "jaccard",
        F.col("__cand").isNotNull().alias("found_by_minhash"),
    )


_MINHASH_PAIRS_SQL = f"""
WITH truth AS ({_NGRAM_JACCARD_SQL})
SELECT doc_a, doc_b, jaccard, true AS found_by_minhash
FROM truth
"""


def _q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash monotonicity verdict over the exact near-dup truth set:
    (a) near-dup pairs (J ≥ 0.6) must be close in Hamming space —
    measured max 12 bits across all SFs vs ≈14-bit mean for unrelated
    pairs, so the 16-bit bound holds with margin; (b) an exact dup
    (J = 1.0 → identical shingle set → identical distinct-token set)
    must hash to the IDENTICAL 64-bit SimHash. Truth comes from the
    blocked Jaccard tier — non-circular here, since SimHash shares no
    machinery with MinHash banding."""
    t = load(spark, sf_dir, "documents")
    truth = ngram_jaccard_pairs(
        t["documents"], n=_JACCARD_N, threshold=_JACCARD_THRESHOLD, mode="blocked"
    )
    # both join sides reference the same simhash subtree; Spark's
    # ReusedExchange dedupes it at execution (verified: checkpointing
    # here instead measured 3× slower warm — don't "help" the planner)
    sh = simhash64(t["documents"])
    sa = sh.select(F.col("doc_id").alias("doc_a"), F.col("simhash").alias("__sh_a"))
    sb = sh.select(F.col("doc_id").alias("doc_b"), F.col("simhash").alias("__sh_b"))
    hamming = hamming_distance64(F.col("__sh_a"), F.col("__sh_b"))
    return (
        truth.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (hamming <= F.lit(16)).alias("near_dup_hamming_low"),
            ((F.col("jaccard") < 1.0) | (hamming == 0)).alias("exact_dup_hash_equal"),
        )
    )


_SIMHASH_SQL = f"""
WITH truth AS ({_NGRAM_JACCARD_SQL})
SELECT doc_a, doc_b,
       true AS near_dup_hamming_low,
       true AS exact_dup_hash_equal
FROM truth
"""


# -------------------------------------------------------- cosine similarity

_TOPK = 5
_N_QUERIES = 50  # query subset keeps the oracle's pair space bounded


def _q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute cosine top-k for a bounded 50-vector query set,
    matching the exact all-pairs oracle. Approximate search at scale
    is ``cosine_topk_lsh`` / ``cosine_topk_ivf``, each with its own
    recall-verdict query."""
    t = load(spark, sf_dir, "embeddings")
    emb = t["embeddings"]
    return cosine_topk(emb, emb.filter(F.col("vec_id") < _N_QUERIES), k=_TOPK)


_COSINE_TOPK_SQL = f"""
WITH q AS (
  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
  FROM embeddings WHERE vec_id < {_N_QUERIES}
),
c AS (
  SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
  FROM embeddings
),
scored AS (
  SELECT query_id, neighbor_id,
         CASE WHEN sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv)) = 0
              THEN NULL
              ELSE list_dot_product(qv, cv)
                   / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv)))
         END AS cosine
  FROM c, q
  WHERE query_id <> neighbor_id
)
SELECT query_id, neighbor_id, rank, cosine
FROM (
  SELECT query_id, neighbor_id, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id) AS rank
  FROM scored
  WHERE cosine IS NOT NULL
) WHERE rank <= {_TOPK}
"""


def _ann_recall_verdict(
    exact: DataFrame, approx: DataFrame, recall_bound: float
) -> DataFrame:
    """One-row recall verdict: the truth-set shape (n_queries,
    n_exact_pairs) is oracle-computable from the exact top-k SQL; the
    sketch-dependent part collapses to a boolean the oracle states as
    TRUE. Both tops are deterministic (fixed SRP hyperplanes /
    deterministic k-means, neighbor-id tie-breaks), so the verdict is
    stable across partitionings and re-runs (VERDICT r4 item 1)."""
    e = exact.select("query_id", "neighbor_id")
    a = approx.select("query_id", "neighbor_id").withColumn("__hit", F.lit(1))
    return (
        e.join(a, ["query_id", "neighbor_id"], "left")
        .agg(
            F.countDistinct("query_id").alias("n_queries"),
            F.count(F.lit(1)).alias("n_exact_pairs"),
            (
                F.sum(F.coalesce(F.col("__hit"), F.lit(0)))
                / F.count(F.lit(1))
                >= F.lit(recall_bound)
            ).alias("recall_ok"),
        )
    )


def _q_cosine_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SRP-LSH ANN recall verdict vs exact top-k (recall < 1 by
    construction, so raw neighbor lists can't be oracle-compared;
    instead the aggregate recall must clear 0.5 — measured
    0.648/0.70/0.78 at sf0.001/0.01/0.1)."""
    t = load(spark, sf_dir, "embeddings")
    emb = t["embeddings"]
    q = emb.filter(F.col("vec_id") < _N_QUERIES)
    exact = cosine_topk(emb, q, k=_TOPK)
    approx = cosine_topk_lsh(emb, q, dim=64, k=_TOPK, bits=4, bands=8)
    return _ann_recall_verdict(exact, approx, recall_bound=0.5)


_ANN_VERDICT_SQL_TEMPLATE = """
WITH exact AS ({exact_sql})
SELECT CAST(count(DISTINCT query_id) AS BIGINT) AS n_queries,
       CAST(count(*) AS BIGINT) AS n_exact_pairs,
       true AS recall_ok
FROM exact
"""

_COSINE_TOPK_LSH_SQL = _ANN_VERDICT_SQL_TEMPLATE.format(exact_sql=_COSINE_TOPK_SQL)


_NEAR_DUP_THRESHOLD = 0.45
# Bounded-audit probe subset (VERDICT r6 item #1): the registry's
# exact near-dup audits check the probe ids against the FULL corpus —
# O(|probe|·n), linear — instead of full-corpus O(n²). The exhaustive
# grid tier stays an explicit opt-in (method="grid"). 300 (not a
# rounder 100) because the audit must be NON-VACUOUS on the driver
# fixtures: the lowest dropped id is 237/256/52 at sf0.001/0.01/0.1,
# so a smaller window would certify a subset with zero positives.
_NEAR_DUP_PROBES = 300


def _q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, bounded EXACT audit
    tier: every pair at/above the threshold with at least one member
    in the probe subset (vec_id < 300), checked against the full
    corpus via a probe-side broadcast — linear in corpus size, the
    same bounded-sample pattern as ``quantized_topk``. Restricted to
    probe-touching pairs the values are bit-identical to the
    full-grid tier (``embedding_near_dup_pairs(method="grid")``,
    the exhaustive reference the probe is tested against)."""
    t = load(spark, sf_dir, "embeddings")
    emb = t["embeddings"]
    probe = emb.filter(F.col("vec_id") < _NEAR_DUP_PROBES)
    return embedding_near_dup_probe(emb, probe, _NEAR_DUP_THRESHOLD)


_EMBEDDING_NEAR_DUP_SQL = f"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       list_dot_product(a.v, b.v)
           / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) AS cosine
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE (a.vec_id < {_NEAR_DUP_PROBES} OR b.vec_id < {_NEAR_DUP_PROBES})
  AND list_dot_product(a.v, b.v)
          / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))
      >= {_NEAR_DUP_THRESHOLD}
"""


def _q_cosine_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN recall verdict (distributed-kmeans coarse quantizer +
    nprobe inverted lists) vs exact top-k. nprobe=4 of 16 centroids
    must clear aggregate recall 0.4 — measured 0.58/0.576/0.524 at
    sf0.001/0.01/0.1 (a random probe set would sit near
    nprobe/n_centroids = 0.25)."""
    t = load(spark, sf_dir, "embeddings")
    emb = t["embeddings"]
    q = emb.filter(F.col("vec_id") < _N_QUERIES)
    exact = cosine_topk(emb, q, k=_TOPK)
    approx = cosine_topk_ivf(emb, q, dim=64, k=_TOPK, n_centroids=16, nprobe=4)
    return _ann_recall_verdict(exact, approx, recall_bound=0.4)


_COSINE_TOPK_IVF_SQL = _ANN_VERDICT_SQL_TEMPLATE.format(exact_sql=_COSINE_TOPK_SQL)


def _q_embedding_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load(spark, sf_dir, "embeddings")
    return t["embeddings"].select(
        "vec_id", F.round(l2_norm("embedding"), 6).alias("l2_norm")
    )


_EMBEDDING_NORMS_SQL = """
SELECT vec_id,
       round(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                   CAST(embedding AS DOUBLE[]))), 6) AS l2_norm
FROM embeddings
"""

# ------------------------------------------------------- cross-modal dups

def _q_crossmodal_dup_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compose text-similarity and embedding-similarity evidence:
    n-gram-Jaccard near-dup pairs annotated with the same pair's
    embedding cosine (documents and embeddings share ids in testdata).
    The multi-signal dedup decision every serious corpus pipeline
    makes — here as one declarative plan."""
    t = load(spark, sf_dir, "documents", "embeddings")
    text_pairs = ngram_jaccard_pairs(t["documents"], n=_JACCARD_N, threshold=_JACCARD_THRESHOLD)
    from nycitibike_data_transform_spark.functions.vectors import dot_product

    e = t["embeddings"]
    ea = e.select(
        F.col("vec_id").alias("doc_a"),
        F.col("embedding").alias("va"),
        l2_norm("embedding").alias("na"),
    )
    eb = e.select(
        F.col("vec_id").alias("doc_b"),
        F.col("embedding").alias("vb"),
        l2_norm("embedding").alias("nb"),
    )
    denom = F.col("na") * F.col("nb")
    cosine = F.when(denom == 0, F.lit(None).cast("double")).otherwise(
        dot_product(F.col("va"), F.col("vb")) / denom
    )
    return (
        text_pairs.join(F.broadcast(ea), "doc_a")
        .join(F.broadcast(eb), "doc_b")
        .select("doc_a", "doc_b", "jaccard", cosine.alias("embedding_cosine"))
    )


_CROSSMODAL_SQL = rf"""
WITH toks AS (
  SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w
  FROM documents
),
sh_list AS (
  SELECT doc_id,
         list_distinct(list_transform(
             generate_series(1, greatest(len(w) - {_JACCARD_N - 1}, 0)),
             i -> {_SHINGLE_CONCAT_SQL})) AS shingle_set
  FROM toks
),
sh AS (
  SELECT doc_id, unnest(shingle_set) AS shingle FROM sh_list WHERE len(shingle_set) > 0
),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
jac AS (
  SELECT doc_a, doc_b,
         CAST(common AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - common AS DOUBLE) AS jaccard
  FROM pairs
  JOIN sizes sa ON doc_a = sa.doc_id
  JOIN sizes sb ON doc_b = sb.doc_id
  WHERE CAST(common AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - common AS DOUBLE)
        >= {_JACCARD_THRESHOLD}
),
e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
SELECT j.doc_a, j.doc_b, j.jaccard,
       CASE WHEN sqrt(list_dot_product(ea.v, ea.v)) * sqrt(list_dot_product(eb.v, eb.v)) = 0
            THEN NULL
            ELSE list_dot_product(ea.v, eb.v)
                 / (sqrt(list_dot_product(ea.v, ea.v)) * sqrt(list_dot_product(eb.v, eb.v)))
       END AS embedding_cosine
FROM jac j
JOIN e ea ON j.doc_a = ea.vec_id
JOIN e eb ON j.doc_b = eb.vec_id
"""

# ---------------------------------------------------------------- multimodal

def _q_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary payload plumbing: opaque bytes + typed metadata struct
    (flattened here so the oracle can compare it)."""
    t = load(spark, sf_dir, "documents")
    with_payload = attach_payload(t["documents"])
    return with_payload.select(
        "doc_id",
        F.col("media_meta.mime").alias("mime"),
        F.col("media_meta.n_bytes").alias("n_bytes"),
        F.col("media_meta.checksum_md5").alias("checksum_md5"),
    )


_MULTIMODAL_META_SQL = """
SELECT doc_id,
       'text/plain' AS mime,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       md5(text) AS checksum_md5
FROM documents
"""


# ------------------------------------------------- real image decode


def _q_image_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode, end-to-end on real bytes: per document,
    encode a deterministic solid-color PNG (pure-numpy codec,
    ``operators/imaging.py``) in the executors, then run the
    ``decode_image_batch`` operator — actual zlib + scanline-filter
    decode — and emit per-image stats. Because the image content is a
    closed-form function of ``doc_id``, the DuckDB oracle states the
    expected width/height/channel means in plain SQL: a hash match
    certifies the decoder recovered every pixel, not just that the
    plumbing ran. Shuffle-free: two chained mapInPandas stages."""
    import numpy as np
    import pandas as pd

    from nycitibike_data_transform_spark.operators.imaging import (
        decode_image_batch,
        encode_png,
    )

    t = load(spark, sf_dir, "documents")
    # fan_out the doc_id feed (OPTIMIZATION_r15, guide §4/§6): the
    # per-row PNG encode + full zlib/scanline decode are pure-Python
    # CPU in two chained mapInPandas stages, single-task on a compact
    # input. Interleaved min at sf0.1: 1.46 s → 0.62 s. audio_pipeline
    # measured WORSE with the same fan (0.39 → 0.55 — its codec work
    # is too light to amortize the shuffle) and keeps the plain feed.
    docs = fan_out(t["documents"].select("doc_id"))

    def make(batches):
        for pdf in batches:
            ids = pdf["doc_id"].astype("int64")
            payloads = [
                bytearray(
                    encode_png(
                        np.full(
                            (int(i) % 7 + 3, int(i) % 13 + 4, 3),
                            (int(i) % 256, (int(i) * 37) % 256, (int(i) * 91) % 256),
                            dtype=np.uint8,
                        ),
                        filter_type=int(i) % 5,  # exercise every filter branch
                    )
                )
                for i in ids
            ]
            yield pd.DataFrame({"doc_id": ids, "payload": payloads})

    imgs = docs.mapInPandas(make, "doc_id long, payload binary")
    return decode_image_batch(imgs).select(
        "doc_id", "width", "height", "channels", "mean_r", "mean_g", "mean_b"
    )


_IMAGE_PIPELINE_SQL = """
SELECT doc_id,
       CAST(doc_id % 13 + 4 AS INTEGER) AS width,
       CAST(doc_id % 7 + 3 AS INTEGER) AS height,
       CAST(3 AS INTEGER) AS channels,
       CAST(doc_id % 256 AS DOUBLE) AS mean_r,
       CAST((doc_id * 37) % 256 AS DOUBLE) AS mean_g,
       CAST((doc_id * 91) % 256 AS DOUBLE) AS mean_b
FROM documents
"""


# ------------------------------------------------- real audio decode


def _q_audio_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode, end-to-end on real bytes (the audio leg of
    the multimodal brief, same pattern as ``image_pipeline``): per
    document, encode a deterministic PCM16 square wave as a canonical
    RIFF/WAV (pure-struct codec, ``operators/audio.py``) in the
    executors, then run ``decode_audio_batch`` — actual RIFF chunk
    walk + int16 PCM parse — and emit per-clip stats. The waveform is
    a closed-form function of ``doc_id`` (amplitude, half-period,
    cycle count, channel count), so the DuckDB oracle states the
    expected rate/frames/duration/RMS/peak/zero-crossings in plain
    SQL: a hash match certifies the decoder recovered every sample.
    Shuffle-free: two chained mapInPandas stages."""
    import numpy as np
    import pandas as pd

    from nycitibike_data_transform_spark.operators.audio import (
        decode_audio_batch,
        encode_wav,
    )

    t = load(spark, sf_dir, "documents")
    docs = t["documents"].select("doc_id")

    def make(batches):
        for pdf in batches:
            ids = pdf["doc_id"].astype("int64")
            payloads = []
            for i in ids:
                i = int(i)
                half = i % 5 + 2
                cycles = i % 4 + 3
                amp = (i % 20 + 1) * 1000
                period = np.concatenate(
                    [np.full(half, amp, np.int16), np.full(half, -amp, np.int16)]
                )
                ch0 = np.tile(period, cycles)
                samples = (
                    ch0[:, None] if i % 2 == 0 else np.stack([ch0, -ch0], axis=1)
                )
                payloads.append(bytearray(encode_wav(samples, 8000)))
            yield pd.DataFrame({"doc_id": ids, "payload": payloads})

    wavs = docs.mapInPandas(make, "doc_id long, payload binary")
    return decode_audio_batch(wavs).select(
        "doc_id", "sample_rate", "n_channels", "n_samples", "duration_s",
        "rms", "peak", "n_zero_crossings",
    )


# A square wave of amplitude A has RMS exactly A (every |sample| = A);
# sign flips happen at each half-period boundary: n/half − 1 of them.
_AUDIO_PIPELINE_SQL = """
SELECT doc_id,
       CAST(8000 AS INTEGER) AS sample_rate,
       CAST(doc_id % 2 + 1 AS INTEGER) AS n_channels,
       CAST((doc_id % 5 + 2) * 2 * (doc_id % 4 + 3) AS INTEGER) AS n_samples,
       CAST((doc_id % 5 + 2) * 2 * (doc_id % 4 + 3) AS DOUBLE) / 8000 AS duration_s,
       CAST((doc_id % 20 + 1) * 1000 AS DOUBLE) AS rms,
       CAST((doc_id % 20 + 1) * 1000 AS INTEGER) AS peak,
       CAST(2 * (doc_id % 4 + 3) - 1 AS INTEGER) AS n_zero_crossings
FROM documents
"""


# ------------------------------------------------- video frame sampling


def _q_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL frame sampling over a video-shaped container: per
    document, pack ``n_frames`` deterministic solid-color PNGs into
    the length-prefixed container (``operators/video.py``), then
    ``sample_frames_batch(stride=2)`` — seek via the length table,
    decode ONLY frames 0, 2, 4, … — and emit per-sampled-frame stats.
    Frame content is a closed-form function of (doc_id, frame_idx), so
    the DuckDB oracle is a generate_series lateral join with the same
    stride filter: a hash match certifies both the sampling arithmetic
    (which frames) and the per-frame decode (every pixel). One row per
    sampled frame — the explode stays bounded by n_frames/stride."""
    import numpy as np
    import pandas as pd

    from nycitibike_data_transform_spark.operators.imaging import encode_png
    from nycitibike_data_transform_spark.operators.video import (
        encode_frames,
        sample_frames_batch,
    )

    t = load(spark, sf_dir, "documents")
    # fan_out the doc_id feed (OPTIMIZATION_r15, guide §4/§6): the
    # PNG encode+container pack below is pure-Python CPU in
    # mapInPandas, and a compact one-file input ran ALL of it on a
    # single task. The shuffled payload is one long column — the
    # cheapest possible fan. Interleaved min at sf0.1: 2.33 s → 0.66 s.
    docs = fan_out(t["documents"].select("doc_id"))

    def make(batches):
        for pdf in batches:
            ids = pdf["doc_id"].astype("int64")
            payloads = []
            for i in ids:
                i = int(i)
                nf = i % 6 + 2
                w = i % 9 + 2
                h = i % 4 + 2
                frames = [
                    encode_png(
                        np.full(
                            (h, w, 3),
                            ((i + 13 * f) % 256, (i * 3 + 7 * f) % 256,
                             (i * 5 + 11 * f) % 256),
                            dtype=np.uint8,
                        ),
                        filter_type=(i + f) % 5,
                    )
                    for f in range(nf)
                ]
                payloads.append(bytearray(encode_frames(frames)))
            yield pd.DataFrame({"doc_id": ids, "payload": payloads})

    vids = docs.mapInPandas(make, "doc_id long, payload binary")
    return sample_frames_batch(vids, stride=2).select(
        "doc_id", "n_frames", "frame_idx", "width", "height",
        "mean_r", "mean_g", "mean_b",
    )


_VIDEO_FRAMES_SQL = """
SELECT d.doc_id,
       CAST(d.doc_id % 6 + 2 AS INTEGER) AS n_frames,
       CAST(f AS INTEGER) AS frame_idx,
       CAST(d.doc_id % 9 + 2 AS INTEGER) AS width,
       CAST(d.doc_id % 4 + 2 AS INTEGER) AS height,
       CAST((d.doc_id + 13 * f) % 256 AS DOUBLE) AS mean_r,
       CAST((d.doc_id * 3 + 7 * f) % 256 AS DOUBLE) AS mean_g,
       CAST((d.doc_id * 5 + 11 * f) % 256 AS DOUBLE) AS mean_b
FROM documents d,
     unnest(generate_series(0, CAST(d.doc_id % 6 + 1 AS BIGINT))) AS t(f)
WHERE f % 2 = 0
"""


# ------------------------------------------------- BPE-ish token count

_BPE_PATTERN = r"[a-z]+|[0-9]+|[^a-z0-9\s]"


def _q_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-word-ish token counting: letter runs, digit runs, and
    single punctuation marks as separate tokens (the portable core of
    a GPT-2-style pre-tokenizer regex)."""
    t = load(spark, sf_dir, "documents")
    toks = F.regexp_extract_all(F.lower(F.col("text")), F.lit(_BPE_PATTERN), 0)
    return fan_out(t["documents"]).select(
        "doc_id",
        F.size(toks).alias("n_bpe_tokens"),
        F.size(F.array_distinct(toks)).alias("n_unique_tokens"),
    )


_BPE_TOKEN_COUNT_SQL = rf"""
SELECT doc_id,
       CAST(len(regexp_extract_all(lower(text), '{_BPE_PATTERN}')) AS INTEGER)
           AS n_bpe_tokens,
       CAST(len(list_distinct(regexp_extract_all(lower(text), '{_BPE_PATTERN}'))) AS INTEGER)
           AS n_unique_tokens
FROM documents
"""

# ------------------------------------------------------ snapshot diff

def _q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level change classification between two synthetic snapshots
    of the documents table (old: ids ≡9 (mod 10) absent, ids ≡0 (mod 7)
    text-mutated; new: ids ≡8 (mod 10) absent) — exercising all four
    statuses. The oracle derives each id's status directly from the
    construction rules, so it is fully independent of the engine's
    hash-outer-join mechanics."""
    from nycitibike_data_transform_spark.operators.diff import snapshot_diff

    t = load(spark, sf_dir, "documents")
    docs = t["documents"].select("doc_id", "text")
    # concat_ws (not concat): NULL text must still mutate to a
    # non-NULL value, or a NULL-text doc with doc_id % 7 == 0 would
    # hash 'unchanged' while the rule-based oracle says 'changed'
    old = docs.filter(F.col("doc_id") % 10 != 9).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat_ws("", F.col("text"), F.lit(" OLD")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    new = docs.filter(F.col("doc_id") % 10 != 8)
    return snapshot_diff(old, new, "doc_id")


_SNAPSHOT_DIFF_SQL = """
SELECT doc_id,
       CASE WHEN doc_id % 10 = 9 THEN 'added'
            WHEN doc_id % 10 = 8 THEN 'removed'
            WHEN doc_id % 7 = 0 THEN 'changed'
            ELSE 'unchanged'
       END AS status
FROM documents
"""

# ---------------------------------------------------- sequence packing

_PACK_SEQ_LEN = 64


def _q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: each doc's token interval and training-bin
    span in the concatenated id-ordered token stream (seq_len=64).
    The global prefix sum runs as the scalable two-phase decomposition
    (operators/packing.py) while the oracle uses DuckDB's naive global
    window — the green hash proves the decomposition exact."""
    from nycitibike_data_transform_spark.operators.packing import pack_sequences

    from nycitibike_data_transform_spark.functions.text import token_count

    t = load(spark, sf_dir, "documents")
    counted = t["documents"].select(
        "doc_id", token_count("text").alias("n_tokens")
    )
    return pack_sequences(counted, _PACK_SEQ_LEN)


_PACK_SEQUENCES_SQL = rf"""
WITH tok AS (
  SELECT doc_id,
         CASE WHEN length(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) = 0
              THEN 0
              ELSE CAST(len(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS BIGINT)
         END AS n_tokens
  FROM documents
),
nz AS (SELECT doc_id, n_tokens FROM tok WHERE n_tokens > 0),
run AS (
  SELECT doc_id, n_tokens,
         CAST(sum(n_tokens) OVER (ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS r
  FROM nz
)
SELECT doc_id,
       n_tokens,
       r - n_tokens AS start_offset,
       CAST(floor(CAST(r - n_tokens AS DOUBLE) / {_PACK_SEQ_LEN}) AS BIGINT) AS first_bin,
       CAST(floor(CAST(r - 1 AS DOUBLE) / {_PACK_SEQ_LEN}) AS BIGINT) AS last_bin
FROM run
"""

# -------------------------------------------------- quality filtering

# Gopher-style document thresholds (Rae et al. 2021 §A1.1, scaled to
# this corpus's short synthetic docs): token-count range, mean token
# length range, and a minimum stopword ratio (natural prose has
# function words; keyword spam doesn't).
_QF_MIN_TOKENS, _QF_MAX_TOKENS = 10, 1_000
_QF_MIN_MEAN_TOK, _QF_MAX_MEAN_TOK = 2.0, 12.0
_QF_MIN_STOPWORD = 0.01


def quality_filter_columns() -> list:
    """The Gopher-rule verdict columns over a ``text`` column — shared
    by the batch query and the streaming path
    (streaming/documents.py), so the two can never drift. Rounded to 6
    decimals before thresholding (same determinism rule as text_stats:
    JVM vs libm may differ in the last ulp, and a straddled threshold
    would flip a verdict)."""
    cols = quality_score_columns(F.col("text"))
    n_tok = cols["n_tokens"]
    mean_len = F.round(cols["mean_token_len"], 6)
    stop = F.round(cols["stopword_ratio"], 6)
    ok_tokens = n_tok.between(_QF_MIN_TOKENS, _QF_MAX_TOKENS)
    ok_mean = mean_len.between(_QF_MIN_MEAN_TOK, _QF_MAX_MEAN_TOK)
    ok_stop = stop >= _QF_MIN_STOPWORD
    return [
        ok_tokens.cast("int").alias("ok_token_count"),
        ok_mean.cast("int").alias("ok_mean_token_len"),
        ok_stop.cast("int").alias("ok_stopword_ratio"),
        (ok_tokens & ok_mean & ok_stop).cast("int").alias("keep"),
    ]


def _q_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite rule-based quality filter — the Gopher-rules pass
    every pre-training pipeline runs before dedup. One narrow
    projection per doc (all signals are codegen'd Column expressions,
    no shuffle at all); emits the per-rule verdicts so downstream can
    audit WHY a doc dropped, plus the combined keep flag."""
    t = load(spark, sf_dir, "documents")
    return fan_out(t["documents"]).select("doc_id", *quality_filter_columns())


# mirrors _TEXT_STATS_SQL's signal definitions exactly, then applies
# the thresholds — both sides must round/branch identically
_QUALITY_FILTER_SQL = rf"""
WITH norm AS (
  SELECT doc_id,
         length(text) AS n_chars,
         trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS nt
  FROM documents
),
tok AS (
  SELECT doc_id, n_chars, nt,
         CASE WHEN length(nt) = 0 THEN 0
              ELSE CAST(len(string_split(nt, ' ')) AS INTEGER) END AS n_tokens,
         ' ' || nt || ' ' AS padded
  FROM norm
),
sig AS (
  SELECT doc_id, n_tokens,
         round(CASE WHEN n_tokens = 0 THEN 0.0
              ELSE CAST(length(replace(nt, ' ', '')) AS DOUBLE) / n_tokens END, 6)
             AS mean_token_len,
         round(CASE WHEN n_tokens = 0 THEN 0.0 ELSE (
             (length(padded) - length(replace(padded, ' the ', ''))) / 5.0
           + (length(padded) - length(replace(padded, ' and ', ''))) / 5.0
           + (length(padded) - length(replace(padded, ' of ', ''))) / 4.0
           + (length(padded) - length(replace(padded, ' a ', ''))) / 3.0
           + (length(padded) - length(replace(padded, ' to ', ''))) / 4.0
           + (length(padded) - length(replace(padded, ' in ', ''))) / 4.0
         ) / n_tokens END, 6) AS stopword_ratio
  FROM tok
)
SELECT doc_id,
       CAST(n_tokens BETWEEN {_QF_MIN_TOKENS} AND {_QF_MAX_TOKENS} AS INT) AS ok_token_count,
       CAST(mean_token_len BETWEEN {_QF_MIN_MEAN_TOK} AND {_QF_MAX_MEAN_TOK} AS INT) AS ok_mean_token_len,
       CAST(stopword_ratio >= {_QF_MIN_STOPWORD} AS INT) AS ok_stopword_ratio,
       CAST(n_tokens BETWEEN {_QF_MIN_TOKENS} AND {_QF_MAX_TOKENS}
            AND mean_token_len BETWEEN {_QF_MIN_MEAN_TOK} AND {_QF_MAX_MEAN_TOK}
            AND stopword_ratio >= {_QF_MIN_STOPWORD} AS INT) AS keep
FROM sig
"""

def _q_compression_signal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compression-ratio quality signal (Arrow-batched zlib pandas_udf
    — see operators/compression.py). The raw DEFLATE byte count is
    not engine-portable, so the oracle-facing columns are the exact
    NULL pattern plus a bounds verdict; the ratio's semantics
    (repetitive ≪ prose) are pinned by unit tests."""
    from nycitibike_data_transform_spark.operators.compression import (
        ratio_verdict,
        zlib_ratio,
    )

    t = load(spark, sf_dir, "documents")
    docs = fan_out(t["documents"])
    r = zlib_ratio(F.col("text"))
    return docs.select(
        "doc_id",
        F.coalesce(F.length("text"), F.lit(0)).cast("long").alias("n_chars"),
        ratio_verdict(F.col("text"), r).alias("ratio_ok"),
    )


_COMPRESSION_SIGNAL_SQL = """
SELECT doc_id,
       CAST(coalesce(length(text), 0) AS BIGINT) AS n_chars,
       CASE WHEN text IS NULL OR length(text) = 0 THEN NULL ELSE true END
           AS ratio_ok
FROM documents
"""


def _q_perplexity_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram language-model perplexity per document — the degenerate
    (order-free) member of the n-gram-LM family CCNet-style pipelines
    filter on: log-ppl(doc) = ln(N) − (1/n)·Σ m_w·ln(count_w), where
    count_w is the token's corpus frequency and N the corpus token
    total. Out-of-distribution / gibberish documents score high,
    boilerplate scores low.

    Determinism: the per-document Σ m·ln(count) is a DOUBLE sum, so
    both engines fold it in the SAME token order — Spark via
    F.aggregate over an array_sort'ed (token, m, count) list, DuckDB
    via an ORDER BY-qualified aggregate (binary collation matches
    Spark's string order; tokens are distinct per doc so the order is
    total). ln is transcendental → result rounded to 6 (contract in
    queries/__init__.py). Scale shape: two shuffles (corpus vocab
    count on token, per-doc fold on doc_id) + a 1-row total broadcast;
    the vocab join shuffles on token — no broadcast dependence on
    vocabulary size."""
    from nycitibike_data_transform_spark.functions.text import token_array

    t = load(spark, sf_dir, "documents")
    docs = fan_out(t["documents"])
    tok_rows = docs.select(
        "doc_id", F.explode(token_array("text")).alias("tok")
    )
    # one explode pass: vocab counts and the corpus total both derive
    # from the per-(doc, token) aggregate instead of re-running the
    # tokenize+explode subtree three times (review finding r5)
    per = tok_rows.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("__m"))
    vocab = per.groupBy("tok").agg(F.sum("__m").alias("__c"))
    total = vocab.agg(F.sum("__c").alias("__n_total"))
    folded = (
        per.join(vocab, "tok")
        .groupBy("doc_id")
        .agg(
            F.sum("__m").alias("__n_tok"),
            F.aggregate(
                F.array_sort(F.collect_list(F.struct("tok", "__m", "__c"))),
                F.lit(0.0),
                lambda acc, x: acc
                + x["__m"].cast("double") * F.log(x["__c"].cast("double")),
            ).alias("__sum_mlogc"),
        )
    )
    return (
        docs.select("doc_id")
        .join(folded, "doc_id", "left")
        .crossJoin(F.broadcast(total))
        .select(
            "doc_id",
            F.coalesce(F.col("__n_tok"), F.lit(0)).cast("long").alias("n_tokens"),
            F.round(
                F.log(F.col("__n_total").cast("double"))
                - F.col("__sum_mlogc") / F.col("__n_tok"),
                6,
            ).alias("log_perplexity"),
        )
    )


_PERPLEXITY_SQL = r"""
WITH base AS (
  SELECT doc_id,
         CASE WHEN coalesce(nt, '') = '' THEN CAST([] AS VARCHAR[])
              ELSE string_split(nt, ' ') END AS w
  FROM (SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS nt
        FROM documents)
),
tok_rows AS (
  SELECT doc_id, unnest(w) AS tok FROM base WHERE len(w) > 0
),
vocab AS (SELECT tok, count(*) AS c FROM tok_rows GROUP BY 1),
tot AS (SELECT count(*) AS n_total FROM tok_rows),
per AS (SELECT doc_id, tok, count(*) AS m FROM tok_rows GROUP BY 1, 2),
folded AS (
  SELECT doc_id,
         CAST(sum(m) AS BIGINT) AS n_tok,
         sum(CAST(m AS DOUBLE) * ln(CAST(c AS DOUBLE)) ORDER BY tok) AS sum_mlogc
  FROM per JOIN vocab USING (tok)
  GROUP BY 1
)
SELECT b.doc_id,
       CAST(coalesce(f.n_tok, 0) AS BIGINT) AS n_tokens,
       round(ln(CAST(t.n_total AS DOUBLE)) - f.sum_mlogc / f.n_tok, 6)
           AS log_perplexity
FROM base b
LEFT JOIN folded f USING (doc_id), tot t
"""


_DSIR_TARGET_SOURCE = "src0"  # the stand-in "high-quality target domain"
_DSIR_TOP_K = 200


def _q_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style data selection (Xie et al. 2023): treat one source
    (``src0``) as the target domain, weight every document by its
    average unigram log-likelihood ratio target-vs-corpus
    (add-one-smoothed over the shared vocabulary), and keep the top-K
    by ``(dsir_logratio DESC, doc_id)`` — the "select raw data that
    looks like my target" pipeline, feeding weighted_sample /
    token_budget_select downstream. Ordering happens on the ROUNDED
    weight, so the cross-engine cutoff is deterministic; top-K is
    TakeOrderedAndProject, never a global sort."""
    from nycitibike_data_transform_spark.operators.selection import (
        dsir_logratio_weights,
    )

    t = load(spark, sf_dir, "documents")
    w = dsir_logratio_weights(
        fan_out(t["documents"]),
        is_target=F.col("source") == _DSIR_TARGET_SOURCE,
    )
    return w.orderBy(
        F.col("dsir_logratio").desc(), F.col("doc_id").asc()
    ).limit(_DSIR_TOP_K)


_DSIR_SELECT_SQL = rf"""
WITH base AS (
  SELECT doc_id, source,
         CASE WHEN coalesce(nt, '') = '' THEN CAST([] AS VARCHAR[])
              ELSE string_split(nt, ' ') END AS w
  FROM (SELECT doc_id, source,
               trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS nt
        FROM documents)
),
tok_rows AS (
  SELECT doc_id, source = '{_DSIR_TARGET_SOURCE}' AS is_t, unnest(w) AS tok
  FROM base WHERE len(w) > 0
),
per AS (
  SELECT doc_id, tok, count(*) AS m, max(is_t) AS is_t
  FROM tok_rows GROUP BY 1, 2
),
vocab AS (
  SELECT tok, sum(m) AS cr, sum(CASE WHEN is_t THEN m ELSE 0 END) AS ct
  FROM per GROUP BY 1
),
scal AS (SELECT sum(cr) AS nr, sum(ct) AS nt, count(*) AS v FROM vocab),
ratio AS (
  SELECT tok,
         ln(CAST(ct + 1 AS DOUBLE) / CAST(nt + v AS DOUBLE))
         - ln(CAST(cr + 1 AS DOUBLE) / CAST(nr + v AS DOUBLE)) AS lr
  FROM vocab, scal
),
folded AS (
  SELECT doc_id,
         CAST(sum(m) AS BIGINT) AS n_tokens,
         sum(CAST(m AS DOUBLE) * lr ORDER BY tok) AS s
  FROM per JOIN ratio USING (tok)
  GROUP BY 1
)
SELECT doc_id, n_tokens, round(s / n_tokens, 6) AS dsir_logratio
FROM folded
ORDER BY dsir_logratio DESC, doc_id
LIMIT {_DSIR_TOP_K}
"""


_DSIR_NGRAM_BUCKETS = 10_000


def _q_dsir_ngram_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR selection over the paper's HASHED N-GRAM features (Xie et
    al. 2023 §3; VERDICT r14 item 4): unigrams + bigrams type-prefixed
    and hashed into a fixed 10k-bucket space (md5-substring — the
    engine-portable surrogate for the paper's xxhash), add-one-smoothed
    over the bucket count, per-doc average log-ratio target-vs-corpus,
    top-K on the rounded weight. Unlike ``dsir_select``'s unigram
    degenerate, bigram features carry word-order signal. The ratio
    table is bounded at B=10k rows at ANY corpus size — the join's
    build side never grows with the data."""
    from nycitibike_data_transform_spark.operators.selection import (
        dsir_hashed_ngram_weights,
    )

    t = load(spark, sf_dir, "documents")
    w = dsir_hashed_ngram_weights(
        fan_out(t["documents"]),
        is_target=F.col("source") == _DSIR_TARGET_SOURCE,
        n_buckets=_DSIR_NGRAM_BUCKETS,
    )
    return w.orderBy(
        F.col("dsir_logratio").desc(), F.col("doc_id").asc()
    ).limit(_DSIR_TOP_K)


_DSIR_NGRAM_SELECT_SQL = rf"""
WITH base AS (
  SELECT doc_id, source,
         CASE WHEN coalesce(nt, '') = '' THEN CAST([] AS VARCHAR[])
              ELSE string_split(nt, ' ') END AS w
  FROM (SELECT doc_id, source,
               trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS nt
        FROM documents)
),
feats AS (
  SELECT doc_id, source = '{_DSIR_TARGET_SOURCE}' AS is_t,
         unnest(list_concat(
           list_transform(w, t -> '1:' || t),
           CASE WHEN len(w) >= 2
                THEN list_transform(generate_series(1, len(w) - 1),
                                    i -> '2:' || w[i] || ' ' || w[i + 1])
                ELSE CAST([] AS VARCHAR[]) END
         )) AS feat
  FROM base WHERE len(w) > 0
),
fb AS (
  SELECT doc_id, is_t,
         ('0x' || substr(md5(feat), 1, 8))::BIGINT % {_DSIR_NGRAM_BUCKETS} AS b
  FROM feats
),
per AS (
  SELECT doc_id, b, count(*) AS m, max(is_t) AS is_t
  FROM fb GROUP BY 1, 2
),
vocab AS (
  SELECT b, sum(m) AS cr, sum(CASE WHEN is_t THEN m ELSE 0 END) AS ct
  FROM per GROUP BY 1
),
scal AS (SELECT sum(cr) AS nr, sum(ct) AS nt FROM vocab),
ratio AS (
  SELECT b,
         ln(CAST(ct + 1 AS DOUBLE) / CAST(nt + {_DSIR_NGRAM_BUCKETS} AS DOUBLE))
         - ln(CAST(cr + 1 AS DOUBLE) / CAST(nr + {_DSIR_NGRAM_BUCKETS} AS DOUBLE)) AS lr
  FROM vocab, scal
),
folded AS (
  SELECT doc_id,
         CAST(sum(m) AS BIGINT) AS n_features,
         sum(CAST(m AS DOUBLE) * lr ORDER BY b) AS s
  FROM per JOIN ratio USING (b)
  GROUP BY 1
)
SELECT doc_id, n_features, round(s / n_features, 6) AS dsir_logratio
FROM folded
ORDER BY dsir_logratio DESC, doc_id
LIMIT {_DSIR_TOP_K}
"""


# ------------------------------------------------------ URL canonical dedup

def _synth_url_col() -> F.Column:
    """Deterministic messy URL per document (the documents table has no
    URL column): every well-formed variant of the same logical page —
    scheme case, ``www.``, explicit default port, trailing slash, param
    order, tracking params, fragments — canonicalizes to
    ``https://example{id%7}.com/docs/{id%50}?a=1&b=2``, so ids sharing
    ``(id%7, id%50)`` are URL-duplicates. Every 97th doc is an
    unparseable locator (retention-policy pin). The DuckDB oracle
    synthesizes the identical string."""
    d = F.col("doc_id")
    return F.when(d % 97 == 0, F.lit("not a url")).otherwise(
        F.concat(
            F.when(d % 5 == 0, F.lit("HTTPS")).otherwise(F.lit("https")),
            F.lit("://"),
            F.when(d % 3 == 0, F.lit("WWW.")).otherwise(F.lit("")),
            F.lit("example"),
            (d % 7).cast("string"),
            F.lit(".com"),
            F.when(d % 4 == 0, F.lit(":443")).otherwise(F.lit("")),
            F.lit("/docs/"),
            (d % 50).cast("string"),
            F.when(d % 2 == 0, F.lit("/")).otherwise(F.lit("")),
            F.when(d % 3 == 0, F.lit("?utm_source=feed&b=2&a=1"))
            .when(d % 3 == 1, F.lit("?a=1&b=2"))
            .otherwise(F.lit("?b=2&a=1&fbclid=xyz")),
            F.when(d % 6 == 0, F.lit("#frag")).otherwise(F.lit("")),
        )
    )


def _q_dedup_url(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-level keep-best dedup (VERDICT r14 item 5): canonicalize the
    synthesized messy URLs (contract in ``functions/urls.py`` — scheme/
    host case, default ports, www, trailing slashes, tracking params,
    param order, fragments) and keep each canonical group's best member
    (longest text, ties to the lower id). Unparseable locators are
    retained as singletons with NULL canonical_url. Zero UDF — the
    whole path is regexp/array Column expressions; one shuffle on the
    canonical key."""
    from nycitibike_data_transform_spark.operators.dedup import dedup_by_url

    t = load(spark, sf_dir, "documents")
    docs = fan_out(t["documents"]).select(
        "doc_id", "n_chars", _synth_url_col().alias("url")
    )
    return dedup_by_url(docs, quality_col="n_chars")


def _tracking_in_sql() -> str:
    from nycitibike_data_transform_spark.functions.urls import TRACKING_PARAMS

    return ", ".join(f"'{p}'" for p in TRACKING_PARAMS)


# shared canonicalization CTEs — urls → parts → canon(doc_id, n_chars,
# host, canonical_url); replicates every functions/urls.py step with the
# SAME regexes (cross-engine parity proven case-by-case in
# tests/test_urls.py). NOTE DuckDB's array_to_string returns NULL on an
# empty list — hence the coalesce on qs.
_URL_CANON_CTES = rf"""
WITH urls AS (
  SELECT doc_id, n_chars,
         CASE WHEN doc_id % 97 = 0 THEN 'not a url'
         ELSE (CASE WHEN doc_id % 5 = 0 THEN 'HTTPS' ELSE 'https' END) || '://'
              || (CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END)
              || 'example' || CAST(doc_id % 7 AS VARCHAR) || '.com'
              || (CASE WHEN doc_id % 4 = 0 THEN ':443' ELSE '' END)
              || '/docs/' || CAST(doc_id % 50 AS VARCHAR)
              || (CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END)
              || (CASE WHEN doc_id % 3 = 0 THEN '?utm_source=feed&b=2&a=1'
                       WHEN doc_id % 3 = 1 THEN '?a=1&b=2'
                       ELSE '?b=2&a=1&fbclid=xyz' END)
              || (CASE WHEN doc_id % 6 = 0 THEN '#frag' ELSE '' END)
         END AS u
  FROM documents
),
parts AS (
  SELECT doc_id, n_chars, u,
         lower(regexp_extract(u, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
         regexp_replace(u, '^[A-Za-z][A-Za-z0-9+.-]*://', '') AS rest,
         coalesce(array_to_string(list_sort(list_filter(
           string_split(regexp_extract(
             regexp_replace(u, '^[A-Za-z][A-Za-z0-9+.-]*://', ''),
             '^[^#?]*\?([^#]*)', 1), '&'),
           p -> p <> '' AND NOT starts_with(lower(string_split(p, '=')[1]), 'utm_')
                AND lower(string_split(p, '=')[1]) NOT IN ({_tracking_in_sql()})
         )), '&'), '') AS qs
  FROM urls
),
canon AS (
  SELECT doc_id, n_chars,
         CASE WHEN scheme = '' THEN ''
         ELSE regexp_replace(
                CASE WHEN scheme = 'http'
                     THEN regexp_replace(lower(regexp_extract(rest, '^([^/?#]*)', 1)), ':80$', '')
                     WHEN scheme = 'https'
                     THEN regexp_replace(lower(regexp_extract(rest, '^([^/?#]*)', 1)), ':443$', '')
                     ELSE lower(regexp_extract(rest, '^([^/?#]*)', 1)) END,
                '^www\.', '')
         END AS host,
         CASE WHEN scheme = '' THEN NULL
         ELSE scheme || '://'
              || regexp_replace(
                   CASE WHEN scheme = 'http'
                        THEN regexp_replace(lower(regexp_extract(rest, '^([^/?#]*)', 1)), ':80$', '')
                        WHEN scheme = 'https'
                        THEN regexp_replace(lower(regexp_extract(rest, '^([^/?#]*)', 1)), ':443$', '')
                        ELSE lower(regexp_extract(rest, '^([^/?#]*)', 1)) END,
                   '^www\.', '')
              || regexp_replace(regexp_extract(rest, '^[^/?#]*([^?#]*)', 1), '/+$', '')
              || (CASE WHEN qs = '' THEN '' ELSE '?' || qs END)
         END AS canonical_url
  FROM parts
)
"""

_DEDUP_URL_SQL = rf"""{_URL_CANON_CTES},
ranked AS (
  SELECT doc_id, canonical_url,
         row_number() OVER (PARTITION BY coalesce(canonical_url, '__raw__:' || CAST(doc_id AS VARCHAR))
                            ORDER BY n_chars DESC, doc_id ASC) AS rn,
         count(*) OVER (PARTITION BY coalesce(canonical_url, '__raw__:' || CAST(doc_id AS VARCHAR))) AS group_size
  FROM canon
)
SELECT doc_id, canonical_url, CAST(group_size AS BIGINT) AS group_size
FROM ranked WHERE rn = 1
"""


def _q_url_host_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host-level web-corpus profile (the 'host grouping' half of
    VERDICT r14 missing-item 3): documents grouped by CANONICAL host —
    doc count, distinct canonical URLs, and the host's duplication
    ratio (docs per distinct URL). The mirror-detection signal crawl
    pipelines rank hosts by. One map-side-combinable shuffle on host;
    unparseable locators (empty host) are excluded — they have no host
    to group under."""
    from nycitibike_data_transform_spark.functions.urls import (
        canonical_url,
        url_host,
    )

    t = load(spark, sf_dir, "documents")
    docs = fan_out(t["documents"]).select(
        "doc_id", _synth_url_col().alias("url")
    )
    d = docs.select(
        url_host("url").alias("host"),
        canonical_url("url").alias("curl"),
    ).filter(F.col("host") != "")
    return (
        d.groupBy("host")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("curl").alias("n_urls"),
        )
        .select(
            "host",
            "n_docs",
            "n_urls",
            F.round(
                F.col("n_docs").cast("double") / F.col("n_urls"), 6
            ).alias("dup_ratio"),
        )
    )


_URL_HOST_STATS_SQL = rf"""{_URL_CANON_CTES}
SELECT host,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT canonical_url) AS BIGINT) AS n_urls,
       round(CAST(count(*) AS DOUBLE) / count(DISTINCT canonical_url), 6)
           AS dup_ratio
FROM canon
WHERE host <> ''
GROUP BY 1
"""


_RENDER_SEQ_LEN = 64


def _q_pack_render(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized training rows: the corpus laid out as one
    id-ordered token stream and chopped into 64-token bins, each bin
    rendered as text (straddling docs contribute a segment per bin).
    Engine side uses pack_sequences' two-phase prefix sum; the oracle
    is the naive single-window global layout — byte-exact agreement
    proves the scalable decomposition renders identically."""
    from nycitibike_data_transform_spark.operators.packing import render_packed_bins

    t = load(spark, sf_dir, "documents")
    return render_packed_bins(t["documents"], _RENDER_SEQ_LEN)


_PACK_RENDER_SQL = rf"""
WITH base AS (
  SELECT doc_id,
         CASE WHEN coalesce(nt, '') = '' THEN CAST([] AS VARCHAR[])
              ELSE string_split(nt, ' ') END AS w
  FROM (SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS nt
        FROM documents)
),
sized AS (SELECT doc_id, w, len(w) AS n FROM base WHERE len(w) > 0),
off AS (
  SELECT doc_id, w, n,
         coalesce(sum(n) OVER (ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS s
  FROM sized
),
spans AS (
  SELECT doc_id, w, n, s,
         CAST(floor(CAST(s AS DOUBLE) / {_RENDER_SEQ_LEN}) AS BIGINT) AS fb,
         CAST(floor(CAST(s + n - 1 AS DOUBLE) / {_RENDER_SEQ_LEN}) AS BIGINT) AS lb
  FROM off
),
segs AS (
  SELECT b AS bin_id,
         greatest(s, b * {_RENDER_SEQ_LEN}) AS seg_start,
         least(s + n, (b + 1) * {_RENDER_SEQ_LEN})
             - greatest(s, b * {_RENDER_SEQ_LEN}) AS seg_len,
         array_to_string(
             w[CAST(greatest(s, b * {_RENDER_SEQ_LEN}) - s + 1 AS BIGINT)
               : CAST(greatest(s, b * {_RENDER_SEQ_LEN}) - s
                      + least(s + n, (b + 1) * {_RENDER_SEQ_LEN})
                      - greatest(s, b * {_RENDER_SEQ_LEN}) AS BIGINT)], ' ')
             AS seg_text
  FROM spans, unnest(generate_series(fb, lb)) AS t(b)
)
SELECT bin_id,
       count(*) AS n_docs,
       CAST(sum(seg_len) AS BIGINT) AS n_tokens,
       string_agg(seg_text, ' ' ORDER BY seg_start) AS text
FROM segs
GROUP BY 1
"""


_DATASET_REPORT_GROUPING = """
SELECT source, lang,
       count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
       CAST(sum(keep) AS BIGINT) AS n_keep,
       round(CAST(sum(keep) AS DOUBLE) / count(*), 6) AS keep_share,
       CAST(GROUPING(source) * 2 + GROUPING(lang) AS INTEGER) AS gid
FROM {src}
GROUP BY GROUPING SETS ((source, lang), (source), ())
"""


def _q_dataset_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The data card a training-corpus export publishes: doc/token
    counts and quality-pass share per (source, lang), per source, and
    corpus-wide, in one GROUPING SETS pass (grouping id disambiguates
    rollup rows from genuine NULL domains). Two-phase hash agg over
    |sources × langs| groups — one shuffle, map-side combined."""
    t = load(spark, sf_dir, "documents")
    cols = quality_score_columns(F.col("text"))
    per_doc = fan_out(t["documents"]).select(
        "source",
        "lang",
        cols["n_tokens"].cast("long").alias("n_tokens"),
        quality_filter_columns()[-1],  # aliased 'keep'
    )
    per_doc.createOrReplaceTempView("__dataset_docs")
    return spark.sql(_DATASET_REPORT_GROUPING.format(src="__dataset_docs"))


_DATASET_REPORT_SQL = rf"""
WITH norm AS (
  SELECT source, lang,
         trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS nt
  FROM documents
),
tok AS (
  SELECT source, lang, nt,
         CASE WHEN length(nt) = 0 THEN 0
              ELSE CAST(len(string_split(nt, ' ')) AS INTEGER) END AS n_tokens,
         ' ' || nt || ' ' AS padded
  FROM norm
),
sig AS (
  SELECT source, lang, CAST(n_tokens AS BIGINT) AS n_tokens,
         round(CASE WHEN n_tokens = 0 THEN 0.0
              ELSE CAST(length(replace(nt, ' ', '')) AS DOUBLE) / n_tokens END, 6)
             AS mean_token_len,
         round(CASE WHEN n_tokens = 0 THEN 0.0 ELSE (
             (length(padded) - length(replace(padded, ' the ', ''))) / 5.0
           + (length(padded) - length(replace(padded, ' and ', ''))) / 5.0
           + (length(padded) - length(replace(padded, ' of ', ''))) / 4.0
           + (length(padded) - length(replace(padded, ' a ', ''))) / 3.0
           + (length(padded) - length(replace(padded, ' to ', ''))) / 4.0
           + (length(padded) - length(replace(padded, ' in ', ''))) / 4.0
         ) / n_tokens END, 6) AS stopword_ratio
  FROM tok
),
perdoc AS (
  SELECT source, lang, n_tokens,
         CAST(n_tokens BETWEEN {_QF_MIN_TOKENS} AND {_QF_MAX_TOKENS}
              AND mean_token_len BETWEEN {_QF_MIN_MEAN_TOK} AND {_QF_MAX_MEAN_TOK}
              AND stopword_ratio >= {_QF_MIN_STOPWORD} AS INT) AS keep
  FROM sig
)
{_DATASET_REPORT_GROUPING.format(src="perdoc")}
"""

# ---------------------------------------------------- decontamination

# every doc_id ≡ 0 (mod this) plays the held-out benchmark set; the
# rest is the training corpus to scrub
_DECON_BENCH_MOD = 50


def _q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Test-set decontamination (new r4 surface): flag every training
    document sharing at least one n-gram shingle with the held-out
    benchmark set, the standard pre-training overlap scrub.

    Runs ``operators.dedup.flag_contaminated``'s default broadcast
    tier; the shuffled tier (the r4 verdict's big-benchmark fallback)
    is an explicit ``method="shuffle"``, and both tiers are pinned
    output-identical in tests/test_dedup.py."""
    from nycitibike_data_transform_spark.operators.dedup import flag_contaminated

    t = load(spark, sf_dir, "documents")
    docs = t["documents"]
    is_bench = F.col("doc_id") % _DECON_BENCH_MOD == 0
    return flag_contaminated(
        docs.filter(~is_bench), docs.filter(is_bench), n=_JACCARD_N
    )


def _q_decontaminate_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Bloom-prefiltered shuffle tier (r7,
    ``operators/bloom.py``): corpus shingles that provably share
    nothing with the benchmark are dropped BEFORE the join shuffle —
    the 100 TB shuffle cut. The filter has no false negatives, so
    this entry reuses ``decontaminate``'s EXACT SQL oracle verbatim:
    the driver hash-matching both entries against the same oracle IS
    the losslessness proof, engine-independent."""
    from nycitibike_data_transform_spark.operators.dedup import flag_contaminated

    t = load(spark, sf_dir, "documents")
    docs = t["documents"]
    is_bench = F.col("doc_id") % _DECON_BENCH_MOD == 0
    return flag_contaminated(
        docs.filter(~is_bench),
        docs.filter(is_bench),
        n=_JACCARD_N,
        method="shuffle",
        bloom_prefilter=True,
    )


_DECONTAMINATE_SQL = rf"""
WITH toks AS (
  SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w
  FROM documents
),
sh_list AS (
  SELECT doc_id,
         list_distinct(list_transform(
             generate_series(1, greatest(len(w) - {_JACCARD_N - 1}, 0)),
             i -> {_SHINGLE_CONCAT_SQL})) AS shingle_set
  FROM toks
),
sh AS (
  SELECT doc_id, unnest(shingle_set) AS shingle
  FROM sh_list
  WHERE len(shingle_set) > 0
),
bench AS (
  SELECT DISTINCT shingle FROM sh WHERE doc_id % {_DECON_BENCH_MOD} = 0
),
hits AS (
  SELECT s.doc_id, count(*) AS n
  FROM sh s JOIN bench b ON s.shingle = b.shingle
  WHERE s.doc_id % {_DECON_BENCH_MOD} <> 0
  GROUP BY 1
)
SELECT d.doc_id,
       CAST(COALESCE(h.n, 0) AS BIGINT) AS n_contaminated,
       CAST(COALESCE(h.n, 0) > 0 AS INT) AS contaminated
FROM documents d
LEFT JOIN hits h ON d.doc_id = h.doc_id
WHERE d.doc_id % {_DECON_BENCH_MOD} <> 0
"""

# ---------------------------------------------------- incremental dedup

# every doc_id ≡ this (mod 5) plays the incoming batch; the rest is the
# already-indexed corpus
_INCR_BATCH_MOD, _INCR_BATCH_RESIDUE = 5, 4


def _q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental (cross-set) near-dedup: flag each incoming-batch doc
    that near-duplicates any already-indexed corpus doc — the
    daily-crawl-vs-index pattern. Unlike ``decontaminate`` (tiny
    benchmark side → broadcast), BOTH sides here band independently and
    meet in a shuffled (band, bucket) equi-join, the shape that works
    when the index itself is 100 TB. LSH recall vs the exact oracle is
    the same 8-band/2-row envelope as ``ngram_jaccard`` (green)."""
    from nycitibike_data_transform_spark.operators.dedup import incremental_near_dup

    t = load(spark, sf_dir, "documents")
    docs = t["documents"]
    is_batch = F.col("doc_id") % _INCR_BATCH_MOD == _INCR_BATCH_RESIDUE
    return incremental_near_dup(
        docs.filter(~is_batch),
        docs.filter(is_batch),
        n=_JACCARD_N,
        threshold=_JACCARD_THRESHOLD,
    )


_DEDUP_INCREMENTAL_SQL = rf"""
WITH toks AS (
  SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w
  FROM documents
),
sh_list AS (
  SELECT doc_id,
         list_distinct(list_transform(
             generate_series(1, greatest(len(w) - {_JACCARD_N - 1}, 0)),
             i -> {_SHINGLE_CONCAT_SQL})) AS shingle_set
  FROM toks
),
sh AS (
  SELECT doc_id, unnest(shingle_set) AS shingle
  FROM sh_list
  WHERE len(shingle_set) > 0
),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
cross_pairs AS (
  SELECT c.doc_id AS corpus_id, b.doc_id AS batch_id, count(*) AS common
  FROM sh c JOIN sh b ON c.shingle = b.shingle
  WHERE c.doc_id % {_INCR_BATCH_MOD} <> {_INCR_BATCH_RESIDUE}
    AND b.doc_id % {_INCR_BATCH_MOD} = {_INCR_BATCH_RESIDUE}
  GROUP BY 1, 2
),
matches AS (
  SELECT batch_id, count(*) AS n_matches
  FROM cross_pairs
  JOIN sizes sc ON corpus_id = sc.doc_id
  JOIN sizes sb ON batch_id = sb.doc_id
  WHERE CAST(common AS DOUBLE) / CAST(sc.n_sh + sb.n_sh - common AS DOUBLE)
        >= {_JACCARD_THRESHOLD}
  GROUP BY 1
)
SELECT d.doc_id,
       CAST(COALESCE(m.n_matches, 0) AS BIGINT) AS n_matches,
       CAST(COALESCE(m.n_matches, 0) > 0 AS INT) AS is_dup
FROM documents d
LEFT JOIN matches m ON d.doc_id = m.batch_id
WHERE d.doc_id % {_INCR_BATCH_MOD} = {_INCR_BATCH_RESIDUE}
"""

# ------------------------------------------------ dedup retention policy

def _q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware dedup retention: cluster the verified near-dup
    pair graph (same machinery as ``dedup_clusters``), then keep the
    BEST member of each cluster — longest text, ties to the lower id —
    instead of the naive min-id representative. This is the retention
    policy production pipelines actually want (keep the most complete
    copy, drop truncated mirrors).

    Scale shape: clustering never touches the payload (pair graph
    only); the corpus joins once against the small cluster map, and the
    per-cluster argmax is one window over cluster_id — rows per cluster
    are tiny, so no skewed reducer."""
    from pyspark.sql import Window

    from nycitibike_data_transform_spark.operators.graph import cluster_assignments

    t = load(spark, sf_dir, "documents")
    docs = t["documents"]
    pairs = ngram_jaccard_pairs(
        docs, n=_JACCARD_N, threshold=_JACCARD_THRESHOLD, mode="blocked"
    ).select("doc_a", "doc_b")
    clusters = cluster_assignments(docs, pairs)
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("n_chars").desc(), F.col("doc_id").asc()
    )
    return (
        docs.select("doc_id", F.length("text").alias("n_chars"))
        .join(clusters, "doc_id")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "cluster_id", "cluster_size", "n_chars")
    )


# transitive closure over the exact pair graph (same CTE skeleton as
# _DEDUP_CLUSTERS_SQL) + per-cluster argmax window
_DEDUP_KEEP_BEST_SQL = rf"""
WITH RECURSIVE toks AS (
  SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w
  FROM documents
),
sh_list AS (
  SELECT doc_id,
         list_distinct(list_transform(
             generate_series(1, greatest(len(w) - {_JACCARD_N - 1}, 0)),
             i -> {_SHINGLE_CONCAT_SQL})) AS shingle_set
  FROM toks
),
sh AS (
  SELECT doc_id, unnest(shingle_set) AS shingle
  FROM sh_list
  WHERE len(shingle_set) > 0
),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
raw_pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
good_pairs AS (
  SELECT doc_a, doc_b
  FROM raw_pairs
  JOIN sizes sa ON doc_a = sa.doc_id
  JOIN sizes sb ON doc_b = sb.doc_id
  WHERE CAST(common AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - common AS DOUBLE)
        >= {_JACCARD_THRESHOLD}
),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM good_pairs
  UNION
  SELECT doc_b AS src, doc_a AS dst FROM good_pairs
),
reach(node, r) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.src, reach.r FROM edges e JOIN reach ON reach.node = e.dst
),
comp AS (SELECT node, min(r) AS cluster_id FROM reach GROUP BY 1),
csizes AS (SELECT cluster_id, count(*) AS cluster_size FROM comp GROUP BY 1),
assigned AS (
  SELECT d.doc_id,
         COALESCE(c.cluster_id, d.doc_id) AS cluster_id,
         COALESCE(s.cluster_size, CAST(1 AS BIGINT)) AS cluster_size,
         length(d.text) AS n_chars
  FROM documents d
  LEFT JOIN comp c ON d.doc_id = c.node
  LEFT JOIN csizes s ON c.cluster_id = s.cluster_id
),
ranked AS (
  SELECT *, row_number() OVER (
      PARTITION BY cluster_id ORDER BY n_chars DESC, doc_id ASC
  ) AS rn
  FROM assigned
)
SELECT doc_id, cluster_id, cluster_size, n_chars
FROM ranked
WHERE rn = 1
"""

# ------------------------------------------------- stratified sampling

_STRATIFIED_RATE = 0.2


def _q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language stratified sample with an EXACT per-group quota
    (ceil(rate · group size)), selected by a content-derived md5 order
    so the sample is deterministic across engines, partitionings, and
    re-runs — md5 is the one hash both Spark and DuckDB evaluate
    bit-identically, which is what makes this oracle-checkable (the
    xxhash64 tier in operators/sampling.py is rows-only for that
    reason).

    Scale shape: one shuffle on the stratum key; the rank window sorts
    within each stratum (external sort, spills cleanly). A skewed
    stratum serializes its own sort only. When approximate quotas are
    acceptable at 100 TB, prefer the sort-free hash-threshold tier
    (``hash_sample``) — exact quotas fundamentally require a per-group
    rank."""
    from pyspark.sql import Window

    t = load(spark, sf_dir, "documents")
    docs = t["documents"]
    w_rank = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    w_grp = Window.partitionBy("lang")
    return (
        docs.select(
            "doc_id",
            "lang",
            F.row_number().over(w_rank).cast("long").alias("rank_in_lang"),
            F.count(F.lit(1)).over(w_grp).alias("n_lang"),
        )
        .filter(
            F.col("rank_in_lang")
            <= F.ceil(F.lit(_STRATIFIED_RATE) * F.col("n_lang"))
        )
        .select("doc_id", "lang", "rank_in_lang")
    )


_STRATIFIED_SAMPLE_SQL = f"""
WITH ranked AS (
  SELECT doc_id, lang,
         row_number() OVER (
             PARTITION BY lang
             ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
         ) AS rank_in_lang,
         count(*) OVER (PARTITION BY lang) AS n_lang
  FROM documents
)
SELECT doc_id, lang, CAST(rank_in_lang AS BIGINT) AS rank_in_lang
FROM ranked
WHERE rank_in_lang <= CAST(ceil({_STRATIFIED_RATE} * n_lang) AS BIGINT)
"""

# --------------------------------------------------- mixture resampling

# every source is downsampled to this fraction of the SMALLEST
# source's size — a fraction (not min itself) so the resample is a
# strict subset even on a perfectly balanced corpus (non-vacuous
# evidence; the driver testdata has exactly equal source sizes)
_RESAMPLE_OF_MIN = 0.6


def _q_resample_balanced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uniform-mixture resample: downsample every source domain to the
    same quota — ``ceil(0.6 · smallest source)`` — selecting members by
    content-derived md5 order so the resample is deterministic and
    engine-independent (the parameter-free core of target-mixture
    domain reweighting).

    Scale shape: the per-source sizes aggregate to |sources| rows —
    broadcast back as the quota; the rank window is one shuffle on
    source. Same exact-quota-needs-a-rank tradeoff as
    ``stratified_sample``."""
    from pyspark.sql import Window

    t = load(spark, sf_dir, "documents")
    docs = t["documents"]
    quota = (
        docs.groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_src"))
        .agg(F.ceil(F.lit(_RESAMPLE_OF_MIN) * F.min("n_src")).alias("quota"))
    )
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    return (
        docs.select("doc_id", "source")
        .withColumn("rank_in_source", F.row_number().over(w).cast("long"))
        .crossJoin(F.broadcast(quota))
        .filter(F.col("rank_in_source") <= F.col("quota"))
        .select("doc_id", "source", "rank_in_source")
    )


_RESAMPLE_BALANCED_SQL = f"""
WITH quota AS (
  SELECT CAST(ceil({_RESAMPLE_OF_MIN} * min(n_src)) AS BIGINT) AS quota
  FROM (SELECT source, count(*) AS n_src FROM documents GROUP BY 1)
),
ranked AS (
  SELECT doc_id, source,
         row_number() OVER (
             PARTITION BY source
             ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
         ) AS rank_in_source
  FROM documents
)
SELECT doc_id, source, CAST(rank_in_source AS BIGINT) AS rank_in_source
FROM ranked, quota
WHERE rank_in_source <= quota
"""

# ------------------------------------------------------ source mixing

def _q_source_mix_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-composition report per (source, lang): doc count, token
    count, and token share of the whole corpus — the mixing table every
    training-data pipeline publishes before weighting domains.

    One shuffle (the groupBy); the share window runs over the already-
    aggregated |sources×langs| rows, so the single-partition window is
    metadata-sized at any corpus scale."""
    from pyspark.sql import Window

    from nycitibike_data_transform_spark.functions.text import token_count

    t = load(spark, sf_dir, "documents")
    n_tokens = token_count("text")
    agg = (
        t["documents"]
        .select("source", "lang", n_tokens.alias("n_tok"))
        .groupBy("source", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").cast("long").alias("n_tokens"),
        )
    )
    w_all = Window.partitionBy()
    return agg.select(
        "source",
        "lang",
        "n_docs",
        "n_tokens",
        F.round(
            F.col("n_tokens").cast("double") / F.sum("n_tokens").over(w_all), 6
        ).alias("token_share"),
    )


_SOURCE_MIX_SQL = r"""
WITH tok AS (
  SELECT source, lang,
         CASE WHEN length(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) = 0
              THEN 0
              ELSE CAST(len(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS INTEGER)
         END AS n_tok
  FROM documents
),
agg AS (
  SELECT source, lang,
         count(*) AS n_docs,
         CAST(sum(n_tok) AS BIGINT) AS n_tokens
  FROM tok
  GROUP BY 1, 2
)
SELECT source, lang, n_docs, n_tokens,
       round(CAST(n_tokens AS DOUBLE) / CAST(sum(n_tokens) OVER () AS DOUBLE), 6) AS token_share
FROM agg
"""

_STREAM_SINK_SEQ = [0]  # unique in-memory sink names across sweep reruns


def _q_streaming_source_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch-parity verdict for the streaming DOCUMENT pipeline
    (VERDICT r9 item #4 — the last registry component without driver
    evidence): the corpus is staged into four files and streamed one
    file per micro-batch through ``source_counts_stream`` (a real
    streaming aggregation — per-(source, lang) state carried across
    batches, complete output mode), availableNow to a memory sink.
    The converged counts must hash-match the plain batch SQL below —
    the proof that the streaming wiring changes DELIVERY, never
    answers. Four micro-batches, not one: a single-batch run would
    certify nothing about cross-batch aggregation state.

    Eager by construction (the stream runs at plan build) — EAGER
    class in the plan audit, like streaming_upsert_view."""
    import os
    import shutil
    import tempfile

    from nycitibike_data_transform_spark.streaming.documents import (
        source_counts_stream,
    )

    docs = load(spark, sf_dir, "documents")["documents"]
    tmp = tempfile.mkdtemp(prefix="stream_mix_")
    try:
        docs.repartition(4).write.mode("overwrite").parquet(f"{tmp}/feed")
        _STREAM_SINK_SEQ[0] += 1
        sink = f"stream_mix_{os.getpid()}_{_STREAM_SINK_SEQ[0]}"
        counts = source_counts_stream(
            spark, f"{tmp}/feed", glob="*.parquet", max_files_per_trigger=1
        )
        # State-store partitions are pinned at stream start from
        # spark.sql.shuffle.partitions (AQE never touches streaming
        # state). The aggregation key domain here is the (source, lang)
        # enum cross — structurally ≤ ~100 groups at ANY corpus size —
        # so state partitions beyond a handful are pure per-batch
        # overhead (a state store instance + task per partition per
        # micro-batch). 8 is a domain bound, not a core-count tune: the
        # tokenize/partial-agg map side still parallelizes across input
        # splits. Interleaved profile at sf0.1: stream phase
        # 2.7 s → 1.5 s (OPTIMIZATION_r15, guide §2.4).
        old_sp = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        try:
            q = (
                counts.writeStream.format("memory")
                .queryName(sink)
                .outputMode("complete")
                .option("checkpointLocation", f"{tmp}/ckpt")
                .trigger(availableNow=True)
                .start()
            )
            if not q.awaitTermination(300):
                q.stop()
                raise RuntimeError(
                    "streaming_source_mix: stream did not converge in 300s"
                )
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", old_sp)
        return (
            spark.table(sink)
            .select("source", "lang", "n_docs", "n_tokens")
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


# the batch aggregation the streamed counts must converge to — the
# token-count CTE is shared verbatim with _SOURCE_MIX_SQL
_STREAMING_SOURCE_MIX_SQL = r"""
WITH tok AS (
  SELECT source, lang,
         CASE WHEN length(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) = 0
              THEN 0
              ELSE CAST(len(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS INTEGER)
         END AS n_tok
  FROM documents
)
SELECT source, lang,
       count(*) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS n_tokens
FROM tok
GROUP BY 1, 2
"""


# -------------------------------------------------- deterministic sampling

def _q_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic-sampling invariant verdict (VERDICT r4 item 1):
    which ids the xxhash64 bucket keeps is Spark-specific, but the
    properties a caller relies on are engine-independent — the 20%
    sample lands within ±0.05 of its target fraction (measured
    0.196–0.200 across SFs), and ``train_test_split`` is disjoint and
    exhaustive. One summary row; every cross join is 1-row scalar."""
    from nycitibike_data_transform_spark.operators.sampling import (
        hash_sample,
        train_test_split,
    )

    t = load(spark, sf_dir, "documents")
    docs = t["documents"]
    n_total = docs.agg(F.count(F.lit(1)).alias("n_total"))
    n_samp = hash_sample(docs, 0.2, "doc_id").agg(
        F.count(F.lit(1)).alias("__n_sampled")
    )
    train, test = train_test_split(docs, "doc_id", test_fraction=0.2)
    n_train = train.agg(F.count(F.lit(1)).alias("__n_train"))
    n_test = test.agg(F.count(F.lit(1)).alias("__n_test"))
    n_overlap = (
        train.select("doc_id")
        .join(test.select("doc_id"), "doc_id")
        .agg(F.count(F.lit(1)).alias("__n_overlap"))
    )
    return (
        n_total.crossJoin(n_samp)
        .crossJoin(n_train)
        .crossJoin(n_test)
        .crossJoin(n_overlap)
        .select(
            "n_total",
            (
                F.abs(F.col("__n_sampled") / F.col("n_total") - F.lit(0.2))
                <= F.lit(0.05)
            ).alias("sample_fraction_ok"),
            (F.col("__n_train") + F.col("__n_test") == F.col("n_total")).alias(
                "split_exhaustive_ok"
            ),
            (F.col("__n_overlap") == 0).alias("split_disjoint_ok"),
        )
    )


_HASH_SAMPLE_SQL = """
SELECT CAST(count(*) AS BIGINT) AS n_total,
       true AS sample_fraction_ok,
       true AS split_exhaustive_ok,
       true AS split_disjoint_ok
FROM documents
"""

# ------------------------------------------------------- span-level dedup

_SPAN_WIDTH = 8


def _q_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicate-span detection (Lee et al. 2022 substring
    dedup): per-document count and token coverage of 8-token spans
    that occur at 2+ positions corpus-wide, with overlapping spans
    merged into maximal intervals. The document-level near-dup queries
    drop whole documents; this one measures the repeated REGIONS a
    span-cut pass would remove — the finer-grained half of the
    training-data dedup story."""
    from nycitibike_data_transform_spark.operators.spans import duplicate_span_stats

    t = load(spark, sf_dir, "documents")
    return duplicate_span_stats(t["documents"], width=_SPAN_WIDTH)


_SPAN_DEDUP_SQL = rf"""
WITH base AS (
  SELECT doc_id,
         CASE WHEN coalesce(nt, '') = '' THEN CAST([] AS VARCHAR[])
              ELSE string_split(nt, ' ') END AS w
  FROM (SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS nt
        FROM documents)
),
sized AS (SELECT doc_id, w, len(w) AS n_tokens FROM base),
span_lists AS (
  SELECT doc_id,
         list_transform(
             generate_series(1, greatest(n_tokens - {_SPAN_WIDTH - 1}, 0)),
             i -> struct_pack(pos := i,
                              h := md5(array_to_string(
                                       w[i:i + {_SPAN_WIDTH - 1}], ' ')))) AS sl
  FROM sized
),
spans AS (
  SELECT doc_id, u.pos AS pos, u.h AS h
  FROM (SELECT doc_id, unnest(sl) AS u FROM span_lists)
),
dup AS (
  SELECT doc_id, pos, pos + {_SPAN_WIDTH - 1} AS epos
  FROM spans
  WHERE h IN (SELECT h FROM spans GROUP BY h HAVING count(*) >= 2)
),
flagged AS (
  SELECT doc_id, pos, epos,
         CASE WHEN max(epos) OVER (PARTITION BY doc_id ORDER BY pos
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
               OR pos > max(epos) OVER (PARTITION BY doc_id ORDER BY pos
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
              THEN 1 ELSE 0 END AS new_island
  FROM dup
),
islands AS (
  SELECT doc_id, pos, epos,
         sum(new_island) OVER (PARTITION BY doc_id ORDER BY pos
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM flagged
),
per_island AS (
  SELECT doc_id, island, count(*) AS n_pos, max(epos) - min(pos) + 1 AS covered
  FROM islands GROUP BY 1, 2
),
per_doc AS (
  SELECT doc_id, sum(n_pos) AS n_dup_spans, sum(covered) AS dup_tokens
  FROM per_island GROUP BY 1
)
SELECT s.doc_id,
       CAST(s.n_tokens AS BIGINT) AS n_tokens,
       CAST(CASE WHEN s.n_tokens >= {_SPAN_WIDTH}
                 THEN s.n_tokens - {_SPAN_WIDTH - 1} ELSE 0 END AS BIGINT) AS n_spans,
       CAST(coalesce(p.n_dup_spans, 0) AS BIGINT) AS n_dup_spans,
       CAST(coalesce(p.dup_tokens, 0) AS BIGINT) AS dup_tokens,
       round(CASE WHEN s.n_tokens = 0 THEN 0.0
                  ELSE CAST(coalesce(p.dup_tokens, 0) AS DOUBLE) / s.n_tokens
             END, 6) AS dup_token_fraction
FROM sized s LEFT JOIN per_doc p USING (doc_id)
"""

def _q_span_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The cut step of substring dedup: remove every occurrence of a
    duplicated 8-token span except the globally-first one, merging
    overlapping cuts, and rebuild the surviving text. Pairs with
    ``span_dedup`` (which only measures)."""
    from nycitibike_data_transform_spark.operators.spans import strip_duplicate_spans

    t = load(spark, sf_dir, "documents")
    return strip_duplicate_spans(t["documents"], width=_SPAN_WIDTH)


def _q_span_strip_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``span_strip`` through the INTEGRATED Bloom prefilter path
    (VERDICT r7 item #4): a broadcast Bloom bitset over the
    duplicated-span hashes drops provably-unique span rows before the
    join-back shuffle. Certified against the SAME DuckDB oracle as
    ``span_strip`` — an independent engine proving the prefilter is
    lossless (no false negatives), not just self-consistent."""
    from nycitibike_data_transform_spark.operators.spans import strip_duplicate_spans

    t = load(spark, sf_dir, "documents")
    return strip_duplicate_spans(
        t["documents"], width=_SPAN_WIDTH, bloom_prefilter=True
    )


_SPAN_STRIP_SQL = rf"""
WITH base AS (
  SELECT doc_id,
         CASE WHEN coalesce(nt, '') = '' THEN CAST([] AS VARCHAR[])
              ELSE string_split(nt, ' ') END AS w
  FROM (SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS nt
        FROM documents)
),
sized AS (SELECT doc_id, w, len(w) AS n_tokens FROM base),
span_lists AS (
  SELECT doc_id,
         list_transform(
             generate_series(1, greatest(n_tokens - {_SPAN_WIDTH - 1}, 0)),
             i -> struct_pack(pos := i,
                              h := md5(array_to_string(
                                       w[i:i + {_SPAN_WIDTH - 1}], ' ')))) AS sl
  FROM sized
),
spans AS (
  SELECT doc_id, u.pos AS pos, u.h AS h
  FROM (SELECT doc_id, unnest(sl) AS u FROM span_lists)
),
ranked AS (
  SELECT doc_id, pos, h,
         row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn,
         count(*) OVER (PARTITION BY h) AS cnt
  FROM spans
),
removed AS (
  SELECT doc_id, pos, pos + {_SPAN_WIDTH - 1} AS epos
  FROM ranked WHERE cnt >= 2 AND rn > 1
),
flagged AS (
  SELECT doc_id, pos, epos,
         CASE WHEN max(epos) OVER (PARTITION BY doc_id ORDER BY pos
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
               OR pos > max(epos) OVER (PARTITION BY doc_id ORDER BY pos
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
              THEN 1 ELSE 0 END AS new_island
  FROM removed
),
islands AS (
  SELECT doc_id, pos, epos,
         sum(new_island) OVER (PARTITION BY doc_id ORDER BY pos
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM flagged
),
merged AS (
  SELECT doc_id, island, min(pos) AS s, max(epos) AS e
  FROM islands GROUP BY 1, 2
),
cut AS (SELECT doc_id, unnest(generate_series(s, e)) AS idx FROM merged),
tokens AS (
  SELECT doc_id, u.idx AS idx, u.tok AS tok
  FROM (SELECT doc_id,
               unnest(list_transform(generate_series(1, n_tokens),
                      i -> struct_pack(idx := i, tok := w[i]))) AS u
        FROM sized)
),
kept AS (
  SELECT t.doc_id, t.idx, t.tok
  FROM tokens t
  WHERE NOT EXISTS (SELECT 1 FROM cut c
                    WHERE c.doc_id = t.doc_id AND c.idx = t.idx)
),
reb AS (
  SELECT doc_id, count(*) AS n_after,
         string_agg(tok, ' ' ORDER BY idx) AS text_clean
  FROM kept GROUP BY 1
)
SELECT s.doc_id,
       CAST(s.n_tokens AS BIGINT) AS n_tokens_before,
       CAST(coalesce(r.n_after, 0) AS BIGINT) AS n_tokens_after,
       coalesce(r.text_clean, '') AS text_clean
FROM sized s LEFT JOIN reb r USING (doc_id)
"""

# ------------------------------------------------------- mixture planning


def _q_mixture_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-0.5 source-mixture plan: per source domain, the
    target token count is ``floor(sqrt(available · max_available))``
    — the geometric mean of the source's size and the largest
    source's, i.e. square-root temperature sampling anchored at the
    biggest source (small sources upsample toward balance, the
    largest stays at 1 epoch). Emits the sampling fraction and epoch
    count a downstream loader needs.

    Determinism note: sqrt is IEEE-correctly-rounded (unlike
    transcendentals), and its argument is an exact integer product,
    so the verdict is bit-identical across engines with no double
    summation anywhere. Scale shape: one agg over the corpus; the
    global max joins back as a 1-row broadcast; output is |sources|
    rows."""
    t = load(spark, sf_dir, "documents")
    docs = t["documents"]
    from nycitibike_data_transform_spark.functions.text import token_count

    # coalesce: token_count(NULL text) is NULL, and a source whose
    # docs are ALL NULL-text would sum to NULL, bypassing the
    # zero-token guard below (review finding r5)
    per_source = docs.groupBy("source").agg(
        F.sum(
            F.coalesce(token_count(F.col("text")), F.lit(0)).cast("long")
        ).alias("available_tokens")
    )
    max_row = per_source.agg(
        F.max("available_tokens").alias("__max_avail")
    )
    target = F.floor(
        F.sqrt(F.col("available_tokens").cast("double") * F.col("__max_avail"))
    ).cast("long")
    # an all-empty source has 0 available tokens: its target is 0 and
    # the 0/0 fraction must be 0, not NaN (ANSI cast(ceil(NaN)) raises)
    frac = F.when(F.col("available_tokens") == 0, F.lit(0.0)).otherwise(
        target.cast("double") / F.col("available_tokens")
    )
    return (
        per_source.crossJoin(F.broadcast(max_row))
        .select(
            "source",
            "available_tokens",
            target.alias("target_tokens"),
            F.round(frac, 6).alias("sample_fraction"),
            F.ceil(frac).cast("long").alias("n_epochs"),
        )
    )


_MIXTURE_PLAN_SQL = r"""
WITH per_source AS (
  SELECT source,
         CAST(sum(CASE WHEN coalesce(nt, '') = '' THEN 0
                       ELSE len(string_split(nt, ' ')) END) AS BIGINT)
             AS available_tokens
  FROM (SELECT source, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS nt
        FROM documents)
  GROUP BY 1
),
m AS (SELECT max(available_tokens) AS max_avail FROM per_source),
t AS (
  SELECT source, available_tokens,
         CAST(floor(sqrt(CAST(available_tokens AS DOUBLE) * max_avail)) AS BIGINT)
             AS target_tokens,
         CASE WHEN available_tokens = 0 THEN 0.0
              ELSE CAST(floor(sqrt(CAST(available_tokens AS DOUBLE) * max_avail))
                        AS DOUBLE) / available_tokens END AS frac
  FROM per_source, m
)
SELECT source, available_tokens, target_tokens,
       round(frac, 6) AS sample_fraction,
       CAST(ceil(frac) AS BIGINT) AS n_epochs
FROM t
"""

# ---------------------------------------------------- token entropy


def _q_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document unigram Shannon entropy (bits) — the
    information-theoretic quality signal next to the repetition
    battery: template/boilerplate docs score low, diverse text scores
    near log2(vocab). Uses the decomposition
    ``H = log2(N) − (Σ n_i·log2(n_i)) / N`` so the per-term
    contribution is a single libm call rounded to 6 decimals and the
    fold is an exact DECIMAL sum (order-free, hash-stable
    cross-engine); the one outer log2 rounds with the final
    expression. ``entropy_norm`` = H / log2(distinct) ∈ [0, 1] for
    docs with ≥2 distinct tokens.

    Scale shape: one explode → per-(doc, term) map-side-combinable
    counts → per-doc aggregate. No windows, nothing corpus-sized
    through one task. Blank/NULL docs emit (0, 0, 0.0, 0.0) rows."""
    from nycitibike_data_transform_spark.operators.dedup import tokenize

    t = load(spark, sf_dir, "documents")
    docs = tokenize(t["documents"], "text")
    counts = (
        docs.select("doc_id", F.explode("tokens").alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    contrib = F.round(
        F.col("n").cast("double") * F.log2(F.col("n").cast("double")), 6
    ).cast("decimal(38,6)")
    per_doc = counts.groupBy("doc_id").agg(
        F.sum("n").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.sum(contrib).alias("s"),
    )
    h = F.round(
        F.log2(F.col("n_tokens").cast("double"))
        - F.col("s").cast("double") / F.col("n_tokens").cast("double"),
        6,
    )
    h_norm = F.when(F.col("n_distinct") <= 1, F.lit(0.0)).otherwise(
        F.round(h / F.round(F.log2(F.col("n_distinct").cast("double")), 6), 6)
    )
    scored = per_doc.select(
        "doc_id",
        "n_tokens",
        "n_distinct",
        h.alias("token_entropy"),
        h_norm.alias("entropy_norm"),
    )
    # tokenless docs never reach the aggregate — restore them with
    # zero-entropy rows so every document is scored
    return (
        docs.select("doc_id")
        .join(scored, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_tokens"), F.lit(0).cast("long")).alias("n_tokens"),
            F.coalesce(F.col("n_distinct"), F.lit(0).cast("long")).alias(
                "n_distinct"
            ),
            F.coalesce(F.col("token_entropy"), F.lit(0.0)).alias("token_entropy"),
            F.coalesce(F.col("entropy_norm"), F.lit(0.0)).alias("entropy_norm"),
        )
    )


_TOKEN_ENTROPY_SQL = r"""
WITH toks AS (
  SELECT doc_id, t AS term
  FROM documents,
       unnest(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS u(t)
  WHERE length(t) > 0
),
counts AS (SELECT doc_id, term, count(*) AS n FROM toks GROUP BY 1, 2),
per_doc AS (
  SELECT doc_id,
         CAST(sum(n) AS BIGINT) AS n_tokens,
         count(*) AS n_distinct,
         CAST(sum(CAST(round(CAST(n AS DOUBLE) * log2(CAST(n AS DOUBLE)), 6)
                       AS DECIMAL(38,6))) AS DECIMAL(38,6)) AS s
  FROM counts GROUP BY 1
),
scored AS (
  SELECT doc_id, n_tokens, n_distinct,
         round(log2(CAST(n_tokens AS DOUBLE))
               - CAST(s AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6) AS h
  FROM per_doc
)
SELECT d.doc_id,
       coalesce(sc.n_tokens, CAST(0 AS BIGINT)) AS n_tokens,
       coalesce(sc.n_distinct, CAST(0 AS BIGINT)) AS n_distinct,
       coalesce(sc.h, 0.0) AS token_entropy,
       CASE WHEN coalesce(sc.n_distinct, 0) <= 1 THEN 0.0
            ELSE round(sc.h / round(log2(CAST(sc.n_distinct AS DOUBLE)), 6), 6)
       END AS entropy_norm
FROM documents d LEFT JOIN scored sc USING (doc_id)
"""


# --------------------------------------------------------- Zipf fit


def _q_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-law diagnostic: least-squares Zipf exponent over the
    log-rank/log-frequency curve of the unigram vocabulary (the
    power-law health check dataset reports quote; a slope far from the
    natural-text ~-1 signals boilerplate or synthetic text), plus
    vocab size, token mass, and the head term's share.

    Determinism: ln() is libm-divergent, so each log lands as a SCALED
    LONG (round(ln·10⁶)) and the regression runs entirely in exact
    integer/decimal arithmetic — slope = (kΣxy − ΣxΣy)/(kΣx² − (Σx)²)
    with decimal(38,0) sums of long products, divided once at the end.
    The 10⁶ scaling cancels in the ratio.

    Scale shape: frequency ranks come from the repo's two-level banded
    rank (selection.py discipline), NOT a vocab-wide unpartitioned
    window: within-band row_numbers partition by floor(log2(n)) —
    order-consistent with the global (n desc, term) order because
    bands are frequency-disjoint — and cross-band offsets use a
    ≤64-row band summary. The regression sums are map-side-combinable
    aggregates over the vocab relation. One corpus explode, two
    vocab-sized shuffles, nothing corpus-sized through one task."""
    from pyspark.sql import Window

    t = load(spark, sf_dir, "documents")
    from nycitibike_data_transform_spark.functions.text import token_array

    counts = (
        t["documents"]
        .select(F.explode(token_array("text")).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # two-level banded global rank by (n desc, term asc): bands are
    # freq-disjoint so band order + in-band order == global order
    banded = counts.withColumn("band", F.floor(F.log2("n")).cast("int"))
    in_band = Window.partitionBy("band").orderBy(F.col("n").desc(), F.col("term"))
    ranked = banded.withColumn("rb", F.row_number().over(in_band))
    band_sizes = ranked.groupBy("band").agg(F.max("rb").alias("bn"))
    off_w = Window.partitionBy().orderBy(F.col("band").desc())
    offsets = band_sizes.select(
        "band",
        (F.coalesce(
            F.sum("bn").over(off_w.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0),
        )).alias("off"),
    )
    with_rank = ranked.join(F.broadcast(offsets), "band").select(
        "term", "n", (F.col("off") + F.col("rb")).alias("rank")
    )
    x = F.round(F.ln(F.col("rank").cast("double")) * 1e6).cast("long")
    y = F.round(F.ln(F.col("n").cast("double")) * 1e6).cast("long")
    pts = with_rank.select(
        "n",
        x.alias("x"),
        y.alias("y"),
    )
    d38 = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    agg = pts.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum(d38(F.col("x"))).alias("sx"),
        F.sum(d38(F.col("y"))).alias("sy"),
        F.sum(d38(F.col("x") * F.col("y"))).alias("sxy"),
        F.sum(d38(F.col("x") * F.col("x"))).alias("sxx"),
        F.sum(d38(F.col("n"))).alias("n_tokens"),
        F.max("n").alias("n_top"),
    )
    num = F.col("k") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("k") * F.col("sxx") - F.col("sx") * F.col("sx")
    return agg.select(
        F.col("k").alias("vocab_size"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.when(den == 0, F.lit(0.0))
        .otherwise(F.round(num.cast("double") / den.cast("double"), 6))
        .alias("zipf_slope"),
        F.round(
            F.col("n_top").cast("double") / F.col("n_tokens").cast("double"), 6
        ).alias("top_share"),
    )


_ZIPF_FIT_SQL = r"""
WITH toks AS (
  SELECT t AS term
  FROM documents,
       unnest(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS u(t)
  WHERE length(t) > 0
),
counts AS (SELECT term, count(*) AS n FROM toks GROUP BY 1),
ranked AS (
  SELECT n, row_number() OVER (ORDER BY n DESC, term) AS rank
  FROM counts
),
pts AS (
  SELECT n,
         CAST(round(ln(CAST(rank AS DOUBLE)) * 1000000) AS BIGINT) AS x,
         CAST(round(ln(CAST(n AS DOUBLE)) * 1000000) AS BIGINT) AS y
  FROM ranked
),
agg AS (
  SELECT count(*) AS k,
         CAST(sum(CAST(x AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sx,
         CAST(sum(CAST(y AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sy,
         CAST(sum(CAST(x * y AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sxy,
         CAST(sum(CAST(x * x AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sxx,
         CAST(sum(n) AS BIGINT) AS n_tokens,
         max(n) AS n_top
  FROM pts
)
SELECT k AS vocab_size,
       n_tokens,
       CASE WHEN k * sxx - sx * sx = 0 THEN 0.0
            ELSE round(CAST(k * sxy - sx * sy AS DOUBLE)
                       / CAST(k * sxx - sx * sx AS DOUBLE), 6) END AS zipf_slope,
       round(CAST(n_top AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6) AS top_share
FROM agg
"""


# ------------------------------------------------- C4 line cleaning

_C4_LINE_TOKENS = 10  # rendered line width (tokens)


def _q_c4_line_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 line-rule cleaning (operators/lineclean.py) over a
    deterministic line rendering of the corpus. The synthetic documents
    carry no newline structure, so the query first renders each doc as
    10-token lines with terminal punctuation on ODD lines only — making
    the terminal-punctuation rule bite half the lines, the min-words
    rule bite short tails, and the 3-kept-lines page floor bite short
    docs — then runs the REAL rule pipeline unchanged. The
    javascript/lorem/brace rules can't occur in the rendering and are
    pinned by unit tests instead (tests/test_lineclean.py).

    Scale shape: rendering and cleaning are both array-side per-row
    transforms — no explode, no shuffle beyond the scan."""
    from nycitibike_data_transform_spark.functions.text import token_array
    from nycitibike_data_transform_spark.operators.lineclean import c4_line_clean

    t = load(spark, sf_dir, "documents")
    toks = token_array("text")
    n_lines = F.ceil(F.size(toks) / F.lit(_C4_LINE_TOKENS)).cast("int")
    idx = F.when(F.size(toks) >= 1, F.sequence(F.lit(1), n_lines)).otherwise(
        F.array().cast("array<int>")
    )
    line = lambda i: F.concat(  # noqa: E731
        F.concat_ws(
            " ", F.slice(toks, (i - 1) * _C4_LINE_TOKENS + 1, _C4_LINE_TOKENS)
        ),
        F.when(i % 2 == 1, F.lit(".")).otherwise(F.lit("")),
    )
    rendered = t["documents"].select(
        "doc_id",
        F.array_join(F.transform(idx, line), "\n").alias("text"),
    )
    out = c4_line_clean(rendered, min_words=5, min_kept_lines=3)
    return out.select(
        "doc_id",
        "n_lines_in",
        "n_lines_kept",
        "kept",
        F.coalesce(F.length("clean_text"), F.lit(0)).cast("long").alias("clean_len"),
    )


_C4_LINE_STATS_SQL = rf"""
WITH base AS (
  SELECT doc_id,
         CASE WHEN length(nt) = 0 THEN [] ELSE string_split(nt, ' ') END AS w
  FROM (SELECT doc_id, trim(regexp_replace(lower(coalesce(text, '')), '\s+', ' ', 'g')) AS nt
        FROM documents)
),
lines AS (
  SELECT doc_id, i,
         array_to_string(w[(i-1)*{_C4_LINE_TOKENS}+1 : least(i*{_C4_LINE_TOKENS}, len(w))], ' ')
           || CASE WHEN i % 2 = 1 THEN '.' ELSE '' END AS line
  FROM base,
       unnest(generate_series(1, CAST(ceil(len(w) / {_C4_LINE_TOKENS}.0) AS BIGINT))) AS t(i)
),
judged AS (
  SELECT doc_id, i, line,
         CAST(regexp_matches(trim(line), '[.!?"]$')
              AND len(string_split_regex(trim(line), '\s+')) >= 5
              AND NOT contains(lower(trim(line)), 'javascript') AS INT) AS ok
  FROM lines
),
per_doc AS (
  SELECT doc_id,
         count(*) AS n_lines_in,
         CAST(sum(ok) AS INT) AS n_lines_kept,
         array_to_string(list(CASE WHEN ok = 1 THEN line END ORDER BY i) FILTER (ok = 1),
                         chr(10)) AS clean_text
  FROM judged GROUP BY 1
)
SELECT b.doc_id,
       CAST(coalesce(p.n_lines_in, 0) AS INT) AS n_lines_in,
       CAST(coalesce(p.n_lines_kept, 0) AS INT) AS n_lines_kept,
       CAST(coalesce(p.n_lines_kept, 0) >= 3 AS INT) AS kept,
       CAST(CASE WHEN coalesce(p.n_lines_kept, 0) >= 3
                 THEN length(p.clean_text) ELSE 0 END AS BIGINT) AS clean_len
FROM base b LEFT JOIN per_doc p USING (doc_id)
"""


_UNIMAX_EPOCHS = 2
_UNIMAX_BUDGET_RATIO = 0.9  # budget = 90% of one epoch of everything —
# with the corpus's ~100 skewed (source, lang) strata (27..900 tokens
# at sf0.01) this lands well between the degenerate ends (23 strata
# capped at 2 epochs, 74 on the uniform share at sf0.01).
# Scale-proportional, so the split stays non-trivial at every SF.


def _q_unimax_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UniMax mixture over (source, lang) strata (Chung et al. 2023 —
    operators/sampling.unimax_allocation): budget-capped waterfilling
    in closed form via windows over the bounded strata relation. The
    fairness counterpart of ``mixture_plan``'s temperature sampling:
    rare language strata are repeated up to the epoch cap instead of
    being drowned by the head. One corpus aggregate; everything after
    runs on |source × lang| rows."""
    from nycitibike_data_transform_spark.functions.text import token_count
    from nycitibike_data_transform_spark.operators.sampling import (
        unimax_allocation,
    )

    t = load(spark, sf_dir, "documents")
    per = t["documents"].groupBy("source", "lang").agg(
        F.sum(F.coalesce(token_count(F.col("text")), F.lit(0)).cast("long")).alias(
            "available_tokens"
        )
    )
    return unimax_allocation(
        per,
        ["source", "lang"],
        max_epochs=_UNIMAX_EPOCHS,
        budget_ratio=_UNIMAX_BUDGET_RATIO,
    )


_UNIMAX_SQL = rf"""
WITH per AS (
  SELECT source, lang,
         CAST(sum(CASE WHEN coalesce(nt, '') = '' THEN 0
                       ELSE len(string_split(nt, ' ')) END) AS BIGINT)
             AS available_tokens
  FROM (SELECT source, lang,
               trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS nt
        FROM documents)
  GROUP BY 1, 2
),
base AS (
  SELECT source, lang, available_tokens,
         available_tokens * {_UNIMAX_EPOCHS} AS cap_tokens
  FROM per
),
ranked AS (
  SELECT *,
         row_number() OVER (ORDER BY cap_tokens, source, lang) AS r,
         count(*) OVER () AS k,
         sum(cap_tokens) OVER (ORDER BY cap_tokens, source, lang
                               ROWS UNBOUNDED PRECEDING) AS p,
         CAST(floor({_UNIMAX_BUDGET_RATIO} * sum(available_tokens) OVER ()) AS BIGINT) AS b
  FROM base
),
flagged AS (
  SELECT *,
         CAST(cap_tokens * (k - r + 1) <= b - (p - cap_tokens) AS INT) AS capped
  FROM ranked
),
j AS (
  SELECT *,
         coalesce(max(CASE WHEN capped = 1 THEN r END) OVER (), 0) AS jstar,
         coalesce(max(CASE WHEN capped = 1 THEN p END) OVER (), 0) AS p_jstar
  FROM flagged
),
alloc AS (
  SELECT *,
         CASE WHEN capped = 1 THEN CAST(cap_tokens AS DOUBLE)
              ELSE round(CAST(b - p_jstar AS DOUBLE)
                         / CAST(k - jstar AS DOUBLE), 6) END AS allocation_tokens
  FROM j
)
SELECT source, lang, available_tokens,
       CAST(cap_tokens AS BIGINT) AS cap_tokens,
       capped,
       allocation_tokens,
       CASE WHEN available_tokens = 0 THEN 0.0
            ELSE round(allocation_tokens / CAST(available_tokens AS DOUBLE), 6)
       END AS epochs_used
FROM alloc
"""


def _q_embedding_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic dedup (SemDeDup, Abbas et al. 2023, reduced to its
    decision rule): a vector is dropped iff some LOWER-id vector sits
    at/above the cosine threshold. Bounded audit tier (VERDICT r6
    item #1): the rule is certified for the probe subset (vec_id <
    300) against the FULL corpus — each probe id's verdict is exactly
    what the full-corpus dedup would decide for it, at O(|probe|·n)
    cost. The exhaustive exact run is
    ``embedding_near_dup_pairs(method="grid")`` feeding the same
    anti-join."""
    t = load(spark, sf_dir, "embeddings")
    emb = t["embeddings"]
    probe = emb.filter(F.col("vec_id") < _NEAR_DUP_PROBES)
    pairs = embedding_near_dup_probe(emb, probe, _NEAR_DUP_THRESHOLD)
    # drop rule: higher-id member of a qualifying pair. Probe ids are
    # dense-low (vec_id < _NEAR_DUP_PROBES), so id_b below it restricts
    # to verdicts ABOUT probe members (id_a < id_b <= probe range ⇒
    # the lower-id witness may be any corpus vector... witnesses below
    # the probe id are exactly what the full rule consults, and the
    # probe join saw every corpus vector, so the verdict is complete).
    dropped = (
        pairs.filter(F.col("id_b") < _NEAR_DUP_PROBES)
        .select(F.col("id_b").alias("vec_id"))
        .distinct()
    )
    return (
        emb.filter(F.col("vec_id") < _NEAR_DUP_PROBES)
        .join(dropped, "vec_id", "left_anti")
        .select("vec_id", "label")
    )


_EMBEDDING_DEDUP_SQL = f"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
dropped AS (
  SELECT DISTINCT b.vec_id AS vec_id
  FROM e a JOIN e b ON a.vec_id < b.vec_id
  WHERE b.vec_id < {_NEAR_DUP_PROBES}
    AND list_dot_product(a.v, b.v)
            / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))
        >= {_NEAR_DUP_THRESHOLD}
)
SELECT vec_id, label
FROM embeddings
WHERE vec_id < {_NEAR_DUP_PROBES}
  AND vec_id NOT IN (SELECT vec_id FROM dropped)
"""


_CURRICULUM_STAGES = 4


def _q_curriculum_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum construction: within each source domain, order
    documents easy→hard (token count as the difficulty proxy,
    deterministic doc_id tie-break) and split into 4 equal training
    stages with ntile. One shuffle on source; each stratum sorts its
    own rows only (the accepted per-stratum external-sort shape —
    see stratified_sample's docstring)."""
    from pyspark.sql import Window

    from nycitibike_data_transform_spark.functions.text import token_count

    t = load(spark, sf_dir, "documents")
    docs = t["documents"]
    # NULL text counts as 0 tokens (oracle parity + stable ordering:
    # NULL would sort before 0 and shift ntile boundaries)
    tok = F.coalesce(token_count(F.col("text")), F.lit(0)).cast("long")
    w = Window.partitionBy("source").orderBy("__tok", "doc_id")
    return (
        docs.select("doc_id", "source", tok.alias("__tok"))
        .withColumn("stage", F.ntile(_CURRICULUM_STAGES).over(w))
        .select(
            "doc_id", "source", F.col("__tok").alias("n_tokens"), "stage"
        )
    )


_CURRICULUM_SQL = rf"""
WITH tok AS (
  SELECT doc_id, source,
         CAST(CASE WHEN coalesce(nt, '') = '' THEN 0
                   ELSE len(string_split(nt, ' ')) END AS BIGINT) AS n_tokens
  FROM (SELECT doc_id, source,
               trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS nt
        FROM documents)
)
SELECT doc_id, source, n_tokens,
       ntile({_CURRICULUM_STAGES}) OVER (PARTITION BY source
                                         ORDER BY n_tokens, doc_id) AS stage
FROM tok
"""

# ------------------------------------------------------- shard manifest

_N_SHARDS = 16


def _q_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic export sharding: each document routes to one of
    16 shards by the first hex nibble of md5(doc_id) — the one hash
    both engines evaluate bit-identically — and the manifest reports
    per-shard document/token/byte totals plus id bounds, i.e. the
    summary a 100 TB training-data export writes next to its shards.
    Scale shape: one narrow projection + one shuffle on shard_id;
    shard totals are |shards| rows."""
    t = load(spark, sf_dir, "documents")
    docs = t["documents"]
    from nycitibike_data_transform_spark.functions.text import token_count

    shard = (
        F.instr(
            F.lit("0123456789abcdef"),
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1),
        )
        - F.lit(1)
    ).cast("int")
    return (
        docs.select(
            shard.alias("shard_id"),
            "doc_id",
            F.coalesce(token_count(F.col("text")), F.lit(0))
            .cast("long")
            .alias("__tok"),
            F.coalesce(F.length("text"), F.lit(0)).cast("long").alias("__chars"),
        )
        .groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("__tok").alias("n_tokens"),
            F.sum("__chars").alias("n_chars"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
    )


_SHARD_MANIFEST_SQL = r"""
WITH tagged AS (
  SELECT CAST(instr('0123456789abcdef',
                    substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1 AS INTEGER)
             AS shard_id,
         doc_id,
         CAST(CASE WHEN coalesce(nt, '') = '' THEN 0
                   ELSE len(string_split(nt, ' ')) END AS BIGINT) AS tok,
         CAST(coalesce(length(text), 0) AS BIGINT) AS chars
  FROM (SELECT doc_id, text,
               trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS nt
        FROM documents)
)
SELECT shard_id,
       count(*) AS n_docs,
       CAST(sum(tok) AS BIGINT) AS n_tokens,
       CAST(sum(chars) AS BIGINT) AS n_chars,
       min(doc_id) AS min_doc_id,
       max(doc_id) AS max_doc_id
FROM tagged
GROUP BY 1
"""


# --------------------------------------------------- lexical retrieval

_BM25_TERMS = ["join", "dup", "vector"]  # one rare term (dup: ~0.09% of
# occurrences at sf0.01) between two common ones — the IDF split is the
# point: rare-term matches must outrank common-term matches.
_BM25_K = 50


def _q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 documents by BM25 (Robertson et al.; Lucene practical
    variant) for a fixed bag-of-terms query — the lexical member of the
    similarity family next to the cosine/LSH/IVF tiers. One corpus
    scan: the token array is pruned to query terms ARRAY-SIDE before
    the only explode, dl rides the same row (no doc-length join),
    corpus scalars and per-term dfs are 1-row/3-row broadcasts, top-k
    is TakeOrderedAndProject. Per-term scores are rounded then summed
    as DECIMAL so the 3-term fold is order-free (see
    operators/retrieval.py)."""
    from nycitibike_data_transform_spark.operators.retrieval import bm25_topk

    t = load(spark, sf_dir, "documents")
    return bm25_topk(t["documents"], _BM25_TERMS, k=_BM25_K)


_BM25_SQL = rf"""
WITH base AS (
  SELECT doc_id,
         trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS nt
  FROM documents
),
base2 AS (
  SELECT doc_id,
         CASE WHEN length(coalesce(nt, '')) = 0 THEN 0
              ELSE len(string_split(nt, ' ')) END AS dl,
         CASE WHEN length(coalesce(nt, '')) = 0 THEN []
              ELSE list_filter(string_split(nt, ' '),
                               t -> t IN ('join', 'dup', 'vector')) END AS qtoks
  FROM base
),
scalars AS (SELECT count(*) AS n_docs, sum(dl) AS sum_dl FROM base2),
tf AS (
  SELECT doc_id, dl, term, count(*) AS tf
  FROM base2, unnest(qtoks) AS u(term)
  GROUP BY 1, 2, 3
),
df_ AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
scored AS (
  SELECT tf.doc_id,
         CAST(round(
           ln(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
                    / (CAST(df AS DOUBLE) + 0.5))
           * CAST(tf AS DOUBLE) * (1.2 + 1.0)
           / (CAST(tf AS DOUBLE)
              + 1.2 * (1.0 - 0.75 + 0.75 * CAST(dl AS DOUBLE)
                                    / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))))
         , 6) AS DECIMAL(38,6)) AS term_score
  FROM tf JOIN df_ USING (term) CROSS JOIN scalars
)
SELECT doc_id,
       CAST(sum(term_score) AS DOUBLE) AS score,
       count(*) AS n_terms_matched
FROM scored
GROUP BY 1
ORDER BY score DESC, doc_id
LIMIT {_BM25_K}
"""


def _q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded inverted index over the corpus: per term, exact df and
    total occurrences plus a deterministic top-5-by-tf postings sample
    rendered ``doc:tf`` in doc_id order. The collected postings are
    rank-capped BEFORE collect_list, so a stop-word's postings row is
    structurally <= 5 entries at any corpus size (the banding
    discipline from selection.py applied to an IR structure)."""
    from nycitibike_data_transform_spark.operators.retrieval import inverted_index

    t = load(spark, sf_dir, "documents")
    return inverted_index(t["documents"], postings_cap=5)


_INVERTED_INDEX_SQL = r"""
WITH toks AS (
  SELECT doc_id, t AS term
  FROM documents,
       unnest(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS u(t)
  WHERE length(t) > 0
),
tf AS (SELECT term, doc_id, count(*) AS tf FROM toks GROUP BY 1, 2),
ranked AS (
  SELECT term, doc_id, tf,
         row_number() OVER (PARTITION BY term ORDER BY tf DESC, doc_id) AS rn
  FROM tf
),
top AS (
  SELECT term,
         array_to_string(list(doc_id || ':' || tf ORDER BY doc_id), ',') AS top_postings
  FROM ranked WHERE rn <= 5 GROUP BY 1
),
stats AS (
  SELECT term, count(*) AS df, CAST(sum(tf) AS BIGINT) AS total_tf
  FROM tf GROUP BY 1
)
SELECT term, df, total_tf, top_postings
FROM stats JOIN top USING (term)
"""


QUERIES: dict[str, QuerySpec] = {
    "bm25_topk": QuerySpec(_q_bm25_topk, _BM25_SQL),
    "inverted_index": QuerySpec(_q_inverted_index, _INVERTED_INDEX_SQL),
    "dedup_exact": QuerySpec(_q_dedup_exact, _DEDUP_EXACT_SQL),
    "bpe_token_count": QuerySpec(_q_bpe_token_count, _BPE_TOKEN_COUNT_SQL),
    "hash_sample": QuerySpec(_q_hash_sample, _HASH_SAMPLE_SQL),
    "quality_filter": QuerySpec(_q_quality_filter, _QUALITY_FILTER_SQL),
    "pack_sequences": QuerySpec(_q_pack_sequences, _PACK_SEQUENCES_SQL),
    "snapshot_diff": QuerySpec(_q_snapshot_diff, _SNAPSHOT_DIFF_SQL),
    "decontaminate": QuerySpec(_q_decontaminate, _DECONTAMINATE_SQL),
    "decontaminate_bloom": QuerySpec(_q_decontaminate_bloom, _DECONTAMINATE_SQL),
    "dedup_incremental": QuerySpec(_q_dedup_incremental, _DEDUP_INCREMENTAL_SQL),
    "dedup_keep_best": QuerySpec(_q_dedup_keep_best, _DEDUP_KEEP_BEST_SQL),
    "resample_balanced": QuerySpec(_q_resample_balanced, _RESAMPLE_BALANCED_SQL),
    "stratified_sample": QuerySpec(_q_stratified_sample, _STRATIFIED_SAMPLE_SQL),
    "source_mix_report": QuerySpec(_q_source_mix_report, _SOURCE_MIX_SQL),
    "streaming_source_mix": QuerySpec(
        eager_cached("streaming_source_mix", _q_streaming_source_mix),
        _STREAMING_SOURCE_MIX_SQL,
    ),
    "scrub_pii": QuerySpec(_q_scrub_pii, _SCRUB_PII_SQL),
    "chunk_documents": QuerySpec(_q_chunk_documents, _CHUNK_DOCUMENTS_SQL),
    "tfidf_top_terms": QuerySpec(_q_tfidf_top_terms, _TFIDF_SQL),
    "repetition_ratio": QuerySpec(_q_repetition_ratio, _REPETITION_SQL),
    "gopher_repetition": QuerySpec(_q_gopher_repetition, _GOPHER_REPETITION_SQL),
    "repetition_strip": QuerySpec(_q_repetition_strip, _REPETITION_STRIP_SQL),
    "text_stats": QuerySpec(_q_text_stats, _TEXT_STATS_SQL),
    "language_id": QuerySpec(_q_language_id, _LANGUAGE_ID_SQL),
    "lang_confusion": QuerySpec(_q_lang_confusion, _LANG_CONFUSION_SQL),
    "doc_fingerprint": QuerySpec(_q_doc_fingerprint, _DOC_FINGERPRINT_SQL),
    "ngram_jaccard": QuerySpec(_q_ngram_jaccard, _NGRAM_JACCARD_SQL),
    "dedup_near": QuerySpec(_q_dedup_near, _DEDUP_NEAR_SQL),
    "dedup_clusters": QuerySpec(_q_dedup_clusters, _DEDUP_CLUSTERS_SQL),
    "minhash_pairs": QuerySpec(_q_minhash_pairs, _MINHASH_PAIRS_SQL),
    "simhash": QuerySpec(_q_simhash, _SIMHASH_SQL),
    "cosine_topk": QuerySpec(_q_cosine_topk, _COSINE_TOPK_SQL),
    "embedding_near_dup": QuerySpec(_q_embedding_near_dup, _EMBEDDING_NEAR_DUP_SQL),
    "crossmodal_dup_check": QuerySpec(_q_crossmodal_dup_check, _CROSSMODAL_SQL),
    "cosine_topk_lsh": QuerySpec(_q_cosine_topk_lsh, _COSINE_TOPK_LSH_SQL),
    "cosine_topk_ivf": QuerySpec(_q_cosine_topk_ivf, _COSINE_TOPK_IVF_SQL),
    "embedding_norms": QuerySpec(_q_embedding_norms, _EMBEDDING_NORMS_SQL),
    "multimodal_meta": QuerySpec(_q_multimodal_meta, _MULTIMODAL_META_SQL),
    "image_pipeline": QuerySpec(_q_image_pipeline, _IMAGE_PIPELINE_SQL),
    "audio_pipeline": QuerySpec(_q_audio_pipeline, _AUDIO_PIPELINE_SQL),
    "video_frames": QuerySpec(_q_video_frames, _VIDEO_FRAMES_SQL),
    "span_dedup": QuerySpec(_q_span_dedup, _SPAN_DEDUP_SQL),
    "span_strip": QuerySpec(_q_span_strip, _SPAN_STRIP_SQL),
    "span_strip_bloom": QuerySpec(_q_span_strip_bloom, _SPAN_STRIP_SQL),
    "mixture_plan": QuerySpec(_q_mixture_plan, _MIXTURE_PLAN_SQL),
    "unimax_mixture": QuerySpec(_q_unimax_mixture, _UNIMAX_SQL),
    "c4_line_stats": QuerySpec(_q_c4_line_stats, _C4_LINE_STATS_SQL),
    "zipf_fit": QuerySpec(_q_zipf_fit, _ZIPF_FIT_SQL),
    "token_entropy": QuerySpec(_q_token_entropy, _TOKEN_ENTROPY_SQL),
    "shard_manifest": QuerySpec(_q_shard_manifest, _SHARD_MANIFEST_SQL),
    "embedding_dedup": QuerySpec(_q_embedding_dedup, _EMBEDDING_DEDUP_SQL),
    "curriculum_stages": QuerySpec(_q_curriculum_stages, _CURRICULUM_SQL),
    "dataset_report": QuerySpec(_q_dataset_report, _DATASET_REPORT_SQL),
    "compression_signal": QuerySpec(_q_compression_signal, _COMPRESSION_SIGNAL_SQL),
    "perplexity_score": QuerySpec(_q_perplexity_score, _PERPLEXITY_SQL),
    "dsir_select": QuerySpec(_q_dsir_select, _DSIR_SELECT_SQL),
    "dsir_ngram_select": QuerySpec(_q_dsir_ngram_select, _DSIR_NGRAM_SELECT_SQL),
    "dedup_url": QuerySpec(_q_dedup_url, _DEDUP_URL_SQL),
    "url_host_stats": QuerySpec(_q_url_host_stats, _URL_HOST_STATS_SQL),
    "pack_render": QuerySpec(_q_pack_render, _PACK_RENDER_SQL),
}
