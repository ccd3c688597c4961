"""Corpus-preparation queries — budgeted selection, deterministic
shuffling, n-gram language modeling, token histograms, model-based
quality scoring, novelty, containment partial-copy detection,
train/val leakage auditing, and content-defined chunking (north-star
additions, SURVEY.md §2.9) over the driver's ``documents`` table.

These cover the export half of a training-data pipeline: after
filtering and dedup decide what is *eligible*, these decide what is
*shipped*, in what order, and whether the held-out split can be
trusted. Every query here carries a full SQL oracle — each operator
is exact/deterministic by construction (the global prefix sums are
two-phase in Spark but proven against DuckDB's naive global windows;
the containment join's prefix filter is lossless; the one
libm-divergent function, exp in quality_logit, is rounded per the
registry determinism contract).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nycitibike_data_transform_spark.functions.text import (
    quality_score_columns,
    token_array,
    token_count,
)
from nycitibike_data_transform_spark.operators.dedup import containment_pairs
from nycitibike_data_transform_spark.operators.util import fan_out
from nycitibike_data_transform_spark.operators.selection import (
    deterministic_shuffle,
    token_budget_select,
)
from nycitibike_data_transform_spark.queries import QuerySpec, load

# ------------------------------------------------- token-budget selection

_TB_BUDGET = 8_000  # ~1/3 of the sf0.01 corpus: a real strict subset


def _q_token_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy quality-ordered selection under a global token budget
    ("ship the best 8k tokens"): docs ranked by (stopword-ratio
    quality proxy DESC, doc_id ASC), taken while the running token
    total stays within budget. The cumulative sum is a scalable
    two-phase prefix sum (operators/selection.py); the oracle is the
    naive single-window formulation, proving the decomposition exact."""
    docs = load(spark, sf_dir, "documents")["documents"]
    sig = quality_score_columns(F.col("text"))
    # fan_out (OPTIMIZATION_r15): the stopword-ratio scoring is regex
    # over every document and a compact input runs it on ONE core
    # (one parquet file ⇒ one scan task); no-op at real scale.
    scored = fan_out(docs).select(
        "doc_id",
        F.round(F.coalesce(sig["stopword_ratio"], F.lit(0.0)), 6).alias("score"),
        F.coalesce(token_count("text"), F.lit(0)).cast("long").alias("n_tokens"),
    )
    return token_budget_select(scored, budget=_TB_BUDGET)


_TOKEN_BUDGET_SQL = rf"""
WITH norm AS (
  SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS nt
  FROM documents
),
tok AS (
  SELECT doc_id, nt,
         CASE WHEN length(coalesce(nt, '')) = 0 THEN 0
              ELSE CAST(len(string_split(nt, ' ')) AS INTEGER) END AS n_tokens,
         ' ' || coalesce(nt, '') || ' ' AS padded
  FROM norm
),
sc AS (
  SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
         round(CASE WHEN n_tokens = 0 THEN 0.0 ELSE (
             (length(padded) - length(replace(padded, ' the ', ''))) / 5.0
           + (length(padded) - length(replace(padded, ' and ', ''))) / 5.0
           + (length(padded) - length(replace(padded, ' of ', ''))) / 4.0
           + (length(padded) - length(replace(padded, ' a ', ''))) / 3.0
           + (length(padded) - length(replace(padded, ' to ', ''))) / 4.0
           + (length(padded) - length(replace(padded, ' in ', ''))) / 4.0
         ) / n_tokens END, 6) AS score
  FROM tok
)
SELECT doc_id, score, n_tokens,
       CAST(sum(n_tokens) OVER w AS BIGINT) AS cum_tokens,
       CAST(sum(n_tokens) OVER w <= {_TB_BUDGET} AS INT) AS selected
FROM sc
WINDOW w AS (ORDER BY score DESC, doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
"""

# ------------------------------------------------- deterministic shuffle

_SHUFFLE_SEED = "graft-r5"
_N_SHARDS = 16


def _q_global_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded reproducible global shuffle: md5(seed:id) key, 1-based
    global position in key order, round-robin shard. The global rank
    is a two-phase prefix sum over the 256-way hex-prefix bucketing of
    the key order (operators/selection.py) — the oracle's single
    ROW_NUMBER window proves the decomposition exact."""
    docs = load(spark, sf_dir, "documents")["documents"]
    return deterministic_shuffle(
        docs.select("doc_id"), seed=_SHUFFLE_SEED, n_shards=_N_SHARDS
    )


_GLOBAL_SHUFFLE_SQL = rf"""
WITH keyed AS (
  SELECT doc_id,
         md5('{_SHUFFLE_SEED}:' || CAST(doc_id AS VARCHAR)) AS shuffle_key
  FROM documents
)
SELECT doc_id, shuffle_key,
       CAST(row_number() OVER (ORDER BY shuffle_key, doc_id) AS BIGINT)
           AS shuffle_pos,
       CAST((row_number() OVER (ORDER BY shuffle_key, doc_id) - 1)
            % {_N_SHARDS} AS INT) AS shard_id
FROM keyed
"""

# ------------------------------------------------------------- bigram LM

_BL_TOP_PREFIXES = 20
_BL_TOP_SUCC = 3


def _q_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bigram language model: MLE conditional probabilities
    P(w2 | w1) for the top successors of the most frequent prefixes
    (deterministic count-then-lexicographic tie-breaks). The building
    block of perplexity scoring and of repeated-phrase diagnostics.

    Scale shape: bigrams explode narrowly per doc (n_tokens - 1 rows)
    and collapse immediately in a map-side-combinable count keyed by
    the pair — post-shuffle volume is the bigram VOCABULARY, not the
    corpus. Prefix totals reduce that again; the windows run over
    vocabulary-sized frames only."""
    docs = load(spark, sf_dir, "documents")["documents"]
    bigrams = F.when(
        F.size("__w") >= 2,
        F.expr(
            "transform(sequence(1, size(__w) - 1),"
            " i -> struct(element_at(__w, i) as w1, element_at(__w, i + 1) as w2))"
        ),
    ).otherwise(F.expr("array()").cast("array<struct<w1:string,w2:string>>"))
    pc = (
        docs.select(token_array("text").alias("__w"))
        .select(F.explode(bigrams).alias("bg"))
        .groupBy(F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
        .agg(F.count(F.lit(1)).alias("pair_count"))
    )
    pf = pc.groupBy("w1").agg(F.sum("pair_count").cast("long").alias("prefix_count"))
    from pyspark.sql import Window

    # top prefixes via orderBy().limit() — TakeOrderedAndProject
    # (per-partition heaps), not a rank window over the full prefix
    # vocabulary, whose single WindowExec task would grow with corpus
    # vocabulary (GWIN audit, r8)
    top_prefix = (
        pf.orderBy(F.col("prefix_count").desc(), F.col("w1").asc())
        .limit(_BL_TOP_PREFIXES)
        .select("w1", "prefix_count")
    )
    ranked = pc.withColumn(
        "succ_rank",
        F.row_number().over(
            Window.partitionBy("w1").orderBy(
                F.col("pair_count").desc(), F.col("w2").asc()
            )
        ),
    ).filter(F.col("succ_rank") <= _BL_TOP_SUCC)
    return ranked.join(F.broadcast(top_prefix), "w1").select(
        "w1",
        "w2",
        F.col("pair_count").cast("long").alias("pair_count"),
        "prefix_count",
        F.round(
            F.col("pair_count").cast("double") / F.col("prefix_count").cast("double"), 6
        ).alias("cond_p"),
        F.col("succ_rank").cast("int").alias("succ_rank"),
    )


_BIGRAM_LM_SQL = rf"""
WITH toks AS (
  SELECT CASE WHEN coalesce(nt, '') = '' THEN CAST([] AS VARCHAR[])
              ELSE string_split(nt, ' ') END AS w
  FROM (SELECT trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS nt
        FROM documents)
),
bg AS (
  SELECT u.w1 AS w1, u.w2 AS w2
  FROM (SELECT unnest(list_transform(
                   generate_series(1, greatest(len(w) - 1, 0)),
                   i -> struct_pack(w1 := w[i], w2 := w[i + 1]))) AS u
        FROM toks)
),
pc AS (SELECT w1, w2, count(*) AS pair_count FROM bg GROUP BY 1, 2),
pf AS (SELECT w1, CAST(sum(pair_count) AS BIGINT) AS prefix_count
       FROM pc GROUP BY 1),
topp AS (
  SELECT w1, prefix_count
  FROM (SELECT w1, prefix_count,
               row_number() OVER (ORDER BY prefix_count DESC, w1) AS rn
        FROM pf)
  WHERE rn <= {_BL_TOP_PREFIXES}
),
ranked AS (
  SELECT w1, w2, pair_count,
         row_number() OVER (PARTITION BY w1
                            ORDER BY pair_count DESC, w2) AS succ_rank
  FROM pc
)
SELECT r.w1, r.w2,
       CAST(r.pair_count AS BIGINT) AS pair_count,
       t.prefix_count,
       round(CAST(r.pair_count AS DOUBLE) / CAST(t.prefix_count AS DOUBLE), 6)
           AS cond_p,
       CAST(r.succ_rank AS INT) AS succ_rank
FROM ranked r JOIN topp t USING (w1)
WHERE r.succ_rank <= {_BL_TOP_SUCC}
"""

# ------------------------------------------------------- token histogram


def _q_token_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source log2-bucketed token-length histogram — the standard
    corpus-composition diagnostic (is one source all tweets and
    another all books?). Bucket b holds docs with 2^(b-1) ≤ tokens
    < 2^b, via the engine-portable length-of-binary-string trick
    (``bin()`` exists in Spark and DuckDB; no floating log2 whose
    exact-power-of-two edges differ between libm implementations).
    One map-side-combinable aggregation on (source, bucket) — output
    is |sources| × ~32 rows at any corpus size."""
    docs = load(spark, sf_dir, "documents")["documents"]
    n = F.coalesce(token_count("text"), F.lit(0))
    bucket = (
        F.when(n == 0, F.lit(0)).otherwise(F.length(F.bin(n.cast("long")))).cast("int")
    )
    grouped = (
        docs.select(F.col("source"), bucket.alias("bucket"), n.cast("long").alias("__n"))
        .groupBy("source", "bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("__n").cast("long").alias("total_tokens"),
        )
    )
    return grouped.select(
        "source",
        "bucket",
        F.when(F.col("bucket") == 0, F.lit(0).cast("long"))
        .otherwise(F.expr("shiftleft(CAST(1 AS BIGINT), bucket - 1)"))
        .alias("bucket_lo"),
        F.when(F.col("bucket") == 0, F.lit(0).cast("long"))
        .otherwise(F.expr("shiftleft(CAST(1 AS BIGINT), bucket) - 1"))
        .alias("bucket_hi"),
        "n_docs",
        "total_tokens",
    )


_TOKEN_HISTOGRAM_SQL = r"""
WITH tok AS (
  SELECT source,
         CASE WHEN length(coalesce(nt, '')) = 0 THEN 0
              ELSE len(string_split(nt, ' ')) END AS n_tokens
  FROM (SELECT source, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS nt
        FROM documents)
),
bucketed AS (
  SELECT source,
         CASE WHEN n_tokens = 0 THEN 0
              ELSE length(bin(CAST(n_tokens AS BIGINT))) END AS bucket,
         n_tokens
  FROM tok
)
SELECT source,
       CAST(bucket AS INT) AS bucket,
       CAST(CASE WHEN bucket = 0 THEN 0
                 ELSE CAST(1 AS BIGINT) << (bucket - 1) END AS BIGINT) AS bucket_lo,
       CAST(CASE WHEN bucket = 0 THEN 0
                 ELSE (CAST(1 AS BIGINT) << bucket) - 1 END AS BIGINT) AS bucket_hi,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens
FROM bucketed
GROUP BY source, bucket
"""

# ------------------------------------------- set-containment partial copies

_CT_N = 3
_CT_THRESHOLD = 0.8


def _q_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed set-containment pairs (partial-copy detection): src is
    ≥80%-contained in dst over 3-gram shingle sets. Catches the
    quote-inclusion case Jaccard-based near-dup misses (short doc
    embedded in a long one). EXACT via the lossless prefix filter
    (operators/dedup.py:containment_pairs); the oracle is the naive
    all-pairs shingle join, proving the filter drops nothing."""
    docs = load(spark, sf_dir, "documents")["documents"]
    return containment_pairs(docs, n=_CT_N, threshold=_CT_THRESHOLD)


_CONTAINMENT_SQL = rf"""
WITH toks AS (
  SELECT doc_id,
         string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w
  FROM documents
),
sh_list AS (
  SELECT doc_id,
         list_distinct(list_transform(
             generate_series(1, greatest(len(w) - {_CT_N - 1}, 0)),
             i -> array_to_string(w[i:i + {_CT_N - 1}], ' '))) AS shingle_set
  FROM toks
),
sh AS (
  SELECT doc_id, unnest(shingle_set) AS shingle
  FROM sh_list WHERE len(shingle_set) > 0
),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
pairs AS (
  SELECT a.doc_id AS src_doc, b.doc_id AS dst_doc, count(*) AS ov
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
  GROUP BY 1, 2
)
SELECT src_doc, dst_doc,
       CAST(s.n_sh AS INT) AS src_shingles,
       CAST(ov AS INT) AS overlap,
       CAST(ov AS DOUBLE) / CAST(s.n_sh AS DOUBLE) AS containment
FROM pairs JOIN sizes s ON src_doc = s.doc_id
WHERE CAST(ov AS DOUBLE) / CAST(s.n_sh AS DOUBLE) >= {_CT_THRESHOLD}
"""


# ------------------------------------------------- model-based quality

# fixed logistic weights (a stand-in for a trained fasttext/regression
# quality classifier — the standard "model-based filtering" stage; the
# POINT here is the scoring plumbing, which is identical for learned
# weights loaded from a table)
_QL_W0 = -2.0   # bias
_QL_W_TOK = 0.5    # per (n_tokens / 100)
_QL_W_MTL = 0.3    # per mean token length
_QL_W_SW = 8.0     # per stopword ratio
_QL_CUT = 0.5


def _q_quality_logit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality scoring: a logistic model over the shared
    quality signals (token count, mean token length, stopword ratio)
    with fixed weights — the shape of fastText/regression quality
    classifiers used for corpus filtering (e.g. the CCNet/GPT-3
    quality-model stage). Signals are rounded to 6 decimals BEFORE the
    linear combination so both engines feed identical doubles into the
    (libm-divergent) exp, and the probability is rounded to 6 after.
    Pure narrow projection — zero shuffles, whole-stage codegen."""
    docs = load(spark, sf_dir, "documents")["documents"]
    sig = quality_score_columns(F.col("text"))
    n_tok = F.coalesce(sig["n_tokens"], F.lit(0)).cast("double")
    mtl = F.round(F.coalesce(sig["mean_token_len"], F.lit(0.0)), 6)
    sw = F.round(F.coalesce(sig["stopword_ratio"], F.lit(0.0)), 6)
    z = (
        F.lit(_QL_W0)
        + F.lit(_QL_W_TOK) * (n_tok / F.lit(100.0))
        + F.lit(_QL_W_MTL) * mtl
        + F.lit(_QL_W_SW) * sw
    )
    p = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 6)
    return docs.select(
        "doc_id",
        n_tok.cast("long").alias("n_tokens"),
        mtl.alias("mean_token_len"),
        sw.alias("stopword_ratio"),
        p.alias("quality_p"),
        (p >= F.lit(_QL_CUT)).cast("int").alias("keep"),
    )


_QUALITY_LOGIT_SQL = rf"""
WITH norm AS (
  SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS nt
  FROM documents
),
tok AS (
  SELECT doc_id, nt,
         CASE WHEN length(coalesce(nt, '')) = 0 THEN 0
              ELSE CAST(len(string_split(nt, ' ')) AS INTEGER) END AS n_tokens,
         ' ' || coalesce(nt, '') || ' ' AS padded
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
),
z AS (
  SELECT doc_id, n_tokens, mean_token_len, stopword_ratio,
         {_QL_W0} + {_QL_W_TOK} * (CAST(n_tokens AS DOUBLE) / 100.0)
                  + {_QL_W_MTL} * mean_token_len
                  + {_QL_W_SW} * stopword_ratio AS zv
  FROM sig
)
SELECT doc_id,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       mean_token_len, stopword_ratio,
       round(1.0 / (1.0 + exp(-zv)), 6) AS quality_p,
       CAST(round(1.0 / (1.0 + exp(-zv)), 6) >= {_QL_CUT} AS INT) AS keep
FROM z
"""

# ------------------------------------------------------- novelty score

_NV_N = 3


def _q_novelty_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document novelty: the fraction of a doc's distinct 3-gram
    shingles that appear NOWHERE else in the corpus (df = 1) — the
    diversity complement of the dedup family (a doc can evade near-dup
    thresholds yet contribute almost nothing new). Docs with no
    shingles are excluded (novelty undefined).

    Scale shape: one shuffle of (shingle, doc) pairs for the df count
    (map-side combinable) and one groupBy on doc id — the same two
    linear shuffles as exact dedup; no joins against the corpus text."""
    from nycitibike_data_transform_spark.operators.dedup import shingles, tokenize

    docs = load(spark, sf_dir, "documents")["documents"]
    sh = (
        tokenize(docs, "text")
        .select(F.col("doc_id"), F.explode(shingles(F.col("tokens"), _NV_N)).alias("shingle"))
        .filter(F.length("shingle") > 0)
        .distinct()
    )
    from pyspark.sql import Window

    df_w = Window.partitionBy("shingle")
    per_doc = (
        sh.withColumn("__df", F.count(F.lit(1)).over(df_w))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_shingles"),
            F.sum(F.when(F.col("__df") == 1, 1).otherwise(0)).cast("long").alias("n_unique"),
        )
    )
    return per_doc.select(
        "doc_id",
        "n_shingles",
        "n_unique",
        F.round(
            F.col("n_unique").cast("double") / F.col("n_shingles").cast("double"), 6
        ).alias("novelty"),
    )


_NOVELTY_SQL = rf"""
WITH toks AS (
  SELECT doc_id,
         string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w
  FROM documents
),
sh_list AS (
  SELECT doc_id,
         list_distinct(list_transform(
             generate_series(1, greatest(len(w) - {_NV_N - 1}, 0)),
             i -> array_to_string(w[i:i + {_NV_N - 1}], ' '))) AS shingle_set
  FROM toks
),
sh AS (
  SELECT doc_id, unnest(shingle_set) AS shingle
  FROM sh_list WHERE len(shingle_set) > 0
),
dfreq AS (SELECT shingle, count(*) AS df FROM sh GROUP BY 1)
SELECT s.doc_id,
       CAST(count(*) AS BIGINT) AS n_shingles,
       CAST(sum(CASE WHEN d.df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique,
       round(CAST(sum(CASE WHEN d.df = 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(count(*) AS DOUBLE), 6) AS novelty
FROM sh s JOIN dfreq d USING (shingle)
GROUP BY s.doc_id
"""


# ---------------------------------------------- train/val split leakage

_SL_SEED = "split"
_SL_VAL_NIBBLES = ("0", "1", "2")  # last md5 hex char → ~18.75% val
_SL_THRESHOLD = 0.8
_SL_N = 3


def _q_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/val leakage audit: split the corpus deterministically by
    an md5 nibble (engine-portable, rerun-stable), then report, for
    every val doc, how many TRAIN docs contain ≥80% of its 3-gram
    shingles — the "did my held-out set leak into training" check that
    must run before any eval is trusted. Containment (not Jaccard) is
    the right relation here: a short val doc pasted inside a long
    train doc is full leakage at tiny Jaccard.

    Output: one row per val doc —
    ``(doc_id, n_train_matches, max_containment, leaked)``.

    Scale shape: the cross mode of ``containment_pairs`` — val-side
    signatures (the small side) probe the train shingle table on
    rare-by-construction keys; no val×train pair materializes outside
    true-candidate order, and no train-train work is done at all.
    The split itself is a pure filter that pushes into the scan."""
    docs = load(spark, sf_dir, "documents")["documents"]
    nib = F.substring(
        F.md5(F.concat(F.lit(_SL_SEED), F.lit(":"), F.col("doc_id").cast("string"))),
        32,
        1,
    )
    is_val = nib.isin(*_SL_VAL_NIBBLES)
    val = docs.filter(is_val)
    train = docs.filter(~is_val)
    pairs = containment_pairs(val, n=_SL_N, threshold=_SL_THRESHOLD, dst=train)
    hits = pairs.groupBy(F.col("src_doc").alias("doc_id")).agg(
        F.count(F.lit(1)).cast("long").alias("n_train_matches"),
        F.round(F.max("containment"), 6).alias("max_containment"),
    )
    return (
        val.select("doc_id")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_train_matches"), F.lit(0)).alias("n_train_matches"),
            F.coalesce(F.col("max_containment"), F.lit(0.0)).alias("max_containment"),
            (F.coalesce(F.col("n_train_matches"), F.lit(0)) > 0)
            .cast("int")
            .alias("leaked"),
        )
    )


_SPLIT_LEAKAGE_SQL = rf"""
WITH split AS (
  SELECT doc_id, text,
         CASE WHEN substr(md5('{_SL_SEED}:' || CAST(doc_id AS VARCHAR)), 32, 1)
                   IN ('{_SL_VAL_NIBBLES[0]}','{_SL_VAL_NIBBLES[1]}','{_SL_VAL_NIBBLES[2]}')
              THEN 'val' ELSE 'train' END AS part
  FROM documents
),
toks AS (
  SELECT doc_id, part,
         string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w
  FROM split
),
sh_list AS (
  SELECT doc_id, part,
         list_distinct(list_transform(
             generate_series(1, greatest(len(w) - {_SL_N - 1}, 0)),
             i -> array_to_string(w[i:i + {_SL_N - 1}], ' '))) AS ss
  FROM toks
),
sh AS (SELECT doc_id, part, unnest(ss) AS shingle FROM sh_list WHERE len(ss) > 0),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh WHERE part = 'val' GROUP BY 1),
cross_pairs AS (
  SELECT a.doc_id AS val_doc, b.doc_id AS train_doc, count(*) AS ov
  FROM sh a JOIN sh b ON a.shingle = b.shingle
  WHERE a.part = 'val' AND b.part = 'train'
  GROUP BY 1, 2
),
hits AS (
  SELECT val_doc AS doc_id,
         CAST(count(*) AS BIGINT) AS n_train_matches,
         round(max(CAST(ov AS DOUBLE) / s.n_sh), 6) AS max_containment
  FROM cross_pairs JOIN sizes s ON val_doc = s.doc_id
  WHERE CAST(ov AS DOUBLE) / s.n_sh >= {_SL_THRESHOLD}
  GROUP BY 1
)
SELECT v.doc_id,
       coalesce(h.n_train_matches, 0) AS n_train_matches,
       coalesce(h.max_containment, 0.0) AS max_containment,
       CAST(coalesce(h.n_train_matches, 0) > 0 AS INT) AS leaked
FROM (SELECT doc_id FROM split WHERE part = 'val') v
LEFT JOIN hits h USING (doc_id)
"""


# --------------------------------------------- content-defined chunking

_CDC_W = 4


def _q_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking + chunk-hash dedup census: variable
    chunks cut where the rolling 4-token md5 hits the boundary
    pattern, each chunk tagged with its corpus-wide occurrence count
    (``chunk_df``) — insertion-stable chunk identity is what lets
    storage-level dedup survive document edits (operator docstring:
    operators/chunking.py:cdc_chunks)."""
    from nycitibike_data_transform_spark.operators.chunking import cdc_chunks

    docs = load(spark, sf_dir, "documents")["documents"]
    chunks = cdc_chunks(docs, window=_CDC_W)
    counts = chunks.groupBy("chunk_hash").agg(
        F.count(F.lit(1)).cast("long").alias("chunk_df")
    )
    return chunks.join(counts, "chunk_hash").select(
        "doc_id", "chunk_id", "n_chunk_tokens", "chunk_text", "chunk_hash", "chunk_df"
    )


_CDC_CHUNKS_SQL = rf"""
WITH toks AS (
  SELECT doc_id,
         CASE WHEN coalesce(nt, '') = '' THEN CAST([] AS VARCHAR[])
              ELSE string_split(nt, ' ') END AS w
  FROM (SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS nt
        FROM documents)
),
sized AS (SELECT doc_id, w, len(w) AS n FROM toks WHERE len(w) > 0),
cells AS (
  SELECT doc_id, u.pos AS pos, u.tok AS tok, u.b AS b
  FROM (SELECT doc_id,
               unnest(list_transform(generate_series(1, n),
                   i -> struct_pack(pos := i, tok := w[i],
                        b := CASE WHEN i >= {_CDC_W}
                                   AND substr(md5(array_to_string(
                                         w[i - {_CDC_W - 1}:i], ' ')), 1, 1) = '0'
                             THEN 1 ELSE 0 END))) AS u
        FROM sized)
),
assigned AS (
  SELECT doc_id, pos, tok,
         CAST(1 + coalesce(sum(b) OVER (PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS INT)
             AS chunk_id
  FROM cells
),
chunks AS (
  SELECT doc_id, chunk_id,
         CAST(count(*) AS INT) AS n_chunk_tokens,
         string_agg(tok, ' ' ORDER BY pos) AS chunk_text
  FROM assigned GROUP BY 1, 2
),
hashed AS (
  SELECT doc_id, chunk_id, n_chunk_tokens, chunk_text,
         md5(chunk_text) AS chunk_hash
  FROM chunks
)
SELECT h.doc_id, h.chunk_id, h.n_chunk_tokens, h.chunk_text, h.chunk_hash,
       CAST(c.cnt AS BIGINT) AS chunk_df
FROM hashed h
JOIN (SELECT chunk_hash, count(*) AS cnt FROM hashed GROUP BY 1) c
  USING (chunk_hash)
"""


# ------------------------------------------------ length-bucketed batching

_PAD_BATCH_SIZE = 32


def _q_padded_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Padding-efficient batch construction for padded (non-packed)
    training/inference: docs sorted by (token length DESC, doc_id)
    and cut into fixed-size batches of 32, reporting each batch's
    padding waste (n_docs·max_len − Σlen). Length-sorting keeps
    same-length docs together, so waste concentrates in boundary
    batches — the standard bucketed-batching trick.

    The global rank decomposes over the LENGTH buckets themselves:
    per-length counts give base offsets, and a per-length row_number
    ranks within. The offset computation is itself two-level (VERDICT
    r14 item 6): distinct lengths band by ``floor(16·log2(len+2))`` — a
    monotone map of length with ≤ ~1030 distinct values over the whole
    long range, so the band count is bounded STRUCTURALLY, with no
    data-dependent width and no plan-build action. The within-band
    offset window partitions by band; only the ≤ ~1030 band totals
    cross one unpartitioned window. At sf0.1 the distinct-length table
    was already small, but byte-length tokenization over a 100 TB
    corpus could push #distinct lengths into the millions, and the
    previous single window over ALL distinct lengths would have
    concentrated them on one reducer. The oracle is exactly the naive
    global window, proving the decomposition exact. Residual skew
    note: one pathological length holding most of the corpus would
    concentrate its within-length row_number window; real length
    distributions spread across hundreds of values."""
    from pyspark.sql import Window

    docs = load(spark, sf_dir, "documents")["documents"]
    sized = docs.select(
        "doc_id",
        F.coalesce(token_count("text"), F.lit(0)).cast("long").alias("n_tokens"),
    )
    per_len = sized.groupBy("n_tokens").agg(F.count(F.lit(1)).alias("__cnt"))
    # log-banding: monotone in n_tokens (so bands are contiguous ranges
    # of the DESC length order) and ≤ 16·log2(2^63) ≈ 1030 bands for any
    # corpus; +2 keeps log2 defined and strictly positive at length 0
    banded = per_len.withColumn(
        "__band",
        F.floor(F.log2(F.col("n_tokens") + 2) * 16).cast("long"),
    )
    in_band = (
        Window.partitionBy("__band")
        .orderBy(F.col("n_tokens").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    across_bands = (
        Window.orderBy(F.col("__band").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    band_base = (
        banded.groupBy("__band")
        .agg(F.sum("__cnt").alias("__btot"))
        .select(
            "__band",
            F.coalesce(F.sum("__btot").over(across_bands), F.lit(0)).alias(
                "__bbase"
            ),
        )
    )
    offsets = (
        banded.withColumn(
            "__off_in", F.coalesce(F.sum("__cnt").over(in_band), F.lit(0))
        )
        .join(F.broadcast(band_base), "__band")
        .select(
            "n_tokens",
            (F.col("__bbase") + F.col("__off_in")).alias("__offset"),
        )
    )
    within = F.row_number().over(
        Window.partitionBy("n_tokens").orderBy("doc_id")
    )
    ranked = sized.join(F.broadcast(offsets), "n_tokens").select(
        "n_tokens",
        ((F.col("__offset") + within - 1) / F.lit(_PAD_BATCH_SIZE))
        .cast("long")
        .alias("batch_id"),
    )
    return (
        ranked.groupBy("batch_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.max("n_tokens").alias("max_tokens"),
            F.min("n_tokens").alias("min_tokens"),
            F.sum("n_tokens").alias("sum_tokens"),
        )
        .select(
            "batch_id",
            "n_docs",
            "max_tokens",
            "min_tokens",
            "sum_tokens",
            (F.col("n_docs") * F.col("max_tokens") - F.col("sum_tokens")).alias(
                "padding_waste"
            ),
        )
    )


_PADDED_BATCHES_SQL = rf"""
WITH norm AS (
  SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS nt
  FROM documents
),
sized AS (
  SELECT doc_id,
         CAST(coalesce(CASE WHEN length(coalesce(nt, '')) = 0 THEN 0
                            ELSE len(string_split(nt, ' ')) END, 0) AS BIGINT)
             AS n_tokens
  FROM norm
),
ranked AS (
  SELECT n_tokens,
         CAST((row_number() OVER (ORDER BY n_tokens DESC, doc_id) - 1)
              // {_PAD_BATCH_SIZE} AS BIGINT) AS batch_id
  FROM sized
)
SELECT batch_id,
       count(*) AS n_docs,
       max(n_tokens) AS max_tokens,
       min(n_tokens) AS min_tokens,
       CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
       CAST(count(*) * max(n_tokens) - sum(n_tokens) AS BIGINT) AS padding_waste
FROM ranked
GROUP BY 1
"""

# ------------------------------------------------- int8 quantization

def _q_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization of the embedding column — the
    standard export-side compression for ANN serving (4× smaller,
    SIMD int dot products). Per vector: scale = max|x|/127, codes
    q_i = round(x_i/scale) ∈ [−127,127]. Emits integer-exact
    summaries of the code vector (Σq, Σ|q|, zero count, max code)
    plus the reconstruction error Σ(x_i − q_i·scale)², folded in
    index order on both engines (the perplexity_score idiom) and
    rounded to 6.

    Everything is built-in expression work over the array — transform
    / aggregate / zip_with, zero UDFs, fully codegen'd, embarrassingly
    parallel (no shuffle at all). Malformed vectors (NULL, empty, or
    containing NULL elements) are excluded on BOTH engines — see
    functions.vectors.valid_embedding."""
    from nycitibike_data_transform_spark.functions.vectors import (
        int8_codes,
        int8_scale,
        valid_embedding,
    )

    emb = load(spark, sf_dir, "embeddings")["embeddings"].filter(
        valid_embedding("embedding")
    )
    xd = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    with_scale = emb.select(
        "vec_id", xd.alias("__xd"), int8_scale("embedding").alias("scale")
    )
    quantized = with_scale.select(
        "vec_id",
        "scale",
        "__xd",
        int8_codes("__xd", F.col("scale")).alias("__q"),
    )
    recon = F.aggregate(
        F.zip_with(
            F.col("__xd"),
            F.col("__q"),
            lambda x, qi: (x - qi.cast("double") * F.col("scale"))
            * (x - qi.cast("double") * F.col("scale")),
        ),
        F.lit(0.0),
        lambda acc, e: acc + e,
    )
    return quantized.select(
        "vec_id",
        "scale",
        F.aggregate(
            F.col("__q"), F.lit(0).cast("long"), lambda acc, c: acc + c
        ).alias("code_sum"),
        F.aggregate(
            F.col("__q"), F.lit(0).cast("long"), lambda acc, c: acc + F.abs(c)
        ).alias("code_l1"),
        F.size(F.filter(F.col("__q"), lambda c: c == 0)).alias("n_zero"),
        F.array_max(F.col("__q")).alias("max_code"),
        F.round(recon, 6).alias("recon_err"),
    )


_EMBEDDING_QUANTIZE_SQL = r"""
WITH base AS (
  SELECT vec_id, embedding,
         CAST(list_max(list_transform(embedding, x -> abs(x))) AS DOUBLE) / 127.0
             AS scale
  FROM embeddings
  WHERE embedding IS NOT NULL AND len(embedding) > 0
    AND len(list_filter(embedding, x -> x IS NULL
          OR isnan(CAST(x AS DOUBLE)) OR isinf(CAST(x AS DOUBLE)))) = 0
),
elems AS (
  SELECT vec_id, scale,
         generate_subscripts(embedding, 1) AS i,
         CAST(unnest(embedding) AS DOUBLE) AS x
  FROM base
),
coded AS (
  SELECT vec_id, scale, i, x,
         CASE WHEN scale = 0 THEN 0
              ELSE CAST(round(x / scale) AS INTEGER) END AS q
  FROM elems
)
SELECT vec_id,
       any_value(scale) AS scale,
       CAST(sum(q) AS BIGINT) AS code_sum,
       CAST(sum(abs(q)) AS BIGINT) AS code_l1,
       CAST(sum(CASE WHEN q = 0 THEN 1 ELSE 0 END) AS INTEGER) AS n_zero,
       max(q) AS max_code,
       round(sum((x - q * scale) * (x - q * scale) ORDER BY i), 6) AS recon_err
FROM coded
GROUP BY vec_id
"""


# -------------------------------------------- weighted sampling (A-ES)

_WS_N = 200


def _q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-weighted corpus sample: 200 docs drawn ∝ n_chars via
    the deterministic A-ES exponential-key trick
    (operators/sampling.py:weighted_sample) — the quality/length-
    proportional sampling stage of a data pipeline, reproducible
    across runs, engines, and partitionings."""
    from nycitibike_data_transform_spark.operators.sampling import weighted_sample

    docs = load(spark, sf_dir, "documents")["documents"].select(
        "doc_id", F.col("n_chars").alias("weight")
    )
    return weighted_sample(docs, "weight", n=_WS_N, id_col="doc_id")


_WEIGHTED_SAMPLE_SQL = f"""
WITH keyed AS (
  SELECT doc_id, n_chars AS weight,
         -ln(('0x' || substring(md5('ws:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
               / 4294967296.0
             + ('0x' || substring(md5('ws:' || CAST(doc_id AS VARCHAR)), 9, 8))::BIGINT
               / 18446744073709551616.0)
           / CAST(n_chars AS DOUBLE) AS k
  FROM documents
  WHERE n_chars IS NOT NULL AND n_chars > 0
)
SELECT doc_id, weight,
       CAST(row_number() OVER (ORDER BY k, doc_id) AS INTEGER) AS sample_rank
FROM keyed
ORDER BY k, doc_id
LIMIT {_WS_N}
"""

# --------------------------------------------- BPE merge induction

_BPE_K = 5


def _q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learn 5 BPE merges from the corpus (tokenizer training — the
    missing half next to bpe_token_count's application side). The
    iteration runs distributed with a 1-row argmax collect per round
    (the learned model parameter); the oracle replays the SAME 5
    rounds as a chained-CTE pipeline — an exact end-to-end gate on an
    iterative algorithm, like dedup_clusters' recursive-closure
    oracle. See operators/bpe.py for the greedy-merge-as-replace
    portability argument."""
    from nycitibike_data_transform_spark.operators.bpe import learn_bpe_merges

    docs = load(spark, sf_dir, "documents")["documents"]
    return learn_bpe_merges(docs, k=_BPE_K)


def _bpe_sql() -> str:
    from nycitibike_data_transform_spark.operators.bpe import bpe_merges_oracle_sql

    return bpe_merges_oracle_sql(_BPE_K)


_BPE_MERGES_SQL = _bpe_sql()

def _q_bpe_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The learned merges APPLIED: every distinct word segmented under
    the 5-round BPE model, with its piece count — the
    tokens-per-word compression the tokenizer buys. Shares the
    training loop with bpe_merges; the oracle extends the same
    chained-CTE replay with the final segmentation level."""
    from nycitibike_data_transform_spark.operators.bpe import learn_bpe_merges

    docs = load(spark, sf_dir, "documents")["documents"]
    _, seg = learn_bpe_merges(docs, k=_BPE_K, return_segmentation=True)
    pieces = F.split(F.expr("substring(rep, 2, length(rep) - 2)"), "><")
    return seg.select(
        "word",
        "freq",
        F.size(pieces).cast("int").alias("n_pieces"),
        F.concat_ws(" ", pieces).alias("pieces"),
    )


def _bpe_segment_sql() -> str:
    from nycitibike_data_transform_spark.operators.bpe import bpe_segment_oracle_sql

    return bpe_segment_oracle_sql(_BPE_K)


_BPE_SEGMENT_SQL = _bpe_segment_sql()

# -------------------------------------- quantized retrieval agreement

_QT_K = 5
_QT_N_QUERIES = 50


def _q_quantized_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Does int8 quantization preserve retrieval? Per query vector,
    the top-5 neighbors under exact float cosine vs under
    QUANTIZED-code cosine, reporting the per-query overlap — the
    audit that must pass before an export ships quantized vectors.

    Key identity: the symmetric scales cancel in cosine
    ((q_a·q_b·s_a·s_b)/(‖q_a‖s_a·‖q_b‖s_b) = q_a·q_b/(‖q_a‖‖q_b‖)),
    so the quantized ranking is pure INTEGER dot products over the
    int8 codes — exact in both engines (64-dim · 127² sums fit a
    double exactly, so even DuckDB's double fold is exact), ties
    broken by neighbor_id. The query side is a bounded 50-vector
    subset broadcast against the corpus (the same reviewed brute
    shape as cosine_topk; banded tiers are the scale path for the
    search itself — this query is the quality AUDIT, run on a
    sample). Malformed vectors are excluded on both engines
    (valid_embedding — review finding: the oracle's unnest silently
    drops empty arrays); codes come from the SAME int8_codes helper
    the export query uses, so the audited quantizer IS the shipped
    one."""
    from nycitibike_data_transform_spark.functions.vectors import (
        int8_codes,
        int8_scale,
        valid_embedding,
    )
    from nycitibike_data_transform_spark.operators.similarity import cosine_topk

    emb = load(spark, sf_dir, "embeddings")["embeddings"].filter(
        valid_embedding("embedding")
    )
    scale = int8_scale("embedding").alias("__scale")
    codes = int8_codes("embedding", F.col("__scale"))
    norm2 = F.aggregate(
        F.col("__codes"),
        F.lit(0).cast("long"),
        lambda acc, c: acc + (c * c).cast("long"),
    )
    vec = (
        emb.select("vec_id", "embedding", scale)
        .withColumn("__codes", codes)
        .select("vec_id", "__codes", norm2.alias("__n2"))
    )
    qside = vec.filter(F.col("vec_id") < _QT_N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("__codes").alias("__qcodes"),
        F.col("__n2").alias("__qn2"),
    )
    dotq = F.aggregate(
        F.zip_with(F.col("__codes"), F.col("__qcodes"), lambda a, b: (a * b)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    pairs = vec.join(
        F.broadcast(qside), F.col("vec_id") != F.col("query_id")
    ).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        F.when(
            (F.col("__n2") == 0) | (F.col("__qn2") == 0), F.lit(None).cast("double")
        )
        .otherwise(
            dotq.cast("double")
            / (F.sqrt(F.col("__qn2").cast("double")) * F.sqrt(F.col("__n2").cast("double")))
        )
        .alias("__cosq"),
    )
    from pyspark.sql import Window

    qtop = (
        pairs.filter(F.col("__cosq").isNotNull())
        .withColumn(
            "__rk",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(
                    F.col("__cosq").desc(), F.col("neighbor_id")
                )
            ),
        )
        .filter(F.col("__rk") <= _QT_K)
        .select("query_id", "neighbor_id")
    )
    ftop = cosine_topk(
        emb, emb.filter(F.col("vec_id") < _QT_N_QUERIES), k=_QT_K
    ).select("query_id", "neighbor_id")
    overlap = ftop.join(qtop, ["query_id", "neighbor_id"]).groupBy("query_id").agg(
        F.count(F.lit(1)).alias("__n")
    )
    return (
        qside.select("query_id")
        .join(overlap, "query_id", "left")
        .select(
            "query_id",
            F.coalesce(F.col("__n"), F.lit(0)).cast("int").alias("n_common"),
            F.round(F.coalesce(F.col("__n"), F.lit(0)) / F.lit(float(_QT_K)), 6).alias(
                "agreement"
            ),
        )
    )


_QUANTIZED_TOPK_SQL = f"""
WITH base AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS xv,
         CAST(list_max(list_transform(embedding, x -> abs(x))) AS DOUBLE) / 127.0
             AS scale
  FROM embeddings
  WHERE embedding IS NOT NULL AND len(embedding) > 0
    AND len(list_filter(embedding, x -> x IS NULL
          OR isnan(CAST(x AS DOUBLE)) OR isinf(CAST(x AS DOUBLE)))) = 0
),
elems AS (
  SELECT vec_id, scale,
         generate_subscripts(xv, 1) AS i,
         unnest(xv) AS x
  FROM base
),
codes AS (
  SELECT vec_id,
         list(CAST(CASE WHEN scale = 0 THEN 0
                        ELSE CAST(round(x / scale) AS INTEGER) END AS DOUBLE)
              ORDER BY i) AS cv
  FROM elems
  GROUP BY vec_id
),
qcod AS (
  SELECT vec_id AS query_id, cv AS qv FROM codes WHERE vec_id < {_QT_N_QUERIES}
),
qscored AS (
  SELECT query_id, c.vec_id AS neighbor_id,
         CASE WHEN list_dot_product(qv, qv) * list_dot_product(cv, cv) = 0
              THEN NULL
              ELSE list_dot_product(qv, cv)
                   / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv)))
         END AS cosq
  FROM codes c, qcod
  WHERE query_id <> c.vec_id
),
qtop AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cosq DESC, neighbor_id) AS rk
    FROM qscored WHERE cosq IS NOT NULL
  ) WHERE rk <= {_QT_K}
),
fscored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         CASE WHEN sqrt(list_dot_product(q.xv, q.xv)) * sqrt(list_dot_product(c.xv, c.xv)) = 0
              THEN NULL
              ELSE list_dot_product(q.xv, c.xv)
                   / (sqrt(list_dot_product(q.xv, q.xv)) * sqrt(list_dot_product(c.xv, c.xv)))
         END AS cosine
  FROM base c, base q
  WHERE q.vec_id < {_QT_N_QUERIES} AND q.vec_id <> c.vec_id
),
ftop AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cosine DESC, neighbor_id) AS rk
    FROM fscored WHERE cosine IS NOT NULL
  ) WHERE rk <= {_QT_K}
),
overlap AS (
  SELECT f.query_id, count(*) AS n
  FROM ftop f JOIN qtop t USING (query_id, neighbor_id)
  GROUP BY 1
)
SELECT q.query_id,
       CAST(coalesce(o.n, 0) AS INTEGER) AS n_common,
       round(coalesce(o.n, 0) / {float(_QT_K)}, 6) AS agreement
FROM qcod q LEFT JOIN overlap o USING (query_id)
"""


QUERIES: dict[str, QuerySpec] = {
    "bpe_merges": QuerySpec(_q_bpe_merges, _BPE_MERGES_SQL),
    "bpe_segment": QuerySpec(_q_bpe_segment, _BPE_SEGMENT_SQL),
    "weighted_sample": QuerySpec(_q_weighted_sample, _WEIGHTED_SAMPLE_SQL),
    "quantized_topk": QuerySpec(_q_quantized_topk, _QUANTIZED_TOPK_SQL),
    "padded_batches": QuerySpec(_q_padded_batches, _PADDED_BATCHES_SQL),
    "embedding_quantize": QuerySpec(_q_embedding_quantize, _EMBEDDING_QUANTIZE_SQL),
    "token_budget_select": QuerySpec(_q_token_budget_select, _TOKEN_BUDGET_SQL),
    "global_shuffle": QuerySpec(_q_global_shuffle, _GLOBAL_SHUFFLE_SQL),
    "bigram_lm": QuerySpec(_q_bigram_lm, _BIGRAM_LM_SQL),
    "token_histogram": QuerySpec(_q_token_histogram, _TOKEN_HISTOGRAM_SQL),
    "containment_pairs": QuerySpec(_q_containment_pairs, _CONTAINMENT_SQL),
    "quality_logit": QuerySpec(_q_quality_logit, _QUALITY_LOGIT_SQL),
    "novelty_score": QuerySpec(_q_novelty_score, _NOVELTY_SQL),
    "split_leakage": QuerySpec(_q_split_leakage, _SPLIT_LEAKAGE_SQL),
    "cdc_chunks": QuerySpec(_q_cdc_chunks, _CDC_CHUNKS_SQL),
}
