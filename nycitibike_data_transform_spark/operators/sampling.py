"""Sampling & dataset-splitting operators (training-data pipeline
staples; north-star surface, SURVEY.md §2.9).

Everything here is **deterministic by key**, not RNG-by-row: a row's
assignment depends only on its id hash, so re-runs, retries, and
late-arriving partitions all agree — the property that matters when a
100 TB corpus is split once and consumed by many jobs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def hash_sample(df: DataFrame, fraction: float, id_col: str, seed: int = 0) -> DataFrame:
    """Keep ~fraction of rows, chosen by id hash (stable across runs
    and engines that share the hash; no shuffle — a pure filter that
    pushes into the scan stage)."""
    if not 0.0 <= fraction <= 1.0:
        raise ValueError(f"fraction must be in [0,1], got {fraction}")
    bucket = F.pmod(F.xxhash64(F.col(id_col), F.lit(seed)), F.lit(1_000_000))
    return df.filter(bucket < int(fraction * 1_000_000))


def train_test_split(
    df: DataFrame, id_col: str, test_fraction: float = 0.2, seed: int = 0
) -> tuple[DataFrame, DataFrame]:
    """Disjoint, exhaustive, deterministic (train, test) split by id
    hash. The same id always lands on the same side — join-safe for
    feature tables split independently."""
    if not 0.0 < test_fraction < 1.0:
        raise ValueError(f"test_fraction must be in (0,1), got {test_fraction}")
    bucket = F.pmod(F.xxhash64(F.col(id_col), F.lit(seed)), F.lit(1_000_000))
    cut = int(test_fraction * 1_000_000)
    return df.filter(bucket >= cut), df.filter(bucket < cut)


def weighted_sample(
    df: DataFrame, weight_col: str, n: int, id_col: str, seed: str = "ws"
) -> DataFrame:
    """Weighted sampling WITHOUT replacement, deterministic by key —
    Efraimidis–Spirakis A-ES: each row draws u ∈ (0,1) from its
    seeded md5, gets key = −ln(u)/w (exponential with rate w), and
    the n SMALLEST keys win; P(selected) is proportional to weight,
    without replacement, in one pass. Training-data use: sample a
    corpus ∝ quality score or token count without materializing a
    global shuffle.

    Determinism across engines: u is assembled from two exact 32-bit
    md5 chunks scaled by powers of two (one correctly-rounded add —
    bit-identical in any IEEE engine); ln is within-1-ulp per engine,
    and key ranks only flip if two keys collide to ~1e-16 relative —
    md5-derived keys sit ~1/n apart. Rows with weight ≤ 0 or NULL
    never qualify (the A-ES domain). Top-n runs as per-partition
    heaps (TakeOrdered), no global sort."""
    if n <= 0:
        raise ValueError(f"n must be positive, got {n}")
    h = F.md5(F.concat(F.lit(f"{seed}:"), F.col(id_col).cast("string")))
    a = F.conv(F.substring(h, 1, 8), 16, 10).cast("long")
    b = F.conv(F.substring(h, 9, 8), 16, 10).cast("long")
    u = a / F.lit(float(2**32)) + b / F.lit(float(2**64))
    w = F.col(weight_col).cast("double")
    keyed = (
        df.filter(F.col(weight_col).isNotNull() & (w > 0))
        .withColumn("__k", -F.log(u) / w)
        .orderBy(F.col("__k"), F.col(id_col))
        .limit(n)
    )
    from pyspark.sql import Window

    return keyed.withColumn(
        "sample_rank",
        F.row_number()
        .over(Window.orderBy(F.col("__k"), F.col(id_col)))
        .cast("int"),
    ).drop("__k")


def unimax_allocation(
    strata: DataFrame,
    group_cols: list[str],
    avail_col: str = "available_tokens",
    max_epochs: int = 4,
    budget_tokens: int | None = None,
    budget_ratio: float | None = None,
) -> DataFrame:
    """UniMax budget allocation (Chung et al., ICLR 2023): distribute a
    global token budget across strata as uniformly as possible, capping
    each stratum at ``max_epochs`` repetitions of its available tokens
    — the fairer successor to temperature sampling (``mixture_plan``)
    for multilingual/multi-source pretraining mixes.

    Closed-form waterfilling instead of the paper's iterative loop:
    with caps sorted ascending, the capped set is a PREFIX (if rank r's
    cap doesn't fit a uniform split of what remains, no larger cap
    does), so one pass of window functions over the per-stratum
    relation finds the split point j* = max rank where
    ``cap_r · (k − r + 1) ≤ B − P_{r−1}`` (P = cap prefix sum) and the
    uniform share ``U = (B − P_{j*}) / (k − j*)`` for the rest.
    Degenerate ends fall out: B ≥ Σcap ⇒ every stratum capped (full
    max_epochs everywhere); B < k·min(cap) ⇒ j* = 0 and everyone gets
    B/k.

    Scale shape: one map-side-combinable aggregate over the corpus
    produced ``strata`` upstream; everything here runs on the
    |strata| relation — bounded by the group-column enum domain
    (source × lang), never by corpus size — so the unpartitioned
    windows are the reviewed bounded-relation kind (GWIN family of
    source_mix_report). Determinism: caps and prefixes are exact
    longs; the only division is U, rounded to 6 decimals; ranking
    tie-breaks on the group columns.

    Exactly one of ``budget_tokens`` (absolute) / ``budget_ratio``
    (fraction of total available — scale-proportional, what a registry
    query wants so the split stays non-trivial at every SF) must be
    given.
    """
    from pyspark.sql import Window

    if (budget_tokens is None) == (budget_ratio is None):
        raise ValueError("pass exactly one of budget_tokens / budget_ratio")
    if max_epochs < 1:
        raise ValueError("max_epochs must be >= 1")
    if not group_cols:
        raise ValueError("group_cols must be non-empty")

    avail = F.col(avail_col).cast("long")
    cap = (avail * max_epochs).alias("cap_tokens")
    base = strata.select(*group_cols, avail.alias("available_tokens"), cap)

    everything = Window.partitionBy()  # bounded |strata| relation
    rank_w = everything.orderBy(
        F.col("cap_tokens").asc(), *[F.col(c).asc() for c in group_cols]
    )
    prefix_w = rank_w.rowsBetween(Window.unboundedPreceding, Window.currentRow)

    if budget_tokens is not None:
        b_expr = F.lit(int(budget_tokens)).cast("long")
    else:
        # ratio budget is relative to TOTAL AVAILABLE tokens (one epoch
        # of everything), scale-proportional by construction
        b_expr = F.floor(
            F.lit(float(budget_ratio)) * F.sum("available_tokens").over(everything)
        ).cast("long")

    ranked = base.select(
        "*",
        F.row_number().over(rank_w).alias("r"),
        F.count(F.lit(1)).over(everything).alias("k"),
        F.sum("cap_tokens").over(prefix_w).alias("p"),
        b_expr.alias("b"),
    )
    flagged = ranked.withColumn(
        "capped",
        (
            F.col("cap_tokens") * (F.col("k") - F.col("r") + 1)
            <= F.col("b") - (F.col("p") - F.col("cap_tokens"))
        ).cast("int"),
    )
    jstar = flagged.select(
        "*",
        F.coalesce(
            F.max(F.when(F.col("capped") == 1, F.col("r"))).over(everything),
            F.lit(0),
        ).alias("jstar"),
        F.coalesce(
            F.max(F.when(F.col("capped") == 1, F.col("p"))).over(everything),
            F.lit(0).cast("long"),
        ).alias("p_jstar"),
    )
    share = (F.col("b") - F.col("p_jstar")).cast("double") / (
        F.col("k") - F.col("jstar")
    ).cast("double")
    alloc = F.when(
        F.col("capped") == 1, F.col("cap_tokens").cast("double")
    ).otherwise(F.round(share, 6))
    epochs = F.when(F.col("available_tokens") == 0, F.lit(0.0)).otherwise(
        F.round(alloc / F.col("available_tokens").cast("double"), 6)
    )
    return jstar.select(
        *group_cols,
        "available_tokens",
        "cap_tokens",
        "capped",
        alloc.alias("allocation_tokens"),
        epochs.alias("epochs_used"),
    )
