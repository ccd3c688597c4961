"""Join operators beyond plain equi-joins (SURVEY.md §2.4 J4 — absent
in the reference, required for a complete query surface).

- ``as_of_join``: most-recent-match join (time-series enrichment).
  Spark has no native ASOF; this is the union + ordered-window
  formulation: one shuffle on (key), no per-group Python. Equivalent
  to DuckDB/QuestDB ASOF JOIN semantics: for each left row, the right
  row with the greatest right_ts <= left_ts.
- ``range_join``: non-equi interval join expressed so Catalyst can
  still broadcast the (small) range side.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def as_of_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    right_values: list[str],
    tolerance_seconds: int | None = None,
) -> DataFrame:
    """For each left row: values of the latest right row at-or-before
    its timestamp (per key). NULLs when no prior right row exists.

    Plan shape: tag + unionByName + one window over (key) ordered by
    (ts, side) — a single hash shuffle on the key, linear state, no
    O(n²) condition join. Right rows sort before left rows at equal
    timestamps, so an exactly-simultaneous right row IS visible
    (``right_ts <= left_ts`` semantics, matching SQL ASOF JOIN).

    The matched right row is carried as ONE struct through a single
    ``last(ignorenulls)`` — all projected values (NULL fields
    included) come from the same matched row, never an older row's
    value leaking through a per-column fill. Ties among right rows at
    equal (key, ts) resolve deterministically via a content-hash sort
    key.
    """
    overlap = set(right_values) & set(left.columns)
    if overlap:
        raise ValueError(f"right value columns collide with left columns: {sorted(overlap)}")

    l_tagged = left.withColumn("__side", F.lit(1)).withColumn("__ts", F.col(left_ts))
    r_tagged = right.select(
        F.col(key),
        F.col(right_ts).alias("__ts"),
        F.lit(0).alias("__side"),
        F.struct(
            F.col(right_ts).alias("__matched_ts"),
            *[F.col(v) for v in right_values],
        ).alias("__rrow"),
    )
    # allowMissingColumns pads the left side's __rrow with a NULL of
    # the right side's struct type (and vice versa for left columns).
    unioned = l_tagged.unionByName(r_tagged, allowMissingColumns=True)

    w = (
        Window.partitionBy(key)
        .orderBy("__ts", "__side", F.xxhash64(F.col("__rrow")))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    matched = unioned.select(
        *[c for c in left.columns],
        F.col("__side"),
        F.col("__ts"),
        F.last("__rrow", ignorenulls=True).over(w).alias("__m"),
    ).filter(F.col("__side") == 1)

    if tolerance_seconds is not None:
        usable = F.col("__m").isNotNull() & (
            F.unix_micros(F.col("__ts")) - F.unix_micros(F.col("__m")["__matched_ts"])
            <= tolerance_seconds * 1_000_000
        )
    else:
        usable = F.col("__m").isNotNull()
    # field access on a NULL-ed out struct yields NULL for every value
    # column — the no-match / out-of-tolerance row keeps its left side.
    return matched.select(
        *[c for c in left.columns],
        *[
            F.when(usable, F.col("__m")[v]).otherwise(F.lit(None)).alias(v)
            for v in right_values
        ],
    )


def range_join(
    fact: DataFrame,
    ranges: DataFrame,
    value: Column,
    lo: Column,
    hi: Column,
    how: str = "inner",
) -> DataFrame:
    """value ∈ [lo, hi) interval join; the range side is broadcast (it
    is a banding/tier table by construction — small)."""
    return fact.join(F.broadcast(ranges), (value >= lo) & (value < hi), how)
