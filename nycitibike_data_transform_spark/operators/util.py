"""Shared operator utilities."""

from __future__ import annotations

from pyspark.sql import DataFrame


def fan_out(df: DataFrame) -> DataFrame:
    """Ensure a CPU-heavy stage has at least cluster-parallelism
    partitions.

    Compact inputs (one small parquet file ⇒ one task) serialize
    compute-bound operators like shingling/hashing onto a single core;
    a round-robin repartition costs one narrow-ish shuffle of the raw
    bytes and buys full-width execution. No-op when the input is
    already wide enough — at real scale (thousands of splits) this
    never triggers.
    """
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    # NOTE: the .rdd width probe forces PHYSICAL PLANNING of df's
    # subtree at call time (no execution, but Catalyst runs). Cheap at
    # today's plan depths (VERDICT r15 §minor) — if a caller ever hangs
    # this off a very deep plan, prefer the width its source already
    # knows over this probe.
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)
