"""Explicit skew-join handling (SURVEY.md §4 scale checklist).

AQE's skew-join split handles most hot-key cases at runtime, but it
only fires on sort-merge joins whose partition-size stats cross its
thresholds, and it can't help when a single KEY (not partition) is
hot enough that one reducer still drowns. Two surgical tools:

- ``hot_keys``: find keys whose row count exceeds a threshold — the
  diagnostic that decides whether skew handling is needed at all.
  One aggregation, returns a small keyed frame (broadcastable).
- ``skew_split_join``: hot keys (from ``hot_keys``) take a broadcast
  path against the matching small-side slice; cold keys take the
  normal shuffled join; results union. Row-identical to the single
  join (pinned by tests), but no reducer ever receives a hot key's
  full row set, and replication cost is paid only for the hot slice —
  unlike salting the join key, which replicates the whole small side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def hot_keys(df: DataFrame, keys: str | list[str], min_rows: int) -> DataFrame:
    """Keys with at least ``min_rows`` rows — the skew diagnostic.
    Returns the key columns plus ``n_rows``; small by construction
    (only keys crossing the threshold), safe to broadcast."""
    key_cols = [keys] if isinstance(keys, str) else list(keys)
    return (
        df.groupBy(*key_cols)
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .filter(F.col("n_rows") >= min_rows)
    )


def skew_split_join(
    big: DataFrame,
    small: DataFrame,
    on: str | list[str],
    hot: DataFrame,
    how: str = "inner",
) -> DataFrame:
    """Two-path join: rows whose key is in ``hot`` (see ``hot_keys``)
    join against a BROADCAST of the matching small-side slice; the
    cold remainder takes the normal shuffled join. The union is
    row-identical to the single join (pinned by tests).

    ``how`` supports 'inner' and 'left' (the fact⋈dim cases where
    skew actually bites)."""
    if how not in ("inner", "left"):
        raise ValueError(f"skew_split_join supports inner/left, got {how!r}")
    keys = [on] if isinstance(on, str) else list(on)
    hot_only = hot.select(*keys)
    big_hot = big.join(F.broadcast(hot_only), keys, "left_semi")
    big_cold = big.join(F.broadcast(hot_only), keys, "left_anti")
    small_hot = small.join(F.broadcast(hot_only), keys, "left_semi")
    hot_joined = big_hot.join(F.broadcast(small_hot), keys, how)
    cold_joined = big_cold.join(small, keys, how)
    return hot_joined.unionByName(cold_joined)
