"""Snapshot diff — row-level change classification between two
materializations of the same table.

The reference's materialization model is full refresh on a schedule
(SURVEY.md §2.1 S3): every run rewrites the table. The operational
question after each run is "what actually changed?" — the regression
gate that catches a silently-broken upstream before consumers do.

Shape: one full outer join on the key, comparing a single content
hash of the non-key columns computed BEFORE the join — so the shuffle
carries (key, hash) plus whatever columns the caller keeps, and the
comparison itself is one codegen'd equality, not N per-column
comparisons on the join output.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key: str | list[str],
) -> DataFrame:
    """Classify every key as added / removed / changed / unchanged.

    Returns ``(key columns..., status)``. Non-key columns are
    content-hashed per side (md5 of the concatenated canonical string
    forms, NULL-tagged so ``NULL`` and ``'NULL'`` differ); both inputs
    must share a schema. One shuffle per side on the key.

    Keys join null-safely (``eqNullSafe`` — ADVICE r4): a row whose
    key contains SQL NULL and exists in both snapshots is classified
    changed/unchanged like any other row, not double-reported as
    added + removed. NULL keys must still be unique per side, the
    same contract every other key value has."""
    keys = [key] if isinstance(key, str) else list(key)
    if set(old.columns) != set(new.columns):
        raise ValueError(
            f"schema mismatch: {sorted(old.columns)} vs {sorted(new.columns)}"
        )
    payload = [c for c in old.columns if c not in keys]

    def hashed(df: DataFrame, out: str) -> DataFrame:
        # NULL sentinel starts with a NUL byte no real string value
        # contains, so SQL NULL and the literal string "NULL" hash
        # differently
        # hash each column FIRST (fixed 32-hex tokens), then hash the
        # concatenation: value shifts across column boundaries
        # (('ab','c') vs ('a','bc')) cannot collide, unlike a plain
        # concat of raw values
        parts = [
            F.md5(F.coalesce(F.col(c).cast("string"), F.lit(chr(0) + "NULL")))
            for c in payload
        ]
        return df.select(
            *keys, F.md5(F.concat_ws("", *parts)).alias(out)
        )

    o = hashed(old, "__old_hash")
    n = hashed(new, "__new_hash").select(
        *[F.col(k).alias(f"__n_{k}") for k in keys], "__new_hash"
    )
    cond = None
    for k in keys:
        c = F.col(k).eqNullSafe(F.col(f"__n_{k}"))
        cond = c if cond is None else cond & c
    status = (
        F.when(F.col("__old_hash").isNull(), F.lit("added"))
        .when(F.col("__new_hash").isNull(), F.lit("removed"))
        .when(F.col("__old_hash") != F.col("__new_hash"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return o.join(n, cond, "full_outer").select(
        *[F.coalesce(F.col(k), F.col(f"__n_{k}")).alias(k) for k in keys],
        status.alias("status"),
    )
