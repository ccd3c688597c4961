"""Bloom-filter membership prefilter — pure Column/aggregate
construction (no UDFs, no driver-side hashing of data rows).

Why it exists at 100 TB (DEPLOY.md's span_dedup / decontaminate
cuts): an exact semi-join against a keyed set shuffles or broadcasts
the full probe side. A Bloom filter of the set is kilobytes-to-
megabytes, has NO FALSE NEGATIVES, and so is a LOSSLESS prefilter in
front of any exact join: rows that fail the filter provably have no
match and never enter the shuffle; the small surviving fraction
(true matches + FPR·n) proceeds to the exact join unchanged. The
final result is bit-identical to the unfiltered plan — only the
shuffle volume changes.

Construction: each key row explodes to ``_K`` bit positions
(double-hashing h1 + i·h2, the standard Kirsch–Mitzenmacher scheme,
over xxhash64 — JVM-side), positions group into 64-bit words, and
``bit_or`` folds each word's set bits. Only the bounded final bitset
reaches the driver (m bits / 8 bytes — e.g. 2 MiB for m=2^24).

Plan representation (the part that matters, measured on the sf0.1
decontamination sweep entry): the bitset re-enters the plan as a
1-ROW BROADCAST RELATION carrying one array<long> column, probed
with O(1) ``element_at`` per hash — the same 1-row scalar-broadcast
shape this repo uses for global aggregates. Two rejected encodings:
an array-of-longs LITERAL (a 5000-child CreateArray expression tree
that codegen re-emits per probe — ~9 s of compile) and a hex-string
literal probed with substring (UTF8String position lookup is
O(position) PER ROW — ~30 s at 10⁶ probe rows). Data beats
expressions for large constants.

Sizing: FPR ≈ (1 - e^(-k·n/m))^k; with m = 16·n bits and k = 7 the
rate is ~0.8%. ``m_bits_for(n)`` is that rule for n distinct keys.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# hash count k — one constant shared by build and probe: a probe that
# tested more positions than the build set would reject true members
_K = 7


def m_bits_for(n_keys: int) -> int:
    """Bitset size for ``n_keys`` distinct keys: 16 bits per key
    (~0.8% FPR at k = 7), rounded up to whole 64-bit words."""
    return max(64, -(-(n_keys * 16) // 64) * 64)


def _hashes(col: Column, m_bits: int) -> tuple[Column, Column]:
    """(h1, h2) for Kirsch–Mitzenmacher double hashing — THE single
    definition both the builder and the prober use; a formula change
    here changes both sides together, so build and probe can never
    silently disagree on the bit layout (the lossless guarantee
    depends on them matching exactly).

    Reduce mod m BEFORE combining: raw xxhash64 values near Long.MAX
    overflow the ANSI multiply; reduced values keep every intermediate
    below k·m « 2^63. h2 is forced odd so the probe sequence cycles
    the table."""
    h1 = F.pmod(F.xxhash64(col), F.lit(m_bits))
    h2 = F.pmod(F.xxhash64(col, F.lit(0x9E3779B9)), F.lit(m_bits)).bitwiseOR(
        F.lit(1)
    )
    return h1, h2


def _positions(col: Column, m_bits: int) -> list[Column]:
    """k bit-position Columns for a key: pos_i = (h1 + i·h2) mod m."""
    h1, h2 = _hashes(col, m_bits)
    return [F.pmod(h1 + F.lit(i) * h2, F.lit(m_bits)) for i in range(_K)]


def bloom_build(
    df: DataFrame,
    col: str,
    m_bits: int = 1 << 20,
) -> list[int]:
    """Build the filter over the DISTINCT values of ``df[col]`` and
    return the dense ``m_bits/64``-long bitset (signed 64-bit words —
    the form ``bloom_prefilter`` consumes). The only driver transfer
    is the bounded final bitset."""
    if m_bits % 64 != 0:
        raise ValueError(f"m_bits must be a multiple of 64, got {m_bits}")
    n_words = m_bits // 64
    words = (
        df.select(F.col(col).alias("__key"))
        .filter(F.col("__key").isNotNull())
        .distinct()
        .select(
            F.explode(F.array(*_positions(F.col("__key"), m_bits))).alias("__pos")
        )
        .select(
            (F.col("__pos") / 64).cast("long").alias("__word"),
            F.call_function(
                "shiftleft",
                F.lit(1).cast("long"),
                F.pmod(F.col("__pos"), F.lit(64)).cast("int"),
            ).alias("__bit"),
        )
        .groupBy("__word")
        .agg(F.bit_or("__bit").alias("__bits"))
        .collect()
    )
    dense = [0] * n_words
    for r in words:
        dense[r["__word"]] = r["__bits"]
    return dense


def bloom_prefilter(df: DataFrame, col: str, bloom: list[int]) -> DataFrame:
    """Keep only rows whose ``col`` MIGHT be in the filtered set —
    the lossless prefilter (no false negatives; survivors are true
    matches plus the sizing FPR). NULL keys are dropped (NULL
    membership is NULL — matching semi-join semantics). Physical
    shape: the bitset enters as a 1-row broadcast cross join (a
    scalar broadcast, not a pair join) and each probe is an O(1)
    ``element_at`` into the array attribute."""
    m_bits = len(bloom) * 64
    spark = df.sparkSession
    bdf = spark.createDataFrame([(bloom,)], "__bloom array<bigint>")
    arr = F.col("__bloom")
    # materialize h1/h2 as columns once — the k probe conditions
    # otherwise each re-derive both xxhash64 calls (2k hash evals per
    # row instead of 2; filter conditions don't reliably CSE). The
    # formulas come from the SAME _hashes the builder uses.
    h1, h2 = _hashes(F.col(col), m_bits)
    probed = df.crossJoin(F.broadcast(bdf)).withColumns(
        {"__h1": h1, "__h2": h2}
    )
    tests = []
    for i in range(_K):
        pos = F.pmod(F.col("__h1") + F.lit(i) * F.col("__h2"), F.lit(m_bits))
        word = F.element_at(arr, (pos / 64).cast("int") + 1)
        bit = F.call_function(
            "shiftleft", F.lit(1).cast("long"), F.pmod(pos, F.lit(64)).cast("int")
        )
        tests.append(word.bitwiseAND(bit) != 0)
    cond = tests[0]
    for t in tests[1:]:
        cond = cond & t
    return probed.filter(cond).drop("__bloom", "__h1", "__h2")
