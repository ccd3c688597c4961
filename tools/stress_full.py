"""Registry scale stress (VERDICT r6 item #2): build a complete,
cross-table-consistent K× replica of ``$SPARK_GRAFT_SF_DIR`` (default
sf0.1; "sf1" at K=10) and time the FIRST execution of a fresh plan for
every registry query — or the named ones — at 1× and K×, reporting
per-query and per-family wall ratios.

Replica construction:

- ``lineitem`` / ``orders``: orderkey-shifted copies, both tables by
  the same shift so every replica line keeps its order (the warehouse
  growth mode — dimensions stay 1×, per-dimension fan-in grows K×).
- ``documents`` / ``embeddings``: id-shifted copies; the shift is a
  multiple of the decontamination modulus so benchmark membership is
  preserved, and document↔embedding id pairing is preserved per copy.
- ``events``: event_id- AND user_id-shifted copies — the user domain
  grows K× (sessionize/streak/funnel group counts grow linearly, the
  realistic growth mode), while the time span stays fixed (per-hour
  densities grow K×).
- dims (``region nation customer supplier part``) + the aux-NYC fixture
  inputs: unchanged (1×).

Reading the ratios: linear shapes should land ≈K (±JVM noise; small
queries are dominated by fixed per-job overhead and land well BELOW K).
Known super-linear-by-SEMANTICS queries — replica groups are K-cliques
of near-dups, so their TRUE OUTPUT grows ~K² — are listed in
``OUTPUT_QUADRATIC`` with the invariant that wall growth must stay far
below K² (pair-bounded, never corpus²-bounded).

Organic mode (``--organic[=PCT]``, VERDICT r8 item #6): the plain
replica makes every document a K-clique of exact copies — 100%
duplicated by construction, useless for measuring dedup CUT RATES or
the span Bloom auto-gate (ROUND8_NOTES). With ``--organic``, each
``documents`` copy is, deterministically per (doc_id, copy):

- with probability PCT% (default 7): a NEAR-DUP — every ~20th token
  mutated, the rest intact (MinHash/shingle similarity stays high);
- otherwise: a DISTINCT document — every token gets a copy-specific
  suffix (no shared shingles with any other copy).

``embeddings`` copies mirror the same per-(id, copy) coin so
document↔embedding dup status stays aligned: near copies keep the
vector exactly (cosine 1), distinct copies rotate it by ``copy mod
dim`` and sign-flip under a per-copy hash mask (near-zero expected
cosine for these random-ish vectors; the mask keeps copies past the
vector dimension decorrelated too).
``n_chars`` is recomputed from the transformed text. Everything else
(id shifts, other tables) matches the plain replica. Determinism: all
coins are hash(id, copy) — no RNG, rebuilds are bit-identical.

Usage: python tools/stress_full.py [K] [scratch_dir] [--organic[=PCT]] [query ...]
Prints one JSON line: {query: [t_1x, t_Kx, ratio, cpu_sec]} +
per-family rollup + a run-wide ``cpu_sec`` total. A family's
scale check is a name list, e.g. the TPC-H shapes (``pricing_summary
revenue_by_nation supplier_wait ...``) or the LLM data path
(``decontaminate dedup_clusters span_dedup ...``).

The 4th per-query element is the process-tree CPU-seconds of the K×
run (``bench.time_noop``), and the run-wide ``cpu_sec`` is their sum.
A co-tenant stretches the wall times several times more than the CPU,
so a ratio measured while something else burned the box reads as a
wall jump that its CPU does not follow.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
from functools import partial

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from bench import default_sf_dir, query_families, time_noop
from nycitibike_data_transform_spark.queries import all_queries
from nycitibike_data_transform_spark.queries.marts import _LAYOUT_FIXTURES
from nycitibike_data_transform_spark.session import get_spark

_DOC_SHIFT = 10_000_000  # multiple of 50 = decontamination modulus
_KEY_SHIFT = 1_000_000_000

# true output grows ~K² per replica dup-group; wall must stay << K²
OUTPUT_QUADRATIC = {
    "ngram_jaccard",
    "minhash_pairs",
    "dedup_near",
    "dedup_clusters",
    "containment_pairs",
    "crossmodal_dup_check",
    "fuzzy_name_pairs",
    "edit_distance_pairs",
    "span_dedup",
    "split_leakage",
}


def _replicate(df, factor: int, shifts: dict[str, int]):
    big = df
    for i in range(1, factor):
        copy = df
        for col, step in shifts.items():
            copy = copy.withColumn(col, F.col(col) + F.lit(i * step))
        big = big.unionByName(copy)
    return big


def _near_coin(id_col: str, i: int, rate_pct: int):
    """Deterministic per-(id, copy) coin: True → this copy is a
    near-dup of the original; shared by documents and embeddings so
    their dup status stays aligned (vec_id pairs doc_id per copy)."""
    return F.pmod(F.xxhash64(F.col(id_col), F.lit(i)), F.lit(100)) < rate_pct


def _organic_documents(df, factor: int, rate_pct: int):
    copies = [df]
    for i in range(1, factor):
        near_txt = F.array_join(
            F.expr(
                f"transform(split(text, ' '), (t, j) -> "
                f"IF(pmod(hash(t, j, {i}), 20) = 0, concat(t, '~'), t))"
            ),
            " ",
        )
        dist_txt = F.array_join(
            F.expr(f"transform(split(text, ' '), t -> concat(t, '_{i}'))"), " "
        )
        copies.append(
            df.withColumn(
                "text", F.when(_near_coin("doc_id", i, rate_pct), near_txt).otherwise(dist_txt)
            )
            .withColumn("doc_id", F.col("doc_id") + F.lit(i * _DOC_SHIFT))
            .withColumn("n_chars", F.length(F.coalesce(F.col("text"), F.lit(""))))
        )
    out = copies[0]
    for c in copies[1:]:
        out = out.unionByName(c)
    return out


def _organic_embeddings(df, factor: int, rate_pct: int):
    copies = [df]
    for i in range(1, factor):
        # decorrelate DISTINCT copies: rotate by i mod dim, then flip
        # signs under a per-copy hash mask. Rotation alone is wrong
        # twice over for factor > dim (both found at the first K=100
        # organic build): a literal i makes the slice length negative
        # (crash), and i mod dim alone makes copies i and i+dim carry
        # IDENTICAL vectors — whole "distinct" copies become exact
        # dup cliques and the measured cut rate lies. The hash mask
        # is keyed by (element index, copy), so any two copies agree
        # on ~half the signs and their expected cosine is ~0.
        rot = F.expr(
            f"transform("
            f"  concat(slice(embedding, pmod({i}, size(embedding)) + 1, "
            f"         size(embedding) - pmod({i}, size(embedding))), "
            f"         slice(embedding, 1, pmod({i}, size(embedding)))), "
            f"  (x, j) -> IF(pmod(hash(j, {i}), 2) = 0, x, -x))"
        )
        copies.append(
            df.withColumn(
                "embedding",
                F.when(_near_coin("vec_id", i, rate_pct), F.col("embedding")).otherwise(rot),
            ).withColumn("vec_id", F.col("vec_id") + F.lit(i * _DOC_SHIFT))
        )
    out = copies[0]
    for c in copies[1:]:
        out = out.unionByName(c)
    return out


def build(
    spark, factor: int, src: str, base: str, organic_pct: int | None = None
) -> None:
    """Write the K× replica of every table under ``src`` to ``base``."""
    plans = {
        "lineitem": {"l_orderkey": _KEY_SHIFT},
        "orders": {"o_orderkey": _KEY_SHIFT},
        "documents": {"doc_id": _DOC_SHIFT},
        "embeddings": {"vec_id": _DOC_SHIFT},
        "events": {"event_id": _DOC_SHIFT, "user_id": _DOC_SHIFT},
    }
    for table in (
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    ):
        df = spark.read.parquet(f"{src}/{table}.parquet")
        if organic_pct is not None and table == "documents":
            out = _organic_documents(df, factor, organic_pct)
        elif organic_pct is not None and table == "embeddings":
            out = _organic_embeddings(df, factor, organic_pct)
        elif table in plans:
            out = _replicate(df, factor, plans[table])
        else:
            out = df
        out.repartition(32).write.mode("overwrite").parquet(
            f"{base}/{table}.parquet"
        )


def time_fresh(
    spark, sf_dir: str, name: str, runs: int = 1
) -> tuple[float, float]:
    """``(wall, cpu)`` seconds of the fastest of ``runs`` fresh runs."""
    build = partial(all_queries()[name].spark, spark, sf_dir)
    best = (float("inf"), 0.0)
    for _ in range(runs):
        # the shared clustered-snapshot FIXTURE (r11) must clear before
        # EVERY run, and SYMMETRICALLY: a fixture pre-built at 1× but
        # not at K× turns the first layout query's ratio into
        # read-vs-build-plus-read — a 35× phantom (observed live).
        # time_noop clears the EAGER memo itself.
        for k in list(_LAYOUT_FIXTURES):
            shutil.rmtree(_LAYOUT_FIXTURES.pop(k)["tmp"], ignore_errors=True)
        (wall,), (cpu,) = time_noop(build, 1)
        best = min(best, (wall, cpu))
    return round(best[0], 2), round(best[1], 2)


def main() -> None:
    argv = list(sys.argv[1:])
    organic_pct: int | None = None
    for a in list(argv):
        if a.startswith("--organic"):
            organic_pct = int(a.split("=", 1)[1]) if "=" in a else 7
            argv.remove(a)
    factor = int(argv[0]) if argv else 10
    base = argv[1] if len(argv) > 1 else f"/tmp/spark_graft_full_{factor}x"
    src = default_sf_dir()
    registry = all_queries()
    names = argv[2:] or list(registry)
    families = query_families(registry)
    spark = get_spark("stress_full")
    marker = f"{factor}:organic={organic_pct}"
    built = f"{base}/_BUILT"
    if not (os.path.exists(built) and open(built).read() == marker):
        build(spark, factor, src, base, organic_pct)
        open(built, "w").write(marker)
    # session warmup: JVM/codegen cold-start otherwise lands entirely
    # on the first few 1× timings and poisons their ratios
    for w in ("pricing_summary", "text_stats", "dedup_exact"):
        time_fresh(spark, src, w)

    out: dict[str, list[float]] = {}
    fam: dict[str, list[float]] = {}
    cpu_total = 0.0
    for name in names:
        try:
            # min-of-2 on the small 1× side (discards residual compile
            # noise); single fresh run at K× where real work dominates
            t1, _ = time_fresh(spark, src, name, runs=2)
            tk, cpu = time_fresh(spark, base, name)
        except Exception as exc:  # keep the sweep going; report the failure
            out[name] = [str(exc)[:120]]  # type: ignore[list-item]
            continue
        cpu_total += cpu
        ratio = round(tk / t1, 2) if t1 > 0 else float("inf")
        out[name] = [t1, tk, ratio, cpu]
        f = families[name]
        fam.setdefault(f, [0.0, 0.0])
        fam[f][0] += t1
        fam[f][1] += tk
        print(
            f"{name}: {t1} -> {tk}  ({ratio}x)  [cpu {cpu}s]",
            file=sys.stderr,
            flush=True,
        )
    rollup = {
        f: [round(a, 1), round(b, 1), round(b / a, 2) if a else None]
        for f, (a, b) in sorted(fam.items())
    }
    print(
        json.dumps(
            {
                "factor": factor,
                "queries": out,
                "families": rollup,
                "cpu_sec": round(cpu_total, 1),
            }
        )
    )


if __name__ == "__main__":
    main()
