"""Physical-plan audit over the whole query registry.

For every registry query, builds the plan at the given SF dir (no
execution beyond what plan construction needs — a handful of operators
legitimately run index-building actions, e.g. k-means centroids) and
reports the scale-relevant counts: shuffle exchanges, broadcast hash
joins, parquet scans, scanned-column total, plus red flags
(BroadcastNestedLoopJoin / CartesianProduct — quadratic row
processing). Writes PLAN_AUDIT.md at the repo root.

Usage: python tools/plan_audit.py [SF_DIR]
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from nycitibike_data_transform_spark.plans import (
    count_exchanges,
    formatted_plan,
    read_schema_columns,
)
from nycitibike_data_transform_spark.queries import all_queries
from nycitibike_data_transform_spark.session import get_spark

HEADER = """# PLAN AUDIT — physical-plan shape per registry query

Generated by `tools/plan_audit.py` at {sf_dir}. Columns:

- **exch** — shuffle exchanges (broadcast exchanges excluded).
- **bhj** — BroadcastHashJoin count (dims entering map-side).
- **scans** — parquet scans; **cols** — total columns actually read
  across scans (column-pruning evidence).
- **flags** — `BNLJ` BroadcastNestedLoopJoin, `CART` CartesianProduct
  (quadratic row processing — only acceptable on deliberately-exact
  small tiers), `SORT` global whole-dataset Sort (window sorts are
  local and top-k plans as TakeOrderedAndProject — neither flags),
  `GWIN` unpartitioned window (one WindowExec task sees every input
  row — only acceptable over bounded relations: TakeOrdered winners,
  bucket summaries, enum-domain aggregates).

| query | exch | bhj | scans | cols | flags |
|---|---|---|---|---|---|
"""


_GLOBAL_SORT = re.compile(r"\(\d+\) Sort\b.*?Arguments: \[[^\]]*\], (\w+),", re.S)


def _has_unpartitioned_window(plan: str) -> bool:
    """True when any windowspecdefinition has NO partition columns —
    the whole input funnels through ONE WindowExec task (the runtime
    'No Partition Defined' warning, made statically auditable —
    VERDICT r7 item #6). Partition columns print first inside
    windowspecdefinition as bare attributes; an unpartitioned spec
    starts with a sort order (`col ASC/DESC ...`) or directly with
    specifiedwindowframe."""
    for m in re.finditer(r"windowspecdefinition\(", plan):
        i, depth, first = m.end(), 0, []
        while i < len(plan):
            c = plan[i]
            if c == "(":
                depth += 1
            elif c == ")":
                if depth == 0:
                    break
                depth -= 1
            elif c == "," and depth == 0:
                break
            first.append(c)
            i += 1
        arg = "".join(first).strip()
        if (
            arg.startswith("specifiedwindowframe")
            or " ASC" in arg
            or " DESC" in arg
        ):
            return True
    return False


def audit_one(df) -> dict:
    plan = formatted_plan(df)
    flags = []
    if "BroadcastNestedLoopJoin" in plan:
        flags.append("BNLJ")
    if "CartesianProduct" in plan:
        flags.append("CART")
    # global Sort (Arguments: [...], true, ...) = whole-dataset sort
    # through the range-partitioned exchange; window sorts are local
    # (false) and top-k plans as TakeOrderedAndProject, neither flags
    if "true" in _GLOBAL_SORT.findall(plan):
        flags.append("SORT")
    if _has_unpartitioned_window(plan):
        flags.append("GWIN")
    return {
        "exch": count_exchanges(df),
        "bhj": len(re.findall(r"BroadcastHashJoin", plan)),
        "scans": len(re.findall(r"Scan parquet", plan)),
        "cols": sum(len(c) for c in read_schema_columns(df)),
        "flags": " ".join(flags) or "-",
    }


# reviewed flags — why each is deliberate, not a scale hazard
FLAG_NOTES = {
    "pack_sequences": "GWIN is the base-offset prefix sum over the "
    "256-row BUCKET-SUMMARY relation (two-level cumsum) — the per-row "
    "running sums are bucket-partitioned; no corpus-sized input ever "
    "enters the unpartitioned window.",
    "pack_render": "same two-level cumsum as pack_sequences: the only "
    "unpartitioned window runs over the 256 bucket totals.",
    "token_budget_select": "same two-level cumsum: the unpartitioned "
    "window input is the 256-row bucket-summary relation. BNLJ is the "
    "1-row band-parameter scalar (min/max score and id) broadcast-"
    "cross-joined onto the corpus — the in-plan replacement for the "
    "old two eager .first() range probes (OPTIMIZATION_r15).",
    "global_shuffle": "same two-level prefix sum as pack_sequences: "
    "within-bucket row_numbers are bucket-partitioned; the "
    "unpartitioned window sums the 256 bucket counts only.",
    "supplier_wait": "GWIN is the rank window over the 20 "
    "TakeOrderedAndProject winners (r8: the previous full-aggregate "
    "rank window was replaced by orderBy().limit(20)) — bounded by "
    "the LIMIT, not by the supplier dimension.",
    "user_streaks": "GWIN is the rank window over the 50 TakeOrdered "
    "winners — bounded by the LIMIT.",
    "weighted_sample": "GWIN is the rank window over the n "
    "TakeOrdered winners (A-ES keys) — bounded by the sample size, "
    "not the corpus.",
    "generic_tests_audit": "GWIN is the sequential_values lag window "
    "over the distinct day-ordinal relation — ≤181 rows, bounded by "
    "the 1995-H1 date span, never by corpus size; the range check "
    "windows per customer.",
    "source_mix_report": "GWIN is the token-share total over the "
    "(source, lang) aggregate — rows bounded by the source×lang enum "
    "domain, never by corpus size.",
    "zipf_fit": "GWIN is the cross-band offset window over the "
    "band-summary relation — ≤64 rows STRUCTURALLY (floor(log2(freq)) "
    "over the long range), the same two-level banded-rank shape as "
    "padded_batches/selection.py; the vocab-sized rank windows "
    "partition by band and the regression sums are map-side-combinable "
    "aggregates.",
    "unimax_mixture": "GWIN/SORT are the closed-form waterfilling windows "
    "(rank, prefix sum, split-point max) over the per-(source, lang) "
    "strata relation — rows bounded by the source×lang enum domain, "
    "never by corpus size (same bounded-relation family as "
    "source_mix_report); the corpus is touched once by the "
    "map-side-combinable token aggregate.",
    "perplexity_score": "BNLJ is the 1-row corpus-token-total scalar "
    "broadcast-cross-joined into the per-doc results — keeps ln(N) in-plan "
    "instead of a driver-side count().",
    "dsir_select": "BNLJ is the 1-row corpus-scalars broadcast (N_target, "
    "N_raw, |V|) cross-joined into the per-token vocab rows to form the "
    "smoothed log-ratio — a scalar broadcast (O(vocab) rows out), not a "
    "pair join; the ratio rejoins the (doc, token) stream as a token "
    "equi-join and the top-K is TakeOrderedAndProject.",
    "dsir_ngram_select": "same shape as dsir_select over hashed n-gram "
    "features: BNLJ is the 1-row corpus-scalars broadcast into the "
    "per-bucket table (bounded at B=10k rows at ANY corpus size), the "
    "ratio rejoins the (doc, bucket) stream as a bucket equi-join, and "
    "the top-K is TakeOrderedAndProject.",
    "mixture_plan": "BNLJ is the 1-row global-max scalar broadcast-cross-joined "
    "into the |sources|-row per-source aggregate — O(sources) rows out.",
    "resample_balanced": "BNLJ is the 1-row quota scalar broadcast-cross-joined "
    "into the corpus (O(n) rows out) — not a pair join.",
    "tfidf_top_terms": "BNLJ is the 1-row corpus-count scalar broadcast — keeps "
    "n_docs in-plan instead of a driver-side count().",
    "bm25_topk": "BNLJ is the 1-row (N, sum_dl) corpus-scalars broadcast "
    "cross-joined into the per-(doc, term) tf rows — O(matching rows) out, "
    "not a pair join; the df side is a |query_terms|-row broadcast and the "
    "top-k is TakeOrderedAndProject (same reviewed scalar-broadcast family "
    "as tfidf_top_terms/dsir_select).",
    "cosine_topk": "the exact brute tier over a bounded 50-vector query set: "
    "the BNLJ broadcasts the queries against the corpus, O(|queries|·n) "
    "dot products, linear in the corpus. Approximate search at scale is "
    "the explicit banded SRP or IVF tier (cosine_topk_lsh/_ivf rows).",
    "cosine_topk_lsh": "BNLJ belongs to the embedded EXACT top-k truth side of "
    "the r5 recall verdict (same reviewed brute tier as cosine_topk); the LSH "
    "candidate path under test stays (band, bucket) equi-join.",
    "cosine_topk_ivf": "same as cosine_topk_lsh: the BNLJ is the exact truth "
    "side of the recall verdict, not the IVF path (centroid-id equi-join).",
    "hash_sample": "BNLJ rows are the 1-row summary aggregates of the sampling "
    "verdict cross-joined into one row — scalar broadcasts, not a pair join.",
    "range_join_tiers": "non-equi range join — Spark has no native band join; "
    "the dim side is tiny and broadcast (O(n·tiers) work, not O(n²)).",
    "order_priority_check": "SORT is the presentation ORDER BY over the "
    "5-row per-priority aggregate — output domain is the priority enum, "
    "not the corpus.",
    "customer_distribution": "SORT orders the count-histogram output — "
    "rows bounded by the max per-customer order count, not the corpus.",
    "top_supplier": "SORT orders the argmax winners (suppliers tied at the "
    "max — a handful of rows at any scale).",
    "idle_rich_customers": "BNLJ is the 1-row (Σ balance-units, count) "
    "scalar broadcast-cross-joined into customers for the exact "
    "above-average test; SORT orders the 25-row per-nation output.",
    "important_parts": "BNLJ is the 1-row (Σ value, #parts) scalar "
    "broadcast-cross-joined into the per-part aggregate — O(parts) rows "
    "out, not a pair join.",
    "padded_batches": "SORT and GWIN are the cross-BAND offset window over "
    "log-banded length totals — ≤ ~1030 rows STRUCTURALLY (floor(16·log2) "
    "over the long range; r14 item 6 hardening: the former per-length "
    "window could reach millions of rows under byte-length tokenization at "
    "100 TB); per-length offsets within a band use a band-partitioned "
    "window.",
    "events_gapfill": "BNLJ is the dense-calendar cross join: hours-in-span "
    "× event-type domain — both bounded by time span / type enum, never by "
    "corpus size; the fact table only feeds the hourly count aggregate.",
    "quantized_topk": "the retrieval-quality AUDIT runs both exact tiers "
    "(float cosine + int-code cosine) over the bounded 50-query sample — "
    "the same reviewed brute shape as cosine_topk; production search uses "
    "the banded tiers, this query certifies the quantized export.",
    "embedding_near_dup": "BNLJ is the bounded probe-side broadcast of the "
    "r7 exact near-dup AUDIT (VERDICT r6 item #1): O(|probe|·n) dot "
    "products, linear in the corpus; the full-corpus grid tier is an "
    "explicit method='grid' opt-in, no longer a registry plan.",
    "embedding_dedup": "same probe-broadcast audit as embedding_near_dup: "
    "the SemDeDup drop rule certified for the bounded probe subset "
    "against the full corpus — linear, not the O(n²) grid.",
    "span_strip_bloom": "BNLJ is the 1-row Bloom-bitset broadcast "
    "cross-joined into the span stream (scalar broadcast, O(1) "
    "element_at probes) — the lossless prefilter in front of the "
    "span ⋈ duplicated-hash equi-join, not a pair join.",
    "decontaminate_bloom": "BNLJ is the 1-row Bloom-bitset broadcast "
    "cross-joined into the corpus shingles (a scalar broadcast carrying "
    "one array<long> attribute probed with O(1) element_at) — the "
    "lossless prefilter, not a pair join; the contamination join itself "
    "stays a shingle equi-join.",
    "mg_estimates": "BNLJ is the 1-row n_total scalar broadcast-cross-"
    "joined twice — into the merged sketch estimates (≤ partitions × "
    "sketch_size rows) for max_undercount, and into the exact-count "
    "verdict join for the bound checks. Both sites are scalar "
    "broadcasts, never pair joins; the exact groupBy exists only "
    "because this is the ORACLE-VERIFICATION query — production "
    "callers use mg_estimates precisely to avoid it.",
    "heavy_hitters": "BNLJ is the 1-row token-total scalar (summed "
    "from the checkpointed partition summaries) broadcast-cross-joined "
    "into the candidate counts for the n·k > total threshold — a "
    "scalar broadcast over ≤ partitions × sketch_size candidate rows, "
    "not a pair join; the full-data side meets the candidates via "
    "broadcast SEMI join.",
    "table_profile_approx": "BNLJ is the 1-row exact-tier aggregate "
    "scalar-joined to the 1-row HLL-tier aggregate (deliberately two "
    "separate aggregates: one combined plan replicates the HLL sketch "
    "buffers across every distinct-value group of the multi-"
    "countDistinct Expand — measured 83 s vs 5 s at sf0.1). Since "
    "OPTIMIZATION_r16 the exact tier adds one 1-row scalar fold per "
    "profiled column (plain two-phase distinct aggregates replacing "
    "the Expand — 2.647 -> 0.991 s on table_profile, min-of-5 "
    "interleaved).",
    "table_profile": "BNLJ is the per-column 1-row exact-NDV scalar "
    "folded onto the 1-row base-stats aggregate (OPTIMIZATION_r16: "
    "one plain two-phase distinct aggregate per profiled column, "
    "column-pruned scans, replaces the multi-countDistinct Expand "
    "that replicated every row 7x — 2.647 -> 0.991 s min-of-5 "
    "interleaved at sf0.1).",
}

# Queries whose construction EXECUTES driver-collect training rounds
# (the returned frame is a driver-local model artifact, so auditing
# its plan is vacuous — and building it here would re-run the full
# training just to audit a LocalTableScan; review finding). Their
# per-round job shapes are documented instead.
EAGER_NOTES = {
    "incremental_model": "runs the real Pipeline twice at construction "
    "(bootstrap feed, then the full feed merged incrementally) and "
    "returns the checkpointed converged table; run-2 shape: one "
    "watermark-filtered build (predicate pushed to the source scan) + "
    "partition-scoped merge rewriting only the touched shards.",
    "streaming_upsert_view": "runs the real availableNow stream at "
    "construction (file source → foreachBatch partition-scoped upsert "
    "merge) and returns the checkpointed converged view; per-batch "
    "shape: one batch-sized shuffle on the key + a partition-scoped "
    "copy-on-write snapshot commit (VersionedTable.write_version_cow) "
    "that rewrites only the touched partitions and hardlinks the rest.",
    "bpe_merges": "k driver-collect rounds; each round is a vocab-local "
    "pair count (map-side combinable, one shuffle on the pair key) + a "
    "1-row argmax — the same footprint as the IVF k-means trainer.",
    "bpe_segment": "same training loop as bpe_merges; the segmentation "
    "output is one narrow projection over the cached vocab.",
    "incremental_bucketed": "runs the real Pipeline twice at construction "
    "through BucketedIncrementalTable and returns the checkpointed "
    "converged table; run-2 shape: watermark-filtered build + "
    "bucket-granular COW merge (anti-join + union over ONLY the touched "
    "buckets' files, one bucketed-writer stage, untouched files "
    "hardlinked) — the registered snapshot scans with zero exchanges "
    "downstream (pinned in tests/test_bucketed_table.py).",
    "zonemap_scan": "builds a versioned snapshot + cluster_by compaction "
    "at construction and returns the checkpointed windowed read; read "
    "shape: zone-map pruned file list (manifest stats) + pushed BETWEEN "
    "residual filter — O(matching files), pinned in "
    "tests/test_versioning.py.",
    "topk_scan": "builds a price-clustered snapshot at construction and "
    "returns the checkpointed top-100 read; read shape: zone-map cutoff "
    "proof prunes files that provably hold no answer row, then "
    "TakeOrderedAndProject over the kept files only.",
    "topk_scan_date": "reads the SHARED clustered fixture's shipdate "
    "layout (v2) at construction and returns the checkpointed top-100 "
    "read; read shape: same cutoff proof as topk_scan with the cutoff "
    "established in canonicalized epoch-micros space and inverted "
    "through timestamp_micros into a pushed l_shipdate >= cutoff "
    "predicate — file pruning AND in-file row-group pruning on time.",
    "topk_scan_decimal": "reads the shared fixture's price layout (v4) "
    "at construction and returns the checkpointed bottom-100 read; "
    "read shape: cutoff established in scaled-int space, inverted "
    "through Decimal(m)·10^-scale into a pushed l_price_d <= cutoff "
    "predicate (the literal wears the cast, so it stays "
    "pushdown-eligible); output projects exact integer cents — the "
    "decimal machinery decides the row set, integers are the hashed "
    "surface.",
    "pointset_scan": "builds the same clustered snapshot as zonemap_scan "
    "at construction and returns the checkpointed IN-list read; read "
    "shape: gap-aware point-set file skipping (one bisect per file over "
    "the sorted key list) + the IN residual filter pushed to parquet.",
    "zorder_scan": "reads v5 (Morton z-order over shipdate×price) of the "
    "SHARED clustered-lineitem fixture — the zorder compaction (one "
    "bounded percentile_approx aggregate for the quantile grid, one "
    "repartitionByRange on the z-key) runs once per session inside the "
    "fixture build — and returns the checkpointed range read on the "
    "SECOND z-column; file skipping pinned per-dimension in "
    "tests/test_versioning.py.",
    "schema_evolution": "runs the real Pipeline twice at construction, "
    "the second run appending a nullable column; the versioned COW "
    "merge reads the pre-evolution snapshot under the evolved schema "
    "(NULL-filled), rewrites only touched partitions, and the returned "
    "frame is the checkpointed mixed-generation snapshot.",
    "streaming_source_mix": "runs a real availableNow stream at "
    "construction (4-file staged feed, one file per micro-batch) through "
    "the per-(source,lang) streaming aggregation in complete mode; "
    "per-batch shape: one map-side-combinable shuffle into the bounded "
    "|sources×langs| state store.",
    "streaming_user_totals": "runs a real availableNow stream at "
    "construction (4-file staged feed) through applyInPandasWithState "
    "in update mode; per-batch shape: one shuffle on user_id into the "
    "Arrow state operator, O(users) state; the verdict picks each "
    "user's final (monotone) emission with one window over the sink.",
}


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("plan_audit")
    rows = []
    for name, spec in all_queries().items():
        if name in EAGER_NOTES:
            rows.append(
                (name, {"exch": "—", "bhj": "—", "scans": "—", "cols": "—", "flags": "EAGER"})
            )
            continue
        try:
            rows.append((name, audit_one(spec.spark(spark, sf_dir))))
        except Exception as ex:  # pragma: no cover - diagnostic path
            rows.append((name, {"exch": "?", "bhj": "?", "scans": "?", "cols": "?", "flags": f"ERR {type(ex).__name__}"}))
    out = HEADER.format(sf_dir=sf_dir)
    for name, r in rows:
        out += f"| {name} | {r['exch']} | {r['bhj']} | {r['scans']} | {r['cols']} | {r['flags']} |\n"
    flagged = [
        n
        for n, r in rows
        if r["flags"] not in ("-", "EAGER") and not str(r["flags"]).startswith("ERR")
    ]
    out += (
        f"\n{len(rows)} queries audited; flagged: "
        + (", ".join(flagged) if flagged else "none")
        + "\n"
    )
    unreviewed = [n for n in flagged if n not in FLAG_NOTES]
    if flagged:
        out += "\n## Reviewed flags\n\n"
        for n in flagged:
            out += f"- **{n}** — {FLAG_NOTES.get(n, 'UNREVIEWED — investigate')}\n"
    if EAGER_NOTES:
        out += "\n## Eager (driver-training) queries — plan audit N/A\n\n"
        for n, note in EAGER_NOTES.items():
            out += f"- **{n}** — {note}\n"
    if unreviewed:
        out += f"\nUNREVIEWED flags present: {', '.join(unreviewed)}\n"
    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLAN_AUDIT.md"), "w") as f:
        f.write(out)
    print(out)
    spark.stop()


if __name__ == "__main__":
    main()
