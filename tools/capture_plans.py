"""Capture ``.explain("formatted")`` for registry queries.

Writes ``plans/r15/<query>_<tag>.txt`` for each named query (default:
the bench headline list) so optimization claims ("2 Exchange -> 1",
"SortMergeJoin -> BroadcastHashJoin") are checkable without running
Spark.

Usage: python tools/capture_plans.py [--tag before|after] [--sf SF_DIR]
                                     [query ...]
"""

from __future__ import annotations

import argparse
import io
import os
import sys
from contextlib import redirect_stdout

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from nycitibike_data_transform_spark.queries import all_queries
from nycitibike_data_transform_spark.session import get_spark

HEADLINE = [
    "stage_rides",
    "pricing_summary",
    "revenue_by_nation",
    "shipping_priority",
    "forecast_revenue",
    "window_topk_orders",
    "events_sessionize",
    "asof_purchase_click",
    "dedup_exact",
    "text_stats",
    "ngram_jaccard",
    "minhash_pairs",
    "cosine_topk",
]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--tag", default="before")
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--outdir", default=os.path.join(REPO, "plans", "r15"))
    ap.add_argument("queries", nargs="*")
    args = ap.parse_args()

    names = args.queries or HEADLINE
    os.makedirs(args.outdir, exist_ok=True)
    spark = get_spark("capture_plans")
    registry = all_queries()
    for name in names:
        if name not in registry:
            print(f"skip {name}: not in registry", file=sys.stderr)
            continue
        df = registry[name].spark(spark, args.sf)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        path = os.path.join(args.outdir, f"{name}_{args.tag}.txt")
        with open(path, "w") as fh:
            fh.write(buf.getvalue())
        print(f"wrote {path}")
    spark.stop()


if __name__ == "__main__":
    main()
