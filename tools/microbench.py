"""Pre-commit plan-shape probe for a single registry query.

VERDICT r12 process note: the r12 "zero-shuffle" rewrite of
``repetition_strip`` was 70× slower and still reached a commit before
the full bench sweep caught it.  This tool is the missing pre-commit
step: time ONE registry query, min-of-N after a warm-up run, at a small
SF — seconds of feedback instead of a 4-minute sweep.

Workflow rule (ROUND13_NOTES): any diff that changes a registry query's
plan shape runs this FIRST, on both sides of the diff (``git stash``
makes that a 30-second check), and the before/after numbers go in the
commit message or round notes.

Usage::

    python tools/microbench.py repetition_strip                # sf0.01
    python tools/microbench.py span_strip --sf-dir /root/testdata/sf0.1
    python tools/microbench.py dedup_near --runs 5 --explain

Prints one JSON line: ``{"query": ..., "sf_dir": ..., "warm_sec": ...,
"min_sec": ..., "runs": [...], "exchanges": N, "cpu_sec": ...}``.
``cpu_sec`` is the least process-tree CPU-seconds of the timed runs
(``bench.time_noop``): probe numbers feed commit decisions, and a
co-tenant stretches ``min_sec`` several times more than ``cpu_sec``,
so a wall change that the CPU does not follow is box noise.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
from functools import partial

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _ROOT not in sys.path:
    sys.path.insert(0, _ROOT)

from bench import time_noop  # noqa: E402
from nycitibike_data_transform_spark.plans import count_exchanges  # noqa: E402
from nycitibike_data_transform_spark.queries import all_queries  # noqa: E402
from nycitibike_data_transform_spark.session import get_spark  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("query", help="registry query name (see queries())")
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--runs", type=int, default=3, help="timed runs after warm-up")
    ap.add_argument(
        "--explain", action="store_true", help="also print the formatted plan"
    )
    args = ap.parse_args()

    registry = all_queries()
    if args.query not in registry:
        sys.exit(f"unknown query {args.query!r}; try: {', '.join(sorted(registry))}")
    spark = get_spark(
        "microbench", extra_conf={"spark.ui.showConsoleProgress": "false"}
    )
    build = partial(registry[args.query].spark, spark, args.sf_dir)

    (warm,), _ = time_noop(build, 1)
    walls, cpus = time_noop(build, args.runs)
    runs = [round(t, 3) for t in walls]
    # an eager query's build is a memo hit here: the last timed run's frame
    df = build()
    if args.explain:
        df.explain("formatted")

    print(
        json.dumps(
            {
                "query": args.query,
                "sf_dir": args.sf_dir,
                "warm_sec": round(warm, 3),
                "min_sec": min(runs),
                "runs": runs,
                "exchanges": count_exchanges(df),
                "cpu_sec": round(min(cpus), 3),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
