"""Layout-family scale evidence, DECOMPOSED (r12): build the shared
clustered/z-ordered lineitem fixture ONCE per scale factor, then time
each pruned READ separately — the number the whole-query stress
(`stress_full.py`) cannot show, because its fixture-clearing fresh-run
discipline charges every layout query the full O(table) build.

At 100 TB the build is the one-time ingest/compaction job (linear in
data, embarrassingly parallel); the reads are the recurring workload.
The claim that must survive a 100x scale-up is "pruned reads stay
O(matching files), not O(table)" — this tool measures exactly that,
with the file-skipping counts alongside the wall times:

    python tools/stress_layout_reads.py /root/testdata/sf0.1 /tmp/sf10

(no argument: ``$SPARK_GRAFT_SF_DIR``, default sf0.1)

prints one JSON line per sf_dir:
    {"sf_dir": ..., "build_sec": ..., "reads": {name:
        {"cold_sec": ..., "min_sec": ..., "files_opened": N,
         "files_total": M, "rows": R}}}

Reads mirror the five registry layout queries (same columns, bounds,
versions — see queries/marts.py) plus the Morton read on v5. Timing
is first-execution ("cold", includes codegen) and min-of-3; file
counts come from the executed plan's inputFiles() vs the version
manifest. Timing runs through ``bench.time_noop``; read_* builds a
fresh plan per call, so its eager-memo clear is a no-op here.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import default_sf_dir, time_noop  # noqa: E402
from nycitibike_data_transform_spark.queries.marts import (  # noqa: E402
    _LAYOUT_VERSIONS,
    _POINTSET_KEYS,
    _ZORDER_VERSION,
    _clustered_lineitem,
)
from nycitibike_data_transform_spark.session import get_spark  # noqa: E402


def main() -> None:
    sf_dirs = sys.argv[1:] or [default_sf_dir()]
    spark = get_spark("stress_layout_reads")
    for sf_dir in sf_dirs:
        t0 = time.time()
        table = _clustered_lineitem(spark, sf_dir)
        build_sec = round(time.time() - t0, 2)

        # one (name, version, thunk) row per read: the version drives
        # BOTH the thunk and the files_total denominator, so the two
        # can never drift apart (r12 review finding)
        def reads(v):
            return [
                ("zonemap_range", v["l_shipdate"], lambda: table.read_range(
                    spark, "l_shipdate",
                    dt.datetime(1996, 1, 1), dt.datetime(1996, 3, 31),
                    version=v["l_shipdate"])),
                ("pointset_in", v["l_orderkey"], lambda: table.read_in(
                    spark, "l_orderkey", _POINTSET_KEYS,
                    version=v["l_orderkey"])),
                ("topk_price", v["l_extendedprice"], lambda: table.read_topk(
                    spark, "l_extendedprice", 100,
                    tiebreak=("l_orderkey", "l_linenumber"),
                    version=v["l_extendedprice"])),
                ("topk_date", v["l_shipdate"], lambda: table.read_topk(
                    spark, "l_shipdate", 100,
                    tiebreak=("l_orderkey", "l_linenumber"),
                    version=v["l_shipdate"])),
                ("topk_decimal", v["l_extendedprice"], lambda: table.read_topk(
                    spark, "l_price_d", 100, ascending=True,
                    tiebreak=("l_orderkey", "l_linenumber"),
                    version=v["l_extendedprice"])),
                ("zorder_range", v["zorder"], lambda: table.read_range(
                    spark, "l_extendedprice", 900.0, 1500.0,
                    version=v["zorder"])),
            ]

        out: dict[str, dict] = {}
        versions = dict(_LAYOUT_VERSIONS, zorder=_ZORDER_VERSION)
        for name, version, mk in reads(versions):
            runs, _ = time_noop(mk, 3)
            # file/row audit OUTSIDE the timing loop: one extra
            # execution total, not one per timed run (r12 review)
            df = mk()
            opened = len(df.inputFiles())
            rows = df.count()
            total = len(table.manifest(version)["files"])
            out[name] = {
                "cold_sec": round(runs[0], 3),
                "min_sec": round(min(runs), 3),
                "files_opened": opened,
                "files_total": total,
                "rows": rows,
            }
        print(
            json.dumps(
                {"sf_dir": sf_dir, "build_sec": build_sec, "reads": out}
            ),
            flush=True,
        )


if __name__ == "__main__":
    main()
