"""Benchmark harness — headline queries at $SPARK_GRAFT_SF_DIR.

Prints ONE JSON line:
``{"metric": "...", "value": N, "unit": "sec", "queries": {...},
"cpu_sec": N, "registry_cpu_sec": N, ..., "sf": ...}``

Each query runs end-to-end (scan → plan → execute) and is fully
materialized through the ``noop`` sink (executes every partition,
writes nothing — pure engine throughput, no driver collect).

The record holds wall-clock minimums beside per-query CPU-seconds of
this process tree (this Python process, the Spark JVM and its Python
workers; ``perfbench.run.tree_cpu_s``). A co-tenant on the box
stretches the walls several times more than it moves the CPU-seconds,
so a wall/CPU ratio that moves while CPU holds is box noise, not the
code. There is no contamination gate: the keys the old box forensics
wrote (calibration, foreign CPU, drain wait, contamination verdict)
stay on the stdout line stamped ``null``, because external harnesses
parse that line, and the exit code is 0 whenever the record is
written.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time
from functools import partial

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from nycitibike_data_transform_spark.queries import _EAGER_CACHE, all_queries
from nycitibike_data_transform_spark.session import default_parallelism, get_spark
from perfbench.run import tree_cpu_s

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

# stdout keys of the retired box forensics, kept (as null) for parsers
RETIRED_KEYS = (
    "calib_cpu_1t_sec",
    "calib_cpu_nt_sec",
    "calib_cpu_threads",
    "calib_degraded_ratio",
    "calib_recalibrated",
    "contaminated",
    "contamination_reasons",
    "foreign_cpu_sec",
    "ancestor_cpu_sec",
    "idle_wait_sec",
)


def default_sf_dir() -> str:
    """The input dir: ``$SPARK_GRAFT_SF_DIR``, else the sf0.1 testdata."""
    return os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def time_noop(build, runs: int) -> tuple[list[float], list[float]]:
    """``(wall_seconds, cpu_seconds)`` of ``runs`` fresh runs of
    ``build()`` into the ``noop`` sink (executes every partition,
    writes nothing), one entry per run in each list.

    Fresh means the EAGER verdict memo is cleared before EVERY run
    (ADVICE r10), so an eager query is rebuilt rather than handed back
    as the previous run's checkpointed frame; plan construction is
    inside the timed region. The shared clustered-snapshot fixture
    (``queries.marts._LAYOUT_FIXTURES``) is NOT cleared: it is
    precomputed table state (a layout on disk), not part of the query.

    The CPU is this process tree's (reaped children included), sampled
    just outside the wall window so the /proc scan is not timed.
    """
    times, cpu = [], []
    for _ in range(runs):
        _EAGER_CACHE.clear()
        c0 = tree_cpu_s()
        t0 = time.time()
        build().write.mode("overwrite").format("noop").save()
        times.append(time.time() - t0)
        cpu.append(tree_cpu_s() - c0)
    return times, cpu


def query_families(registry) -> dict[str, str]:
    """Map every registry query name to its source module (family) —
    derived from the callables themselves so a new query module can
    never drift out of sync with this sweep."""
    return {
        name: spec.spark.__module__.rsplit(".", 1)[-1]
        for name, spec in registry.items()
    }


def main() -> None:
    sf_dir = default_sf_dir()
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None

    load_before = os.getloadavg()
    # Console-progress bars interleave with stdout under the driver's
    # pipe capture and can push the JSON line out of its tail window
    # (BENCH_r05 arrived with "parsed": null for exactly this reason) —
    # keep the bench session's stderr silent.
    spark = get_spark("bench", extra_conf={"spark.ui.showConsoleProgress": "false"})
    registry = all_queries()
    timings: dict[str, float] = {}
    medians: dict[str, float] = {}
    cpu: dict[str, float] = {}
    for name in HEADLINE:
        build = partial(registry[name].spark, spark, sf_dir)
        time_noop(build, 1)  # warm (JIT, page cache)
        # min damps scheduler noise; median shows spread
        walls, cpus = time_noop(build, 3)
        runs = sorted(walls)
        timings[name] = round(runs[0], 3)
        medians[name] = round(runs[len(runs) // 2], 3)
        cpu[name] = min(cpus)

    # Full-registry sweep (VERDICT r4 item #8): every query once, so
    # regressions in non-headline queries (rollup/cube, llmdata tail)
    # are visible round-over-round. The headline numbers above carry
    # the min-of-3 precision; this pass is a coverage net, reported per
    # family and per query. First sweep executions are COLD: they
    # include plan + whole-stage-
    # codegen compile, which dominates for wide-aggregate queries
    # (simhash's 64 agg buffers: ~13 s compile, ~1.5 s warm). Compare
    # sweep numbers cold-to-cold across rounds, not to headline mins.
    # SPARK_GRAFT_SWEEP_RUNS=N re-runs each sweep entry min-of-N
    # (VERDICT r6 item #7: the r6 single-run sweep was hard to read
    # under ambient load). Default 2 since r14 (VERDICT r13 item 5):
    # the sweep was the driver's only cold-single-run surface and its
    # r13 reading (244.9 s under residual load) diverged 43% from a
    # clean judge run (171.4 s) — min-of-2 makes driver sweeps
    # comparable to clean runs, and the detail file still records the
    # cold first-run number per query alongside the min. The CPU is
    # the min too: the first run's also carries the compile.
    sweep_runs = max(1, int(os.environ.get("SPARK_GRAFT_SWEEP_RUNS", "2")))
    families = query_families(registry)
    registry_timings: dict[str, float] = {}
    registry_first: dict[str, float] = {}
    registry_cpu: dict[str, float] = {}
    family_totals: dict[str, float] = {}
    for name, spec in registry.items():
        runs, cpus = time_noop(partial(spec.spark, spark, sf_dir), sweep_runs)
        registry_first[name] = round(runs[0], 3)
        dt = min(runs)
        registry_timings[name] = round(dt, 3)
        registry_cpu[name] = round(min(cpus), 3)
        fam = families[name]
        family_totals[fam] = family_totals.get(fam, 0.0) + dt
    registry_total = round(sum(registry_timings.values()), 3)
    family_totals = {k: round(v, 3) for k, v in sorted(family_totals.items())}

    # Second headline window (VERDICT r12 item 2a): re-run the headline
    # block AFTER the ~3-minute registry sweep and fold per-query mins
    # across both windows. A transient co-tenant contending with the
    # first block cannot own the graded number unless it also spans the
    # second window minutes later. The CPU folds the same way: a run's
    # tree CPU also carries the JVM's background JIT and GC work, which
    # fades as the session warms, so the min is the query's own cost.
    timings_early = dict(timings)
    timings_late: dict[str, float] = {}
    for name in HEADLINE:
        runs, cpus = time_noop(partial(registry[name].spark, spark, sf_dir), 2)
        timings_late[name] = round(min(runs), 3)
        timings[name] = min(timings[name], timings_late[name])
        cpu[name] = round(min(cpu[name], *cpus), 3)
    total = round(sum(timings.values()), 3)
    total_early = round(sum(timings_early.values()), 3)
    total_late = round(sum(timings_late.values()), 3)
    load_after = os.getloadavg()
    # The stdout line is kept COMPACT (headline + totals + per-family)
    # so it survives the driver's bounded tail capture; the full
    # payload — per-query sweep timings and headline medians — goes to
    # BENCH_DETAIL.json beside this script for the judge.
    compact = {
        "metric": "headline_queries_total_runtime",
        "value": total,
        "unit": "sec",
        "queries": timings,
        # the two windows' own totals: agreement between them is the
        # in-payload signal that no transient co-tenant owned either
        # block (value = sum of per-query mins across both)
        "value_early_window": total_early,
        "value_late_window": total_late,
        "registry_total_sec": registry_total,
        "registry_families": family_totals,
        "loadavg_before": [round(x, 2) for x in load_before],
        "loadavg_after": [round(x, 2) for x in load_after],
        **dict.fromkeys(RETIRED_KEYS),
        # requested core count echoed into the record (VERDICT r15
        # item 2): the driver's scaling probe compares runs at
        # different $SPARK_GRAFT_CPUS and needs the payload itself to
        # say which width it ran at (the master is local[cpus],
        # session.py)
        "cpus": default_parallelism(),
        "sf": sf,
        # process-tree CPU-seconds beside "value" and
        # "registry_total_sec": a co-tenant moves these far less
        "cpu_sec": round(sum(cpu.values()), 3),
        "registry_cpu_sec": round(sum(registry_cpu.values()), 3),
    }
    detail = dict(compact)
    # provenance (VERDICT r12 nit: the working-tree copy is overwritten
    # by every run — driver's, judge's, builder's — and its origin was
    # only discoverable via git)
    detail["generated_unix"] = round(time.time(), 1)
    detail["sf_dir"] = sf_dir
    detail["queries_early"] = timings_early
    detail["queries_late"] = timings_late
    detail["queries_median"] = medians
    detail["queries_cpu_sec"] = cpu
    detail["registry_queries"] = registry_timings
    detail["registry_queries_cpu_sec"] = registry_cpu
    detail["sweep_runs"] = sweep_runs
    if sweep_runs > 1:
        detail["registry_queries_first"] = registry_first
    detail_path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json")
    with open(detail_path, "w") as fh:
        json.dump(detail, fh, indent=1, sort_keys=True)
        fh.write("\n")
    sys.stdout.flush()
    print(json.dumps(compact), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
