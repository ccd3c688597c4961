"""Benchmark harness — headline queries at $SPARK_GRAFT_SF_DIR.

Prints ONE JSON line:
``{"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}``

Each query runs end-to-end (scan → plan → execute) and is fully
materialized through the ``noop`` sink (executes every partition,
writes nothing — pure engine throughput, no driver collect).
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

# jiffies per second; sysconf returns -1 (truthy!) when unsupported,
# so guard on positivity, not truthiness
_CLK_TCK = (lambda c: c if c > 0 else 100)(os.sysconf("SC_CLK_TCK"))

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


def _foreign_cpu_samples() -> dict[tuple[int, int], float]:
    """Per-process cumulative utime+stime jiffies, keyed by
    ``(pid, starttime)``, for every LIVE process that is neither in
    this bench's own process tree (python driver + Spark JVM + py4j
    workers) nor a kernel thread (kthreadd's subtree — kworkers doing
    page-cache I/O on the bench's behalf must not read as a co-tenant).

    This is the direct signal the loadavg gates kept missing (VERDICT
    r12 item 2): a load-10 co-tenant inflated every r12 headline query
    ~1.4× uniformly yet passed the static ``own_load_max`` ceiling,
    because mid-sweep the bench's OWN load is legitimately 10-30.
    Co-tenant CPU consumption over the sweep separates cleanly: a
    clean box's non-kernel daemons burn a few CPU-seconds over a
    10-minute sweep; the r12 co-tenant would have burned thousands.

    Two identification details matter (r13 self-review findings):

    - the key is ``(pid, starttime)``, and the delta is summed PER
      PROCESS — an aggregate-sum difference would let any long-lived
      daemon that exits mid-sweep subtract its boot-to-date CPU from
      the delta and silently mask a real co-tenant (and a recycled
      pid would be mis-credited with its predecessor's CPU);
    - the kernel subtree is exempted only when pid 2 actually IS
      ``kthreadd`` — inside a PID namespace, pid 2 can be an
      arbitrary userland process (possibly the co-tenant itself).

    Foreign processes that both start AND exit between the two
    samples are missed — acceptable, because only a persistent
    co-tenant can uniformly inflate a multi-minute sweep.

    The bench's ANCESTOR chain (invoking shell, driver harness, sshd)
    is also exempt (ADVICE r13): those processes are the machinery that
    launched this run, not co-tenants, and a CPU-active parent harness
    must not stamp a genuinely clean sweep contaminated. Only the chain
    itself is exempt — an ancestor's OTHER children still count.
    """
    return _proc_cpu_scan()[0]


def _ancestor_cpu_samples() -> dict[tuple[int, int], float]:
    """CPU samples for the bench's OWN ancestor chain (invoking shell,
    driver harness, sshd). These are exempt from the contamination gate
    by design (ADVICE r13), but ADVICE r14 is right that the exemption
    silently removes evidence: a CPU-hot launcher should still be
    attributable from the record. The delta over the sweep is stamped
    into the payload as the non-gating ``ancestor_cpu_sec`` field."""
    return _proc_cpu_scan()[1]


def _proc_cpu_scan() -> tuple[
    dict[tuple[int, int], float], dict[tuple[int, int], float]
]:
    """One /proc pass → ``(foreign_samples, ancestor_samples)``, both
    keyed ``(pid, starttime)``."""
    me = os.getpid()
    ppid: dict[int, int] = {}
    cpu: dict[int, float] = {}
    start: dict[int, int] = {}
    kthreadd_pid: int | None = None
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", "rb") as fh:
                raw = fh.read().decode("ascii", "replace")
        except OSError:
            continue  # raced with exit
        # comm is parenthesized and can itself contain spaces/parens —
        # fields start after the LAST ')'
        comm = raw[raw.index("(") + 1 : raw.rindex(")")]
        fields = raw[raw.rindex(")") + 2 :].split()
        pid = int(entry)
        ppid[pid] = int(fields[1])  # field 4 overall
        cpu[pid] = float(fields[11]) + float(fields[12])  # utime+stime
        start[pid] = int(fields[19])  # starttime: pins the pid's identity
        if pid == 2 and comm == "kthreadd" and int(fields[1]) == 0:
            kthreadd_pid = 2
    ancestors: set[int] = set()
    cur = ppid.get(me, 0)
    while cur > 0 and cur not in ancestors:
        ancestors.add(cur)
        cur = ppid.get(cur, 0)
    samples: dict[tuple[int, int], float] = {}
    ancestor_samples: dict[tuple[int, int], float] = {}
    for pid in cpu:
        if pid in ancestors:
            # launched us (shell / driver harness / sshd) — exempt from
            # the gate, but recorded so a hot launcher stays attributable
            ancestor_samples[(pid, start[pid])] = cpu[pid]
            continue
        seen = set()
        cur = pid
        while cur > 0 and cur not in seen:
            seen.add(cur)
            cur = ppid.get(cur, 0)
        if me in seen:
            continue  # our own tree (the walk started at or below us)
        if kthreadd_pid is not None and kthreadd_pid in seen:
            continue  # genuine kernel thread
        samples[(pid, start[pid])] = cpu[pid]
    return samples, ancestor_samples


def _foreign_cpu_delta_jiffies(
    before: dict[tuple[int, int], float], after: dict[tuple[int, int], float]
) -> float:
    """Per-process CPU consumed between the two samples. Processes new
    since ``before`` contribute their full accumulated CPU (they
    started inside the window); processes that exited contribute
    nothing (their identity key is absent from ``after``) — they can
    UNDERCOUNT a co-tenant but can never mask one."""
    return sum(
        max(0.0, jiffies - before.get(key, 0.0))
        for key, jiffies in after.items()
    )


def _cpu_calibration() -> dict[str, float]:
    """Fixed-work CPU probe (VERDICT r13 item 4): the same deterministic
    work every run, timed single-thread and at full width, stamped into
    the payload so day-over-day box drift (r13's A/B proved ±20%) is
    readable from any single record instead of re-running old worktrees.

    The work is ``crc32`` over a 1 MiB buffer — C-level, allocation-free,
    and CPython releases the GIL for buffers this large, so the N-thread
    leg measures real multi-core throughput (including any co-tenant
    stealing cores). Interpretation: ``calib_cpu_1t_sec`` moves with
    single-core clock/thermal state; ``calib_cpu_nt_sec`` additionally
    moves with core contention. Compare rounds at equal fields before
    attributing a headline delta to code.

    The pool is sized from the REQUESTED core count
    (``$SPARK_GRAFT_CPUS``, same source as the Spark master), not
    ``os.cpu_count()`` (VERDICT r15 item 2): a low-core driver run
    (``cpus: 8``) probing at full box width read ``calib_cpu_threads:
    32`` and tripped the driver's ``suspect_cpus_ignored`` heuristic.
    The committed anchor was measured at the full width, so at a lower
    requested width a clean box reads BELOW the anchor — the degraded
    recheck stays conservative (it can only under-flag, never
    false-flag, at reduced width).
    """
    import zlib
    from concurrent.futures import ThreadPoolExecutor

    buf = bytes(range(256)) * 4096  # deterministic 1 MiB
    reps = 1500

    def spin(_=None) -> int:
        acc = 0
        for _ in range(reps):
            acc = zlib.crc32(buf, acc)
        return acc

    spin()  # warm (page-in the buffer, JIT nothing — parity across runs)
    t0 = time.perf_counter()
    spin()
    t1 = time.perf_counter()
    n = default_parallelism()
    with ThreadPoolExecutor(n) as ex:
        t2 = time.perf_counter()
        list(ex.map(spin, range(n)))
        t3 = time.perf_counter()
    return {
        "calib_cpu_1t_sec": round(t1 - t0, 3),
        "calib_cpu_nt_sec": round(t3 - t2, 3),
        "calib_cpu_threads": n,
    }


def _calib_anchor_nt() -> float | None:
    """The drained-box N-thread calibration anchor, for the degraded-box
    recheck (VERDICT r14 item 3). Source order: the
    ``SPARK_GRAFT_CALIB_NT_ANCHOR`` env var, else the committed
    ``BENCH_ANCHORS.json`` beside this script, else None (no recheck —
    the stamp fields are still emitted with a null ratio)."""
    env = os.environ.get("SPARK_GRAFT_CALIB_NT_ANCHOR")
    if env:
        return float(env)
    path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_ANCHORS.json"
    )
    try:
        with open(path) as fh:
            return float(json.load(fh)["calib_cpu_nt_sec"])
    except (OSError, KeyError, TypeError, ValueError):
        return None


def _calibrate_with_recheck(
    anchor_nt: float | None,
    degraded_ratio: float = 1.5,
    redrain_sec: float = 60.0,
    _calibrate=None,
    _loaded=None,
    _sleep=time.sleep,
) -> tuple[dict[str, float], float | None, int]:
    """Calibrate; if the N-thread leg reads > ``degraded_ratio`` × the
    drained anchor, the box is multicore-degraded RIGHT NOW (r14's graded
    run: calib 6.007 vs anchor 1.883 — 3.2× — yet ``contaminated: false``
    because only foreign *processes* gate). Re-drain once (bounded) and
    re-calibrate, then always report the final ratio so a degraded graded
    number self-documents (VERDICT r14 item 3 / What's-wrong 2).

    Returns ``(calibration, calib_degraded_ratio_or_None, recalibrated)``.
    Deliberately non-gating: cgroup/thermal contention isn't attributable
    to a co-tenant process, so it stamps rather than fails the run.
    """
    calibrate = _calibrate or _cpu_calibration
    calib = calibrate()
    recalibrated = 0
    if anchor_nt and calib["calib_cpu_nt_sec"] > degraded_ratio * anchor_nt:
        waited = 0.0
        while _loaded is not None and _loaded() and waited < redrain_sec:
            _sleep(5)
            waited += 5
        calib = calibrate()
        recalibrated = 1
    ratio = (
        round(calib["calib_cpu_nt_sec"] / anchor_nt, 2) if anchor_nt else None
    )
    return calib, ratio, recalibrated


def default_sf_dir() -> str:
    """The input dir: ``$SPARK_GRAFT_SF_DIR``, else the sf0.1 testdata."""
    return os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def time_noop(build, runs: int) -> list[float]:
    """Wall seconds of ``runs`` fresh runs of ``build()`` into the
    ``noop`` sink (executes every partition, writes nothing).

    Fresh means the EAGER verdict memo is cleared before EVERY run
    (ADVICE r10), so an eager query is rebuilt rather than handed back
    as the previous run's checkpointed frame; plan construction is
    inside the timed region. The shared clustered-snapshot fixture
    (``queries.marts._LAYOUT_FIXTURES``) is NOT cleared: it is
    precomputed table state (a layout on disk), not part of the query.
    """
    times = []
    for _ in range(runs):
        _EAGER_CACHE.clear()
        t0 = time.time()
        build().write.mode("overwrite").format("noop").save()
        times.append(time.time() - t0)
    return times


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

    # Bench hygiene gate (VERDICT r9 nit #1; hardened per VERDICT r10
    # nit #1 from a stamp into a RETRY): numbers recorded under
    # ambient load are garbage — r9's notes measured a 27.9×-vs-1.78×
    # ratio swing from contention, and r10's committed payload was
    # stamped contaminated after a fully-consumed 120 s wait. Now the
    # drain budget is 600 s by default, the gate also watches the
    # 5-MINUTE loadavg (r10 lesson: 1-min 0.01 with 5-min 0.6 still
    # read 13.8 s vs 12.2 s — the slow average is the honest signal
    # after a long test suite), and the drain is retried in bounded
    # rounds. If the box never drains, the payload is still emitted
    # WITH the contamination stamp but the process exits nonzero, so
    # a contaminated record can't silently pass for a clean one.
    load_max = float(os.environ.get("SPARK_GRAFT_LOAD_MAX", "0.5"))
    load5_max = float(os.environ.get("SPARK_GRAFT_LOAD5_MAX", "0.7"))
    idle_wait = float(os.environ.get("SPARK_GRAFT_IDLE_WAIT", "600"))

    def _loaded() -> bool:
        l1, l5, _ = os.getloadavg()
        return l1 > load_max or l5 > load5_max

    waited = 0.0
    while _loaded() and waited < idle_wait:
        time.sleep(5)
        waited += 5
    load_before = os.getloadavg()
    contaminated = _loaded()
    # calibrate AFTER the drain (the probe wants the box state the timed
    # queries will see) and BEFORE the Spark session (whose executor
    # threads would contend with the N-thread leg). If the N-thread leg
    # reads degraded vs the committed drained anchor, re-drain once and
    # re-calibrate (VERDICT r14 item 3) — the final ratio is stamped
    # either way so the payload self-documents box state.
    calibration, calib_ratio, calib_recal = _calibrate_with_recheck(
        _calib_anchor_nt(),
        degraded_ratio=float(
            os.environ.get("SPARK_GRAFT_CALIB_DEGRADED_RATIO", "1.5")
        ),
        redrain_sec=min(60.0, idle_wait),
        _loaded=_loaded,
    )
    # Console-progress bars interleave with stdout under the driver's
    # pipe capture and can push the JSON line out of its tail window
    # (BENCH_r05 arrived with "parsed": null for exactly this reason) —
    # keep the bench session's stderr silent.
    spark = get_spark("bench", extra_conf={"spark.ui.showConsoleProgress": "false"})
    registry = all_queries()
    foreign_before, ancestor_before = _proc_cpu_scan()
    wall_start = time.time()
    timings: dict[str, float] = {}
    medians: dict[str, float] = {}
    for name in HEADLINE:
        build = partial(registry[name].spark, spark, sf_dir)
        time_noop(build, 1)  # warm (JIT, page cache)
        # min damps scheduler noise; median shows spread
        runs = sorted(time_noop(build, 3))
        timings[name] = round(runs[0], 3)
        medians[name] = round(runs[len(runs) // 2], 3)

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
    # cold first-run number per query alongside the min.
    sweep_runs = max(1, int(os.environ.get("SPARK_GRAFT_SWEEP_RUNS", "2")))
    families = query_families(registry)
    registry_timings: dict[str, float] = {}
    registry_first: dict[str, float] = {}
    family_totals: dict[str, float] = {}
    registry_load1: dict[str, float] = {}
    registry_foreign: dict[str, float] = {}
    foreign_peak = 0.0  # monotone envelope of the foreign-CPU delta
    for name, spec in registry.items():
        # per-query 1-min loadavg stamp (VERDICT r11 item #7): the two
        # availableNow stream queries are scheduling-bound and swing
        # 6→33 s under residual load — without a per-entry stamp a
        # real stream regression is indistinguishable from scheduler
        # contention. Sampled at query START (the 1-min average moves
        # slowly enough that one sample places the entry).
        registry_load1[name] = round(os.getloadavg()[0], 2)
        # foreign CPU at query START, stamped as the MONOTONE ENVELOPE
        # (running max) of the delta-since-baseline (r13 review: the
        # raw delta bounces when short-lived foreign processes exit,
        # making consecutive-stamp diffs negative/noise; the envelope
        # makes them >= 0 and pins each co-tenant burst to the entry
        # where it happened). Pairs with the loadavg stamp so a
        # driver-vs-judge timing dispute (r12's 13.9 vs 10.9 s) can be
        # adjudicated from the run's own record.
        foreign_peak = max(
            foreign_peak,
            _foreign_cpu_delta_jiffies(foreign_before, _foreign_cpu_samples())
            / _CLK_TCK,
        )
        registry_foreign[name] = round(foreign_peak, 1)
        runs = time_noop(partial(spec.spark, spark, sf_dir), sweep_runs)
        registry_first[name] = round(runs[0], 3)
        dt = min(runs)
        registry_timings[name] = round(dt, 3)
        fam = families[name]
        family_totals[fam] = family_totals.get(fam, 0.0) + dt
    registry_total = round(sum(registry_timings.values()), 3)
    family_totals = {k: round(v, 3) for k, v in sorted(family_totals.items())}

    # Second headline window (VERDICT r12 item 2a): re-run the headline
    # block AFTER the ~3-minute registry sweep and fold per-query mins
    # across both windows. A transient co-tenant contending with the
    # first block cannot own the graded number unless it also spans the
    # second window minutes later — and a co-tenant persistent enough
    # to span both is what the foreign-CPU gate below measures directly.
    timings_early = dict(timings)
    timings_late: dict[str, float] = {}
    for name in HEADLINE:
        runs = time_noop(partial(registry[name].spark, spark, sf_dir), 2)
        timings_late[name] = round(min(runs), 3)
        timings[name] = min(timings[name], timings_late[name])
    total = round(sum(timings.values()), 3)
    total_early = round(sum(timings_early.values()), 3)
    total_late = round(sum(timings_late.values()), 3)
    # loadavg before/after: a contaminated run (driver machine busy with
    # other work) shows up as high ambient load and median >> min —
    # VERDICT r2 graded BENCH_r02's 38 s as exactly this.
    #
    # The stdout line is kept COMPACT (headline + totals + per-family)
    # so it survives the driver's bounded tail capture; the full
    # payload — per-query sweep timings and headline medians — goes to
    # BENCH_DETAIL.json beside this script for the judge.
    # Re-sample load AFTER the timed sweep and OR it into the
    # contamination verdict (r11 ADVICE #5): the pre-run stamp alone
    # let a mid-run load spike pass as a clean reading. The sweep
    # itself drives this box's loadavg (local[32] at full tilt), so
    # the post-run gate compares the 1-min average against the load
    # the bench EXPECTS to have generated — anything well above the
    # session's own parallelism means a co-tenant. The modest margin
    # keeps the bench's own tail (executor threads draining) from
    # self-flagging.
    own_load_max = float(
        os.environ.get("SPARK_GRAFT_OWN_LOAD_MAX", str(default_parallelism() + 8))
    )
    load_after = os.getloadavg()
    # record WHICH gate fired (VERDICT r12 nit: an adjudicator reading
    # the payload should not have to reverse-engineer the verdict)
    reasons: list[str] = []
    if contaminated:
        reasons.append("pre_run_load")
    if load_after[0] > own_load_max:
        reasons.append("post_run_load")
    # Foreign-CPU gate (VERDICT r12 item 2b): the static ceiling above
    # is sized for the bench's own load and is blind to a moderate
    # co-tenant (r12: load ~10 inflated every headline query ~1.4× and
    # passed as clean). Measure the co-tenant DIRECTLY: CPU-seconds
    # burned during the sweep by live processes outside this bench's
    # own tree and outside the kernel. Clean-box daemons burn a few
    # CPU-seconds over a 10-minute sweep; the r12 co-tenant would have
    # burned thousands. Threshold: 5% of the box for the sweep's wall
    # time (floor 60 CPU-s so short sf0.01 runs don't flag on noise).
    wall = time.time() - wall_start
    # the gate reads the ENVELOPE, not just the end delta: a co-tenant
    # that burns through the sweep but exits before this final sample
    # would otherwise escape (exited processes only ever undercount
    # the point-in-time delta; the per-entry peak retains them)
    foreign_end, ancestor_end = _proc_cpu_scan()
    foreign_cpu_sec = max(
        foreign_peak,
        _foreign_cpu_delta_jiffies(foreign_before, foreign_end) / _CLK_TCK,
    )
    # ADVICE r14: the ancestor-chain exemption must not erase evidence —
    # record the exempted launchers' CPU over the sweep as a separate
    # NON-GATING field so a CPU-hot harness stays attributable
    ancestor_cpu_sec = (
        _foreign_cpu_delta_jiffies(ancestor_before, ancestor_end) / _CLK_TCK
    )
    ncpu = os.cpu_count() or 1
    foreign_frac = float(os.environ.get("SPARK_GRAFT_FOREIGN_CPU_FRAC", "0.05"))
    foreign_budget = max(60.0, foreign_frac * ncpu * wall)
    if foreign_cpu_sec > foreign_budget:
        reasons.append("foreign_cpu")
    contaminated = bool(reasons)
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
        **calibration,
        # box-state self-declaration (VERDICT r14 item 3): final
        # N-thread calibration over the committed drained anchor.
        # ≈1.0 = clean box; r14's graded run would have read 3.19 here.
        "calib_degraded_ratio": calib_ratio,
        "calib_recalibrated": calib_recal,
        "contaminated": contaminated,
        "contamination_reasons": reasons,
        "foreign_cpu_sec": round(foreign_cpu_sec, 1),
        "ancestor_cpu_sec": round(ancestor_cpu_sec, 1),
        "idle_wait_sec": round(waited, 1),
        # requested core count echoed into the record (VERDICT r15
        # item 2): the driver's scaling probe compares runs at
        # different $SPARK_GRAFT_CPUS and needs the payload itself to
        # say which width it ran at (the master is local[cpus],
        # session.py)
        "cpus": default_parallelism(),
        "sf": sf,
    }
    detail = dict(compact)
    # provenance (VERDICT r12 nit: the working-tree copy is overwritten
    # by every run — driver's, judge's, builder's — and its origin was
    # only discoverable via git)
    detail["generated_unix"] = round(time.time(), 1)
    detail["sf_dir"] = sf_dir
    detail["calib_anchor_nt_sec"] = _calib_anchor_nt()
    detail["foreign_cpu_budget_sec"] = round(foreign_budget, 1)
    detail["queries_early"] = timings_early
    detail["queries_late"] = timings_late
    detail["queries_median"] = medians
    detail["registry_queries"] = registry_timings
    detail["registry_load1"] = registry_load1
    detail["registry_foreign_cpu_sec"] = registry_foreign
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
    if contaminated:
        # fail loudly (VERDICT r10 nit #1): the stamped payload above
        # is still recorded, but a box that never drained must not
        # look like a successful bench run
        sys.exit(2)


if __name__ == "__main__":
    main()
