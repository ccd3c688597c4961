"""Benchmark entry point.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a checkout. Generates the workload's inputs from
the seed (cached under ``.perfbench_cache/``), sets the Spark session
up several times, checks every distinct op once in an untimed pass, then
runs whole passes of the op mix as a closed loop (one client) for at
least ``S`` seconds. The last stdout line is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
The line before it is the full record (box stamps, sample counts and
the metrics of both kinds that the run has).

With ``--trace 1`` the run records Spark's event log and spans around
each layer's calls; it runs the loop once untraced and once traced and
reports the difference as ``trace.overhead_frac``. Spans are written to
``.perfbench_out/``.
"""

from __future__ import annotations

import time

START = time.perf_counter()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "nycitibike_data_transform_spark"
SETUPS = 3

# metric name -> unit; the names are BENCHMARK.json's
END_TO_END = {"setup_s": "s", "op_cpu_s": "s", "peak_rss_mb": "MB"}
PER_LAYER = {
    "queries.build_s": "s", "catalyst.plan_s": "s",
    "exec.cpu_s": "s", "exec.executor_run_s": "s", "exec.gc_s": "s", "exec.tasks": "count",
    "exec.cpu_util": "ratio", "exec.shuffle_write_bytes": "bytes",
    "exec.shuffle_read_bytes": "bytes", "exec.spill_bytes": "bytes", "exec.stage_skew": "ratio",
    "scan.bytes_read": "bytes", "scan.rows_read": "count", "scan.read_frac": "ratio",
    "pipeline.model_s.location_dim": "s", "pipeline.model_s.stage_rides": "s",
    "pipeline.model_s.mart_borough_daily": "s", "pipeline.model_s.events_cow": "s",
    "pipeline.model_s.events_bkt": "s",
    "versioning.write_s": "s", "versioning.files_written": "count",
    "versioning.dirs_written": "count", "versioning.bytes_written": "bytes",
    "versioning.read_current_s": "s", "versioning.vacuum_s": "s", "versioning.cow_write_s": "s",
    "versioning.bytes_reused_frac": "ratio",
    "bucketed_table.merge_s": "s", "bucketed_table.buckets_rewritten_frac": "ratio",
    "bucketed_table.read_s": "s",
    "commit_backend.ops": "count", "commit_backend.s": "s", "commit_backend.retries": "count",
    "quality.check_s": "s", "write_amp": "ratio",
    "trace.ops_per_s": "1/s", "trace.untraced_ops_per_s": "1/s", "trace.overhead_frac": "ratio",
}


class MemSampler(threading.Thread):
    """Peak resident memory of this process and all its descendants, as
    the sum of their proportional set sizes (a page shared by forked
    Python workers counts once, split among them)."""

    def __init__(self, period: float = 0.5) -> None:
        super().__init__(daemon=True)
        self.period = period
        self.peak = 0
        self._lock = threading.Lock()
        self._stop_evt = threading.Event()

    def run(self) -> None:
        while not self._stop_evt.wait(self.period):
            pss = sum(pss_bytes(p) for p in proc_tree())
            with self._lock:
                self.peak = max(self.peak, pss)

    def reset(self) -> None:
        """Start a new peak interval."""
        with self._lock:
            self.peak = 0

    def stop(self) -> None:
        self._stop_evt.set()
        self.join()


def pss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def proc_tree() -> dict[int, list[str]]:
    """``/proc/<pid>/stat`` fields after the command name, for this
    process and every process below it."""
    stats = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stats[int(entry)] = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
    tree, frontier = {os.getpid()}, {os.getpid()}
    while frontier:
        frontier = {p for p, f in stats.items() if int(f[1]) in frontier}
        tree |= frontier
    return {p: stats[p] for p in tree if p in stats}


def tree_cpu_s() -> float:
    """CPU seconds (user + system, reaped children included) of this
    process tree. The kernel leaves time stolen by other guests out."""
    ticks = os.sysconf("SC_CLK_TCK")
    return sum(sum(int(x) for x in f[11:15]) for f in proc_tree().values()) / ticks


def reap_descendants(timeout: float = 20.0) -> None:
    """Terminate whatever this process started that is still alive and
    wait for it to be gone."""
    deadline = time.monotonic() + timeout
    sig = signal.SIGTERM
    while True:
        left = [p for p in proc_tree() if p != os.getpid()]
        if not left:
            return
        if time.monotonic() > deadline:
            sig = signal.SIGKILL
        for pid in left:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        try:
            os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            pass
        time.sleep(0.2)


def box_env(run_dir: str) -> dict:
    """Environment for Spark, its JVM and its Python workers: the run's
    own temp dirs, the checkout on PYTHONPATH, and width and memory
    sized to this machine's cores. The inputs are a few MB, so a 1 GB
    driver heap is ample on any machine; a fixed, small heap also keeps
    peak memory from following the JVM's heap-growth decisions."""
    nproc = len(os.sched_getaffinity(0))
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    env = {
        "SPARK_GRAFT_CPUS": str(nproc),
        "SPARK_GRAFT_DRIVER_MEM": "1g",
        "SPARK_GRAFT_WAREHOUSE": os.path.join(run_dir, "spark-warehouse"),
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        "TMPDIR": tmp,
        "TZ": "UTC",
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    }
    os.environ.update(env)
    time.tzset()
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    return env


def cpu_times() -> list[int]:
    """The machine's aggregate CPU jiffies from /proc/stat (user, nice,
    system, idle, iowait, irq, softirq, steal)."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def git_commit() -> str:
    """HEAD of the checkout, or, outside a git repository, a hash of the
    package's sources."""
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                             text=True, timeout=10)
        if out.returncode == 0:
            return out.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    h = hashlib.sha1()
    for d, dirs, names in sorted(os.walk(os.path.join(ROOT, PACKAGE))):
        dirs.sort()
        for n in sorted(names):
            if n.endswith(".py"):
                with open(os.path.join(d, n), "rb") as fh:
                    h.update(n.encode() + fh.read())
    return "src-" + h.hexdigest()


def new_session(run_dir: str, trace: bool):
    from nycitibike_data_transform_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
    }
    if trace:
        log_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true", "spark.eventLog.dir": f"file://{log_dir}",
                     "spark.eventLog.compress": "false"})
    spark = get_spark("perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm() -> None:
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def run_loop(spark, wl, tracer, seconds: float, label: str):
    """Whole passes of the op mix until ``seconds`` have elapsed."""
    lat, cpu, names, passes, failures = [], [], [], [], []
    t0 = time.perf_counter()
    while time.perf_counter() - t0 < seconds:
        ops = wl.next_pass(spark)
        if not ops:
            break
        p0 = time.perf_counter()
        for name, fn in ops:
            spark.sparkContext.setJobDescription(f"{label}:{name}")
            tracer.op = f"{label}:{len(lat)}:{name}"
            c = tree_cpu_s()
            a = time.perf_counter()
            try:
                fn()
            except Exception as exc:  # noqa: BLE001 - a failing op is a result
                failures.append((name, f"error: {exc}"[:500]))
            lat.append(time.perf_counter() - a)
            cpu.append(tree_cpu_s() - c)
            names.append(name)
        passes.append(time.perf_counter() - p0)
    wall = time.perf_counter() - t0
    spark.sparkContext.setJobDescription(None)
    return lat, cpu, names, passes, wall, failures


def steal_frac(start: list[int], end: list[int]) -> float:
    """Share of the machine's CPU time taken by other guests (steal)
    between two :func:`cpu_times` readings."""
    delta = [b - a for a, b in zip(start, end)]
    return delta[7] / max(1, sum(delta))


def pass_rate(lat: list, passes: list) -> float:
    """Median over passes of ops per second (every pass is the same mix)."""
    return statistics.median(len(lat) / len(passes) / p for p in passes)


def per_layer(tracer, ev: dict, n_ops: int, exec_wall: float, nproc: int, in_bytes: int) -> dict:
    st = tracer.self_times()
    c = tracer.counts
    per = lambda v: v / max(1, n_ops)  # noqa: E731
    m = {
        "queries.build_s": per(st.get("queries.build", 0)),
        "catalyst.plan_s": per(st.get("catalyst.plan", 0)),
        "exec.cpu_s": per(ev.get("cpu_s", 0)),
        "exec.executor_run_s": per(ev.get("executor_run_s", 0)),
        "exec.gc_s": per(ev.get("gc_s", 0)),
        "exec.tasks": per(ev.get("tasks", 0)),
        "exec.cpu_util": ev.get("cpu_s", 0) / max(1e-9, exec_wall * nproc),
        "exec.shuffle_write_bytes": per(ev.get("shuffle_write_bytes", 0)),
        "exec.shuffle_read_bytes": per(ev.get("shuffle_read_bytes", 0)),
        "exec.spill_bytes": per(ev.get("spill_bytes", 0)),
        "exec.stage_skew": ev.get("stage_skew", 1.0),
        "scan.bytes_read": per(ev.get("scan_bytes_read", 0)),
        "scan.rows_read": per(ev.get("scan_rows_read", 0)),
        "scan.read_frac": per(ev.get("scan_bytes_read", 0)) / max(1, in_bytes),
        "versioning.write_s": per(st.get("versioning.write", 0)),
        "versioning.files_written": per(c.get("versioning.files_written", 0)),
        "versioning.dirs_written": per(c.get("versioning.dirs_written", 0)),
        "versioning.bytes_written": per(c.get("versioning.bytes_written", 0)),
        "versioning.read_current_s": per(st.get("versioning.read_current", 0)),
        "versioning.vacuum_s": per(st.get("versioning.vacuum", 0)),
        "versioning.cow_write_s": per(st.get("versioning.cow_write", 0)),
        "versioning.bytes_reused_frac": c.get("versioning.reused_bytes", 0)
        / max(1, c.get("versioning.snapshot_bytes", 0)),
        "bucketed_table.merge_s": per(st.get("bucketed_table.merge", 0)),
        "bucketed_table.buckets_rewritten_frac": c.get("bucketed_table.buckets_rewritten", 0)
        / max(1, c.get("bucketed_table.buckets_total", 0)),
        "bucketed_table.read_s": per(st.get("bucketed_table.read", 0)),
        "commit_backend.ops": per(c.get("commit_backend.ops", 0)),
        "commit_backend.s": per(st.get("commit_backend", 0)),
        "commit_backend.retries": per(c.get("commit_backend.retries", 0)),
        "quality.check_s": per(st.get("quality.check", 0)),
        "write_amp": (c.get("versioning.bytes_written", 0) + c.get("bucketed_table.bytes_written", 0))
        / max(1, c.get("committed_bytes", 0)),
    }
    for name in PER_LAYER:
        if name.startswith("pipeline.model_s."):
            m[name] = per(c.get(name, 0))
    return m


def main(argv: list[str] | None = None) -> int:
    sys.path.insert(0, ROOT)
    from perfbench import gen, workloads
    from perfbench.trace import Tracer, instrument, read_event_log

    ap = argparse.ArgumentParser(prog="perfbench/run.py")
    ap.add_argument("--workload", required=True, choices=workloads.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: no {PACKAGE} package under {ROOT}", file=sys.stderr)
        return 2

    load_start = os.getloadavg()
    cpu_start = cpu_times()
    t_gen, c_gen = time.perf_counter(), tree_cpu_s()
    in_root, meta = gen.cached(args.seed, args.workload, os.path.join(ROOT, ".perfbench_cache"))
    gen_s, gen_cpu = time.perf_counter() - t_gen, tree_cpu_s() - c_gen

    run_dir = os.path.join(ROOT, ".perfbench_run", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        env = box_env(run_dir)
        nproc = int(env["SPARK_GRAFT_CPUS"])
        mem = MemSampler()
        mem.start()
        tracer = Tracer()
        spark = None
        try:
            wl = workloads.make(args.workload, in_root, meta, run_dir, args.seed, tracer)
            setup_s, setup_cpu = [], []
            for k in range(SETUPS):
                t0 = START + gen_s if k == 0 else time.perf_counter()
                c0 = gen_cpu if k == 0 else tree_cpu_s()
                if spark is not None:
                    spark.stop()
                spark = new_session(run_dir, bool(args.trace))
                wl.prepare(spark)
                setup_s.append(time.perf_counter() - t0)
                setup_cpu.append(tree_cpu_s() - c0)

            t_check = time.perf_counter()
            checks = wl.check(spark)
            check_s = time.perf_counter() - t_check
            untraced = None
            if args.trace:
                untraced = run_loop(spark, wl, tracer, args.seconds, "untraced")
                instrument(tracer)
                tracer.enabled = True
            mem.reset()  # the program's memory while it works, not the checks'
            lat, cpu, names, passes, wall, failures = run_loop(spark, wl, tracer, args.seconds, "timed")
            peak_mem = mem.peak
            tracer.enabled = False
            t_final = time.perf_counter()
            checks += wl.final_check(spark)
            check_s += time.perf_counter() - t_final
            spark.stop()
            spark = None
            stop_jvm()
        finally:
            if spark is not None:
                spark.stop()
            stop_jvm()
            reap_descendants()
            mem.stop()

        failures += [(n, e) for n, e in checks if e is not None]
        attempted = len(lat) + len(checks)
        ops_per_s = pass_rate(lat, passes)
        end_to_end = {
            "setup_s": statistics.median(setup_cpu),
            "op_cpu_s": sum(cpu) / len(cpu),
            "peak_rss_mb": peak_mem / 2**20,
        }
        record = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "nproc": nproc, "loadavg_start": load_start, "loadavg_end": os.getloadavg(),
            "cpu_steal_frac": steal_frac(cpu_start, cpu_times()),
            "commit": git_commit(), "driver_memory": env["SPARK_GRAFT_DRIVER_MEM"],
            "input_bytes": workloads.input_bytes(in_root), "input_gen_s": gen_s,
            "setup_runs_s": setup_s, "setup_cpu_s": setup_cpu, "check_s": check_s, "ops": len(lat), "loop_wall_s": wall,
            "pass_s": passes, "loop_cpu_s": sum(cpu),
            "ops_per_s": ops_per_s, "op_p50_s": statistics.median(lat),
            "process_s": time.perf_counter() - START,
            "op_p90_s": statistics.quantiles(lat, n=10)[-1] if len(lat) >= 100 else None,
            "op_p90_samples": len(lat),
            "op_median_s": {n: statistics.median(t for m, t in zip(names, lat) if m == n)
                            for n in dict.fromkeys(names)},
            "ops_failed_frac": len(failures) / attempted,
            "failures": failures[:20],
            "end_to_end": end_to_end,
        }
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in end_to_end.items()}
        if args.trace:
            ev = read_event_log(os.path.join(run_dir, "eventlog"), "timed:")
            exec_wall = tracer.totals().get("exec", wall)
            layer = per_layer(tracer, ev, len(lat), exec_wall, nproc, record["input_bytes"])
            u_lat, _, _, u_passes, _, _ = untraced
            layer["trace.ops_per_s"] = ops_per_s
            layer["trace.untraced_ops_per_s"] = pass_rate(u_lat, u_passes)
            layer["trace.overhead_frac"] = layer["trace.untraced_ops_per_s"] / ops_per_s - 1
            record["per_layer"] = layer
            metrics = {k: {"value": layer[k], "unit": u} for k, u in PER_LAYER.items()}
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            tracer.dump(os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.jsonl"))

    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    print("perfbench record " + json.dumps(record, default=str))
    print(json.dumps({"correct": not failures, "attempted": attempted,
                      "failed": len(failures), "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
