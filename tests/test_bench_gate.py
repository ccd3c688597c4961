"""``bench.py``'s record: wall minimums beside process-tree CPU-seconds.

The bench has no co-tenant gate. Its per-query CPU-seconds
(``perfbench.run.tree_cpu_s`` around each ``time_noop`` run) are what
make a slow wall reading attributable: a co-tenant stretches the walls,
but its own CPU is never counted in this process tree's. These tests pin:

- the accounting: CPU burned by the bench's own subprocesses counts, a
  detached co-tenant's CPU does not, and the timed loop still rebuilds
  eager queries on every run;
- the stdout record external harnesses parse: every key it had is
  still there, the retired box-forensics keys are ``null``,
  the CPU totals are present, and the exit code is 0.
"""

from __future__ import annotations

import json
import os
import shutil
import signal
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from bench import time_noop  # noqa: E402

# the stdout keys external harnesses parse (the record before the
# forensics were retired); only the two CPU totals were added since
PARSED_KEYS = {
    "metric", "value", "unit", "queries", "value_early_window",
    "value_late_window", "registry_total_sec", "registry_families",
    "loadavg_before", "loadavg_after", "calib_cpu_1t_sec",
    "calib_cpu_nt_sec", "calib_cpu_threads", "calib_degraded_ratio",
    "calib_recalibrated", "contaminated", "contamination_reasons",
    "foreign_cpu_sec", "ancestor_cpu_sec", "idle_wait_sec", "cpus", "sf",
}
RETIRED_KEYS = {
    "calib_cpu_1t_sec", "calib_cpu_nt_sec", "calib_cpu_threads",
    "calib_degraded_ratio", "calib_recalibrated", "contaminated",
    "contamination_reasons", "foreign_cpu_sec", "ancestor_cpu_sec",
    "idle_wait_sec",
}


def _burn_script(seconds: float) -> str:
    """A busy loop that stops after ``seconds`` of its OWN CPU time, so
    it burns that much however contended the box is."""
    return (
        "import time\n"
        f"while time.process_time() < {seconds}:\n"
        "    sum(i * i for i in range(10000))\n"
    )


def _spawn_detached(seconds: float) -> int:
    """Double-fork a burner so it re-parents outside our tree — the
    process-tree shape of a genuine co-tenant. Returns its pid (found
    via /proc cmdline: the grandchild's pid can't cross the fork)."""
    marker = f"burn_end_{os.getpid()}"
    script = f"# {marker}\n" + _burn_script(seconds)
    pid = os.fork()
    if pid == 0:  # child: spawn the burner detached, then exit at once
        os.setsid()
        subprocess.Popen(
            [sys.executable, "-c", script], start_new_session=True
        )
        os._exit(0)
    os.waitpid(pid, 0)  # grandchild re-parents to init/reaper
    deadline = time.time() + 5
    while time.time() < deadline:
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                with open(f"/proc/{entry}/cmdline", "rb") as fh:
                    cmd = fh.read().decode("utf-8", "replace")
            except OSError:
                continue
            if marker in cmd:
                return int(entry)
        time.sleep(0.05)
    raise AssertionError("detached burner not found in /proc")


def _kill_quietly(pid: int) -> None:
    try:
        os.kill(pid, signal.SIGKILL)
    except ProcessLookupError:
        pass


def _proc_cpu_s(pid: int) -> float:
    """CPU seconds one live process has run (its schedstat, in ns)."""
    with open(f"/proc/{pid}/schedstat") as fh:
        return int(fh.read().split()[0]) / 1e9


def test_time_noop_cpu_counts_own_tree_not_cotenant(spark):
    """Own subprocess CPU counts; a detached co-tenant's does not.

    The first build runs and waits for a 1 s burner of its own (the
    shape of a Spark Python worker): each run must report at least
    0.7 s. The second build idles 1 s — a query waiting on I/O —
    beside a detached burner that keeps a core busy the whole time:
    the run must report under 0.5 s, while the burner itself is seen
    to burn more than that inside the window.
    """

    def own_burner():
        subprocess.run([sys.executable, "-c", _burn_script(1.0)], check=True)
        return spark.range(1)

    _, cpu = time_noop(own_burner, 2)
    assert all(c >= 0.7 for c in cpu), cpu

    def idle_build():
        time.sleep(1.0)
        return spark.range(1)

    time_noop(lambda: spark.range(1), 1)  # warm the noop write path
    burner = _spawn_detached(5.0)
    try:
        time.sleep(0.2)  # the burner is spinning before the window opens
        burner_before = _proc_cpu_s(burner)
        _, cpu = time_noop(idle_build, 1)
        burned = _proc_cpu_s(burner) - burner_before
    finally:
        _kill_quietly(burner)
    assert burned > 0.5, burned
    assert cpu[0] < 0.5, (cpu, burned)


def test_bench_record_keeps_stdout_keys(tmp_path, sf_dir):
    """``bench.py`` run as a script, restricted to one query, exits 0
    and prints every parsed key (plus the CPU totals) on its last
    stdout line. The copy in ``tmp_path`` writes its BENCH_DETAIL.json
    there, not into the checkout."""
    shutil.copy(os.path.join(REPO, "bench.py"), tmp_path / "bench.py")
    (tmp_path / "run_bench.py").write_text(
        "import bench\n"
        "registry = bench.all_queries\n"
        "bench.HEADLINE = ['text_stats']\n"
        "bench.all_queries = lambda: {'text_stats': registry()['text_stats']}\n"
        "bench.main()\n"
    )
    env = dict(
        os.environ,
        PYTHONPATH=REPO,
        SPARK_GRAFT_SF_DIR=sf_dir,
        SPARK_GRAFT_DRIVER_MEM="1g",
    )
    out = subprocess.run(
        [sys.executable, "run_bench.py"],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    record = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(record) == PARSED_KEYS | {"cpu_sec", "registry_cpu_sec"}
    assert all(record[k] is None for k in RETIRED_KEYS)
    assert record["cpu_sec"] > 0 and record["registry_cpu_sec"] > 0
    assert set(record["queries"]) == {"text_stats"}
    detail = json.loads((tmp_path / "BENCH_DETAIL.json").read_text())
    assert set(detail["queries_cpu_sec"]) == {"text_stats"}
    assert set(detail["registry_queries_cpu_sec"]) == {"text_stats"}


def test_time_noop_rebuilds_eager_query_on_every_run(spark, sf_dir, spark_jobs):
    """The timing primitive times FRESH plans: an eager query's build
    (a layout read checkpointed at plan-build) must start Spark jobs on
    every run, including the second, instead of returning the first
    run's memoized frame from ``queries._EAGER_CACHE``."""
    from nycitibike_data_transform_spark.queries import all_queries

    query = all_queries()["zonemap_scan"].spark
    build_jobs: list[int] = []
    with spark_jobs() as jobs:

        def build():
            before = jobs()
            df = query(spark, sf_dir)
            build_jobs.append(jobs() - before)
            return df

        times, _ = time_noop(build, 2)
    assert len(times) == 2 and all(t > 0 for t in times)
    assert len(build_jobs) == 2
    assert build_jobs[1] > 0, build_jobs
