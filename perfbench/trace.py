"""Spans around the calls into each layer, and the Spark event log.

Spans are recorded from the benchmark's own files: :func:`instrument`
wraps the layers' public functions (pipeline runs, versioned and
bucketed table writes and reads, quality checks, commit-backend calls)
and the query workloads open spans directly around registry build,
planning and execution. Spans stay in memory and are written out when
the run ends; a span's self time is its duration minus its children's.
Nothing is recorded unless the tracer is enabled.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self) -> None:
        self.enabled = False
        self.op: str | None = None
        self.spans: list[dict] = []
        self.counts: dict[str, float] = defaultdict(float)
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        s = {"id": len(self.spans), "parent": self._stack[-1]["id"] if self._stack else None,
             "op": self.op, "name": name, "start": time.perf_counter(), "end": None}
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s["end"] = time.perf_counter()
            self._stack.pop()

    def add(self, name: str, value: float = 1.0) -> None:
        if self.enabled:
            self.counts[name] += value

    def self_times(self) -> dict[str, float]:
        """Total self seconds per span name."""
        child: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[s["name"]] += s["end"] - s["start"] - child[s["id"]]
        return out

    def totals(self) -> dict[str, float]:
        """Total wall seconds per span name."""
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[s["name"]] += s["end"] - s["start"]
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")


def _tree_bytes(root: str) -> tuple[int, int, int, int]:
    """(files, dirs, bytes, bytes of files hardlinked elsewhere) under root."""
    files = dirs = size = shared = 0
    for d, subdirs, names in os.walk(root):
        dirs += len(subdirs)
        for n in names:
            st = os.stat(os.path.join(d, n))
            files += 1
            size += st.st_size
            if st.st_nlink > 1:
                shared += st.st_size
    return files, dirs, size, shared


def _wrap(tracer: Tracer, owner, attr: str, span: str, after=None) -> None:
    fn = getattr(owner, attr)

    @functools.wraps(fn)
    def wrapped(*args, **kwargs):
        with tracer.span(span):
            out = fn(*args, **kwargs)
        if after is not None and tracer.enabled:
            after(args, out)
        return out

    setattr(owner, attr, wrapped)


def instrument(tracer: Tracer) -> None:
    """Wrap the layers' public functions with spans and counters."""
    from nycitibike_data_transform_spark import commit_backend, pipeline, quality, versioning
    from nycitibike_data_transform_spark.bucketed_table import BucketedIncrementalTable

    def snapshot_stats(prefix: str):
        def after(args, _out) -> None:
            table = args[0]
            files, dirs, size, shared = _tree_bytes(table._data_dir(table.current_version()))
            tracer.add(f"{prefix}.files_written", files)
            tracer.add(f"{prefix}.dirs_written", dirs)
            tracer.add(f"{prefix}.bytes_written", size - shared)
            tracer.add("versioning.snapshot_bytes", size)
            tracer.add("versioning.reused_bytes", shared)
        return after

    VT = versioning.VersionedTable
    _wrap(tracer, VT, "write_version", "versioning.write", snapshot_stats("versioning"))
    _wrap(tracer, VT, "write_version_cow", "versioning.cow_write", snapshot_stats("versioning"))
    _wrap(tracer, VT, "read_current", "versioning.read_current")
    _wrap(tracer, VT, "vacuum", "versioning.vacuum")

    def merge_after(args, touched) -> None:
        table = args[0]
        tracer.add("bucketed_table.buckets_rewritten", len(touched))
        tracer.add("bucketed_table.buckets_total", table.num_buckets)
        snapshot_stats("bucketed_table")(args, touched)

    _wrap(tracer, BucketedIncrementalTable, "merge", "bucketed_table.merge", merge_after)
    _wrap(tracer, BucketedIncrementalTable, "point_lookup", "bucketed_table.read")
    _wrap(tracer, pipeline.Pipeline, "run", "pipeline.run")
    _wrap(tracer, quality, "check_all", "quality.check")

    backend = commit_backend.LocalFSBackend
    for name in ("get", "exists", "put", "delete", "list", "create_exclusive",
                 "cas", "delete_if", "mutate_if"):
        def after(_args, out, conditional=name in ("create_exclusive", "cas", "delete_if", "mutate_if")):
            tracer.add("commit_backend.ops")
            if conditional and out is False:
                tracer.add("commit_backend.retries")
        _wrap(tracer, backend, name, "commit_backend", after)


def time_models(tracer: Tracer, pipe) -> None:
    """Give each model of ``pipe`` a span from its build call to the
    next model's (``Pipeline.run`` builds and materializes models one
    after another, so that interval is the model's whole refresh)."""
    import dataclasses

    marks: list[tuple[str, float]] = []
    for name, model in list(pipe.models.items()):
        def build(*args, _name=name, _fn=model.build, **kwargs):
            marks.append((_name, time.perf_counter()))
            return _fn(*args, **kwargs)
        pipe.models[name] = dataclasses.replace(model, build=build)

    run = pipe.run

    def timed_run(*args, **kwargs):
        marks.clear()
        out = run(*args, **kwargs)
        end = time.perf_counter()
        if tracer.enabled:
            for (name, t0), (_, t1) in zip(marks, [*marks[1:], ("", end)]):
                tracer.counts[f"pipeline.model_s.{name}"] += t1 - t0
        return out

    pipe.run = timed_run


def read_event_log(log_dir: str, prefix: str) -> dict[str, float]:
    """Executor metrics of the jobs whose description starts with
    ``prefix``, summed over their tasks, from Spark's JSON event log.
    Job-start events map stages to descriptions; task-end events carry
    the metrics and the task times that give each stage's skew."""
    stage_desc: dict[int, str] = {}
    tasks: dict[int, list[dict]] = defaultdict(list)
    for path in sorted(glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)):
        if os.path.isdir(path):
            continue
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    desc = (ev.get("Properties") or {}).get("spark.job.description") or ""
                    for sid in ev.get("Stage IDs", []):
                        stage_desc[sid] = desc
                elif kind == "SparkListenerTaskEnd":
                    tasks[ev["Stage ID"]].append(ev)
    out: dict[str, float] = defaultdict(float)
    skews = []
    for sid, evs in tasks.items():
        if not stage_desc.get(sid, "").startswith(prefix):
            continue
        durations = []
        for ev in evs:
            m = ev.get("Task Metrics") or {}
            info = ev.get("Task Info") or {}
            out["tasks"] += 1
            out["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
            out["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            out["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            out["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            out["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            out["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            im = m.get("Input Metrics") or {}
            out["scan_bytes_read"] += im.get("Bytes Read", 0)
            out["scan_rows_read"] += im.get("Records Read", 0)
            if info.get("Finish Time") and info.get("Launch Time"):
                durations.append(info["Finish Time"] - info["Launch Time"])
        if len(durations) >= 2 and statistics.median(durations) > 0:
            skews.append(max(durations) / statistics.median(durations))
    out["stage_skew"] = statistics.median(skews) if skews else 1.0
    return dict(out)
