"""The benchmark's workloads: what one operation is, and how its output
is checked.

Each workload hands the runner whole passes of operations. A pass is the
workload's full op mix. ``queries``: every query of the mix once, in a
seed-shuffled order. ``refresh``: one pipeline refresh, then one
incremental update batch merged into both targets, each merge followed
by a read of seeded keys.
"""

from __future__ import annotations

import os
import random

import pyarrow.parquet as pq

from perfbench import oracle

# The query mix, cut to what fits the benchmark's time budget;
# perfbench/MIX.md lists the excluded queries and why.
MARTS_QUERIES = (
    "pricing_summary",
    "revenue_by_nation",
    "cube_orders",
    "correlated_subquery",
    "generic_tests_audit",
)
LLM_DEDUP_QUERIES = (
    "minhash_pairs",
    "embedding_near_dup",
)
QUERY_TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)
REFRESH_SOURCES = ("lineitem", "nation", "region")


def input_bytes(root: str, tables=None) -> int:
    """Parquet bytes under ``root``, or under its ``tables`` only."""
    paths = [root] if tables is None else [os.path.join(root, f"{t}.parquet") for t in tables]
    total = 0
    for path in paths:
        if os.path.isfile(path):
            total += os.path.getsize(path)
        for d, _dirs, names in os.walk(path):
            total += sum(os.path.getsize(os.path.join(d, n)) for n in names if n.endswith(".parquet"))
    return total


class QueryWorkload:
    """Registry queries, each built and run into the ``noop`` sink."""

    def __init__(self, names, root, meta, run_dir, seed, tracer):
        from nycitibike_data_transform_spark.queries import all_queries

        specs = all_queries()
        self.specs = {n: specs[n] for n in names}
        self.order = list(names)
        random.Random(seed).shuffle(self.order)
        self.sf_dir = os.path.join(root, meta["sf_dir"])
        self.tracer = tracer

    def prepare(self, spark) -> None:
        from nycitibike_data_transform_spark.queries import load

        load(spark, self.sf_dir, *QUERY_TABLES)

    def check(self, spark) -> list[tuple[str, str | None]]:
        """Each query's rows against its oracle. This is also the warm-up:
        the check collects where the timed op writes to ``noop``, over the
        same physical plan."""
        con = oracle.connect(self.sf_dir, list(QUERY_TABLES))
        out = []
        for name in self.order:
            spec = self.specs[name]
            try:
                df = spec.spark(spark, self.sf_dir)
                err = oracle.compare(df.columns, [tuple(r) for r in df.collect()], con, spec.oracle)
            except Exception as exc:  # noqa: BLE001 - a failing op is a result
                err = f"error: {exc}"[:500]
            out.append((name, err))
        con.close()
        return out

    def next_pass(self, spark):
        return [(n, lambda n=n: self._run(spark, n)) for n in self.order]

    def _run(self, spark, name: str) -> None:
        t = self.tracer
        with t.span("queries.build"):
            df = self.specs[name].spark(spark, self.sf_dir)
        with t.span("catalyst.plan"):
            df._jdf.queryExecution().executedPlan()
        with t.span("exec"):
            df.write.format("noop").mode("overwrite").save()

    def final_check(self, spark) -> list[tuple[str, str | None]]:
        return []


class RefreshWorkload:
    """The reference's scheduled job: preflight, a versioned pipeline run
    over a warehouse holding the previous snapshot, then the data tests."""

    MART_ORACLE = (
        "SELECT CAST(pickup_ts AS DATE) AS ride_date, pickup_borough, "
        "CAST(count(*) AS BIGINT) AS n_rides, "
        "CAST(sum(CAST(fare_amount AS DECIMAL(18,2))) AS DOUBLE) AS revenue, "
        "CAST(count(DISTINCT pickup_location_id) AS BIGINT) AS n_pickup_zones "
        "FROM ({stage}) GROUP BY 1, 2"
    )

    def __init__(self, root, meta, run_dir, seed, tracer):
        self.sf_dir = os.path.join(root, meta["sf_dir"])
        self.warehouse = os.path.join(run_dir, "warehouse")
        self.tracer = tracer
        self.source_bytes = input_bytes(self.sf_dir, REFRESH_SOURCES)

    def prepare(self, spark) -> None:
        from nycitibike_data_transform_spark.__main__ import preflight

        preflight(spark, "dev", self.sf_dir, self.warehouse)

    def _refresh(self, spark) -> dict:
        from nycitibike_data_transform_spark.__main__ import data_tests, preflight
        from nycitibike_data_transform_spark.models.pipeline_def import testdata_pipeline
        from perfbench.trace import time_models

        preflight(spark, "dev", self.sf_dir, self.warehouse)
        pipe = testdata_pipeline(self.sf_dir, self.warehouse)
        time_models(self.tracer, pipe)
        built = pipe.run(spark, versioned=True, keep_versions=2)
        self.tracer.add("committed_bytes", self.source_bytes)
        data_tests(built)
        return built

    def check(self, spark) -> list[tuple[str, str | None]]:
        from nycitibike_data_transform_spark.queries import all_queries

        try:
            built = self._refresh(spark)
            mart = built["mart_borough_daily"]
            con = oracle.connect(self.sf_dir, list(REFRESH_SOURCES))
            sql = self.MART_ORACLE.format(stage=all_queries()["stage_rides"].oracle)
            err = oracle.compare(mart.columns, [tuple(r) for r in mart.collect()], con, sql)
            con.close()
        except Exception as exc:  # noqa: BLE001
            err = f"error: {exc}"[:500]
        return [("refresh", err)]

    def next_pass(self, spark):
        return [("refresh", lambda: self._refresh(spark))]

    def final_check(self, spark):
        return []


class IncrementalWorkload:
    """Update batches merged through ``Pipeline`` incremental models into a
    ``partition_by`` + versioned copy-on-write target and a ``bucket_by``
    target; each merge is followed by a read of seeded keys."""

    KEYS_PER_READ = 5
    NUM_BUCKETS = 8

    def __init__(self, root, meta, run_dir, seed, tracer):
        from perfbench.gen import INC_ID_BLOCK

        self.root = root
        self.boot = os.path.join(root, meta["bootstrap"])
        self.batches = [os.path.join(root, b) for b in meta["batches"]]
        self.run_dir = run_dir
        self.block = INC_ID_BLOCK
        self.tracer = tracer
        self.rng = random.Random(seed)
        self.generation = 0

    def _pipeline(self, spark, feed: str, kind: str):
        from pyspark.sql import functions as F

        from nycitibike_data_transform_spark.pipeline import Pipeline
        from perfbench.trace import time_models

        p = Pipeline(warehouse_dir=self.warehouse)
        p.add_source("feed", lambda s: s.read.parquet(feed).withColumn(
            "ts", F.col("ts").cast("timestamp")))
        if kind == "cow":
            p.add_model(
                "events_cow",
                lambda s, feed: feed.withColumn("id_block", F.floor(F.col("event_id") / self.block)),
                deps=("feed",), partition_by=("id_block",),
                incremental_keys=("event_id",), watermark_col="ts",
            )
        else:
            p.add_model(
                "events_bkt", lambda s, feed: feed, deps=("feed",),
                bucket_by=("event_id",), num_buckets=self.NUM_BUCKETS,
                incremental_keys=("event_id",), watermark_col="ts",
            )
        time_models(self.tracer, p)
        return p

    def _merge(self, spark, feed: str, kind: str) -> None:
        self._pipeline(spark, feed, kind).run(spark, versioned=True, keep_versions=2)
        self.tracer.add("committed_bytes", os.path.getsize(feed) if os.path.isfile(feed) else 0)

    def prepare(self, spark) -> None:
        """Bootstrap both targets in a fresh warehouse."""
        self.generation += 1
        self.warehouse = os.path.join(self.run_dir, f"warehouse{self.generation}")
        self.merged = [self.boot]
        self.next_batch = 0
        for kind in ("cow", "bkt"):
            self._merge(spark, self.boot, kind)

    def _read_cow(self, spark, keys, expect) -> None:
        from pyspark.sql import functions as F

        from nycitibike_data_transform_spark.versioning import VersionedTable

        df = VersionedTable(os.path.join(self.warehouse, "events_cow")).read_current(spark)
        self._verify(df.filter(F.col("event_id").isin(keys)).collect(), expect)

    def _read_bkt(self, spark, keys, expect) -> None:
        from nycitibike_data_transform_spark.bucketed_table import BucketedIncrementalTable

        t = BucketedIncrementalTable(os.path.join(self.warehouse, "events_bkt"),
                                     ["event_id"], self.NUM_BUCKETS)
        self._verify(t.point_lookup(spark, "events_bkt", keys), expect)

    @staticmethod
    def _verify(rows, expect: dict) -> None:
        got = {r["event_id"]: r["value"] for r in rows}
        if got != expect:
            raise AssertionError(f"point read {sorted(got.items())} != {sorted(expect.items())}")

    def next_pass(self, spark):
        if self.next_batch >= len(self.batches):
            return []
        feed = self.batches[self.next_batch]
        self.next_batch += 1
        self.merged.append(feed)
        t = pq.read_table(feed, columns=["event_id", "value"]).to_pylist()
        picked = self.rng.sample(t, self.KEYS_PER_READ)
        keys = [r["event_id"] for r in picked]
        expect = {r["event_id"]: r["value"] for r in picked}
        return [
            ("merge_cow", lambda: self._merge(spark, feed, "cow")),
            ("read_cow", lambda: self._read_cow(spark, keys, expect)),
            ("merge_bkt", lambda: self._merge(spark, feed, "bkt")),
            ("read_bkt", lambda: self._read_bkt(spark, keys, expect)),
        ]

    def check(self, spark):
        """The first batch's ops run untimed (warm-up); the converged
        tables are checked after the timed loop, by :meth:`final_check`."""
        out = []
        for name, fn in self.next_pass(spark):
            try:
                fn()
                out.append((name, None))
            except Exception as exc:  # noqa: BLE001
                out.append((name, f"error: {exc}"[:500]))
        return out

    def final_check(self, spark):
        """Both targets against DuckDB's latest row per key over every
        feed merged so far."""
        from nycitibike_data_transform_spark.bucketed_table import BucketedIncrementalTable
        from nycitibike_data_transform_spark.versioning import VersionedTable

        files = []
        for f in self.merged:
            files += sorted(os.path.join(f, n) for n in os.listdir(f)) if os.path.isdir(f) else [f]
        cols = ["event_id", "ts", "user_id", "event_type", "value", "props"]
        sql = (
            f"SELECT {', '.join(cols)} FROM (SELECT *, row_number() OVER "
            f"(PARTITION BY event_id ORDER BY ts DESC) AS rn FROM read_parquet({files!r})) "
            "WHERE rn = 1"
        )
        out = []
        con = oracle.connect(self.root, [])
        for name, table in (
            ("converged_cow", VersionedTable(os.path.join(self.warehouse, "events_cow"))),
            ("converged_bkt", BucketedIncrementalTable(
                os.path.join(self.warehouse, "events_bkt"), ["event_id"], self.NUM_BUCKETS)),
        ):
            try:
                df = table.read_current(spark).select(*cols)
                err = oracle.compare(cols, [tuple(r) for r in df.collect()], con, sql)
            except Exception as exc:  # noqa: BLE001
                err = f"error: {exc}"[:500]
            out.append((name, err))
        con.close()
        return out


class WritesWorkload:
    """The ``refresh`` workload: each pass is one scheduled refresh, then
    one incremental update batch in the same run directory."""

    def __init__(self, root, meta, run_dir, seed, tracer):
        self.parts = (RefreshWorkload(root, meta, run_dir, seed, tracer),
                      IncrementalWorkload(root, meta, run_dir, seed, tracer))

    def prepare(self, spark) -> None:
        for p in self.parts:
            p.prepare(spark)

    def check(self, spark):
        return [c for p in self.parts for c in p.check(spark)]

    def next_pass(self, spark):
        passes = [p.next_pass(spark) for p in self.parts]
        return [op for ops in passes for op in ops] if all(passes) else []

    def final_check(self, spark):
        return [c for p in self.parts for c in p.final_check(spark)]


WORKLOADS = ("queries", "refresh")


def make(workload: str, root: str, meta: dict, run_dir: str, seed: int, tracer):
    if workload == "queries":
        return QueryWorkload(MARTS_QUERIES + LLM_DEDUP_QUERIES, root, meta, run_dir, seed, tracer)
    if workload == "refresh":
        return WritesWorkload(root, meta, run_dir, seed, tracer)
    raise ValueError(f"unknown workload {workload!r}")
