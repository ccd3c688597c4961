"""Dependency-ordered materialization runner — the dbt DAG analogue.

The reference's lifecycle (reference ``setup_script.sh:7``,
``dbt_project.yml:28-29``): topo-sort models by ``ref()`` edges, then
``CREATE OR REPLACE TABLE`` each in order (full refresh every run).

Spark mapping: a registry of model functions; execution resolves each
model's declared deps, runs them in topological order, and commits
each as a new snapshot of a ``VersionedTable`` (atomic pointer swap —
a killed run never leaves a torn table) — optionally partitioned (the
partition-pruning upgrade the reference's external tables could not
have, ``main.tf:301-304``) or bucketed.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field
from graphlib import TopologicalSorter

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nycitibike_data_transform_spark.versioning import VersionedTable, merge_upsert


def _materialize(
    spark: SparkSession,
    model: "Model",
    df: DataFrame,
    path: str,
    keep_versions: int | None,
) -> DataFrame:
    """Persist one model's build at ``path`` as a new committed
    snapshot and return the frame downstream models read.

    Every run commits an immutable snapshot with an atomic pointer
    swap (the upgrade over the reference's clobbering ``CREATE OR
    REPLACE``): a killed run leaves the previous snapshot whole, so
    the scheduler's retry starts from a consistent table, readers are
    snapshot-isolated, and prior runs stay time-travel readable.
    ``bucket_by`` models use :class:`BucketedIncrementalTable` — every
    snapshot is a Spark bucketed layout, registered as
    ``spark.table(model.name)`` so downstream joins and aggregates on
    the bucket key plan zero exchanges; every other model uses
    :class:`VersionedTable`. ``keep_versions`` vacuums after the
    commit.

    Incremental models are dbt's ``materialized: incremental`` (merge
    strategy): the bootstrap run writes the full build; every later
    run keeps only built rows at or past the existing table's
    ``max(watermark_col)`` and MERGEs them on ``incremental_keys`` —
    refresh cost O(new data), not O(table).

    Contract (dbt's, made explicit): the model is row-grain in the
    watermark column. The ``>= hwm`` predicate is applied to the BUILT
    frame and relies on Catalyst pushing it down to the fact scans —
    projections, unions, and row-grain joins push through; an
    aggregate blocks pushdown AND makes partial re-aggregation wrong,
    so aggregate models must stay full-refresh. The ``>=`` (not ``>``)
    boundary plus the key-merge makes re-runs idempotent and catches
    rows that share the boundary watermark; rows with a NULL watermark
    enter at bootstrap only, and rows arriving later with a watermark
    BELOW the current max are missed by construction — the standard
    incremental trade (schedule periodic full refreshes if upstream
    can be that late).

    Merge targets: unpartitioned (the merged table committed as a
    whole new snapshot), ``partition_by`` (partition-scoped
    copy-on-write — only touched partitions rewritten, the rest
    hardlinked into the new snapshot), or ``bucket_by``
    (bucket-granular merge, untouched bucket files hardlinked). Each
    reads its base under the commit lock it commits under, so of two
    overlapping refreshes the second raises ``ConcurrentWriteError``
    instead of losing the first's update.

    EVERY partition- or bucket-scoped form carries the key-stability
    contract: the partition/bucket columns must be functionally
    dependent on ``incremental_keys`` (a key never moves between
    partitions), or the moved key's stale row survives in an untouched
    partition. ``bucket_by`` enforces it structurally (⊆ keys) at
    declaration; ``partition_by`` is a documented contract."""
    keys = list(model.incremental_keys)
    wm = model.watermark_col
    declared = (*model.partition_by, *keys, *([wm] if keys else []))
    missing = [c for c in declared if c not in df.columns]
    if missing:
        raise ValueError(
            f"model {model.name!r}: declared columns missing from "
            f"output: {missing}"
        )

    def _updates(existing: DataFrame) -> DataFrame:
        # read outside the commit lock: the watermark only narrows the
        # build, and the key merge under the lock keeps the result exact
        hwm = (
            existing.agg(F.max(wm)).first()[0] if wm in existing.columns else None
        )
        return df if hwm is None else df.filter(F.col(wm) >= F.lit(hwm))

    if model.bucket_by:
        from nycitibike_data_transform_spark.bucketed_table import (
            BucketedIncrementalTable,
        )

        table = BucketedIncrementalTable(
            path, list(model.bucket_by), model.num_buckets
        )
        if keys and table.current_version() is not None:
            table.merge(
                spark,
                _updates(table.read_current(spark)).select(*df.columns),
                keys,
            )
        else:
            table.write_full(spark, df)
        if keep_versions is not None:
            table.vacuum(keep=keep_versions)
        table.register(spark, model.name)
        return spark.table(model.name).select(*df.columns)

    table = VersionedTable(path)
    if keys and table.current_version() is not None:
        pc = model.partition_by[0] if model.partition_by else None

        def upsert(base: DataFrame, updates: DataFrame) -> DataFrame:
            merged = merge_upsert(base, updates, keys)
            return merged.repartition(pc) if pc else merged

        table.write_version_cow(_updates(table.read_current(spark)), upsert, pc)
    else:
        # co-locate each partition value before the partitioned write:
        # without this every upstream task writes a sliver into every
        # partition dir — a daily mart came out as ~2300 dirs × 32
        # files each (r7 finding). One shuffle on the partition keys
        # makes each dir receive exactly one file; oversized
        # partitions are a compact() concern. The explicit count keeps
        # AQE from coalescing a small build into ONE write task that
        # then writes every dir alone (the sf0.001 daily mart's 2,289
        # files: ~35 s in one task, ~12 s over four).
        out = (
            df.repartition(
                int(spark.conf.get("spark.sql.shuffle.partitions")), *model.partition_by
            )
            if model.partition_by
            else df
        )
        table.write_version(out, partition_by=model.partition_by)
    if keep_versions is not None:
        table.vacuum(keep=keep_versions)
    return table.read_current(spark).select(*df.columns)


@dataclass(frozen=True)
class Model:
    name: str
    build: Callable[..., DataFrame]  # (spark, **dep_dataframes) -> DataFrame
    deps: tuple[str, ...] = ()
    partition_by: tuple[str, ...] = ()
    # bucketed materialization (bucketing.py): the model is written
    # ONCE bucketed by its hot join/agg key, so every downstream run's
    # join on that key is co-located — the write-side shuffle is paid
    # per refresh, not per consumer. Requires a catalog table (bucket
    # metadata lives in the metastore, not the parquet files), so the
    # model also registers as ``spark.table(name)``.
    bucket_by: tuple[str, ...] = ()
    num_buckets: int = 0
    # incremental materialization (dbt's ``materialized: incremental``
    # with the merge strategy): after the bootstrap run, only rows at
    # or past the existing table's max(watermark_col) are built and
    # MERGEd on ``incremental_keys`` — the 100 TB answer to the
    # reference's full CREATE OR REPLACE every 4 hours (SURVEY §4
    # "Incrementality": refresh cost O(new data), not O(table)).
    incremental_keys: tuple[str, ...] = ()
    watermark_col: str | None = None


@dataclass
class Pipeline:
    """Model registry + runner.

    ``sources`` provides the raw inputs (name -> loader); models
    reference sources or other models by name. Materialization is one
    snapshot table per model under ``warehouse_dir``, committed once
    per run — the reference's ``CREATE OR REPLACE TABLE`` cadence,
    made atomic.
    """

    warehouse_dir: str | None = None
    sources: dict[str, Callable[[SparkSession], DataFrame]] = field(default_factory=dict)
    models: dict[str, Model] = field(default_factory=dict)

    def add_source(self, name: str, loader: Callable[[SparkSession], DataFrame]) -> None:
        if name in self.sources or name in self.models:
            raise ValueError(f"duplicate node {name!r}")
        self.sources[name] = loader

    def add_model(
        self,
        name: str,
        build: Callable[..., DataFrame],
        deps: tuple[str, ...] = (),
        partition_by: tuple[str, ...] = (),
        bucket_by: tuple[str, ...] = (),
        num_buckets: int = 0,
        incremental_keys: tuple[str, ...] = (),
        watermark_col: str | None = None,
    ) -> None:
        if name in self.sources or name in self.models:
            raise ValueError(f"duplicate node {name!r}")
        if bool(bucket_by) != bool(num_buckets):
            raise ValueError(
                f"model {name!r}: bucket_by and num_buckets must be set together"
            )
        if bucket_by and partition_by:
            raise ValueError(
                f"model {name!r}: bucket_by and partition_by are exclusive "
                "(bucket pruning and partition pruning address different "
                "keys; combined hive-partitioned bucketed writes multiply "
                "files per partition and are not supported here)"
            )
        if bool(incremental_keys) != bool(watermark_col):
            raise ValueError(
                f"model {name!r}: incremental_keys and watermark_col must "
                "be set together"
            )
        if incremental_keys and bucket_by:
            # the composed layout (bucketed_table.py) merges at bucket
            # granularity, which is only exact when a key can never
            # change its bucket — enforce the structural form here so
            # the model fails at declaration, not first refresh
            loose = [c for c in bucket_by if c not in incremental_keys]
            if loose:
                raise ValueError(
                    f"model {name!r}: bucket columns {loose} are not "
                    "incremental keys — bucket-granular merge needs "
                    "bucket_by ⊆ incremental_keys (key stability)"
                )
        if incremental_keys and len(partition_by) > 1:
            raise ValueError(
                f"model {name!r}: incremental merge supports at most one "
                "partition column (the copy-on-write merge's contract)"
            )
        self.models[name] = Model(
            name,
            build,
            deps,
            partition_by,
            bucket_by,
            num_buckets,
            incremental_keys,
            watermark_col,
        )

    def topo_order(self) -> list[str]:
        """Model names in dependency order (sources excluded);
        raises CycleError on cyclic refs at plan time, not run time."""
        ts = TopologicalSorter()
        for m in self.models.values():
            ts.add(m.name, *[d for d in m.deps])
        order = [n for n in ts.static_order() if n in self.models]
        missing = {
            d
            for m in self.models.values()
            for d in m.deps
            if d not in self.models and d not in self.sources
        }
        if missing:
            raise ValueError(f"models reference undeclared deps: {sorted(missing)}")
        return order

    def run(
        self,
        spark: SparkSession,
        versioned: bool = True,
        keep_versions: int | None = None,
    ) -> dict[str, DataFrame]:
        """Build every model in topo order; with a ``warehouse_dir``,
        persist each as a committed snapshot (see :func:`_materialize`).
        Returns name -> DataFrame.

        Incremental models (``incremental_keys``/``watermark_col``)
        merge into their materialized target; with no ``warehouse_dir``
        there is no target to merge into, so they behave as plain full
        builds for that run — ephemeral runs carry no incremental state.

        ``keep_versions`` bounds snapshot retention (vacuum after each
        commit) — on the reference's 4-hourly cadence an unbounded
        history is 6 full table copies per day per model, so
        production runs should set it; ``None`` keeps everything (an
        explicit archival choice). It is checked before any model
        runs, so a bad value never leaves a half-refreshed warehouse.

        ``versioned`` accepts only ``True``: snapshots are the one
        persisted-table format."""
        if versioned is not True:
            raise ValueError(
                "versioned=False is not supported: in-place parquet "
                "materialization was removed; every model commits a snapshot"
            )
        if keep_versions is not None and keep_versions < 1:
            raise ValueError(f"keep_versions must be >= 1, got {keep_versions}")
        built: dict[str, DataFrame] = {}

        def resolve(name: str) -> DataFrame:
            if name in built:
                return built[name]
            if name in self.sources:
                built[name] = self.sources[name](spark)
                return built[name]
            raise KeyError(name)

        for name in self.topo_order():
            model = self.models[name]
            inputs = {d: resolve(d) for d in model.deps}
            df = model.build(spark, **inputs)
            if self.warehouse_dir:
                df = _materialize(
                    spark, model, df, f"{self.warehouse_dir}/{name}", keep_versions
                )
            built[name] = df
        return built
