"""Dependency-ordered materialization runner — the dbt DAG analogue.

The reference's lifecycle (reference ``setup_script.sh:7``,
``dbt_project.yml:28-29``): topo-sort models by ``ref()`` edges, then
``CREATE OR REPLACE TABLE`` each in order (full refresh every run).

Spark mapping: a registry of model functions; execution resolves each
model's declared deps, runs them in topological order, and
materializes with ``write.mode("overwrite")`` — optionally
``partitionBy`` (the partition-pruning upgrade the reference's
external tables could not have, ``main.tf:301-304``).
"""

from __future__ import annotations

import os

from collections.abc import Callable
from dataclasses import dataclass, field
from graphlib import TopologicalSorter

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nycitibike_data_transform_spark.catalog import read_parquet
from nycitibike_data_transform_spark.versioning import VersionedTable


def merge_upsert(existing: DataFrame, updates: DataFrame, keys: list[str]) -> DataFrame:
    """Incremental MERGE (delete-insert emulation): rows from
    ``existing`` whose key has no update, plus all ``updates``.

    The reference's freshness story is a full ``CREATE OR REPLACE``
    every 4 hours (reference ``setup_script.sh:7``); this is the
    incremental upgrade SURVEY.md §4 flags as optional — an anti-join
    + union, no table format required (Delta/Iceberg would make it a
    metadata operation, but their jars aren't in this environment).
    Shuffle profile: one hash shuffle of each side on the key.
    """
    if not keys:
        raise ValueError("merge_upsert needs at least one key column")
    if existing.columns != updates.columns:
        raise ValueError(
            f"schema mismatch: existing={existing.columns} updates={updates.columns}"
        )
    kept = existing.join(updates.select(*keys), keys, "left_anti")
    return kept.unionByName(updates)


def read_table_for_merge(spark: SparkSession, path: str, schema) -> DataFrame:
    """Read a partitioned parquet table back for a merge, under the
    CALLER's schema — the shared scaffolding both partition-scoped
    merge sites use (batch :func:`merge_upsert_partitioned` and the
    streaming upsert view).

    The on-disk column SET is validated first against an inference
    read (a user-supplied schema would silently null-fill missing
    columns), then the table is re-read under ``schema``: hive
    partition-type inference is lossy for string values ('01' infers
    as int 1; the conforming cast would yield '1', and dynamic
    overwrite would then write a NEW day=1 directory while day=01
    kept its stale rows). An explicit schema makes Spark parse the
    dir value directly as the caller's type — exact round-trip.
    """
    on_disk = read_parquet(spark, path).columns
    expected = [f.name for f in schema.fields]
    if sorted(on_disk) != sorted(expected):
        raise ValueError(
            f"schema mismatch: existing={sorted(on_disk)} "
            f"updates={sorted(expected)} — plain-parquet incremental "
            "targets cannot evolve their schema (a mixed-generation "
            "directory has no manifest to pin the read schema); use "
            "versioned=True or bucket_by, which support additive "
            "add-column evolution"
        )
    return spark.read.schema(schema).parquet(path)


def touched_partition_filter(
    updates: DataFrame, partition_col: str
) -> tuple[list[object], "F.Column"]:
    """(touched values, partition-pruning predicate) for the
    partitions present in ``updates`` — driver-side partition
    METADATA (thousands of values, never data rows). ``isin`` never
    matches NULL, but NULL is a legal partition value
    (__HIVE_DEFAULT_PARTITION__) and dynamic overwrite WILL rewrite
    it — without the isNull branch the existing null-partition rows
    would be silently dropped from the merge (review finding r5)."""
    touched = [
        r[0] for r in updates.select(partition_col).distinct().collect()
    ]
    non_null = [v for v in touched if v is not None]
    cond = F.col(partition_col).isin(non_null) if non_null else F.lit(False)
    if len(non_null) != len(touched):
        cond = cond | F.col(partition_col).isNull()
    return touched, cond


def write_dynamic_partition_overwrite(
    merged: DataFrame, path: str, partition_col: str
) -> None:
    """Overwrite ONLY the partitions present in ``merged`` (dynamic
    partition-overwrite, mode saved and restored)."""
    spark = merged.sparkSession
    prev_mode = spark.conf.get(
        "spark.sql.sources.partitionOverwriteMode", "static"
    )
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        merged.write.mode("overwrite").partitionBy(partition_col).parquet(path)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev_mode)


def merge_upsert_partitioned(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    keys: list[str],
    partition_col: str,
    existing: DataFrame | None = None,
) -> list[object]:
    """Copy-on-write MERGE over a ``partitionBy(partition_col)``
    parquet layout: only the partitions present in ``updates`` are
    read, merged (anti-join + union), and rewritten — untouched
    partitions' files are never opened or replaced. Returns the list
    of partition values rewritten.

    This is the partition-level upgrade over :func:`merge_upsert`'s
    whole-table rewrite (a Delta/Iceberg MERGE would make it row-level
    ACID; their jars aren't in this environment, so partition
    granularity is the honest Spark-native equivalent — the same
    mechanism as Hive/Spark dynamic-partition overwrite). At 100 TB a
    4-hourly feed touches a handful of date partitions; rewriting only
    those makes merge cost O(touched data), not O(table).

    Contract: ``partition_col`` must be functionally dependent on the
    key columns (a key never moves between partitions) — the standard
    constraint for partition-scoped MERGE; a moved key would leave its
    old row alive in an untouched partition. (``partition_col`` may
    itself be one of ``keys``, which satisfies the constraint
    trivially.)

    Mechanics: the affected-partition values are collected driver-side
    (partition metadata, like Delta's file listing — thousands of
    values, never data rows); the merged slice is localCheckpoint-ed
    to break lineage (Spark refuses to overwrite a path its write plan
    still reads), then written with dynamic partition-overwrite so
    ONLY the partitions present in the output are replaced.
    """
    if partition_col not in updates.columns:
        raise ValueError(f"updates missing partition column {partition_col!r}")
    # a caller that already holds the schema-validated table frame
    # (the incremental materializer reads it for the watermark) passes
    # it in so the file listing + column-set validation run once per
    # refresh, not twice
    if existing is None:
        existing = read_table_for_merge(spark, path, updates.schema)
    touched, cond = touched_partition_filter(updates, partition_col)
    affected = existing.filter(cond)
    merged = merge_upsert(
        affected.select(*updates.columns), updates, keys
    ).localCheckpoint()
    write_dynamic_partition_overwrite(merged, path, partition_col)
    return touched


def _has_parquet_files(path: str) -> bool:
    """Whether ``path`` holds any parquet DATA files (recursing into
    hive partition dirs). Mere directory existence is not enough: a
    zero-row bootstrap leaves only _SUCCESS, and treating that as an
    existing table would send every later run into the merge branch's
    schema-inference read — which fails on a data-fileless dir,
    bricking the model until someone deletes the path by hand."""
    for _root, _dirs, files in os.walk(path):
        if any(f.endswith(".parquet") for f in files):
            return True
    return False


def _materialize_incremental(
    spark: SparkSession,
    model: "Model",
    df: DataFrame,
    path: str,
    versioned: bool,
    keep_versions: int | None,
) -> DataFrame:
    """dbt's ``materialized: incremental`` (merge strategy) for one
    pipeline model: the bootstrap run writes the full build; every
    later run keeps only built rows at or past the existing table's
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

    Targets: plain parquet (whole-table rewrite on merge),
    ``partition_by`` (partition-scoped merge — only touched partitions
    rewritten, via :func:`merge_upsert_partitioned`),
    ``versioned=True`` (merge committed as an atomic new snapshot;
    with ``partition_by`` the commit is partition-scoped
    copy-on-write), or ``bucket_by`` (the composed layout,
    ``bucketed_table.py``: bucket-granular merge + zero-shuffle
    downstream joins + intrinsic snapshot versioning).

    EVERY partition- or bucket-scoped form carries the key-stability
    contract: the partition/bucket columns must be functionally
    dependent on ``incremental_keys`` (a key never moves between
    partitions), or the moved key's stale row survives in an untouched
    partition. ``bucket_by`` enforces it structurally (⊆ keys) at
    declaration; ``partition_by`` is a documented contract, matching
    :func:`merge_upsert_partitioned`."""
    keys = list(model.incremental_keys)
    wm = model.watermark_col
    missing = [c for c in (*keys, wm) if c not in df.columns]
    if missing:
        raise ValueError(
            f"model {model.name!r}: incremental columns missing from "
            f"output: {missing}"
        )

    def _updates(existing: DataFrame) -> DataFrame:
        hwm = existing.agg(F.max(wm).alias("hwm")).first()[0]
        return df if hwm is None else df.filter(F.col(wm) >= F.lit(hwm))

    if model.bucket_by:
        # the composed layout (VERDICT r8 item #2): incremental merge
        # AND a bucketed snapshot AND versioned crash-safe commits in
        # one table — merge rewrites only the buckets the update keys
        # hash into (untouched bucket files are hardlinked across
        # snapshots), and the registered catalog table gives every
        # downstream join/agg on the bucket key a zero-exchange plan.
        # Versioning is intrinsic here, so this branch serves both
        # versioned=True and False (keep_versions bounds retention).
        from nycitibike_data_transform_spark.bucketed_table import (
            BucketedIncrementalTable,
        )

        table = BucketedIncrementalTable(
            path, list(model.bucket_by), model.num_buckets
        )
        if table.current_version() is None:
            table.write_full(spark, df)
        else:
            table.merge(
                spark,
                _updates(table.read_current(spark)).select(*df.columns),
                keys,
            )
        if keep_versions is not None:
            table.vacuum(keep=keep_versions)
        table.register(spark, model.name)
        return spark.table(model.name).select(*df.columns)

    if versioned:
        table = VersionedTable(path)
        if table.current_version() is not None and model.partition_by:
            # partition-scoped COPY-ON-WRITE commit (VERDICT r8 item
            # #3): merge only the touched partitions and hardlink the
            # rest into the new snapshot — the versioned refresh now
            # costs O(touched data) like the unversioned partitioned
            # merge, while keeping the atomic pointer-swap commit.
            # SAME contract as merge_upsert_partitioned (r9 review:
            # this used to be a whole-table merge, which tolerated a
            # key changing its partition value — the scoped form does
            # not): partition_col must be functionally dependent on
            # the keys, or a moved key's stale row survives in an
            # untouched partition. The unversioned partitioned path
            # has always had this contract; versioned now matches it.
            pc = model.partition_by[0]
            existing = table.read_current_as(spark, df.schema)
            # Pin the updates plan BEFORE deriving touched partitions:
            # write_version_cow replaces exactly the partition dirs its
            # staged write produces, so if a nondeterministic model
            # source emitted different partition values between the
            # touched-partition scan and the snapshot write, a replaced
            # dir could commit without its existing rows ever being
            # merged in (silent row loss). Same hazard — and same fix —
            # as bucketed_table.merge and streaming apply_upsert_batch.
            # Deterministic plans also stop executing the model twice.
            updates = _updates(existing).localCheckpoint(eager=True)
            _, cond = touched_partition_filter(updates, pc)
            merged = merge_upsert(
                existing.filter(cond).select(*df.columns), updates, keys
            ).repartition(pc)
            table.write_version_cow(merged, pc)
        else:
            out = df
            if table.current_version() is not None:
                # read under the BUILT frame's schema: after an
                # additive evolution the snapshot lacks the new
                # columns — the pinned read NULL-fills them (and
                # read_current_as rejects drops/re-types loudly)
                existing = table.read_current_as(spark, df.schema)
                out = merge_upsert(
                    existing.select(*df.columns), _updates(existing), keys
                )
            if model.partition_by:
                out = out.repartition(*model.partition_by)
            table.write_version(out, partition_by=model.partition_by)
        if keep_versions is not None:
            table.vacuum(keep=keep_versions)
        return table.read_current(spark).select(*df.columns)

    if "://" in path:
        raise ValueError(
            f"incremental model target must be a local path, got {path!r}: "
            "bootstrap detection walks the local filesystem (an object-"
            "store deployment would silently re-bootstrap every run — "
            "fail loudly instead; same contract as VersionedTable)"
        )

    def _read_back() -> DataFrame:
        # re-read under the BUILD's schema, never inference: (a) hive
        # partition-type inference is lossy (string '01' comes back as
        # int 1 — read_table_for_merge's docstring), so an inference
        # read would hand downstream models changed types/values;
        # (b) a zero-row bootstrap leaves no data files, and inference
        # would fail with UNABLE_TO_INFER_SCHEMA where an explicit
        # schema correctly yields the empty frame
        return spark.read.schema(df.schema).parquet(path).select(*df.columns)

    if not _has_parquet_files(path):  # bootstrap = the plain full write
        if model.partition_by:
            out = df.repartition(*model.partition_by)
            out.write.mode("overwrite").partitionBy(*model.partition_by).parquet(path)
        else:
            df.write.mode("overwrite").parquet(path)
        spark.catalog.refreshByPath(path)
        return _read_back()

    existing = read_table_for_merge(spark, path, df.schema)
    updates = _updates(existing)
    if model.partition_by:
        merge_upsert_partitioned(
            spark, path, updates, keys, model.partition_by[0], existing=existing
        )
    else:
        # localCheckpoint breaks lineage: Spark refuses to overwrite a
        # path its write plan still reads
        merged = merge_upsert(
            existing.select(*df.columns), updates, keys
        ).localCheckpoint()
        merged.write.mode("overwrite").parquet(path)
    # drop the session's cached file listing for the path — without
    # this a later read can serve the pre-merge file set and fail
    # with FILE_NOT_EXIST on the replaced files
    spark.catalog.refreshByPath(path)
    return _read_back()


def scd2_apply(
    dim: DataFrame | None,
    updates: DataFrame,
    keys: list[str],
    ts_col: str,
    end_col: str = "valid_to",
    start_col: str = "valid_from",
    current_col: str = "is_current",
) -> DataFrame:
    """Slowly-changing-dimension type 2 merge, emulated without a table
    format (Delta's MERGE would be the managed path; the jars aren't in
    this environment):

    - ``dim`` rows whose key has an update get their open interval
      closed at the batch's FIRST update timestamp for that key;
    - the batch's updates for one key CHAIN: each closes at the next
      update's timestamp, only the latest stays current — a batch
      carrying several versions of a key yields a correct interval
      history, never multiple simultaneously-open rows;
    - an update whose ``(key, ts)`` already exists in ``dim`` as a
      row's ``start_col`` is skipped, so re-running the same batch
      (retry after a failed downstream write) is a no-op — true
      idempotence, not the caller-beware caveat it used to be.

    ``dim=None`` bootstraps from updates alone (chained). Shuffle:
    each side hashes once on the key; the within-batch chaining is a
    lag/lead window over the (tiny) update batch.
    """
    if not keys:
        raise ValueError("scd2_apply needs at least one key column")
    from pyspark.sql import Window

    if dim is not None:
        # idempotence: drop updates already applied (their (key, ts)
        # is some dim row's start) — a re-run becomes a no-op
        seen = dim.select(*keys, F.col(start_col).alias(ts_col))
        updates = updates.join(seen, [*keys, ts_col], "left_anti")

    w_chain = Window.partitionBy(*keys).orderBy(ts_col)
    nxt = F.lead(ts_col).over(w_chain)
    new_rows = (
        updates.withColumn(start_col, F.col(ts_col))
        .withColumn(end_col, nxt.cast("timestamp"))
        .withColumn(current_col, nxt.isNull())
        .drop(ts_col)
    )
    if dim is None:
        return new_rows
    first_update = updates.groupBy(*keys).agg(F.min(ts_col).alias("__new_start"))
    closed = (
        dim.join(first_update, keys, "left")
        .withColumn(
            end_col,
            F.when(
                F.col(current_col) & F.col("__new_start").isNotNull(), F.col("__new_start")
            ).otherwise(F.col(end_col)),
        )
        .withColumn(
            current_col,
            F.when(F.col("__new_start").isNotNull(), F.lit(False)).otherwise(
                F.col(current_col)
            ),
        )
        .drop("__new_start")
    )
    return closed.unionByName(new_rows)


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
    reference sources or other models by name. Materialization is
    parquet-per-model under ``warehouse_dir`` with full-refresh
    semantics (``mode="overwrite"``), matching the reference's
    ``CREATE OR REPLACE TABLE`` cadence.
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
                "partition column (merge_upsert_partitioned's contract)"
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
        materialize: bool = True,
        versioned: bool = False,
        keep_versions: int | None = None,
    ) -> dict[str, DataFrame]:
        """Build every model in topo order; optionally persist each as
        parquet (full refresh). Returns name -> DataFrame.

        Incremental models (``incremental_keys``/``watermark_col``)
        merge into their materialized target; with
        ``materialize=False`` (or no ``warehouse_dir``) there is no
        target to merge into, so they behave as plain full builds for
        that run — ephemeral runs carry no incremental state.

        ``versioned=True`` upgrades the reference's clobbering
        ``CREATE OR REPLACE`` semantics to snapshot versioning
        (``versioning.VersionedTable``): each run commits a new
        immutable snapshot with an atomic pointer swap, so a killed
        run never corrupts the table, readers are snapshot-isolated,
        and prior runs stay time-travel readable. ``keep_versions``
        bounds retention (vacuum after each commit) — on the
        reference's 4-hourly cadence an unbounded history is 6 full
        table copies per day per model, so production runs should set
        it; ``None`` keeps everything (explicit archival choice)."""
        if keep_versions is not None and not versioned:
            raise ValueError("keep_versions requires versioned=True")
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
            if materialize and self.warehouse_dir:
                if model.incremental_keys:
                    built[name] = _materialize_incremental(
                        spark,
                        model,
                        df,
                        f"{self.warehouse_dir}/{name}",
                        versioned,
                        keep_versions,
                    )
                    continue
                if model.partition_by:
                    # co-locate each partition value before the
                    # partitionBy write: without this every upstream
                    # task writes a sliver into every partition dir —
                    # a daily mart came out as ~2300 dirs × 32 files
                    # each (r7 finding). One shuffle on the partition
                    # keys makes each dir receive exactly one file;
                    # oversized partitions are a compact() concern.
                    df = df.repartition(*model.partition_by)
                path = f"{self.warehouse_dir}/{name}"
                if model.bucket_by:
                    if versioned:
                        raise ValueError(
                            f"model {name!r}: bucketed materialization is "
                            "not snapshot-versioned (bucket metadata lives "
                            "in the catalog, not the snapshot dir) — pick "
                            "one per model"
                        )
                    from nycitibike_data_transform_spark.bucketing import (
                        write_bucketed,
                    )

                    write_bucketed(
                        df,
                        name,
                        list(model.bucket_by),
                        model.num_buckets,
                        path=path,
                    )
                    built[name] = spark.table(name)
                    continue
                if versioned:
                    table = VersionedTable(path)
                    table.write_version(df, partition_by=model.partition_by)
                    if keep_versions is not None:
                        table.vacuum(keep=keep_versions)
                    df = table.read_current(spark)
                else:
                    writer = df.write.mode("overwrite")
                    if model.partition_by:
                        writer = writer.partitionBy(*model.partition_by)
                    writer.parquet(path)
                    df = read_parquet(spark, path)
            built[name] = df
        return built
