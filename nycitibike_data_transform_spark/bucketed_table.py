"""Bucketed + incremental + versioned table — the composed layout.

VERDICT r8 item #2: the 100 TB fact table wants BOTH watermark-
incremental refresh (merge cost O(new data), not O(table)) AND a
bucketed layout (downstream joins/aggs on the bucket key plan ZERO
shuffle exchanges). Spark's catalog bucketing can't compose with
incremental merge on its own: ``saveAsTable(mode="overwrite")`` is a
full drop-and-recreate, and there is no public API to replace
individual bucket files of a catalog table (``pipeline.py`` rejected
the combination for exactly this reason through r8).

This module composes all three existing layers instead of fighting the
writer:

- **Bucket files come from Spark's own bucketed writer** (a staging
  ``saveAsTable`` per refresh, entry dropped immediately), so every
  data file carries the bucket id in its NAME
  (``part-…_00007.c000.snappy.parquet``) — the metadata Spark's scan
  uses to plan bucketed joins. Nothing is hand-rolled about the hash:
  the staging write shuffles with the same ``pmod(murmur3, n)``
  Spark's scan assumes (the identity ``bucketing.py`` documents and
  tests pin).
- **Incremental merge is copy-on-write at BUCKET granularity**: the
  updates' bucket ids are computed with the same identity
  (``pmod(hash(keys), n)``), ONLY the touched buckets' files are read
  (direct file-list read — untouched buckets' files are never
  opened), merged (anti-join + union), and re-staged; untouched
  bucket files are HARDLINKED into the new snapshot — O(1) metadata
  per untouched bucket, no data copied. (Hardlinks are the local-fs
  form of Delta/Iceberg's file re-reference; the object-store port is
  a manifest that lists files across version dirs, or a server-side
  copy — same trade as ``versioning.py``'s pointer rename.)
- **Commits are `VersionedTable` commits**: data into a fresh
  ``data/vN``, manifest, then the fsync'd atomic pointer swap — so a
  refresh killed at ANY point leaves the previous snapshot intact and
  readable (crash-safety the plain catalog-bucketed table never had),
  with time travel and vacuum inherited.
- **Bucket-pruned point lookups**: an equality filter on the bucket
  column scans 1 of n bucket files (``SelectedBucketsCount`` in the
  plan) — note Spark's autoBucketedScan optimization (SPARK-32859)
  swaps in a plain scan when no operator needs the distribution,
  which also drops the pruning; set
  ``spark.sql.sources.bucketing.autoBucketedScan.enabled=false`` for
  lookup-style workloads (pinned in tests).
- **Downstream zero-shuffle access**: ``register()`` creates an
  external ``CLUSTERED BY … INTO n BUCKETS`` table over the CURRENT
  snapshot dir. Spark parses each file's bucket id from its name, so
  the mixed-provenance snapshot (files hardlinked from several
  refreshes) scans as a first-class bucketed table: joins and groupBys
  on the bucket key plan zero exchanges (pinned in
  ``tests/test_bucketed_table.py``). Registration pins a snapshot —
  re-register after a commit to advance, exactly snapshot-isolation.

Scale shape of one refresh: one shuffle of the MERGED TOUCHED slice on
the bucket key (the staging write), a bounded collect of touched
bucket ids (≤ num_buckets values), and O(untouched buckets) hardlink
syscalls. A 4-hourly feed whose keys land in b of n buckets costs
b/n of a full rewrite — and a well-chosen bucket key (the join key,
usually time-correlated for event facts) keeps b small.

Replacement invariant: every touched bucket is fully rewritten by the
staging write and contributes EXACTLY ONE file to the new snapshot, so
each bucket always has one file — the precondition for Spark reading
``SORTED BY`` metadata (``bucketing.py`` module doc).

Same key-stability contract as every partition-scoped merge here:
bucket columns must be a subset of (or functionally dependent on) the
merge keys — a key that changed its bucket would leave its old row
alive in an untouched bucket. Enforced at merge time.
"""

from __future__ import annotations

import os
import re
import shutil
import uuid
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from nycitibike_data_transform_spark.bucketing import write_bucketed
from nycitibike_data_transform_spark.versioning import (
    VersionedTable,
    _stats_friendly_writes,
    merge_upsert,
)

# Spark's bucketed writer encodes the bucket id as _NNNNN before the
# file extensions: part-00003-<uuid>_00007.c000.snappy.parquet
# (zero-padded to 5 digits, but ids >= 100000 print wider — hence {5,})
_BUCKET_ID_RE = re.compile(r"_(\d{5,})\.")


def bucket_id_of_file(name: str) -> int:
    m = _BUCKET_ID_RE.search(os.path.basename(name))
    if not m:
        raise ValueError(f"no bucket id in file name {name!r}")
    return int(m.group(1))


class BucketedIncrementalTable(VersionedTable):
    """Versioned parquet table whose every snapshot is a valid Spark
    bucketed layout, refreshed by bucket-granular copy-on-write merge.

    Single-writer-many-readers, local filesystem — inherited contract
    from :class:`VersionedTable` (the root-URI rejection included).
    """

    def __init__(
        self,
        root: str,
        bucket_cols: list[str] | tuple[str, ...],
        num_buckets: int,
        sort_cols: list[str] | tuple[str, ...] | None = None,
        backend=None,
    ):
        super().__init__(root, backend=backend)
        if num_buckets < 1:
            raise ValueError(f"num_buckets must be >= 1, got {num_buckets}")
        self.bucket_cols = list(bucket_cols)
        if not self.bucket_cols:
            raise ValueError("bucket_cols must be non-empty")
        self.num_buckets = num_buckets
        self.sort_cols = list(sort_cols) if sort_cols else list(self.bucket_cols)
        cur = self.current_version()
        if cur is not None:
            m = self.manifest(cur)
            # sort_cols is part of the spec check too: a reopen with
            # different sort_cols would stage NEW bucket files sorted
            # one way while hardlinked old files stay sorted the other,
            # and register()'s SORTED BY metadata would then let Spark
            # elide sorts over files that aren't — silently wrong join
            # results, the worst failure class (review finding r9)
            spec = (m.get("bucket_cols"), m.get("num_buckets"), m.get("sort_cols"))
            if spec != (self.bucket_cols, self.num_buckets, self.sort_cols):
                raise ValueError(
                    f"existing table at {root} has layout {spec}, "
                    f"requested ({self.bucket_cols}, {self.num_buckets}, "
                    f"{self.sort_cols}) — changing the layout needs an "
                    "explicit full write_full after constructing with the "
                    "NEW spec and vacuuming"
                )

    # ------------------------------------------------------------ util

    def _bucket_expr(self):
        """The bucket id of a row — the same ``pmod(murmur3, n)``
        Spark's HashPartitioning / bucketed writer uses (the identity
        ``bucketing.py`` pins)."""
        return F.pmod(
            F.hash(*[F.col(c) for c in self.bucket_cols]), F.lit(self.num_buckets)
        )

    def _stage_bucketed(self, spark: SparkSession, df: DataFrame, tag: str) -> str:
        """Write ``df`` through Spark's bucketed writer into a scratch
        dir (catalog entry dropped immediately — the FILES and their
        bucket-id names are what we keep). Returns the staging dir.

        The dir is UNIQUE per attempt (r12 review): a fixed shared
        path (the old ``_staging/full``) re-opens for the bucketed
        writer exactly the zombie-vs-winner window the unique
        ``_attempt_dir`` + fence closed for ``VersionedTable`` — a
        stalled writer's ``finally`` rmtree on a shared path would
        delete a reclaiming winner's in-flight staged files. Unique
        dirs make every cleanup self-scoped; crashed attempts orphan
        under ``_staging`` and vacuum's fenced sweep collects them."""
        stage = f"{self._attempt_dir()}.{tag}"
        table = f"__bkt_stage_{os.getpid()}_{uuid.uuid4().hex[:8]}"
        spark.sql(f"DROP TABLE IF EXISTS `{table}`")
        with _stats_friendly_writes(spark):
            # MICROS timestamps (not stat-less INT96) so parquet
            # row-group skipping works on sorted time columns
            write_bucketed(
                df,
                table,
                self.bucket_cols,
                self.num_buckets,
                sort_cols=self.sort_cols,
                path=stage,
            )
        spark.sql(f"DROP TABLE `{table}`")  # external: files stay
        # Enforce the one-file-per-bucket invariant the whole layout
        # rests on (ADVICE r9): the repartition above normally yields
        # exactly one file per bucket, but a session conf like
        # spark.sql.files.maxRecordsPerFile splits writes and would
        # silently break both the manifest's single-file replacement
        # and the SORTED BY single-file precondition register() relies
        # on (Spark stops eliding sorts — wrong plans, quiet). Fail
        # loudly at stage time, before anything is committed.
        by_bucket: dict[int, list[str]] = {}
        for f in self._parquet_files(stage):
            by_bucket.setdefault(bucket_id_of_file(f), []).append(f)
        dupes = {b: fs for b, fs in by_bucket.items() if len(fs) > 1}
        if dupes:
            shutil.rmtree(stage, ignore_errors=True)
            raise RuntimeError(
                f"bucketed stage produced multiple files per bucket "
                f"{sorted(dupes)} — a write-splitting session conf "
                "(e.g. spark.sql.files.maxRecordsPerFile) is set; "
                "unset it for BucketedIncrementalTable writes"
            )
        return stage

    def _commit_linked(self, links: dict[str, str], schema: StructType) -> int:
        """Assemble the next snapshot from ``{target_name: source_path}``
        hardlinks, then commit it with the bucket spec in the manifest
        (data → manifest → atomic swap)."""
        cur = self.current_version()
        self._link_into_slot(links, (cur or 0) + 1)
        return self._commit(
            cur,
            schema,
            bucket_cols=self.bucket_cols,
            num_buckets=self.num_buckets,
            sort_cols=self.sort_cols,
        )

    # ----------------------------------------------------------- writes

    def write_full(self, spark: SparkSession, df: DataFrame) -> int:
        """Bootstrap / full refresh: every bucket rewritten, committed
        as the next snapshot. Locked (single-writer, see
        :meth:`VersionedTable._write_lock`)."""
        missing = [c for c in self.bucket_cols if c not in df.columns]
        if missing:
            raise ValueError(f"bucket columns missing from input: {missing}")
        with self._write_lock():
            stage = self._stage_bucketed(spark, df, "full")
            try:
                links = {
                    f: os.path.join(stage, f)
                    for f in self._parquet_files(stage)
                }
                return self._commit_linked(links, df.schema)
            finally:
                shutil.rmtree(stage, ignore_errors=True)

    def merge(
        self, spark: SparkSession, updates: DataFrame, keys: list[str]
    ) -> list[int]:
        """Bucket-granular copy-on-write MERGE (delete-insert on
        ``keys``): reads and rewrites ONLY the buckets the updates'
        keys hash into; every other bucket's file is hardlinked into
        the new snapshot untouched. Returns the touched bucket ids.

        Key-stability contract enforced structurally: the bucket
        columns must be a subset of ``keys`` (then a key can never
        change its bucket, so delete-insert at bucket scope is exact).

        Locked for the whole read-base → stage → commit span (see
        :meth:`VersionedTable._write_lock`): two concurrent merges
        from the same base would each commit a snapshot missing the
        other's buckets — the classic lost update; the loser now
        raises :class:`ConcurrentWriteError
        <nycitibike_data_transform_spark.versioning.ConcurrentWriteError>`
        instead.
        """
        with self._write_lock():
            return self._merge_locked(spark, updates, keys)

    def _merge_locked(
        self, spark: SparkSession, updates: DataFrame, keys: list[str]
    ) -> list[int]:
        if not keys:
            raise ValueError("merge needs at least one key column")
        not_in_keys = [c for c in self.bucket_cols if c not in keys]
        if not_in_keys:
            raise ValueError(
                f"bucket columns {not_in_keys} are not merge keys: a row "
                "whose bucket column changed would keep its stale copy "
                "alive in an untouched bucket — bucket by (a subset of) "
                "the merge keys"
            )
        cur = self.current_version()
        if cur is None:
            raise ValueError(
                f"empty table at {self.root}: bootstrap with write_full"
            )
        m = self.manifest(cur)
        # additive schema evolution: updates may APPEND nullable columns
        # — untouched buckets keep their old files hardlinked and
        # byte-identical, reading NULL for the added columns under the
        # evolved manifest schema
        schema = self._evolved_schema(m["schema"], updates.schema)
        updates = updates.select(*[f.name for f in schema.fields])
        # checkpoint BEFORE the touched-bucket collect: the collect
        # below and the merge would otherwise each re-run the updates
        # plan, and a nondeterministic source could emit rows into a
        # bucket the collect didn't see, committing TWO files for one
        # bucket (stale duplicates + a broken one-file-per-bucket
        # invariant)
        updates = updates.localCheckpoint(eager=True)

        # bounded metadata collect: ≤ num_buckets distinct ids
        touched = sorted(
            r[0]
            for r in updates.select(self._bucket_expr().alias("__b"))
            .distinct()
            .collect()
        )
        data_dir = self._data_dir(cur)
        prev = {f: bucket_id_of_file(f) for f in m["files"]}
        touched_set = set(touched)
        touched_files = [
            os.path.join(data_dir, f) for f, b in prev.items() if b in touched_set
        ]

        if touched_files:
            existing = spark.read.schema(schema).parquet(*touched_files)
            merged = merge_upsert(existing, updates, keys)
        else:  # all-new buckets (or an empty previous snapshot)
            merged = updates
        # lineage break: the staging write must not re-run the merge
        # plan per task, and (unlike overwrite-in-place merges) we
        # also want the touched-file read finished before any linking
        merged = merged.localCheckpoint(eager=True)

        stage = self._stage_bucketed(spark, merged, "merge")
        try:
            links = {
                f: os.path.join(data_dir, f)
                for f, b in prev.items()
                if b not in touched_set
            }
            for f in self._parquet_files(stage):
                links[f] = os.path.join(stage, f)
            self._commit_linked(links, schema)
            return touched
        finally:
            shutil.rmtree(stage, ignore_errors=True)

    # ---------------------------------------------------- guarded paths

    def write_version(self, df: DataFrame, partition_by: tuple[str, ...] = ()) -> int:
        """Blocked: a plain-parquet commit would produce files without
        bucket ids in their names, silently breaking every later
        bucketed scan and merge. Snapshots go through
        :meth:`write_full` / :meth:`merge`."""
        raise TypeError(
            "BucketedIncrementalTable snapshots must be written with "
            "write_full()/merge() — write_version() would commit an "
            "unbucketed snapshot"
        )

    def write_version_cow(
        self, updates: DataFrame, resolve, partition_col: str | None = None
    ) -> int:
        """Blocked like :meth:`write_version`: the inherited merge
        commits a manifest without the bucket spec, which every later
        open rejects. Bucketed merges go through :meth:`merge`."""
        raise TypeError(
            "BucketedIncrementalTable snapshots must be written with "
            "write_full()/merge() — write_version_cow() would commit an "
            "unbucketed snapshot"
        )

    def rewrite_full(
        self,
        spark: SparkSession,
        transform,
        partition_by: tuple[str, ...] | None = None,
    ) -> int:
        """Blocked for the same reason as :meth:`write_version`: the
        inherited full-rewrite commits plain part-files with no bucket
        ids and a manifest without the bucket spec — every later
        bucketed scan and merge would silently break (register() would
        even emit CLUSTERED BY metadata over unsorted files). Migrate
        a bucketed table by constructing with the NEW spec and
        ``write_full(transform(read_current(spark)))``."""
        raise TypeError(
            "BucketedIncrementalTable snapshots must be rewritten with "
            "write_full() under the (possibly new) bucket spec — "
            "rewrite_full() would commit an unbucketed snapshot"
        )

    def compact(self, spark: SparkSession, target_file_mb: int = 128,
                cluster_by: tuple[str, ...] = (),
                zorder_by: tuple[str, ...] = ()) -> int:
        """Blocked: every snapshot already holds exactly one file per
        bucket (the replacement invariant), so there is nothing to
        compact; file sizing is governed by ``num_buckets``. To change
        the layout, construct with the new spec and
        ``write_full(read_current())``."""
        raise TypeError(
            "BucketedIncrementalTable is always one file per bucket; "
            "re-layout via write_full under a new bucket spec"
        )

    # ------------------------------------------------------------ reads

    @contextmanager
    def bucket_pruned(self, spark: SparkSession):
        """Pin bucket pruning ON for the lookup pattern (VERDICT r10
        item #4): Spark's autoBucketedScan optimization (SPARK-32859)
        swaps the bucketed scan for a plain one whenever no operator
        in the query needs the hash distribution — a filter-only point
        lookup is exactly that shape, so it silently LOSES
        ``SelectedBucketsCount`` pruning and reads all n bucket files
        for a 1-bucket answer. This context manager pins
        ``spark.sql.sources.bucketing.autoBucketedScan.enabled=false``
        and restores the previous value on exit.

        The conf is read at PLAN time, which Spark defers to the
        ACTION — so the collect/write must happen INSIDE this block,
        not just the DataFrame construction. :meth:`point_lookup`
        wraps the whole fetch for the common case."""
        key = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
        prev = spark.conf.get(key)
        spark.conf.set(key, "false")
        try:
            yield
        finally:
            spark.conf.set(key, prev)

    def _key_condition(self, vals: list):
        """The residual row filter for a point lookup: bucket pruning
        narrows to files, this narrows to rows (a bucket holds many
        keys)."""
        if len(self.bucket_cols) == 1:
            return F.col(self.bucket_cols[0]).isin(vals)
        cond = None
        for tup in vals:
            if len(tup) != len(self.bucket_cols):
                raise ValueError(
                    f"each key tuple must have {len(self.bucket_cols)} "
                    f"values (bucket columns {self.bucket_cols}), got "
                    f"{tup!r}"
                )
            one = F.lit(True)
            for c, v in zip(self.bucket_cols, tup):
                one = one & (F.col(c) == F.lit(v))
            cond = one if cond is None else (cond | one)
        return cond

    def point_lookup(self, spark: SparkSession, table: str, values) -> list:
        """Fetch the rows whose bucket key is in ``values`` from the
        REGISTERED catalog table (:meth:`register`), scanning only the
        buckets those keys hash into — the O(|keys| buckets) GET the
        layout exists for. Single-bucket-column tables take a list of
        key values; multi-column tables a list of key TUPLES (bounded
        OR-of-ANDs — point lookups are short lists by definition).
        Executes (collects) under :meth:`bucket_pruned` so the pinned
        conf is live at plan time; returns the driver-side rows."""
        vals = list(values)
        if not vals:
            return []
        cond = self._key_condition(vals)
        with self.bucket_pruned(spark):
            return spark.table(table).filter(cond).collect()

    def register(self, spark: SparkSession, table: str) -> int:
        """(Re-)create catalog table ``table`` as an external bucketed
        table over the CURRENT snapshot. The registration is pinned to
        that snapshot (snapshot isolation for its readers); call again
        after a commit to advance. Returns the registered version."""
        cur = self.current_version()
        if cur is None:
            raise ValueError(f"empty versioned table at {self.root}")
        schema = StructType.fromJson(self.manifest(cur)["schema"])
        cols = ", ".join(
            f"`{f.name}` {f.dataType.simpleString()}" for f in schema.fields
        )
        bcols = ", ".join(f"`{c}`" for c in self.bucket_cols)
        scols = ", ".join(f"`{c}`" for c in self.sort_cols)
        spark.sql(f"DROP TABLE IF EXISTS `{table}`")
        spark.sql(
            f"CREATE TABLE `{table}` ({cols}) USING PARQUET "
            f"CLUSTERED BY ({bcols}) SORTED BY ({scols}) "
            f"INTO {self.num_buckets} BUCKETS "
            f"LOCATION '{self._data_dir(cur)}'"
        )
        return cur
