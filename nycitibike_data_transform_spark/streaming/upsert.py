"""Streaming upsert materialization: maintain a latest-row-per-key
snapshot table from a stream (the CDC "apply changes" / materialized
upsert view — Delta's streaming MERGE pattern, expressed with this
engine's batch merge machinery inside ``foreachBatch``).

Semantics are ARRIVAL-ORDER INDEPENDENT: the winner per key is decided
by the explicit ``order_desc`` columns (e.g. event time, then a
tie-break id), not by which micro-batch happened to arrive last — a
late-arriving older row never overwrites a newer one. That is the
difference between this and blind last-writer-wins CDC apply.

Every micro-batch commits a ``VersionedTable`` snapshot: the merge
lands in a fresh snapshot dir and the pointer swap is the only commit
point, so a batch killed mid-write leaves the previous snapshot
intact and checkpoint replay re-applies the batch onto a whole table.

Scale shape per micro-batch: one shuffle of the batch on the key for
the within-batch winner window, then a merge against the CURRENT
snapshot. With ``partition_col`` set (the 100 TB form) the merge is
PARTITION-SCOPED: only the partitions the batch touches are read,
re-deduplicated, and rewritten; untouched partitions' files are
hardlinked into the new snapshot, so a micro-batch costs O(touched
data), not O(table). The unpartitioned form (``partition_col=None``)
rewrites the whole table and is only appropriate for bounded
view-sized targets.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.readwriter import DataStreamWriter

from nycitibike_data_transform_spark.functions.dbt_compat import deduplicate
from nycitibike_data_transform_spark.versioning import VersionedTable


def _winners(df: DataFrame, keys: list[str], order_desc: list[str]) -> DataFrame:
    from pyspark.sql.types import MapType

    order: list[Column] = [F.col(c).desc() for c in order_desc]
    # deterministic final tie-break so re-runs of the same batch pick
    # the same row (exactly-once replay safety); maps are not
    # orderable in Spark and would fail analysis, so they ride along
    # without contributing to the ordering
    order += [
        F.col(fld.name).asc()
        for fld in df.schema.fields
        if fld.name not in order_desc and not isinstance(fld.dataType, MapType)
    ]
    return deduplicate(df, keys, order)


def _holds_plain_parquet(path: str) -> bool:
    """Whether ``path`` holds a plain parquet table: part files at the
    root or under hive ``col=value`` dirs. The snapshot layout's own
    dirs (``data/``, ``_staging/``) are skipped — a bootstrap killed
    before its pointer swap leaves files only there, and its replay
    must bootstrap again, not be refused."""
    for root, dirs, files in os.walk(path):
        if root == path:
            dirs[:] = [d for d in dirs if "=" in d]
        if any(f.endswith(".parquet") for f in files):
            return True
    return False


def apply_upsert_batch(
    batch_df: DataFrame,
    batch_id: int,
    path: str,
    keys: list[str],
    order_desc: list[str],
    partition_col: str | None = None,
    keep_versions: int | None = None,
) -> None:
    """The ``foreachBatch`` body — also directly callable for tests
    and for batch backfills (same code path as the stream, the
    batch-parity property the suite pins).

    Each batch commits one snapshot through
    ``VersionedTable.write_version_cow``, which reads the current
    snapshot and commits the merge under the table's commit lock. With
    ``partition_col`` the table is laid out
    ``partitionBy(partition_col)`` and each batch after the bootstrap
    merges ONLY the partitions it touches, hardlinking the rest into
    the new snapshot. Contract: ``partition_col`` must be functionally
    dependent on ``keys`` (a key never moves between partitions; the
    column may itself be a key, which satisfies it trivially) — a
    moved key would leave its old row alive in an untouched
    partition.

    The cost of atomicity is snapshot accumulation — one snapshot per
    micro-batch, unbounded over a long-running stream — so
    ``keep_versions`` vacuums after each commit (the Pipeline's
    retention knob, applied at stream cadence). ``None`` keeps
    everything: an explicit archival choice, reasonable for
    availableNow catch-up runs, wrong for a 24/7 processingTime
    stream.
    """
    if not batch_df.columns:
        return
    winners = _winners(batch_df, keys, order_desc)
    if partition_col is not None and partition_col not in winners.columns:
        raise ValueError(f"batch missing partition column {partition_col!r}")

    table = VersionedTable(path)
    if table.current_version() is None and _holds_plain_parquet(path):
        # a plain parquet table at path: bootstrapping a snapshot over
        # it would silently abandon every prior row (the old part
        # files have no manifest and never merge again). Fail loudly —
        # migrate by replaying the stream into a fresh path, or seed
        # the snapshot with one explicit write_version of the old
        # table (review finding r9)
        raise ValueError(
            f"{path!r} holds parquet data but no versioned-table "
            "pointer: refusing to bootstrap a snapshot over a plain "
            "parquet upsert target"
        )

    table.write_version_cow(
        winners,
        lambda base, batch: _winners(base.unionByName(batch), keys, order_desc),
        partition_col,
    )
    if keep_versions is not None:
        table.vacuum(keep=keep_versions)


def upsert_stream_to_table(
    stream_df: DataFrame,
    path: str,
    keys: list[str],
    order_desc: list[str],
    checkpoint_dir: str,
    partition_col: str | None = None,
    keep_versions: int | None = None,
) -> DataStreamWriter:
    """Wire a stream into the upsert view. Returns a CONFIGURED
    ``DataStreamWriter`` — the caller picks the trigger and starts it
    (``.trigger(availableNow=True).start()`` for catch-up runs,
    ``.trigger(processingTime=...)`` for continuous maintenance); the
    query is NOT started here. ``partition_col`` selects the
    partition-scoped merge; every micro-batch is a crash-atomic
    snapshot commit, with ``keep_versions`` bounding snapshot
    retention per batch (see :func:`apply_upsert_batch`)."""
    if keep_versions is not None and keep_versions < 1:
        # vacuum(keep=0) would raise AFTER each snapshot commit — the
        # stream would crash every batch while versions accumulate
        # unbounded (r9 review); reject at wiring time instead
        raise ValueError(f"keep_versions must be >= 1, got {keep_versions}")
    return (
        stream_df.writeStream.foreachBatch(
            lambda df, bid: apply_upsert_batch(
                df, bid, path, keys, order_desc, partition_col, keep_versions
            )
        )
        .option("checkpointLocation", checkpoint_dir)
    )
