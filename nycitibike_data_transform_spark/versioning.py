"""Plain-parquet snapshot versioning — time travel and atomic swap
without a table-format jar.

The reference's materialization is ``CREATE OR REPLACE TABLE`` on a
4-hour cadence (reference ``setup_script.sh:7``): each run clobbers
the previous one, a reader mid-refresh can observe a half-written
table, and yesterday's output is gone. Delta/Iceberg fix this with a
transaction log; their jars aren't in this container (VERDICT r4
"what's missing" #1), so this module implements the same core idea —
**immutable data + manifest log + atomic pointer** — with nothing but
parquet and a filesystem:

    table_root/
      data/v00000001/part-*.parquet   immutable snapshot directories
      data/v00000002/part-*.parquet
      _versions/v00000001.json        manifest per version
      _versions/v00000002.json
      _current                        pointer file: "2"

A write materializes into a NEW ``data/vN`` directory, then writes the
manifest, then atomically swaps ``_current`` (write-temp + rename).
Readers resolve ``_current`` once and only ever open an immutable
directory, so:

- **crash-safe**: a write killed at ANY point leaves ``_current``
  untouched — the orphaned partial ``data/vN`` is invisible and gets
  cleaned up by the next successful write to the same version slot;
- **snapshot-isolated readers**: a reader never sees a mix of two
  runs (the swap is a single rename);
- **time travel**: ``read_version(n)`` opens any retained snapshot;
  ``snapshot_diff`` across two versions is the change audit.

Scale posture: the manifest holds file PATHS and schema metadata, not
data — thousands of entries at most, like a Delta log checkpoint. The
pointer swap is one rename, fsync'd (file then directory) so the
commit survives power loss, not just process death.

Scope: the DATA plane (parquet files under ``data/vN``) is written by
Spark and hardlinked across snapshots, so ``root`` must be a local
path — a remote URI (hdfs://, s3a://) is rejected at construction.
The CONTROL plane (lock, pointer, manifests — the commit protocol
itself) is routed through a :class:`CommitBackend
<nycitibike_data_transform_spark.commit_backend.CommitBackend>`
(VERDICT r10 item #2): the default is the local filesystem
(:class:`LocalFSBackend`), and the interface is the object-store
primitive set (conditional PUT / compare-and-swap / conditional
DELETE), so an S3/GCS port swaps the backend without touching the
protocol — exactly as Delta on S3 externalizes its log mutations.
Single-writer-many-readers is the supported contract, matching the
reference's one-scheduler model; the single-writer lock is structural
(see :meth:`VersionedTable._write_lock`).
"""

from __future__ import annotations

import json
import os
import re
import shutil
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession


class ConcurrentWriteError(RuntimeError):
    """A second writer raced the single-writer contract: the loser
    raises instead of silently losing one of the two commits."""


def merge_upsert(existing: DataFrame, updates: DataFrame, keys: list[str]) -> DataFrame:
    """Incremental MERGE (delete-insert emulation): rows from
    ``existing`` whose key has no update, plus all ``updates``.

    The reference's freshness story is a full ``CREATE OR REPLACE``
    every 4 hours (reference ``setup_script.sh:7``); this is the
    incremental upgrade SURVEY.md §4 flags as optional — an anti-join
    + union, no table format required (Delta/Iceberg would make it a
    metadata operation, but their jars aren't in this environment).
    Shuffle profile: one hash shuffle of each side on the key."""
    if not keys:
        raise ValueError("merge_upsert needs at least one key column")
    if existing.columns != updates.columns:
        raise ValueError(
            f"schema mismatch: existing={existing.columns} updates={updates.columns}"
        )
    kept = existing.join(updates.select(*keys), keys, "left_anti")
    return kept.unionByName(updates)


def _touched_partition_filter(updates: DataFrame, partition_col: str):
    """Partition-pruning predicate for the partitions present in
    ``updates`` — collected as driver-side partition METADATA
    (thousands of values, never data rows). ``isin`` never matches
    NULL, but NULL is a legal partition value
    (__HIVE_DEFAULT_PARTITION__) and the copy-on-write commit WILL
    replace it — without the isNull branch the existing null-partition
    rows would be silently dropped from the merge (review finding
    r5)."""
    from pyspark.sql import functions as F

    touched = [r[0] for r in updates.select(partition_col).distinct().collect()]
    non_null = [v for v in touched if v is not None]
    cond = F.col(partition_col).isin(non_null) if non_null else F.lit(False)
    if len(non_null) != len(touched):
        cond = cond | F.col(partition_col).isNull()
    return cond


def _hashable_type(dt) -> bool:
    """True iff xxhash64 accepts a column of this type (it rejects
    MapType anywhere in the structure — ADVICE r6)."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    if isinstance(dt, MapType):
        return False
    if isinstance(dt, ArrayType):
        return _hashable_type(dt.elementType)
    if isinstance(dt, StructType):
        return all(_hashable_type(f.dataType) for f in dt.fields)
    return True


def _stats_json(v):
    """Canonical JSON-storable form of a parquet-stats value that
    PRESERVES ORDERING under Python comparison, so cached zone maps
    compare correctly against query bounds put through the same
    function: numbers/strings as-is; bytes as byte lists
    (lexicographic); datetime/date as EPOCH MICROSECONDS — numbers,
    never ISO strings, because pyarrow hands back parquet
    TIMESTAMP_MICROS stats TZ-AWARE ('…+00:00') while callers pass
    naive bounds, and the two isoformats compare WRONG at equal
    instants (r9 review, live-reproduced: a file whose min equals the
    hi bound was silently pruned). Naive datetimes are interpreted as
    UTC — this engine's session timezone, the flavor Spark's
    UTC-adjusted micros decode to; dates are UTC midnight, so
    date-vs-timestamp bounds also compare consistently.

    Decimal columns do NOT go through this function's fallback float
    branch anymore (ADVICE r9: decimal(18,2) reaches ~1e16 > 2^53,
    where float rounding can flip a boundary comparison and silently
    prune a matching file): the sweep stores them as EXACT scaled
    integers with the scale pinned per column (see ``_sweep_footers``)
    and bounds are canonicalized onto the same grid by
    ``_decimal_bound``. The branch below remains only as a fail-last
    fallback for a Decimal bound against a non-decimal column."""
    import datetime as _dt
    from decimal import Decimal as _Dec

    if isinstance(v, bytes):
        return list(v)
    if isinstance(v, _dt.datetime):
        if v.tzinfo is None:
            v = v.replace(tzinfo=_dt.timezone.utc)
        d = v - _dt.datetime(1970, 1, 1, tzinfo=_dt.timezone.utc)
        # exact timedelta arithmetic — float timestamp() rounds
        return (d.days * 86_400 + d.seconds) * 1_000_000 + d.microseconds
    if isinstance(v, _dt.date):
        return (v - _dt.date(1970, 1, 1)).days * 86_400_000_000
    if isinstance(v, _Dec):
        return float(v)
    return v


#: Encoding version of the manifest's commit-time zone-map stats.
#: 2: temporal stats as epoch micros (r9); 3: decimal stats as exact
#: scaled ints (r10). A manifest at any other version has no usable
#: stats (see :func:`_manifest_stats`).
_STATS_FMT = 3


def _manifest_stats(manifest: dict) -> dict:
    """The manifest's per-file zone maps, or ``{}`` when it carries no
    stats in the current encoding. A manifest is input read from disk:
    an older encoding would mix with the current bound
    canonicalization and prune wrongly, so it reads as stat-less —
    every file is read (fail-safe), and the next commit sweeps that
    snapshot's files afresh."""
    if manifest.get("stats_fmt") != _STATS_FMT:
        return {}
    return manifest["stats"]


def _is_nan(v) -> bool:
    import math

    return isinstance(v, float) and math.isnan(v)


def _nan_guard(agg):
    """NaN-contaminated float/double stats are UNUSABLE for pruning
    (ADVICE r10, generalized): Spark's parquet writer (parquet-mr)
    orders doubles with ``Double.compare``, where NaN is GREATER than
    everything — so a row group containing any NaN writes ``max=NaN``
    (empirically pinned in tests: [1.0, NaN, 5.0] -> min=1.0, max=NaN;
    an all-NaN group writes min=max=NaN with null_count=0). Python
    comparisons against NaN are always False, which FLIPS the
    fail-safe direction for keep-style conditions: ``read_in``'s
    "∃ value ≤ max" and ``read_topk``'s ``max >= m`` both evaluate
    False against a NaN max and SILENTLY PRUNE a file whose non-NaN
    rows (or NaN rows, for a descending top-k where NaN sorts first)
    belong in the answer. Treating the whole entry as unknown restores
    fail-safe reads everywhere; stats with non-NaN min AND max prove
    the file NaN-free, which is what the top-k cutoff proof needs."""
    if agg is not None and (_is_nan(agg.get("min")) or _is_nan(agg.get("max"))):
        return None
    return agg


def _decimal_bound(v, scale: int, side: str) -> int:
    """Canonicalize a query bound onto a decimal column's scaled-int
    stats grid (``value * 10^scale``). Rounding is CONSERVATIVE for
    pruning: the lo bound rounds down and the hi bound up, so an
    off-grid bound can only keep extra files (the residual filter
    keeps the answer exact), never prune a file with matching rows.
    Float bounds convert through ``str`` — the user means the decimal
    they typed, not the float's 17-digit binary expansion."""
    import decimal

    d = v if isinstance(v, decimal.Decimal) else decimal.Decimal(str(v))
    with decimal.localcontext() as ctx:
        ctx.prec = 60  # default 28 could round a scaled 38-digit value
        q = d.scaleb(scale)
    return int(
        q.to_integral_value(
            rounding=(
                decimal.ROUND_FLOOR if side == "lo" else decimal.ROUND_CEILING
            )
        )
    )


def _additive_evolution(
    manifest_schema: dict, new_schema, *, narrowing: str = "reject"
) -> list[str]:
    """Validate that ``new_schema`` (StructType) is an ADDITIVE
    evolution of a committed manifest schema (jsonValue dict): every
    committed column still present with an IDENTICAL type; new columns
    allowed and returned. This is the evolution a 100 TB fact table
    can afford — add-column costs zero data rewrites, because Spark's
    parquet reader NULL-fills a column a file doesn't carry when the
    read schema says it exists (old files stay byte-identical,
    hardlinked across snapshots as always). Drops, renames, and type
    changes require a full rewrite and raise here: silently narrowing
    or re-typing would make old files unreadable or reinterpreted.

    Added columns must be declared NULLABLE: pre-evolution rows READ
    as NULL, and a non-nullable declaration (e.g. a bare ``F.lit``)
    would let Catalyst fold ``IsNotNull`` to true over rows that are
    null — silently wrong filters, the worst failure class. Wrap the
    default in a nullable cast or apply it at read time instead.

    ``narrowing`` governs EXISTING columns whose nullable flag narrows
    (committed nullable -> requested non-nullable) — the same
    IsNotNull-folding hazard as a non-nullable add, because hardlinked
    pre-evolution files may hold NULLs the narrowed read schema denies
    (ADVICE r10). READ paths use the default ``"reject"`` (raise);
    WRITE paths pass ``"widen"`` because they commit a manifest schema
    that preserves the committed columns' original nullability, so a
    merge plan that happens to produce non-nullable columns (literals,
    counts) stays legal without ever narrowing the committed truth.
    """
    old = {f["name"]: f["type"] for f in manifest_schema["fields"]}
    new = {f.name: f.dataType.jsonValue() for f in new_schema.fields}
    dropped = [c for c in old if c not in new]
    if dropped:
        raise ValueError(
            f"schema evolution is additive-only: committed columns "
            f"{dropped} missing from the new schema (drop/rename needs "
            "an explicit full rewrite)"
        )
    changed = [c for c in old if new[c] != old[c]]
    if changed:
        raise ValueError(
            f"schema evolution is additive-only: columns {changed} "
            "changed type (old files would be reinterpreted; re-type "
            "needs an explicit full rewrite)"
        )
    added = [f.name for f in new_schema.fields if f.name not in old]
    not_nullable = [
        f.name
        for f in new_schema.fields
        if f.name not in old and not f.nullable
    ]
    if not_nullable:
        raise ValueError(
            f"added columns must be nullable, got non-nullable "
            f"{not_nullable}: pre-evolution rows read as NULL, and a "
            "non-nullable declaration lets the optimizer fold IsNotNull "
            "over rows that are null"
        )
    if narrowing == "reject":
        old_nullable = {
            f["name"]: f["nullable"] for f in manifest_schema["fields"]
        }
        narrowed = [
            f.name
            for f in new_schema.fields
            if old_nullable.get(f.name) and not f.nullable
        ]
        if narrowed:
            raise ValueError(
                f"columns {narrowed} narrow nullability (committed "
                "nullable -> requested non-nullable): committed files may "
                "hold NULLs there, and a non-nullable read schema lets "
                "the optimizer fold IsNotNull over rows that are null — "
                "request them nullable"
            )
    return added


def _augment_partition_stats(stats: dict, partition_by, schema) -> None:
    """Partition-column zone maps parsed from the HIVE DIR NAMES, added
    to commit-time manifest stats in place: a partitioned file's value
    is exact metadata (min = max = the dir value, nulls = 0), so
    ``read_box`` can prune on partition columns at the FILE-LIST level
    — the same information Delta materializes into its log. (Spark's
    own partition pruning already protects the scan; this removes the
    pruned files from the listing itself, which is what matters when a
    10k-file snapshot meets a multi-column rectangle.)

    Correctness over coverage: a parsed value that mismatched Spark's
    real rendering would WRONGLY prune, so only types with a certain
    string round-trip participate — integers, strings, and ISO dates.
    Everything else (floats, timestamps) is left alone → fail-safe
    read. The hive null sentinel maps to the all-null marker
    (prunable: BETWEEN never matches NULL) for non-string types; for
    strings it is skipped, because a GENUINE string equal to the
    sentinel is indistinguishable from null (the classic hive wart)."""
    import datetime as _dt
    from urllib.parse import unquote

    from pyspark.sql.types import (
        ByteType,
        DateType,
        IntegerType,
        LongType,
        ShortType,
        StringType,
    )

    by_name = {f.name: f.dataType for f in schema.fields}
    sentinel = "__HIVE_DEFAULT_PARTITION__"
    for rel, entry in stats.items():
        parts = dict(
            seg.split("=", 1)
            for seg in rel.split("/")[:-1]
            if "=" in seg
        )
        for col in partition_by:
            if col not in parts or col not in by_name:
                continue
            raw = unquote(parts[col])
            rows = next(
                (a["rows"] for a in entry.values() if a is not None), None
            )
            dt_ = by_name[col]
            if raw == sentinel:
                if not isinstance(dt_, StringType) and rows is not None:
                    entry[col] = {"min": None, "max": None,
                                  "nulls": rows, "rows": rows}
                continue
            try:
                if isinstance(dt_, (ByteType, ShortType, IntegerType, LongType)):
                    v = int(raw)
                elif isinstance(dt_, StringType):
                    v = raw
                elif isinstance(dt_, DateType):
                    v = _stats_json(_dt.date.fromisoformat(raw))
                else:
                    continue  # no certain round-trip: fail-safe
            except ValueError:
                continue
            entry[col] = {"min": v, "max": v, "nulls": 0, "rows": rows}


def _backfill_added_all_null(carried: dict, prev_fields, new_schema) -> dict:
    """Stamp the all-null zone-map marker into CARRIED (pre-evolution)
    file stats for columns an additive evolution just appended: those
    files are PROVABLY all-null for the new columns (Spark NULL-fills
    a column the file doesn't carry), and BETWEEN never matches NULL —
    so a range scan on the new column can PRUNE every old file instead
    of fail-safe reading the whole pre-evolution table. Row counts
    come from any existing column's entry in the same file; a file
    with no usable stats at all keeps fail-safe semantics."""
    added = [c for c in _stats_cols(new_schema) if c not in set(prev_fields)]
    if not added:
        return carried
    out = {}
    for rel, entry in carried.items():
        entry = dict(entry)
        rows = next(
            (a["rows"] for a in entry.values() if a is not None), None
        )
        for c in added:
            if c not in entry and rows is not None:
                entry[c] = {
                    "min": None,
                    "max": None,
                    "nulls": rows,
                    "rows": rows,
                }
        out[rel] = entry
    return out


def _stats_cols(schema) -> list[str]:
    """Top-level columns worth zone-mapping: primitive orderable types
    whose parquet footers carry usable min/max (nested/array/map stats
    aren't comparable to scalar bounds; read_box never prunes them)."""
    from pyspark.sql.types import (
        BinaryType,
        BooleanType,
        DateType,
        NumericType,
        StringType,
        TimestampType,
    )

    keep = (NumericType, StringType, DateType, TimestampType, BooleanType,
            BinaryType)
    return [f.name for f in schema.fields if isinstance(f.dataType, keep)]


def _sweep_footers(data_dir: str, rels, cols) -> dict:
    """Per-file zone-map aggregates from parquet FOOTERS (row-group
    statistics): ``{rel: {col: {"min","max","nulls","rows"[,"scale"]}
    | None}}`` (None = no usable stats — the pruner must read the
    file). Footer reads are independent tiny I/O ops, so a 10k-file
    listing sweeps on a 16-way thread pool instead of sequentially.

    Decimal columns are encoded as EXACT scaled integers with the
    scale stored alongside (ADVICE r9: the old float canonicalization
    loses ulps above 2^53, which decimal(18,2) reaches — a rounded
    boundary comparison could silently prune a file containing
    matching rows). The scaled ints come from the RAW statistics
    (``min_raw``/``max_raw``): parquet already stores decimal stats as
    the scaled integer (INT32/INT64) or its big-endian two's-complement
    bytes (FIXED_LEN_BYTE_ARRAY), and pyarrow's decoded ``st.min``
    RAISES on Spark's INT64-backed decimals anyway. Bounds are put on
    the same grid by ``_decimal_bound``."""
    import pyarrow.parquet as pq
    from concurrent.futures import ThreadPoolExecutor

    cols = list(cols)

    def _raw_int(v) -> int:
        return (
            int.from_bytes(v, "big", signed=True)
            if isinstance(v, bytes)
            else int(v)
        )

    def _one(rel: str) -> tuple[str, dict]:
        md = pq.ParquetFile(os.path.join(data_dir, rel)).metadata
        entry: dict = {}
        name_to_idx = {
            md.schema.column(i).name: i for i in range(md.num_columns)
        }
        for c in cols:
            # a column the file doesn't carry (a hive partition column)
            # has no footer stats: None, fail-safe
            idx = name_to_idx.get(c)
            agg = None
            if idx is not None:
                lt = md.schema.column(idx).logical_type
                dec_scale = (
                    json.loads(lt.to_json())["scale"]
                    if lt.type == "DECIMAL"
                    else None
                )
                mins, maxs, nulls, rows, ok = [], [], 0, 0, True
                for rg in range(md.num_row_groups):
                    col_md = md.row_group(rg).column(idx)
                    st = col_md.statistics
                    rows += col_md.num_values
                    if st is None or not st.has_min_max:
                        # min/max can be absent for two very different
                        # reasons: a genuinely all-null row group
                        # (prunable), or a writer that DROPPED the
                        # stats (e.g. pyarrow omits min/max for >4 KB
                        # strings but still writes null_count=0 — r9
                        # review). Only null_count == num_values
                        # PROVES all-null; anything else is unusable.
                        if (
                            st is not None
                            and st.null_count is not None
                            and st.null_count == col_md.num_values
                        ):
                            nulls += st.null_count
                            continue
                        ok = False
                        break
                    if dec_scale is not None:
                        mins.append(_raw_int(st.min_raw))
                        maxs.append(_raw_int(st.max_raw))
                    else:
                        if _is_nan(st.min) or _is_nan(st.max):
                            # NaN reached the footer stats (parquet-mr
                            # writes max=NaN for any NaN-bearing double
                            # row group): unusable for pruning — see
                            # _nan_guard for why this is a silent-wrong-
                            # answer hazard, not just imprecision
                            ok = False
                            break
                        mins.append(st.min)
                        maxs.append(st.max)
                    nulls += st.null_count or 0
                if ok and mins:
                    if dec_scale is not None:
                        agg = {
                            "min": min(mins),
                            "max": max(maxs),
                            "scale": dec_scale,
                            "nulls": nulls,
                            "rows": rows,
                        }
                    else:
                        agg = {
                            "min": _stats_json(min(mins)),
                            "max": _stats_json(max(maxs)),
                            "nulls": nulls,
                            "rows": rows,
                        }
                elif ok and not mins:
                    # every row group all-null: a range predicate can
                    # never match — prunable
                    agg = {"min": None, "max": None,
                           "nulls": nulls, "rows": rows}
            entry[c] = agg
        return rel, entry

    with ThreadPoolExecutor(max_workers=16) as ex:
        return dict(ex.map(_one, rels))


class _stats_friendly_writes:
    """Write parquet with ``TIMESTAMP_MICROS`` instead of Spark's
    legacy INT96 default (conf saved/restored): INT96 carries NO
    column statistics, which silently blinds the zone-map pruner (and
    parquet row-group skipping generally) for every timestamp column —
    a snapshot written under the default would make ``read_range`` on
    a time column fail-safe to a full file list. MICROS is the modern
    parquet timestamp; every reader here (Spark, DuckDB, pyarrow)
    handles it natively."""

    KEY = "spark.sql.parquet.outputTimestampType"

    def __init__(self, spark: SparkSession):
        self.spark = spark

    def __enter__(self):
        self.prev = self.spark.conf.get(self.KEY)
        self.spark.conf.set(self.KEY, "TIMESTAMP_MICROS")

    def __exit__(self, *exc):
        self.spark.conf.set(self.KEY, self.prev)


def _durable_write(path: str, content: str) -> None:
    """write-temp + fsync + atomic rename + fsync(dir): the rename is
    the commit point and both the bytes and the directory entry are
    on disk before this returns (process-kill safety needs only the
    rename; power-loss safety needs the fsyncs). The temp name is
    UNIQUE per writer: two writers of one path must not share a temp
    inode — a fixed '.tmp' let one truncate the other's in-flight
    bytes and commit a torn file (r11 review)."""
    import uuid as _uuid

    tmp = f"{path}.tmp.{os.getpid()}.{_uuid.uuid4().hex[:8]}"
    with open(tmp, "w") as f:
        f.write(content)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, path)
    dir_fd = os.open(os.path.dirname(path) or ".", os.O_RDONLY)
    try:
        os.fsync(dir_fd)
    finally:
        os.close(dir_fd)


class VersionedTable:
    """Single-writer, many-reader versioned parquet table."""

    def __init__(self, root: str, backend=None):
        if "://" in root:
            raise ValueError(
                f"VersionedTable root must be a local path, got {root!r}: "
                "the DATA plane (Spark writes, hardlinks) is local-fs; "
                "only the control plane is backend-pluggable"
            )
        from nycitibike_data_transform_spark.commit_backend import (
            LocalFSBackend,
        )

        self.root = root
        self._backend = backend if backend is not None else LocalFSBackend(root)
        self._versions_dir = os.path.join(root, "_versions")
        self._held_lease: str | None = None

    # ------------------------------------------------------------ paths

    def _data_dir(self, version: int) -> str:
        return os.path.join(self.root, "data", f"v{version:08d}")

    def _manifest_path(self, version: int) -> str:
        """LOCAL path of a manifest — valid only under the default
        LocalFSBackend (tests use it to tamper with manifests on
        disk); production code must go through ``_manifest_key`` and
        the backend, or a non-local backend splits the state."""
        return os.path.join(self._versions_dir, f"v{version:08d}.json")

    # control-plane KEYS (backend-relative, '/'-separated)

    @staticmethod
    def _manifest_key(version: int) -> str:
        return f"_versions/v{version:08d}.json"

    def _commit_pointer(self, prev: int | None, version: int) -> None:
        """THE commit point: compare-and-swap the version pointer from
        the value this writer started from. Under the writer lock the
        swap cannot race — the CAS is the object-store port's backstop
        for a writer whose lease was reclaimed mid-commit (the winner
        moved the pointer, so the zombie's CAS fails loudly instead of
        silently clobbering the winner's commit)."""
        if not self._backend.cas(
            "_current", None if prev is None else str(prev), str(version)
        ):
            raise ConcurrentWriteError(
                f"version pointer of {self.root} moved while this writer "
                f"held the lock (expected {prev}): the commit lease was "
                "reclaimed mid-commit and another writer committed — this "
                "writer's snapshot is orphaned, not committed"
            )

    # ----------------------------------------------------------- reads

    def current_version(self) -> int | None:
        """Committed version per the pointer, or None for an empty
        table. Orphaned data/manifest files from a crashed write are
        never consulted — the pointer is the single source of truth."""
        content = self._backend.get("_current")
        return None if content is None else int(content.strip())

    def versions(self) -> list[int]:
        """All COMMITTED versions (pointer-reachable manifests)."""
        cur = self.current_version()
        if cur is None:
            return []
        out = []
        for key in self._backend.list("_versions/"):
            # strict manifest pattern: any other metadata may live
            # alongside the manifests
            m = re.fullmatch(r"v(\d{8})\.json", key.rsplit("/", 1)[-1])
            if m:
                v = int(m.group(1))
                if v <= cur:
                    out.append(v)
        return out

    def manifest(self, version: int) -> dict:
        content = self._backend.get(self._manifest_key(version))
        if content is None:
            raise FileNotFoundError(self._manifest_key(version))
        return json.loads(content)

    def _ensure_readable(self, version: int) -> None:
        """Raise the explicit commit/vacuum errors for an unreadable
        snapshot — shared by every time-travel read so a vacuumed-but-
        in-range version never surfaces as an opaque parquet
        path-not-found (ADVICE r10 flagged read_version_as skipping
        the vacuum check)."""
        cur = self.current_version()
        if cur is None or version > cur or version < 1:
            raise ValueError(
                f"version {version} not committed (current={cur})"
            )
        if not self._backend.exists(self._manifest_key(version)) or not os.path.isdir(
            self._data_dir(version)
        ):
            # manifest-first vacuum ordering means a crashed vacuum can
            # leave data without manifest, never the reverse — but check
            # both so either shape gets this clear error instead of an
            # opaque path-not-found from the parquet reader
            raise ValueError(f"version {version} was vacuumed")

    def read_version(self, spark: SparkSession, version: int) -> DataFrame:
        """Time travel: open one immutable committed snapshot."""
        self._ensure_readable(version)
        # Read under the MANIFEST's schema, never inference: after an
        # additive schema evolution a snapshot legitimately mixes file
        # generations (old hardlinked files lack the added columns),
        # and without mergeSchema Spark's inference picks one file's
        # footer at random — the added column would appear or vanish
        # per run. The manifest schema is the committed truth; Spark's
        # parquet reader NULL-fills columns a file doesn't carry, and
        # partition columns resolve from the hive dirs as usual.
        from pyspark.sql.types import StructType

        schema = StructType.fromJson(self.manifest(version)["schema"])
        return spark.read.schema(schema).parquet(self._data_dir(version))

    def read_current(self, spark: SparkSession) -> DataFrame:
        cur = self.current_version()
        if cur is None:
            raise ValueError(f"empty versioned table at {self.root}")
        return self.read_version(spark, cur)

    # ---------------------------------------------------------- writes

    @contextmanager
    def _write_lock(self):
        """SINGLE-WRITER ENFORCEMENT (VERDICT r9 item #3): the
        documented single-writer contract is structural, not
        honor-system. Every mutating entry point (write_version, the
        incremental merge write_version_cow — pipeline models and
        streaming upserts both — rewrite_full, compact, vacuum, and
        the bucketed write_full/merge) holds a LEASE on the backend's
        ``_lock`` object for its WHOLE read-state → stage →
        pointer-swap span, the merges' base read included —
        a second concurrent writer raises
        :class:`ConcurrentWriteError` at entry instead of racing the
        swap and silently losing one commit (or, worse for merge,
        committing a snapshot derived from a base the winner already
        replaced — a lost update).

        The protocol is three backend conditionals (VERDICT r10
        item #2 — identical on local fs and object stores):

        1. ``create_exclusive(_lock, lease)`` — acquire (conditional
           PUT, atomic with content: no torn reads).
        2. on conflict, ``lease_live(observed)`` — a live lease
           raises; a dead/expired one licenses a reclaim attempt.
        3. ``delete_if(_lock, observed)`` — reclaim EXACTLY the lease
           observed dead. This closes the r10-ADVICE TOCTOU: if
           another reclaimer won and a fresh writer re-acquired
           between our read and our delete, the content changed, the
           conditional delete FAILS, and the next pass sees the live
           lease and raises — nobody can ever destroy a lock they
           didn't observe dead. (The old rename-claim dance could.)

        Release is also ``delete_if`` on our OWN lease — a writer
        whose lease was reclaimed after expiry never deletes the
        winner's lock, and its pointer CAS fails loudly
        (:meth:`_commit_pointer`).
        """
        os.makedirs(self.root, exist_ok=True)
        b = self._backend
        lease = b.new_lease()
        acquired = False
        for _ in range(3):  # extra passes only after reclaim/release races
            if b.create_exclusive("_lock", lease):
                acquired = True
                break
            observed = b.get("_lock")
            if observed is None:
                continue  # released between attempts: retry acquire
            if b.lease_live(observed):
                raise ConcurrentWriteError(
                    f"another writer (lease {observed!r}) holds the commit "
                    f"lock on {self.root}: this table is single-writer "
                    "— the concurrent merge/commit fails loudly instead "
                    "of silently losing one of the commits"
                )
            b.delete_if("_lock", observed)  # conditional reclaim
        if not acquired:
            raise ConcurrentWriteError(
                f"could not acquire the commit lock on {self.root} "
                "(lost repeated acquisition races)"
            )
        self._held_lease = lease
        try:
            yield
        finally:
            self._held_lease = None
            b.delete_if("_lock", lease)

    def _put_manifest(self, version: int, content: str) -> None:
        """CONDITIONAL manifest commit (r11 review follow-up): the
        manifest slot is created with if-none-match semantics, never
        overwritten blind. Closes the zombie window `_ensure_lease`
        alone leaves open — a writer that passes the lease check and
        THEN stalls (GC pause) long enough for a reclaiming winner to
        complete a whole commit would, with a plain put, overwrite the
        winner's committed manifest; with the conditional create it
        fails and the committed-version check below names the real
        cause. A manifest that exists while the slot is UNCOMMITTED is
        an orphan from a crashed attempt — we hold the lock, so no
        other writer can be mid-flight (any zombie's own lease check
        fails), and replacing it is safe."""
        key = self._manifest_key(version)
        if self._backend.create_exclusive(key, content):
            return
        if (self.current_version() or 0) >= version:
            raise ConcurrentWriteError(
                f"version {version} of {self.root} was committed by "
                "another writer (this writer's lease must have been "
                "reclaimed mid-commit): aborting — the winner's manifest "
                "stays untouched"
            )
        self._backend.delete(key)  # crashed-attempt orphan: replace
        if not self._backend.create_exclusive(key, content):
            raise ConcurrentWriteError(
                f"lost the manifest slot race for version {version} of "
                f"{self.root}"
            )

    def _ensure_lease(self) -> None:
        """Zombie-writer fence for lease-expiry backends (r11 review):
        a writer that outlives its lease (GC pause, long Spark stage)
        may find the lock reclaimed and another commit in flight — it
        must re-validate BEFORE every destructive step (pre-clean
        rmtree of the target slot, manifest put), not only at the
        final pointer CAS, or it can destroy the winner's committed
        files/manifest first. This shrinks the zombie window from the
        whole Spark-write span to the instant between this check and
        the next syscall; the full close on a real object store is
        per-mutation conditional requests (DEPLOY.md, fencing note).
        Free under the local backend: a dead pid cannot resume, so the
        check can only ever pass."""
        if self._held_lease is None:
            raise ConcurrentWriteError(
                f"mutation outside the commit lock on {self.root}"
            )
        if self._backend.get("_lock") != self._held_lease:
            raise ConcurrentWriteError(
                f"this writer's commit lease on {self.root} was reclaimed "
                "(lease expired mid-commit and another writer took over): "
                "aborting before touching the new owner's files — this "
                "writer's snapshot is orphaned, not committed"
            )

    def write_version(self, df: DataFrame, partition_by: tuple[str, ...] = ()) -> int:
        """Materialize ``df`` as the next version and commit it.
        Locked (see :meth:`_write_lock`); a concurrent writer raises
        :class:`ConcurrentWriteError`."""
        with self._write_lock():
            return self._write_version_locked(df, partition_by)

    def _attempt_dir(self) -> str:
        """A UNIQUE per-attempt staging dir under the table root (r11
        review follow-up): Spark writes and snapshot assembly happen
        here, never in the shared ``data/vN`` slot, so two attempts —
        even a zombie racing a reclaiming winner — can never interleave
        files in one directory. The finished tree moves into its slot
        with ONE atomic rename (:meth:`_move_into_slot`). Crashed
        attempts leave orphans under ``_staging``, swept by vacuum."""
        import uuid as _uuid

        return os.path.join(
            self.root, "_staging", f"attempt.{os.getpid()}.{_uuid.uuid4().hex[:8]}"
        )

    def _move_into_slot(self, stage: str, version: int) -> None:
        """Atomically install an assembled snapshot tree into its
        ``data/vN`` slot. Fenced: lease re-check, then committed-check
        (a slot at or below the current pointer is the WINNER'S — a
        zombie aborts instead of clearing it), then the orphan
        pre-clean + rename UNDER the backend's per-mutation fence
        (r11 VERDICT item #4): ``mutate_if`` re-validates the lease
        and runs the destructive syscalls as one atomic unit on
        mutex-backed backends, so a zombie that stalls AFTER the
        earlier checks and wakes post-reclaim still loses — the
        check-to-syscall window `_ensure_lease` left open is closed.
        The pre-clean inside the fence is safe: the lease check just
        proved we hold the lock and the committed-check proved the
        slot is uncommitted, so whatever occupies it is a crashed
        attempt's orphan."""
        self._ensure_lease()
        if (self.current_version() or 0) >= version:
            raise ConcurrentWriteError(
                f"version {version} of {self.root} was committed by "
                "another writer while this one staged: aborting before "
                "touching the committed slot"
            )
        data_dir = self._data_dir(version)

        def install() -> None:
            if os.path.exists(data_dir):  # crashed attempt's orphan
                shutil.rmtree(data_dir)
            os.makedirs(os.path.dirname(data_dir), exist_ok=True)
            os.rename(stage, data_dir)

        self._fenced(install)

    def _fenced(self, fn) -> None:
        """Run a destructive LOCAL mutation under the backend's
        per-mutation fence (r11 VERDICT item #4): ``mutate_if``
        re-validates that ``_lock`` still holds OUR lease and executes
        ``fn`` as one atomic unit on mutex-backed backends, so a
        zombie that stalls after every earlier check and wakes
        post-reclaim is refused atomically instead of clobbering the
        winner. ``fn`` must be pure syscalls — a backend op inside
        would self-deadlock on the held mutex."""
        if self._held_lease is None:
            raise ConcurrentWriteError(
                f"mutation outside the commit lock on {self.root}"
            )
        if not self._backend.mutate_if("_lock", self._held_lease, fn):
            raise ConcurrentWriteError(
                f"this writer's commit lease on {self.root} was reclaimed "
                "(per-mutation fence): the destructive step was refused "
                "atomically — the new owner's files are untouched"
            )

    def _write_version_locked(
        self, df: DataFrame, partition_by: tuple[str, ...] = ()
    ) -> int:
        """Materialize ``df`` as the next version and commit it.

        Order matters for crash-safety: (1) data into a UNIQUE staging
        dir (a crash here orphans files but commits nothing; nothing
        ever writes into the shared slot), (2) one atomic rename into
        ``data/vN`` (fenced — :meth:`_move_into_slot`), (3) manifest,
        then the pointer compare-and-swap (:meth:`_commit`)."""
        prev = self.current_version()
        stage = self._attempt_dir()
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        try:
            with _stats_friendly_writes(df.sparkSession):
                writer.parquet(stage)
            self._move_into_slot(stage, (prev or 0) + 1)
        finally:
            shutil.rmtree(stage, ignore_errors=True)
        return self._commit(prev, df.schema, partition_by)

    @staticmethod
    def _parquet_files(root: str) -> list[str]:
        """Sorted paths, relative to ``root``, of the parquet files in
        a snapshot tree (hive partition dirs included; Spark's
        ``_SUCCESS`` and ``.crc`` files left out)."""
        return sorted(
            os.path.relpath(os.path.join(base, f), root)
            for base, _, fs in os.walk(root)
            for f in fs
            if f.endswith(".parquet")
        )

    def _link_into_slot(self, links: dict[str, str], version: int) -> None:
        """Assemble a snapshot from ``{rel_target: abs_source}``
        hardlinks in a unique attempt dir, then install it into
        ``data/vN`` with one fenced rename (:meth:`_move_into_slot`) —
        nothing ever links into a shared path."""
        assembly = self._attempt_dir()
        try:
            os.makedirs(assembly)
            for rel, src in sorted(links.items()):
                dst = os.path.join(assembly, rel)
                os.makedirs(os.path.dirname(dst), exist_ok=True)
                os.link(src, dst)
            self._move_into_slot(assembly, version)
        finally:
            shutil.rmtree(assembly, ignore_errors=True)

    @staticmethod
    def _evolved_schema(manifest_schema: dict, new_schema):
        """The schema a merge commits (VERDICT r9 item #2): the
        committed columns first, with their ORIGINAL nullability, then
        the columns ``new_schema`` appends, nullable, in its order — so
        a pre-evolution reader's column layout is a prefix. Drops and
        re-types raise (:func:`_additive_evolution`). ``narrowing=
        "widen"``: a merge plan that recomputes a column as
        non-nullable never narrows the manifest over hardlinked files
        that may hold NULLs (ADVICE r10)."""
        from pyspark.sql.types import StructType

        added = set(
            _additive_evolution(manifest_schema, new_schema, narrowing="widen")
        )
        schema = StructType.fromJson(manifest_schema)
        for fld in new_schema.fields:
            if fld.name in added:
                schema = schema.add(fld.name, fld.dataType, nullable=True)
        return schema

    def _commit(self, prev: int | None, schema, partition_by=(), **layout) -> int:
        """Commit the snapshot already installed in ``data/v{prev+1}``
        — the one commit tail of every writer. Order: zone-map stats,
        then the manifest (conditional — :meth:`_put_manifest`), then
        the pointer compare-and-swap from ``prev``, the only step with
        commit semantics (:meth:`_commit_pointer`). ``layout`` adds
        writer-specific manifest keys (the bucket spec).

        Stats are collected AT COMMIT TIME into the manifest (VERDICT
        r9 item #1), so the READ path never sweeps footers. A file the
        previous manifest already lists is a hardlink of it (same
        inode, same footer): its entry carries forward verbatim, with
        the all-null marker stamped for columns an evolution just
        added. Only the rest — the slot's fresh files — get their
        local, page-cache-hot footers swept, before the pointer swap.
        Partition columns get exact dir-name stats."""
        version = (prev or 0) + 1
        data_dir = self._data_dir(version)
        files = self._parquet_files(data_dir)
        carried: dict = {}
        if prev is not None:
            pm = self.manifest(prev)
            prev_stats = _manifest_stats(pm)
            carried = _backfill_added_all_null(
                {f: prev_stats[f] for f in files if f in prev_stats},
                [f["name"] for f in pm["schema"]["fields"]],
                schema,
            )
        stats = {
            **carried,
            **_sweep_footers(
                data_dir,
                [f for f in files if f not in carried],
                _stats_cols(schema),
            ),
        }
        _augment_partition_stats(stats, partition_by, schema)
        manifest = {
            "version": version,
            "schema": schema.jsonValue(),
            "partition_by": list(partition_by),
            **layout,
            "files": files,
            "stats_fmt": _STATS_FMT,
            "stats": stats,
        }
        # the Spark write before this is the long span a lease can
        # expire in: re-validate before overwriting the manifest slot a
        # reclaimed winner may have committed (the pointer CAS would
        # catch the zombie too, but only AFTER it clobbered the
        # winner's manifest)
        self._ensure_lease()
        self._put_manifest(version, json.dumps(manifest))
        self._commit_pointer(prev, version)  # the commit point
        return version

    # --------------------------------------------- zone-map file skipping

    def file_stats(self, version: int, cols: list[str]) -> dict:
        """Per-file zone maps for ``cols`` on one committed snapshot:
        ``{rel_file: {col: {"min": v, "max": v, "nulls": n, "rows": n
        [, "scale": s]} | None}}`` (None = no usable stats for that
        column in that file — the pruner must keep it).

        Answered straight from the MANIFEST: the stats were collected
        at commit time from the written files' own footers (see
        :meth:`_commit`), so a range read opens ZERO parquet footers
        beyond the data files it actually scans — the posture an
        object store needs, where a post-hoc footer sweep over a
        10k-file snapshot is a 10k-GET listing storm. A manifest
        without current-format stats reads as all-None (fail-safe).
        """
        if version not in self.versions():
            raise ValueError(f"version {version} not committed")
        manifest = self.manifest(version)
        mstats = _manifest_stats(manifest)
        # a column absent from the commit-time sweep (added later, or
        # non-primitive) reads as None — fail-safe, never prune;
        # _nan_guard drops NaN-contaminated entries a pre-fix sweep may
        # have committed (json round-trips NaN)
        return {
            f: {c: _nan_guard(mstats.get(f, {}).get(c)) for c in cols}
            for f in manifest["files"]
        }

    def read_box(
        self,
        spark: SparkSession,
        ranges: dict[str, tuple],
        version: int | None = None,
    ) -> DataFrame:
        """Multi-column rectangle scan with zone-map skipping: rows
        satisfying EVERY ``col: (lo, hi)`` BETWEEN predicate, reading
        only files whose zone maps overlap on ALL the columns — the
        natural query shape for a Z-ordered snapshot, where every file
        is a bounded rectangle in all z-dimensions and a k-dimensional
        box prunes multiplicatively (each dimension independently cuts
        the file list). Same fail-safe semantics per column as
        :meth:`read_range`.

        Either bound may be ``None`` for a half-open range (``(None,
        hi)`` = ``col <= hi``, ``(lo, None)`` = ``col >= lo``) — the
        missing side simply stops pruning in that direction; ``(None,
        None)`` degenerates to an IS NOT NULL scan (still prunes
        provably-all-null files)."""
        from pyspark.sql import functions as F

        if not ranges:
            raise ValueError("read_box needs at least one column range")
        v = self.current_version() if version is None else version
        if v is None:
            raise ValueError(f"empty versioned table at {self.root}")
        stats = self.file_stats(v, list(ranges))
        keep = []
        for rel, by_col in stats.items():
            ok = True
            for col, (lo, hi) in ranges.items():
                s = by_col[col]
                if s is None:
                    continue  # unknown stats — this column can't prune
                if s["min"] is None:
                    # provably all-null: no comparison predicate can
                    # ever match (BETWEEN / >= / <= are NULL-rejecting)
                    ok = False
                    break
                if s.get("scale") is not None:
                    # decimal column: stats are exact scaled ints;
                    # bounds go onto the same grid with conservative
                    # rounding (lo down, hi up) — see _decimal_bound
                    lo_j = None if lo is None else _decimal_bound(lo, s["scale"], "lo")
                    hi_j = None if hi is None else _decimal_bound(hi, s["scale"], "hi")
                else:
                    lo_j = None if lo is None else _stats_json(lo)
                    hi_j = None if hi is None else _stats_json(hi)
                if (lo_j is not None and s["max"] < lo_j) or (
                    hi_j is not None and s["min"] > hi_j
                ):
                    ok = False
                    break
            if ok:
                keep.append(rel)
        df_filter = None
        for col, (lo, hi) in ranges.items():
            if lo is None and hi is None:
                c = F.col(col).isNotNull()
            elif lo is None:
                c = F.col(col) <= F.lit(hi)
            elif hi is None:
                c = F.col(col) >= F.lit(lo)
            else:
                c = (F.col(col) >= F.lit(lo)) & (F.col(col) <= F.lit(hi))
            df_filter = c if df_filter is None else (df_filter & c)
        return self._pruned_scan(spark, v, keep).filter(df_filter)

    def _pruned_scan(self, spark: SparkSession, version: int,
                     keep: list[str]) -> DataFrame:
        """Schema-pinned scan of a pruned file subset — the one shared
        tail of every zone-map read (``read_range`` / ``read_in`` /
        ``read_topk``; extracted r12 review so fixes land once).
        MANIFEST schema, never inference: the kept subset may be all
        pre-evolution files that lack an added column the caller's
        filter names (schema evolution), or files with divergent
        footers. An empty ``keep``
        returns an empty frame with the same schema, so downstream
        filters and orderings still resolve."""
        from pyspark.sql.types import StructType

        schema = StructType.fromJson(self.manifest(version)["schema"])
        if not keep:
            return spark.createDataFrame([], schema)
        data_dir = self._data_dir(version)
        reader = spark.read.schema(schema).option("basePath", data_dir)
        return reader.parquet(*[os.path.join(data_dir, f) for f in keep])

    def read_in(
        self,
        spark: SparkSession,
        col: str,
        values,
        version: int | None = None,
    ) -> DataFrame:
        """IN-list scan with zone-map skipping: rows where ``col IN
        (values)``, reading only the files whose [min, max] contains
        AT LEAST ONE of the values — tighter than a bounding-hull
        range check, because a file sitting inside the hull but
        astride a GAP between requested values is pruned too (the
        key-list point-lookup shape: fetch 100 doc_ids from a
        clustered snapshot and open only the files that can hold
        them). Empty ``values`` returns an empty frame (SQL ``IN ()``
        matches nothing); NULLs in ``values`` are ignored (SQL IN
        never matches NULL).

        Driver cost: values are canonicalized and sorted ONCE, then
        each file does one binary search — O(files · log |values|),
        manifest-class work at any table size. Fail-safe like
        :meth:`read_range`: a file without usable stats is read."""
        import bisect

        from pyspark.sql import functions as F
        from pyspark.sql.types import StructType

        v = self.current_version() if version is None else version
        if v is None:
            raise ValueError(f"empty versioned table at {self.root}")
        vals = [x for x in values if x is not None]
        schema = StructType.fromJson(self.manifest(v)["schema"])
        if not vals:
            return spark.createDataFrame([], schema)
        stats = self.file_stats(v, [col])
        # canonicalize once per encoding: (vlo, vhi) per value, sorted.
        # For non-decimals vlo == vhi; for decimals the conservative
        # grid rounding applies (lo floors, hi ceils), so a file hits
        # iff ∃ value with vhi >= file.min and vlo <= file.max — both
        # monotone in the value, hence one bisect per file.
        scales = {
            by[col]["scale"]
            for by in stats.values()
            if by[col] is not None and by[col].get("scale") is not None
        }
        # NaN values can't drive pruning (unorderable) and don't need
        # to: any file with usable stats is provably NaN-free (see
        # _nan_guard), so rows matching a NaN value live only in files
        # the loop below keeps anyway; the residual isin keeps them
        prune_vals = [x for x in vals if not _is_nan(x)]
        if len(scales) > 1:
            # mixed decimal scales across files (r11 ADVICE #4): bounds
            # canonicalized onto an arbitrary scale would be silently
            # wrong — mirror _cutoff_literal's fail-safe and skip value
            # pruning entirely; every file is read and the residual
            # isin filter below stays the answer
            keep = sorted(stats)
        else:
            if scales:
                scale = next(iter(scales))
                pairs = sorted(
                    (_decimal_bound(x, scale, "lo"), _decimal_bound(x, scale, "hi"))
                    for x in prune_vals
                )
            else:
                pairs = sorted((j, j) for j in (_stats_json(x) for x in prune_vals))
            vhis = [p[1] for p in pairs]
            keep = []
            for rel, by_col in stats.items():
                s = by_col[col]
                if s is None:
                    keep.append(rel)  # unknown stats: fail-safe read
                    continue
                if s["min"] is None:
                    continue  # provably all-null: IN never matches NULL
                idx = bisect.bisect_left(vhis, s["min"])
                if idx < len(pairs) and pairs[idx][0] <= s["max"]:
                    keep.append(rel)
        return self._pruned_scan(spark, v, keep).filter(F.col(col).isin(vals))

    def read_topk(
        self,
        spark: SparkSession,
        col: str,
        k: int,
        ascending: bool = False,
        tiebreak: tuple[str, ...] = (),
        version: int | None = None,
    ) -> DataFrame:
        """Zone-map-assisted TOP-K: the ``ORDER BY col [DESC] LIMIT k``
        answer, SCANNING only the files that can contribute. Spark's
        TakeOrderedAndProject already avoids a global sort but still
        reads the whole table; after ``compact(cluster_by=(col,))`` the
        k extreme rows live in O(k / rows-per-file) files and this
        prunes the rest.

        Sound cutoff: walk files in descending ``min`` order (for
        descending top-k), accumulating NON-NULL row counts until ≥ k —
        every accumulated row is ≥ that prefix's smallest ``min`` = m,
        so the true k-th value is ≥ m and any file with ``max < m``
        provably holds no answer row. If the known stats can't account
        for k non-null rows, NOTHING is pruned (fail-safe — the answer
        might need null rows or unknown files). Files without usable
        stats are always read. The residual sort+limit keeps the
        answer exact regardless of pruning.

        NULL ordering is pinned to NULLS LAST in both directions (and
        must be stated in any oracle SQL): with ≥ k non-null rows the
        cutoff proof above also licenses pruning provably-all-null
        files. ``tiebreak`` columns (always ascending, after ``col``)
        make the row set deterministic when values tie at the cutoff —
        without one, ties make ANY top-k nondeterministic, skipping or
        not.

        NaN (float/double) is safe by construction (ADVICE r10): a
        file whose footer stats touch NaN is marked UNUSABLE at sweep
        time (``_nan_guard`` — parquet-mr writes max=NaN whenever a
        row group holds any NaN), so NaN-bearing files are always
        read and never enter the cutoff accumulation; conversely,
        usable stats PROVE a file NaN-free, so the accumulated
        non-null counts are all real ordered values and the proof
        stands. Spark orders NaN after every numeric (before NULLs),
        and its comparison operators use the same total order, so the
        pushed descending cutoff ``col >= m`` keeps NaN rows (they
        sort first) and the ascending ``col <= m`` correctly excludes
        them (≥ k non-NaN values ≤ m exist whenever m is set)."""
        from pyspark.sql import functions as F

        if k < 1:
            raise ValueError(f"k must be >= 1, got {k}")
        v = self.current_version() if version is None else version
        if v is None:
            raise ValueError(f"empty versioned table at {self.root}")
        stats = self.file_stats(v, [col])
        lo_key, hi_key = ("min", "max") if not ascending else ("max", "min")

        def _known(s) -> bool:
            return s is not None and s["min"] is not None

        # establish the cutoff m from files with usable stats
        known = [
            (rel, s[col]) for rel, s in stats.items() if _known(s[col])
        ]
        ordered = sorted(
            known,
            key=lambda rs: rs[1][lo_key],
            reverse=not ascending,
        )
        m = None
        cum = 0
        for _rel, s in ordered:
            cum += max(0, (s.get("rows") or 0) - (s.get("nulls") or 0))
            if cum >= k:
                m = s[lo_key]
                break
        if m is None:
            keep = list(stats)  # can't prove k non-null rows: read all
        else:
            keep = []
            for rel, by_col in stats.items():
                s = by_col[col]
                if s is None:
                    keep.append(rel)  # unknown stats: fail-safe read
                elif s["min"] is None:
                    continue  # all-null, and ≥ k non-null rows exist
                elif (not ascending and s[hi_key] >= m) or (
                    ascending and s[hi_key] <= m
                ):
                    keep.append(rel)
        order = [
            F.col(col).asc_nulls_last()
            if ascending
            else F.col(col).desc_nulls_last()
        ] + [F.col(c).asc() for c in tiebreak]
        out = self._pruned_scan(spark, v, keep)
        schema = out.schema
        if keep and m is not None:
            # push the cutoff INTO the scan: rows past it provably
            # can't be in the answer (same proof as the file cutoff),
            # so parquet row-group stats skip within the kept files
            # too. Plain numerics and strings pass through directly
            # (their stats domain IS the column domain); temporal and
            # decimal stats are canonicalized (epoch micros / scaled
            # ints), so the cutoff is mapped back through the EXACT
            # inverse (VERDICT r10 item #3) — timestamp_micros /
            # date_from_unix_date / Decimal(m)·10^-scale are lossless,
            # no rounding, so the proof carries over unchanged. The
            # literal (never the column) wears any cast, keeping the
            # predicate eligible for parquet pushdown.
            cutoff = self._cutoff_literal(schema[col].dataType, m, stats, col)
            if cutoff is not None:
                out = out.filter(
                    F.col(col) <= cutoff if ascending else F.col(col) >= cutoff
                )
        return out.orderBy(*order).limit(k)

    @staticmethod
    def _cutoff_literal(dt_, m, stats: dict, col: str):
        """The canonicalized cutoff value ``m`` as a Column literal of
        the COLUMN's type, or None when no sound inverse exists.

        - numerics/strings: stats domain == column domain, pass-through
          (floats are safe: NaN-touched stats are unusable, so ``m``
          is always a real ordered value — see the read_topk NaN note);
        - timestamps: ``m`` is epoch micros -> ``timestamp_micros(m)``,
          the exact inverse of ``_stats_json``;
        - dates: ``m`` is micros at UTC midnight -> unix-date days
          (always a whole multiple of 86 400 000 000 by construction);
        - decimals: ``m`` is the scaled int at the column's parquet
          scale -> ``Decimal(m)·10^-scale``, exact at the pinned scale
          (the literal is cast to the column's DecimalType so the
          comparison needs no column-side cast).
        """
        import decimal

        from pyspark.sql import functions as F
        from pyspark.sql.types import (
            DateType,
            DecimalType,
            NumericType,
            StringType,
            TimestampType,
        )

        if isinstance(dt_, DecimalType):
            scales = {
                s[col]["scale"]
                for s in stats.values()
                if s[col] is not None and s[col].get("scale") is not None
            }
            if len(scales) != 1:
                return None  # mixed/unknown scales: file pruning only
            d = decimal.Decimal(m).scaleb(-scales.pop())
            return F.lit(d).cast(dt_)
        if isinstance(dt_, StringType) or isinstance(dt_, NumericType):
            return F.lit(m)
        if isinstance(dt_, TimestampType):
            return F.timestamp_micros(F.lit(m))
        if isinstance(dt_, DateType):
            return F.date_from_unix_date(F.lit(m // 86_400_000_000))
        return None

    def read_range(
        self, spark: SparkSession, col: str, lo, hi, version: int | None = None
    ) -> DataFrame:
        """Range scan with ZONE-MAP FILE SKIPPING: rows of the snapshot
        where ``lo <= col <= hi`` (SQL BETWEEN semantics — NULLs never
        match), reading ONLY the files whose footer [min, max] overlaps
        the range. After ``compact(cluster_by=(col,))`` laid the
        snapshot out in non-overlapping ranges, a point/range query
        opens O(matching files) instead of O(table) — the read-side
        payoff of that clustering (Delta's data skipping). Fail-safe:
        a file without usable stats for ``col`` is always read (the
        residual filter keeps the answer exact either way). The
        one-column case of :meth:`read_box`; either bound may be
        ``None`` for a half-open scan (``>= lo`` / ``<= hi``)."""
        return self.read_box(spark, {col: (lo, hi)}, version=version)

    def write_version_cow(
        self, updates: DataFrame, resolve, partition_col: str | None = None
    ) -> int:
        """Merge ``updates`` into the current snapshot and commit the
        result — the one incremental merge behind pipeline models and
        streaming upserts. The base read, the merge and the commit hold
        ONE :meth:`_write_lock` span, so two overlapping merges never
        start from the same base: the second raises
        :class:`ConcurrentWriteError` instead of committing a snapshot
        without the first's rows (a lost update).

        ``resolve(base, updates)`` is the caller's merge rule
        (:func:`merge_upsert`, a winner-per-key dedup of the union, …).
        ``base`` is the current snapshot under the manifest schema as
        ``updates`` additively evolve it (:meth:`_evolved_schema`;
        drops and re-types raise), columns in ``updates``' order.
        Without ``partition_col`` the merged rows are the whole next
        snapshot. With it, ``base`` holds only the partitions
        ``updates`` touch, and the commit is partition-scoped
        COPY-ON-WRITE: the merged rows replace exactly those partition
        directories and every other partition's files are HARDLINKED
        from the current snapshot — O(touched data) written, zero bytes
        copied, and a crash at ANY point is invisible because the
        write lands in a fresh ``data/vN`` (unlike dynamic partition
        overwrite in place, which a killed micro-batch tears beyond
        what a foreachBatch replay can heal). "Touched" is the set of
        partition directories the merged rows' own write produces, so
        hive escaping and the NULL sentinel never disagree with
        Spark's encoding; a rule must therefore keep a row in every
        touched partition (upserts and delete-insert merges do, both
        keep the updates). An empty table bootstraps with ``updates``
        as they are."""
        with self._write_lock():
            cur = self.current_version()
            partition_by = (partition_col,) if partition_col else ()
            if cur is None:
                return self._write_version_locked(updates, partition_by)
            prev_manifest = self.manifest(cur)
            if partition_col and prev_manifest["partition_by"] != [partition_col]:
                raise ValueError(
                    f"table is partitioned by {prev_manifest['partition_by']}, "
                    f"cow merge requested on [{partition_col!r}]"
                )
            schema = self._evolved_schema(prev_manifest["schema"], updates.schema)
            # Pin the updates BEFORE collecting the touched partitions:
            # the commit replaces exactly the partition dirs its write
            # produces, so a nondeterministic source that emitted other
            # partition values between the collect and the write would
            # commit a replaced dir whose existing rows were never
            # merged in (silent row loss). Pinned, the updates plan also
            # runs once instead of once per use.
            updates = updates.localCheckpoint(eager=True)
            base = (
                updates.sparkSession.read.schema(schema)
                .parquet(self._data_dir(cur))
                .select(*updates.columns)
            )
            if not partition_col:
                return self._write_version_locked(resolve(base, updates))
            merged = resolve(
                base.filter(_touched_partition_filter(updates, partition_col)),
                updates,
            )
            # untouched partitions keep their files byte-identical and
            # read columns the merge appended as NULL under the new
            # manifest schema
            commit_schema = self._evolved_schema(
                prev_manifest["schema"], merged.schema
            )
            stage = self._attempt_dir()  # Spark's partitioned merge output
            with _stats_friendly_writes(merged.sparkSession):
                merged.write.mode("overwrite").partitionBy(partition_col).parquet(stage)
            try:
                replaced_dirs = {
                    d
                    for d in os.listdir(stage)
                    if os.path.isdir(os.path.join(stage, d))
                }
                links: dict[str, str] = {}  # rel target -> abs source
                for f in prev_manifest["files"]:
                    if f.split("/", 1)[0] not in replaced_dirs:
                        links[f] = os.path.join(self._data_dir(cur), f)
                for rel in self._parquet_files(stage):
                    links[rel] = os.path.join(stage, rel)
                self._link_into_slot(links, cur + 1)
            finally:
                shutil.rmtree(stage, ignore_errors=True)
            return self._commit(cur, commit_schema, partition_by)

    def history(self) -> list[dict]:
        """DESCRIBE HISTORY-style audit of the committed, unvacuumed
        snapshots — from manifests alone (control-plane reads plus
        local file sizes, no parquet opened): one dict per version
        with file count, exact row count (summed from the commit-time
        stats; None when any file lacks usable counts), on-disk bytes,
        the partition spec, the column names, and whether it is the
        current pointer. The ops surface Delta's DESCRIBE HISTORY
        serves — what changed shape between refreshes, what vacuum
        would reclaim."""
        cur = self.current_version()
        out = []
        for v in self.versions():
            # tolerate a concurrent vacuum (this is a reader API and
            # many-readers is the contract): a version whose manifest
            # or data files vanish mid-listing is simply skipped —
            # the audit reports the surviving snapshots instead of
            # dying on a FileNotFoundError race
            try:
                m = self.manifest(v)
            except FileNotFoundError:
                continue
            rows: int | None = 0
            mstats = _manifest_stats(m)
            for rel in m["files"]:
                counts = [
                    a["rows"]
                    for a in mstats.get(rel, {}).values()
                    if a is not None and a.get("rows") is not None
                ]
                if not counts:
                    rows = None
                    break
                rows += max(counts)
            data_dir = self._data_dir(v)
            try:
                size = sum(
                    os.path.getsize(os.path.join(data_dir, f))
                    for f in m["files"]
                )
            except FileNotFoundError:
                continue  # vacuumed underneath us
            out.append(
                {
                    "version": v,
                    "current": v == cur,
                    "files": len(m["files"]),
                    "rows": rows,
                    "bytes": size,
                    "partition_by": list(m["partition_by"]),
                    "columns": [f["name"] for f in m["schema"]["fields"]],
                }
            )
        return out

    def rewrite_full(
        self,
        spark: SparkSession,
        transform,
        partition_by: tuple[str, ...] | None = None,
    ) -> int:
        """The EXPLICIT full-rewrite path for everything
        :func:`_additive_evolution` refuses — drop, rename, re-type:
        reads the current snapshot, applies ``transform`` (DataFrame →
        DataFrame), and commits the result as the next version under
        its NEW schema. Every file is rewritten (that is the point —
        old files cannot satisfy a non-additive schema), but the prior
        snapshot stays time-travelable under its OWN manifest schema
        until vacuumed, so a bad migration is one pointer away from
        rollback. ``partition_by=None`` keeps the current partition
        spec when its columns survive the transform, else falls back
        to unpartitioned; pass an explicit tuple to re-partition.
        Locked for the whole read → transform → commit span."""
        with self._write_lock():
            cur = self.current_version()
            if cur is None:
                raise ValueError(f"empty versioned table at {self.root}")
            df = transform(self.read_version(spark, cur))
            if partition_by is None:
                prev_pb = tuple(self.manifest(cur)["partition_by"])
                partition_by = (
                    prev_pb if set(prev_pb) <= set(df.columns) else ()
                )
            return self._write_version_locked(df, partition_by=partition_by)

    def read_current_as(self, spark: SparkSession, schema) -> DataFrame:
        """Read the current snapshot under an EXPLICIT schema (hive
        partition-type inference is lossy: a string partition value
        '01' re-infers as int 1, and a merge under the inferred type
        would re-render it differently). Validates the requested
        schema as an ADDITIVE evolution of the committed manifest
        first (see :func:`_additive_evolution`): requesting extra
        columns is how an evolving merge reads the pre-evolution
        snapshot — the new columns read as NULL for every existing
        row; dropping or re-typing a committed column raises."""
        cur = self.current_version()
        if cur is None:
            raise ValueError(f"empty versioned table at {self.root}")
        return self.read_version_as(spark, cur, schema)

    def read_version_as(self, spark: SparkSession, version: int, schema) -> DataFrame:
        """Time travel under an explicit (additively evolved) schema —
        how a pre-evolution snapshot is compared against a
        post-evolution one: read BOTH under the current schema (the
        old snapshot NULL-fills the added columns) and diff normally.
        Same validation as :meth:`read_current_as`, plus the narrowing
        check (``narrowing="reject"`` default): a requested schema
        that re-declares a committed nullable column as non-nullable
        would pin non-nullability over files that may hold NULLs —
        the IsNotNull constant-folding hazard — and raises instead."""
        self._ensure_readable(version)
        _additive_evolution(self.manifest(version)["schema"], schema)
        return spark.read.schema(schema).parquet(self._data_dir(version))

    @staticmethod
    def _zvalue_column(df: DataFrame, cols: tuple[str, ...], bits: int = 8):
        """Z-order (Morton) key over ``cols`` as a Column: each column
        is quantile-bucketized into 2^bits ranks (percentile_approx —
        ONE bounded aggregate, 2^bits-1 boundary literals per column,
        so skew can't unbalance the curve the way min/max scaling
        would), then the rank bits are interleaved. Rows close on the
        curve are close in EVERY dimension, so range-partitioning by
        the z-value gives every file a bounded min/max rectangle on
        ALL the z-ordered columns at once — the property lexicographic
        multi-column clustering only has for its leading column.
        Numeric and temporal columns supported (temporals bucketize on
        their epoch value; the z-key only needs ORDER, not units)."""
        from pyspark.sql import functions as F
        from pyspark.sql.types import DateType, NumericType, TimestampType

        # The interleaved key must fit a signed 64-bit long: bit j of
        # column i lands at position j*len(cols)+i, so the top bit is
        # bits*len(cols)-1 and anything past 62 is unusable (63 is the
        # sign bit; worse, JVM shiftleft wraps the shift amount mod 64,
        # so an overflow SILENTLY corrupts the Morton key — answers
        # stay right via the residual filter, but clustering quality
        # rots unnoticed, ADVICE r9). Scale bits down per column count
        # (9+ columns at 8 bits would overflow); a degenerate ask that
        # can't even get 1 bit per column raises instead.
        if len(cols) > 62:
            raise ValueError(
                f"zorder_by supports at most 62 columns, got {len(cols)}"
            )
        bits = min(bits, 62 // len(cols))
        n = 1 << bits
        rank_cols = []
        quantile_args = []
        for c in cols:
            dt = df.schema[c].dataType
            if isinstance(dt, (TimestampType, DateType)):
                expr = F.col(c).cast("timestamp").cast("double")
            elif isinstance(dt, NumericType):
                expr = F.col(c).cast("double")
            else:
                raise ValueError(
                    f"zorder_by column {c!r} has non-orderable-numeric "
                    f"type {dt.simpleString()}: z-order needs numeric or "
                    "temporal columns"
                )
            quantile_args.append(
                F.percentile_approx(
                    expr, [i / n for i in range(1, n)], 10_000
                ).alias(c)
            )
            rank_cols.append((c, expr))
        bounds = df.agg(*quantile_args).first()
        z = F.lit(0).cast("long")
        for i, (c, expr) in enumerate(rank_cols):
            bs = bounds[c] or []
            if not bs:  # all-null or constant column: one rank
                continue
            arr = F.array(*[F.lit(float(b)) for b in bs])
            # rank = #boundaries <= value, by binary search over the
            # sorted boundaries (n-1 of them, so `bits` halving steps
            # reach every index): `bits` lambda steps per row, not n-1
            # (a JVM lambda is interpreted, and the rank is evaluated
            # once per interleaved bit). NULLs rank 0 — they cluster
            # together at the low end
            steps = F.array(*[F.lit(1 << k) for k in reversed(range(bits))])
            rank = F.when(
                expr.isNull(), F.lit(0)
            ).otherwise(
                F.aggregate(
                    steps,
                    F.lit(0),
                    lambda lo, step: F.when(
                        F.element_at(arr, lo + step) <= expr, lo + step
                    ).otherwise(lo),
                )
            ).cast("long")
            for j in range(bits):  # interleave bit j of column i
                z = z.bitwiseOR(
                    F.shiftleft(
                        F.shiftright(rank, j).bitwiseAND(F.lit(1)),
                        j * len(cols) + i,
                    )
                )
        return z

    def compact(
        self,
        spark: SparkSession,
        target_file_mb: int = 128,
        cluster_by: tuple[str, ...] = (),
        zorder_by: tuple[str, ...] = (),
    ) -> int:
        """Small-file compaction: rewrite the CURRENT snapshot into
        size-targeted files as a NEW committed version. Data-identical
        (same rows, same schema, same partition layout) — only the
        file geometry changes; the previous version stays readable
        until vacuumed, so a bad compaction is one pointer away from
        rollback.

        Why it matters at 100 TB: streaming ingests and fine-grained
        partition merges accumulate kilobyte files whose per-file open
        cost dominates scans; periodic compaction is the standard
        Delta/Iceberg OPTIMIZE. File count = ceil(bytes /
        target_file_mb), computed from the actual on-disk snapshot
        size, not a guess.

        ``cluster_by`` additionally range-partitions + sorts the
        rewrite on the given columns: each output file then covers a
        narrow, non-overlapping value range on the LEADING column, so
        zone maps (:meth:`read_range`) and parquet row-group stats let
        point/range scans on it skip whole files.

        ``zorder_by`` is the multi-dimensional form (Delta's OPTIMIZE
        ZORDER): rows are laid out along a Morton curve over the given
        columns, so every file gets a bounded min/max rectangle on ALL
        of them — range reads on ANY z-ordered column skip files,
        where lexicographic ``cluster_by`` only skips on the first.
        The trade: per-column skipping is ~2^(bits/k) coarser with k
        columns, so prefer ``cluster_by`` when queries only ever
        filter one column. Unpartitioned snapshots only (partition
        dirs already split the space; compose by partitioning on the
        coarse key and z-ordering inside if needed later).

        Returns the new version number. Locked for its whole
        read-current → rewrite → commit span (see :meth:`_write_lock`):
        a merge racing a compaction would otherwise commit on top of a
        base the compaction just rewrote."""
        if cluster_by and zorder_by:
            raise ValueError("cluster_by and zorder_by are exclusive")
        with self._write_lock():
            return self._compact_locked(
                spark, target_file_mb, cluster_by, zorder_by
            )

    def _compact_locked(
        self,
        spark: SparkSession,
        target_file_mb: int,
        cluster_by: tuple[str, ...],
        zorder_by: tuple[str, ...],
    ) -> int:
        cur = self.current_version()
        if cur is None:
            raise ValueError(f"empty versioned table at {self.root}")
        manifest = self.manifest(cur)
        data_dir = self._data_dir(cur)
        total_bytes = sum(
            os.path.getsize(os.path.join(data_dir, f)) for f in manifest["files"]
        )
        n_files = max(1, -(-total_bytes // (target_file_mb * 1024 * 1024)))
        partition_by = tuple(manifest["partition_by"])
        df = self.read_version(spark, cur)
        if zorder_by:
            if partition_by:
                raise ValueError(
                    "zorder_by supports unpartitioned snapshots only"
                )
            z = self._zvalue_column(df, tuple(zorder_by))
            df = (
                df.withColumn("__z", z)
                .repartitionByRange(int(n_files), "__z")
                .sortWithinPartitions("__z")
                .drop("__z")
            )
            return self._write_version_locked(df, partition_by=())
        if cluster_by:
            # partition columns LEAD the range keys: otherwise each of
            # the n_files cluster ranges spans every partition value
            # and partitionBy on write fragments the output into up to
            # n_files × n_partitions files — the opposite of
            # compaction (review finding)
            range_keys = (*partition_by, *cluster_by)
            df = df.repartitionByRange(n_files, *range_keys).sortWithinPartitions(
                *range_keys
            )
        elif partition_by:
            # Hashing on the partition columns ALONE would land every
            # row of one partition value in a single task: each
            # partition directory compacts to exactly one file no
            # matter its size, so target_file_mb is not honored within
            # a partition — a 10 GB partition would compact to one
            # 10 GB file (ADVICE r5). Instead, size each partition's
            # file count from its TRUE on-disk bytes — summed from the
            # manifest's file listing grouped by hive partition dir
            # (ADVICE r6: the previous extra groupBy(*pb) scan used a
            # global bytes/row average that under-split partitions
            # with atypically wide rows; the manifest already holds
            # exact per-partition bytes for free) — and a
            # deterministic row-hash salt spreads an oversized
            # partition over ceil(bytes / target) buckets. Partitions
            # that already fit keep buckets = 1, so small partitions
            # are not fragmented.
            from urllib.parse import unquote

            from pyspark.sql import functions as F

            pb = list(partition_by)
            sentinel = "__HIVE_DEFAULT_PARTITION__"
            # keyed on the RENDERED '/'-joined string, not the value
            # tuple: two tuples can render identically when a value
            # itself contains '/' (("a/b","c") vs ("a","b/c")), and a
            # duplicate key in the bucket map would DUPLICATE every
            # matching data row through the join — summing their bytes
            # under one key keeps the join 1:1 (sizing merges, rows
            # stay exact)
            part_bytes: dict[str, int] = {}
            for f in manifest["files"]:
                dirs = [d for d in f.split("/")[:-1] if "=" in d]
                key = tuple(unquote(d.split("=", 1)[1]) for d in dirs)
                if len(key) != len(pb):
                    raise ValueError(
                        f"non-hive layout under {data_dir}: {f!r} does not "
                        f"encode all of {pb}"
                    )
                pkey = "/".join(key)
                part_bytes[pkey] = part_bytes.get(pkey, 0) + os.path.getsize(
                    os.path.join(data_dir, f)
                )
            target_bytes = target_file_mb * 1024 * 1024
            bucket_rows = [
                (pkey, max(1, -(-b // target_bytes)))
                for pkey, b in sorted(part_bytes.items())
            ]
            map_df = df.sparkSession.createDataFrame(
                bucket_rows, "__pkey string, __buckets int"
            )
            # join on the string RENDERING of the partition tuple —
            # cast-to-string matches the (unquoted) hive dir value for
            # the supported partition column types; NULL renders as
            # hive's default-partition sentinel on both sides.
            # LEFT join + coalesce(1): if a partition type's rendering
            # ever diverges from its hive dir value, the unmatched rows
            # fall back to one bucket (suboptimal file sizing) instead
            # of being silently DROPPED from the committed version by
            # an inner join (ADVICE r7 — fail safe, not fail silent)
            pkey = F.concat_ws(
                "/",
                *[
                    F.coalesce(F.col(c).cast("string"), F.lit(sentinel))
                    for c in pb
                ],
            )
            joined = (
                df.withColumn("__pkey", pkey)
                .join(F.broadcast(map_df), "__pkey", "left")
                .withColumn("__buckets", F.coalesce(F.col("__buckets"), F.lit(1)))
            )
            # salt from the HASHABLE NON-PARTITION columns only:
            # xxhash64 rejects MapType (ADVICE r6), and partition
            # columns are constant within a partition (a salt built
            # on them alone would collapse every bucket to one) —
            # fall back to a monotonic row id when nothing hashable
            # remains
            hashable = [
                fld.name
                for fld in df.schema.fields
                if fld.name not in pb and _hashable_type(fld.dataType)
            ]
            salt_src = (
                F.xxhash64(*[F.col(c) for c in hashable])
                if hashable
                else F.monotonically_increasing_id()
            )
            salted = joined.withColumn(
                "__salt", F.pmod(salt_src, F.col("__buckets"))
            )
            n_groups = sum(b for _, b in bucket_rows)
            df = salted.repartition(max(n_files, n_groups), *pb, "__salt").drop(
                "__salt", "__buckets", "__pkey"
            )
        else:
            df = df.repartition(n_files)
        return self._write_version_locked(df, partition_by=partition_by)

    def vacuum(self, keep: int = 2) -> list[int]:
        """Drop all but the last ``keep`` committed snapshots (plus any
        orphaned uncommitted directories). Returns removed versions.
        Locked (see :meth:`_write_lock`): the orphan cleanup deletes
        data dirs above the committed pointer, which is exactly where
        a concurrent writer stages — unlocked, a vacuum could shred an
        in-flight commit."""
        if keep < 1:
            raise ValueError("keep must be >= 1")
        with self._write_lock():
            return self._vacuum_locked(keep)

    def _vacuum_locked(self, keep: int) -> list[int]:
        # Fencing posture (r12): every rmtree below runs under the
        # per-mutation fence (`_fenced`) — a zombie vacuum waking
        # post-reclaim cannot delete data dirs, the winner's in-flight
        # _staging attempt, or above-pointer slots. The backend
        # manifest deletes are store-atomic but lease-checked
        # only here (check-then-act): the residual zombie shape is
        # bounded to deleting manifests of versions OUTSIDE the keep
        # window computed from the CURRENT committed state (fresh
        # reads at wake) — a deletion any legitimate lock holder could
        # make, never the winner's live data or in-flight commit.
        self._ensure_lease()  # zombie fence: vacuum deletes committed data
        committed = self.versions()
        cur = self.current_version() or 0
        drop = committed[:-keep] if len(committed) > keep else []
        removed = []
        for v in drop:
            # manifest FIRST: a crash between the two steps must leave
            # "clearly vacuumed" (no manifest), never "looks committed
            # but data is gone" — versions()/read_version key off the
            # manifest's existence
            self._backend.delete(self._manifest_key(v))
            # per-mutation fenced (r12): a ZOMBIE vacuum waking
            # post-reclaim must not rmtree data dirs out from under
            # the new owner — same fence as the slot install
            self._fenced(
                lambda d=self._data_dir(v): shutil.rmtree(d, ignore_errors=True)
            )
            removed.append(v)
        # crashed attempts' staging orphans: we hold the writer lock,
        # so nothing under _staging can belong to a live writer —
        # and the fence makes "we hold the lock" ATOMIC with the
        # delete: a zombie's stale sweep here would otherwise shred
        # the reclaiming winner's in-flight attempt dir
        self._fenced(
            lambda: shutil.rmtree(
                os.path.join(self.root, "_staging"), ignore_errors=True
            )
        )
        # orphans: data dirs above the committed pointer (crashed
        # writes) and manifest-less dirs below it (a vacuum that
        # crashed between manifest removal and data removal). Fenced
        # for the same reason: "above the pointer" is exactly where a
        # reclaiming winner installs its next slot.
        data_root = os.path.join(self.root, "data")
        if os.path.isdir(data_root):
            doomed = []
            for name in os.listdir(data_root):
                if not name.startswith("v"):
                    continue
                v = int(name[1:])
                if v > cur or not self._backend.exists(self._manifest_key(v)):
                    doomed.append(os.path.join(data_root, name))

            def sweep_orphans() -> None:
                for d in doomed:
                    shutil.rmtree(d, ignore_errors=True)

            self._fenced(sweep_orphans)
        # store-side residue of crashed multi-request uploads (VERDICT
        # r14 item 7): incomplete S3 multipart uploads / journaled GCS
        # resumable sessions under this table's prefix. Every backend
        # writes each object in one request, so only an earlier client
        # can have left them. We hold the writer lock, so any
        # open upload is a crashed or zombie writer's. Committed
        # objects are never touched (an upload only becomes visible
        # at its final conditional apply).
        self._backend.sweep_orphans()
        return removed
