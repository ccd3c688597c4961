"""Catalog conventions + testdata loading.

The reference encodes a 4-level medallion hierarchy in BigQuery dataset
names — ``{ENV}_{LevelNumeral}_{LevelID}___{descriptor}`` (reference
``README.md:18-29``, ``terraform/terraform.tfvars:47-61``) with two
environments CORE/DEV realized by dataset-name prefixes
(``terraform/a2_config_second_apply/main.tf:239-255``).

Spark mapping: a flat naming convention ``{env}_{layer}__{table}`` over
catalog-registered tables.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

LAYERS = (
    "1_src",
    "2_stg",
    "2_dim",
    "3_prep",
    "4_mart",
)

ENVS = ("core", "dev")

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def table_name(env: str, layer: str, table: str) -> str:
    """``{env}_{layer}__{table}``, validated against the declared envs
    and layers (mirrors the reference's compile-time validation idiom,
    ``macros/dist_lat_lng.sql:4-5``: fail at plan-build time)."""
    env = env.lower()
    layer = layer.lower()
    if env not in ENVS:
        raise ValueError(f"unknown env {env!r}; expected one of {ENVS}")
    if layer not in LAYERS:
        raise ValueError(f"unknown layer {layer!r}; expected one of {LAYERS}")
    return f"{env}_{layer}__{table.lower()}"


# session confs that change what parquet schema inference returns
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.caseSensitive",
)

# absolute path -> (inference key, schema): one entry per path, replaced
# when the path's listing or the inference confs change
_SCHEMAS: dict[str, tuple[tuple, StructType]] = {}


def _listing(path: str) -> tuple:
    """(relpath, size, mtime_ns, inode) of every file at or under
    ``path``; a rewrite, an added or removed file all change it."""
    if os.path.isfile(path):
        st = os.stat(path)
        return (("", st.st_size, st.st_mtime_ns, st.st_ino),)
    out = []
    for d, dirs, names in os.walk(path):
        dirs.sort()
        for n in sorted(names):
            f = os.path.join(d, n)
            try:
                st = os.stat(f)
            except FileNotFoundError:  # removed mid-walk: the inference cannot read it either
                continue
            out.append((os.path.relpath(f, path), st.st_size, st.st_mtime_ns, st.st_ino))
    return tuple(out)


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` without re-running schema inference
    on an unchanged path.

    Inference starts a Spark job that reads a footer (~100 ms CPU); a
    read under a given schema starts none. The inferred schema is
    memoized per path, keyed by the path's file listing and the confs
    in ``_INFERENCE_CONFS``, and reused as ``spark.read.schema(...)``
    while both match. The listing is taken before inference, so a
    change racing the read can only force a later re-inference, never
    pin a stale schema. A path that is not a local file or directory
    (a ``scheme://`` URL, a glob, a missing path) is not memoized: it
    always infers."""
    if not os.path.exists(path):
        return spark.read.parquet(path)
    path = os.path.abspath(path)
    key = (_listing(path), tuple(spark.conf.get(c, None) for c in _INFERENCE_CONFS))
    hit = _SCHEMAS.get(path)
    if hit is not None and hit[0] == key:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMAS[path] = (key, df.schema)
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one driver testdata table, normalizing timestamps.

    The driver's parquet has shipped two temporal encodings across
    rounds: TIMESTAMP(NANOS) (rejected by Spark's vectorized reader —
    read as nanos longs under the legacy conf and truncated to µs) and
    plain timestamp[us] with no timezone (Spark reads TIMESTAMP_NTZ,
    DuckDB reads naive TIMESTAMP). Both are normalized to session-tz
    TIMESTAMP here — the session tz is pinned to UTC, so the wall-clock
    values are bit-identical to DuckDB's naive reading and every
    downstream instant function (unix_micros, window, watermark) works
    unchanged.

    SIDE EFFECT (ADVICE r4): this sets ``spark.sql.session.timeZone``
    to UTC and ``spark.sql.legacy.parquet.nanosAsLong`` on the WHOLE
    session, not just this read — required because the external driver
    hands us an arbitrarily-configured session at query time, and the
    oracle contract needs UTC wall clocks everywhere. Library callers
    who depend on a non-UTC session timezone should re-set it after
    loading (timestamps loaded here are already wall-clock-normalized
    and stay correct either way)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = read_parquet(spark, f"{sf_dir}/{name}.parquet")
    for field in df.schema.fields:
        kind = field.dataType.simpleString()
        if name == "events" and field.name == "ts" and kind == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif kind == "timestamp_ntz":
            df = df.withColumn(field.name, F.col(field.name).cast("timestamp"))
    return df
