"""SparkSession builder tuned for this engine.

The reference delegates all execution to BigQuery (reference
``dbt/nycitibike_transform/profiles.yml:2``); our equivalent of "the
warehouse" is a Catalyst/Tungsten session configured for:

- AQE (runtime re-planning, partition coalescing, skew-join handling),
- UTC session timezone (parity with the DuckDB oracle and with the
  reference's timestamp semantics),
- Arrow for any pandas interchange,
- shuffle partitions sized to the machine, not the 200 default,
- a generated-class cache that holds the registry's working set, and
  class names without the codegen stage id, so a repeated op reuses its
  compiled classes instead of recompiling them,
- WARN logging, except for ``WindowExec``'s unpartitioned-window
  warning (see ``_WINDOW_EXEC_LOGGER``),
- a driver JVM that JIT-compiles with C1 only and collects with the
  Serial GC (see ``_DRIVER_JAVA_OPTIONS``); both apply only when
  ``get_spark`` starts the JVM, and cluster executors keep C2 and their
  own GC,
- a driver heap no larger than three quarters of the machine's RAM (see
  ``default_driver_memory``).

On a real cluster the same builder applies — only ``master`` and the
memory sizing change; AQE re-sizes shuffles at runtime so the static
``spark.sql.shuffle.partitions`` is a hint, not a commitment.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

CODEGEN_CACHE_ENTRIES = 4096

# held at ERROR under the session's WARN level: WindowExec warns "No
# Partition Defined for Window operation!" on every execution of an
# unpartitioned window. Each such window in the registry is reviewed as
# bounded in tools/plan_audit.FLAG_NOTES, and an unreviewed one fails
# the plan-audit test, so the line carries no signal and floods the log.
_WINDOW_EXEC_LOGGER = "org.apache.spark.sql.execution.window.WindowExec"

# the scheduled job is a cold JVM every run, and C2 (the optimizing
# compiler) spent ~40 % of a refresh's process-tree CPU compiling code
# the run ends before it pays back. C1 alone halves set-up CPU and cuts
# refresh op CPU ~45 %; hot executor loops in a warm JVM run slower on
# C1 code (embedding_near_dup's wall x1.45; README "Session defaults").
# The Serial GC: the job holds a few MB of data in its heap, and G1's
# own overhead was most of the driver's memory (NMT on a perfbench
# queries run: 579 MB of committed heap and 64 MB of GC structures
# under G1, 379 MB and 1 MB under Serial). Serial cut perfbench's
# peak_rss_mb 20 % (queries) and 22 % (refresh) at unchanged op CPU;
# the cost is stop-the-world GC pauses on the wall clock (ops/s -6 %
# on queries and -4 % on refresh, the refresh op's wall x1.08; README
# "Session defaults").
# Set as defaultJavaOptions so a caller's spark.driver.extraJavaOptions
# adds to it rather than replacing it.
_DRIVER_JAVA_OPTIONS = "-XX:TieredStopAtLevel=1 -XX:+UseSerialGC"

_MAX_DRIVER_MEMORY_MB = 48 * 1024


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8)))


def default_driver_memory() -> str:
    """``spark.driver.memory``: ``$SPARK_GRAFT_DRIVER_MEM`` if set, else
    the smaller of 48g and three quarters of physical RAM. Spark sizes
    execution memory from the heap, so a heap larger than the machine
    gets the process killed where it would otherwise have spilled."""
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    ram_mb = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") // (1024 * 1024)
    return f"{min(_MAX_DRIVER_MEMORY_MB, ram_mb * 3 // 4)}m"


def get_spark(
    app_name: str = "nycitibike_data_transform_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's session.

    ``spark.sql.codegen.cache.maxEntries`` is a static conf: the JVM
    sizes its generated-class cache once, from the session that
    triggers the first codegen. It therefore takes effect only when
    this function builds the JVM's first session; a session obtained
    from an already running JVM keeps that JVM's cache size. The same
    holds for the driver's JVM options, which only a JVM this function
    launches receives."""
    cpus = default_parallelism()
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", default_driver_memory())
        .config("spark.driver.defaultJavaOptions", _DRIVER_JAVA_OPTIONS)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.filterPushdown", "true")
        # ratio-divisible bucket counts (16 ⋈ 8) still join co-located
        # (see bucketing.py) — off by default upstream, no cost when
        # no bucketed tables participate
        .config("spark.sql.bucketing.coalesceBucketsInJoin.enabled", "true")
        # a sweep of the non-eager registry queries generates ~1.8k
        # distinct classes; at the default 100 entries every repeated
        # op evicts and recompiles the previous op's classes
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        # AQE numbers codegen stages in the order its query stages
        # materialize, which varies between runs of one plan; the stage
        # id in the class name would make such a rerun miss the cache
        .config("spark.sql.codegen.useIdInClassName", "false")
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/spark-graft-warehouse"),
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    log4j = spark._jvm.org.apache.logging.log4j
    log4j.core.config.Configurator.setLevel(_WINDOW_EXEC_LOGGER, log4j.Level.ERROR)
    return spark

