"""MART-layer queries — SURVEY.md §2.5 (A1-A5).

The reference *declares* PREP/MART analysis layers but never landed a
model in them (reference ``README.md:28-29``, ``terraform.tfvars:59-60``);
these queries are that missing query surface, built as first-class
engine capabilities.

Determinism: every money/quantity aggregate accumulates EXACTLY —
either fixed-point long units (functions/money.py fast path; the
final doubles are identical to the DECIMAL formulation) or DECIMAL —
never raw double sums (partition-order-dependent). The DuckDB oracles
keep the DECIMAL formulation, which doubles as the cross-engine
equivalence proof for the fast path.

Oracle cast convention (r8): every decimal-sum → double conversion in
the oracle SQL goes ``CAST(CAST(sum(...) AS STRING) AS DOUBLE)``, not
a direct decimal→double cast. DuckDB's direct cast double-rounds
(int128 units → double, then ÷10^scale — two roundings) and lands one
ulp off once the scaled sum passes 2^53 (reproduced at sf1:
52191640444.994510 exact → DuckDB direct 52191640444.994514, correct
52191640444.99451). Spark's Decimal.toDouble is correctly rounded
(OpenJDK BigDecimal.doubleValue falls back to Double.parseDouble for
the hard cases), and string→double parses are correctly rounded in
BOTH engines — so the STRING route makes the oracle agree with Spark
bit-for-bit at any scale. Identical below 2^53, so driver-SF hashes
are unchanged.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from nycitibike_data_transform_spark.functions.money import (
    fast_charge_sum,
    fast_money_sum,
    fast_revenue_sum,
    to_units,
    units_to_amount,
)
from nycitibike_data_transform_spark.queries import QuerySpec, load


def _dec(c: str, scale: str = "decimal(18,2)") -> Column:
    return F.col(c).cast(scale)


# ------------------------------------------------------- TPC-H Q1 style agg

def _q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 hash aggregation: 2 group cols × 8 aggregates over lineitem.
    Map-side partial agg + single shuffle on the (tiny) group domain.
    Money math runs on the fixed-point long fast path
    (functions/money.py) — exact, same doubles as the DECIMAL
    formulation, ~10× cheaper per row."""
    t = load(spark, sf_dir, "lineitem")
    return (
        t["lineitem"]
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            fast_money_sum("l_quantity").alias("sum_qty"),
            fast_money_sum("l_extendedprice").alias("sum_base_price"),
            fast_revenue_sum("l_extendedprice", "l_discount").alias("sum_disc_price"),
            fast_charge_sum("l_extendedprice", "l_discount", "l_tax").alias("sum_charge"),
            (fast_money_sum("l_quantity") / F.count(F.lit(1))).alias("avg_qty"),
            (fast_money_sum("l_extendedprice") / F.count(F.lit(1))).alias("avg_price"),
            F.max("l_quantity").alias("max_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


_PRICING_SUMMARY_SQL = """
SELECT l_returnflag, l_linestatus,
       CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS STRING) AS DOUBLE) AS sum_qty,
       CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS STRING) AS DOUBLE) AS sum_base_price,
       CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS STRING) AS DOUBLE)
           AS sum_disc_price,
       CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))
                * (CAST(1 AS DECIMAL(4,2)) + CAST(l_tax AS DECIMAL(4,2)))) AS STRING) AS DOUBLE)
           AS sum_charge,
       CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS STRING) AS DOUBLE) / count(*) AS avg_qty,
       CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS STRING) AS DOUBLE) / count(*) AS avg_price,
       max(l_quantity) AS max_qty,
       count(*) AS count_order
FROM lineitem
GROUP BY l_returnflag, l_linestatus
"""

# ----------------------------------------------- TPC-H Q5 style star join

def _q_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1+J1 star join: lineitem ⋈ orders ⋈ customer ⋈ nation ⋈ region,
    revenue per nation. Dims broadcast; the fact-side joins shuffle on
    their keys with AQE sizing — the canonical 100 TB star-join shape."""
    t = load(spark, sf_dir, "lineitem", "orders", "customer", "nation", "region")
    return (
        t["lineitem"]
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(t["region"]), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy(F.col("r_name").alias("region_name"), F.col("n_name").alias("nation_name"))
        .agg(
            fast_revenue_sum("l_extendedprice", "l_discount").alias("revenue"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
    )


_REVENUE_BY_NATION_SQL = """
SELECT r.r_name AS region_name, n.n_name AS nation_name,
       CAST(CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))
                * (CAST(1 AS DECIMAL(4,2)) - CAST(l.l_discount AS DECIMAL(4,2)))) AS STRING) AS DOUBLE)
           AS revenue,
       count(*) AS n_lineitems
FROM lineitem l
JOIN orders o   ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n   ON c.c_nationkey = n.n_nationkey
JOIN region r   ON n.n_regionkey = r.r_regionkey
GROUP BY 1, 2
"""

# ------------------------------------------------------------ distinct (A2)

def _q_distinct_parts_per_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 exact distinct aggregation (expand + two-phase agg in Spark)."""
    t = load(spark, sf_dir, "lineitem")
    return (
        t["lineitem"]
        .groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_partkey").alias("n_parts"),
            F.countDistinct("l_suppkey").alias("n_supps"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


_DISTINCT_SQL = """
SELECT l_returnflag,
       count(DISTINCT l_partkey) AS n_parts,
       count(DISTINCT l_suppkey) AS n_supps,
       count(*) AS n_rows
FROM lineitem
GROUP BY 1
"""

# ------------------------------------------------------- rollup / cube (A2)

def _q_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load(spark, sf_dir, "lineitem")
    return (
        t["lineitem"]
        .rollup("l_returnflag", "l_linestatus")
        .agg(
            fast_money_sum("l_quantity").alias("sum_qty"),
            F.count(F.lit(1)).alias("n"),
            F.grouping_id().cast("int").alias("gid"),
        )
    )


_ROLLUP_SQL = """
SELECT l_returnflag, l_linestatus,
       CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS STRING) AS DOUBLE) AS sum_qty,
       count(*) AS n,
       CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS INTEGER) AS gid
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


def _q_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load(spark, sf_dir, "orders")
    return (
        t["orders"]
        .cube("o_orderstatus", "o_orderpriority")
        .agg(
            fast_money_sum("o_totalprice").alias("sum_price"),
            F.count(F.lit(1)).alias("n"),
            F.grouping_id().cast("int").alias("gid"),
        )
    )


_CUBE_SQL = """
SELECT o_orderstatus, o_orderpriority,
       CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS STRING) AS DOUBLE) AS sum_price,
       count(*) AS n,
       CAST(GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority) AS INTEGER) AS gid
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
"""

# ------------------------------------------------------------- windows (A3)

def _q_window_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3/A4 top-k per group via ranking window (tie-broken on the
    unique key so results are deterministic)."""
    t = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
    return (
        t["orders"]
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
    )


_WINDOW_TOPK_SQL = """
SELECT o_custkey, o_orderkey, o_totalprice, rn
FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
  FROM orders
) WHERE rn <= 3
"""


def _q_window_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 running frame: cumulative quantity per supplier in ship order
    (DECIMAL accumulation — window sums may use segment trees whose
    association order differs between engines)."""
    t = load(spark, sf_dir, "lineitem")
    # the driver testdata does NOT have unique (l_orderkey,
    # l_linenumber): duplicate keys can share l_shipdate, and a running
    # frame over a tied ORDER BY is engine-order-dependent. l_quantity
    # as the final tie-break makes any remaining ties fully identical
    # rows, so the output multiset is deterministic.
    order = ("l_shipdate", "l_orderkey", "l_linenumber", "l_quantity")
    w = (
        Window.partitionBy("l_suppkey")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return t["lineitem"].select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        F.sum(_dec("l_quantity")).over(w).cast("double").alias("running_qty"),
        F.lag("l_quantity", 1).over(
            Window.partitionBy("l_suppkey").orderBy(*order)
        ).alias("prev_qty"),
    )


_WINDOW_RUNNING_SQL = """
SELECT l_suppkey, l_orderkey, l_linenumber,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,2)))
            OVER (PARTITION BY l_suppkey
                  ORDER BY l_shipdate, l_orderkey, l_linenumber, l_quantity
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_qty,
       lag(l_quantity, 1) OVER (PARTITION BY l_suppkey
                                ORDER BY l_shipdate, l_orderkey, l_linenumber, l_quantity) AS prev_qty
FROM lineitem
"""

# ------------------------------------------------------ order/limit (A4)

def _q_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 global top-k (TakeOrderedAndProject — no full sort at scale)."""
    t = load(spark, sf_dir, "orders")
    return (
        t["orders"]
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(10)
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


_TOP_ORDERS_SQL = """
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 10
"""

# ------------------------------------------------------------- pivot

def _q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot l_linestatus into columns (explicit value list so the plan
    needs no discovery pass — mandatory at scale)."""
    t = load(spark, sf_dir, "lineitem")
    return (
        t["lineitem"]
        .groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.sum(_dec("l_quantity")).cast("double"))
        .withColumnRenamed("O", "qty_open")
        .withColumnRenamed("F", "qty_filled")
    )


_PIVOT_SQL = """
SELECT l_returnflag,
       CAST(CAST(sum(CASE WHEN l_linestatus = 'O'
                THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS STRING) AS DOUBLE) AS qty_open,
       CAST(CAST(sum(CASE WHEN l_linestatus = 'F'
                THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS STRING) AS DOUBLE) AS qty_filled
FROM lineitem
GROUP BY l_returnflag
"""

# ------------------------------------------- TPC-H classics (Q3 / Q6)

def _q_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective filters on both join sides (pushed to
    the scans), join on orderkey, revenue agg, top-10. The filters
    prune before the shuffle — the property that matters at 100 TB."""
    t = load(spark, sf_dir, "customer", "orders", "lineitem")
    return (
        t["customer"].filter(F.col("c_mktsegment") == "BUILDING")
        .join(t["orders"], F.col("c_custkey") == F.col("o_custkey"))
        .filter(F.col("o_orderdate") < "1998-01-01")
        .join(t["lineitem"], F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(fast_revenue_sum("l_extendedprice", "l_discount").alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey"))
        .limit(10)
    )


_SHIPPING_PRIORITY_SQL = """
SELECT o_orderkey, o_orderdate, o_orderpriority,
       CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS STRING) AS DOUBLE)
           AS revenue
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
WHERE c_mktsegment = 'BUILDING' AND o_orderdate < TIMESTAMP '1998-01-01'
GROUP BY 1, 2, 3
ORDER BY revenue DESC, o_orderkey
LIMIT 10
"""


def _q_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-once bucketed layout, join-many (bucketing.py): orders and
    lineitem materialized bucketed by orderkey (16 buckets, one sorted
    file per bucket), then a co-located fact⋈fact join + per-order
    aggregate. The WHOLE downstream plan — SortMergeJoin and the
    groupBy on the bucket key — has ZERO shuffle exchanges (the
    plan-audit row pins it): this is the 100 TB answer to the
    reference's every-4-hours re-join of the same facts on the same
    key (reference ``setup_script.sh:7``), where the write-side shuffle
    is paid once and amortized across every run.

    The bucketed write happens at construction (idempotent overwrite
    into a per-SF tmp path); the returned frame is the real
    distributed plan over the bucketed scans, certified against the
    plain-join DuckDB oracle — layout must never change answers."""
    import os
    import re
    import tempfile

    from nycitibike_data_transform_spark.bucketing import (
        colocated_join,
        write_bucketed,
    )

    t = load(spark, sf_dir, "orders", "lineitem")
    # pid-scoped names/paths: re-runs in one process reuse (idempotent
    # overwrite), while concurrent processes on the same SF (bench vs
    # oracle sweep) never clobber each other's in-flight scans
    suffix = f"{re.sub(r'[^A-Za-z0-9]+', '_', sf_dir).strip('_')}_{os.getpid()}"
    base = os.path.join(tempfile.gettempdir(), "spark_graft_bucketed")
    # self-cleaning scratch (ADVICE r8): dirs from DEAD pids are
    # reclaimed here — a finally-block delete is impossible because the
    # returned plan lazily scans these files, and a live sibling pid's
    # dir must survive (its oracle/bench run may still be scanning).
    # Catalog entries die with their process (in-memory catalog), so
    # disk is the only cross-lifetime leak.
    if os.path.isdir(base):
        import shutil

        for name in os.listdir(base):
            m = re.search(r"_(\d+)$", name)
            if not m or int(m.group(1)) == os.getpid():
                continue
            try:
                os.kill(int(m.group(1)), 0)  # raises if pid is gone
            except ProcessLookupError:
                shutil.rmtree(os.path.join(base, name), ignore_errors=True)
            except PermissionError:
                pass  # pid alive under another user — leave it
    orders_t, lineitem_t = f"bkt_orders_{suffix}", f"bkt_lineitem_{suffix}"
    write_bucketed(
        t["orders"].select("o_orderkey", "o_orderpriority"),
        orders_t,
        "o_orderkey",
        16,
        path=f"{base}/{orders_t}",
    )
    write_bucketed(
        t["lineitem"].select("l_orderkey", "l_extendedprice", "l_discount"),
        lineitem_t,
        "l_orderkey",
        16,
        path=f"{base}/{lineitem_t}",
    )
    o, l = spark.table(orders_t), spark.table(lineitem_t)
    return (
        colocated_join(o, l, o.o_orderkey == l.l_orderkey)
        .groupBy("o_orderkey", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            fast_revenue_sum("l_extendedprice", "l_discount").alias("revenue"),
        )
        .filter(F.col("revenue") > 300000.0)
    )


#: Shared clustered-snapshot fixture for the EAGER layout scans
#: (VERDICT r10 item #6): keyed by (applicationId, sf_dir), holding
#: ONE versioned lineitem table whose committed versions are the
#: layouts — v1 raw, v2 shipdate-clustered, v3 orderkey-clustered,
#: v4 price-clustered, v5 Morton z-ordered on (shipdate, price). Each
#: scan reads ITS version (time travel), so the registry pays one
#: write + four compactions per session instead of one write + one
#: compaction PER SCAN. The decimal top-k also reads v4: l_price_d =
#: CAST(l_extendedprice) is monotone in the cluster key, so
#: price-clustering gives it equally tight zone maps for free.
#: Stale-session entries are evicted like ``_EAGER_CACHE`` (their
#: tmpdirs removed); live tmpdirs are removed at interpreter exit.
_LAYOUT_FIXTURES: dict[tuple[str, str], dict] = {}

_LAYOUT_VERSIONS = {"l_shipdate": 2, "l_orderkey": 3, "l_extendedprice": 4}

#: v5 — Morton (z-order) layout over BOTH dimensions; ``zorder_scan``
#: reads this version. Kept out of ``_LAYOUT_VERSIONS`` because that
#: dict doubles as the cluster_by compaction plan.
_ZORDER_VERSION = 5
_ZORDER_COLS = ("l_shipdate", "l_extendedprice")


def _clustered_lineitem(spark: SparkSession, sf_dir: str):
    """The shared fixture's VersionedTable (built on first use per
    session + sf_dir). Versions per ``_LAYOUT_VERSIONS``; snapshots
    are data-identical (compaction only changes file geometry), so
    every reader sees the same rows regardless of version."""
    import atexit
    import shutil
    import tempfile

    from nycitibike_data_transform_spark.versioning import VersionedTable

    app = spark.sparkContext.applicationId
    # Evict only fixtures whose owning SparkContext is actually STOPPED
    # (r11 ADVICE #3): keying the sweep on "any other appId" would let
    # two live sessions in one process rmtree each other's on-disk
    # fixture mid-use. SparkContext.stop() nulls _jsc, so that is the
    # liveness signal; a dead context's cached DataFrames are unusable
    # anyway, so its fixture is pure garbage.
    for stale in [
        k
        for k, fx in _LAYOUT_FIXTURES.items()
        if k[0] != app and getattr(fx.get("ctx"), "_jsc", None) is None
    ]:
        shutil.rmtree(_LAYOUT_FIXTURES.pop(stale)["tmp"], ignore_errors=True)
    key = (app, sf_dir)
    # tolerate rebuild: an externally-removed tmpdir (or an old-policy
    # eviction) must trigger a rebuild, not a read of a missing path
    if key in _LAYOUT_FIXTURES and not os.path.isdir(
        _LAYOUT_FIXTURES[key]["tmp"]
    ):
        _LAYOUT_FIXTURES.pop(key)
    if key not in _LAYOUT_FIXTURES:
        t = load(spark, sf_dir, "lineitem")
        li = t["lineitem"].select(
            "l_orderkey",
            "l_linenumber",
            "l_shipdate",
            "l_quantity",
            "l_extendedprice",
            F.col("l_extendedprice").cast("decimal(18,2)").alias("l_price_d"),
        )
        tmp = tempfile.mkdtemp(prefix="layout_fixture_")
        atexit.register(shutil.rmtree, tmp, ignore_errors=True)
        table = VersionedTable(f"{tmp}/li")
        table.write_version(li.repartition(8))  # v1
        for col in _LAYOUT_VERSIONS:  # v2..v4, insertion-ordered
            table.compact(spark, target_file_mb=1, cluster_by=(col,))
        table.compact(  # v5 (_ZORDER_VERSION)
            spark, target_file_mb=1, zorder_by=_ZORDER_COLS
        )
        _LAYOUT_FIXTURES[key] = {
            "tmp": tmp,
            "table": table,
            "ctx": spark.sparkContext,
        }
    return _LAYOUT_FIXTURES[key]["table"]


def _q_zonemap_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map FILE SKIPPING under the batch oracle (r9): a versioned
    lineitem snapshot ``compact(cluster_by=(l_shipdate,))`` so each
    file covers a narrow non-overlapping date range, then
    ``read_range`` a one-quarter window — the read opens ONLY the
    files whose committed [min,max] overlaps (Delta data skipping from
    commit-time manifest stats). Certified against the plain full-scan
    filter in DuckDB: skipping changes I/O, never answers. The actual
    file-count cut is pinned in tests/test_versioning.py; at 100 TB
    the same read opens O(matching files) instead of O(table). Eager
    by construction — EAGER class in the plan audit; the layout comes
    from the SHARED per-session fixture (VERDICT r10 item #6) and
    re-calls return the cached checkpoint (``eager_once``)."""
    import datetime as dt

    from nycitibike_data_transform_spark.queries import eager_once

    def build() -> DataFrame:
        table = _clustered_lineitem(spark, sf_dir)
        return (
            table.read_range(
                spark,
                "l_shipdate",
                dt.datetime(1996, 1, 1),
                dt.datetime(1996, 3, 31),
                version=_LAYOUT_VERSIONS["l_shipdate"],
            )
            .select("l_orderkey", "l_linenumber", "l_shipdate", "l_quantity")
            .localCheckpoint(eager=True)
        )

    return eager_once(spark, sf_dir, "zonemap_scan", build)


def _q_pointset_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN-list zone-map skipping under the batch oracle (r10): the
    same clustered lineitem snapshot as ``zonemap_scan``, read through
    ``read_in`` with a fixed key list — the point-lookup shape (fetch
    N keys, open only the files that can hold them; GAP-AWARE, so a
    file between two requested keys never opens, where the bounding
    hull would read it — pinned in tests/test_versioning.py). The IN
    predicate keeps the answer exact regardless of skipping; DuckDB
    states it directly. Eager by construction — EAGER class in the
    plan audit; the layout comes from the SHARED per-session fixture
    (VERDICT r10 item #6) and re-calls return the cached checkpoint
    (``eager_once``)."""
    from nycitibike_data_transform_spark.queries import eager_once

    def build() -> DataFrame:
        table = _clustered_lineitem(spark, sf_dir)
        return (
            table.read_in(
                spark,
                "l_orderkey",
                _POINTSET_KEYS,
                version=_LAYOUT_VERSIONS["l_orderkey"],
            )
            .select("l_orderkey", "l_linenumber", "l_shipdate", "l_quantity")
            .localCheckpoint(eager=True)
        )

    return eager_once(spark, sf_dir, "pointset_scan", build)


# keys spread across the orderkey domain at every SF (lineitem
# orderkeys are sparse ints ≥ 1; misses are part of the contract — IN
# simply doesn't match them)
_POINTSET_KEYS = [1, 32, 33, 676, 4_000, 40_000, 400_000, 4_000_000]


def _q_topk_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map-assisted TOP-K under the batch oracle (r10): cluster
    lineitem by price, then ``read_topk`` the 100 most expensive line
    items — the scan opens only the files that can hold the answer
    (TakeOrderedAndProject avoids the global sort; the zone maps cut
    the SCAN itself — file-count pin in tests/test_versioning.py).
    Unique tiebreak columns make the row SET deterministic at the
    cutoff; NULLS LAST is pinned on both sides. Eager by construction
    — EAGER class in the plan audit; the layout comes from the SHARED
    per-session fixture (VERDICT r10 item #6); memoized per session
    (``eager_once``)."""
    from nycitibike_data_transform_spark.queries import eager_once

    def build() -> DataFrame:
        table = _clustered_lineitem(spark, sf_dir)
        return (
            table.read_topk(
                spark,
                "l_extendedprice",
                100,
                tiebreak=("l_orderkey", "l_linenumber"),
                version=_LAYOUT_VERSIONS["l_extendedprice"],
            )
            .select(
                "l_orderkey", "l_linenumber", "l_extendedprice", "l_quantity"
            )
            .localCheckpoint(eager=True)
        )

    return eager_once(spark, sf_dir, "topk_scan", build)


def _q_topk_scan_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map-assisted top-k on a TIMESTAMP column (r11): the 100
    most recent shipments from the shipdate-clustered layout — the
    cutoff is established in canonicalized epoch-micros space and
    mapped back through ``timestamp_micros`` into the parquet scan
    (the r10-VERDICT inverse-canonicalization pushdown), so both the
    file list AND the row groups inside kept files prune on time.
    Same determinism pins as ``topk_scan``. EAGER; shared fixture;
    memoized (``eager_once``)."""
    from nycitibike_data_transform_spark.queries import eager_once

    def build() -> DataFrame:
        table = _clustered_lineitem(spark, sf_dir)
        return (
            table.read_topk(
                spark,
                "l_shipdate",
                100,
                tiebreak=("l_orderkey", "l_linenumber"),
                version=_LAYOUT_VERSIONS["l_shipdate"],
            )
            .select("l_orderkey", "l_linenumber", "l_shipdate", "l_quantity")
            .localCheckpoint(eager=True)
        )

    return eager_once(spark, sf_dir, "topk_scan_date", build)


def _q_topk_scan_decimal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map-assisted top-k on a DECIMAL(18,2) column (r11): the
    cheapest 100 line items by exact decimal price, ASCENDING — the
    cutoff lives in scaled-int space (the r10 exact-decimal stats) and
    is mapped back through ``Decimal(m)·10^-scale`` into the scan as a
    ``l_price_d <= cutoff`` pushed predicate. Reads the
    price-clustered layout: the decimal column is a monotone cast of
    the cluster key, so its zone maps are equally tight without a
    fourth compaction.

    The OUTPUT projects the price as exact integer cents
    (``CAST(l_price_d * 100 AS BIGINT)``): the row SET is still
    decided by the decimal ``read_topk`` + pushed Decimal cutoff, but
    the hashed surface is integers. Rationale (r11 VERDICT #1): the
    driver's harness hash-canonicalizes DOUBLE-cast DECIMAL columns
    differently across DuckDB/engine versions (the r1/r2 HUGEINT
    class) — the r11 row was value-exact vs local DuckDB ×3 yet
    driver-red on hash. Integer output is representation-robust;
    exactness holds because ``l_price_d`` is an exact 2-decimal value
    (DECIMAL(18,2)·100 is integral by construction).
    EAGER; shared fixture; memoized (``eager_once``)."""
    from nycitibike_data_transform_spark.queries import eager_once

    def build() -> DataFrame:
        table = _clustered_lineitem(spark, sf_dir)
        return (
            table.read_topk(
                spark,
                "l_price_d",
                100,
                ascending=True,
                tiebreak=("l_orderkey", "l_linenumber"),
                version=_LAYOUT_VERSIONS["l_extendedprice"],
            )
            .select(
                "l_orderkey",
                "l_linenumber",
                (F.col("l_price_d") * 100).cast("bigint").alias("l_price_cents"),
                "l_quantity",
            )
            .localCheckpoint(eager=True)
        )

    return eager_once(spark, sf_dir, "topk_scan_decimal", build)


_TOPK_SCAN_DATE_SQL = """
SELECT l_orderkey, l_linenumber, l_shipdate, l_quantity
FROM lineitem
ORDER BY l_shipdate DESC NULLS LAST, l_orderkey ASC, l_linenumber ASC
LIMIT 100
"""


_TOPK_SCAN_DECIMAL_SQL = """
SELECT l_orderkey, l_linenumber,
       CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS l_price_cents, l_quantity
FROM lineitem
ORDER BY CAST(l_extendedprice AS DECIMAL(18,2)) ASC NULLS LAST,
         l_orderkey ASC, l_linenumber ASC
LIMIT 100
"""


_TOPK_SCAN_SQL = """
SELECT l_orderkey, l_linenumber, l_extendedprice, l_quantity
FROM lineitem
ORDER BY l_extendedprice DESC NULLS LAST, l_orderkey ASC, l_linenumber ASC
LIMIT 100
"""


_POINTSET_SCAN_SQL = f"""
SELECT l_orderkey, l_linenumber, l_shipdate, l_quantity
FROM lineitem
WHERE l_orderkey IN ({", ".join(str(k) for k in _POINTSET_KEYS)})
"""


_ZONEMAP_SCAN_SQL = """
SELECT l_orderkey, l_linenumber, l_shipdate, l_quantity
FROM lineitem
WHERE l_shipdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1996-03-31'
"""


def _q_zorder_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-ORDER layout under the batch oracle (r9): snapshot lineitem,
    ``compact(zorder_by=(l_shipdate, l_extendedprice))`` (Morton-curve
    layout — every file gets a bounded rectangle on BOTH columns),
    then ``read_range`` a price window on the SECOND z-ordered column
    — the read a lexicographic layout could never skip for. Certified
    against the plain full-scan filter in DuckDB: the curve layout
    changes I/O, never answers. Per-dimension skip counts and the
    lexicographic contrast are pinned in tests/test_versioning.py.
    Eager by construction — EAGER class in the plan audit; the Morton
    layout is v5 of the SHARED per-session fixture (the same snapshot
    chain as the clustered scans — compaction never changes rows, so
    every version answers identically) and re-calls return the cached
    checkpoint (``eager_once``)."""
    from nycitibike_data_transform_spark.queries import eager_once

    def build() -> DataFrame:
        table = _clustered_lineitem(spark, sf_dir)
        return (
            table.read_range(
                spark,
                "l_extendedprice",
                900.0,
                1500.0,
                version=_ZORDER_VERSION,
            )
            .select(
                "l_orderkey", "l_linenumber", "l_shipdate", "l_extendedprice"
            )
            .localCheckpoint(eager=True)
        )

    return eager_once(spark, sf_dir, "zorder_scan", build)


_ZORDER_SCAN_SQL = """
SELECT l_orderkey, l_linenumber, l_shipdate, l_extendedprice
FROM lineitem
WHERE l_extendedprice BETWEEN 900.0 AND 1500.0
"""


_BUCKETED_JOIN_SQL = """
SELECT o_orderkey, o_orderpriority,
       count(*) AS n_items,
       CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS STRING) AS DOUBLE)
           AS revenue
FROM orders
JOIN lineitem ON o_orderkey = l_orderkey
GROUP BY 1, 2
HAVING revenue > 300000
"""


def _q_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure scan-filter-aggregate, zero joins — the
    pushdown benchmark (all three predicates reach the parquet scan)."""
    t = load(spark, sf_dir, "lineitem")
    return (
        t["lineitem"]
        .filter(
            (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            units_to_amount(
                F.sum(to_units("l_extendedprice", 2) * to_units("l_discount", 2)), 4
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n"),
        )
    )


_FORECAST_REVENUE_SQL = """
SELECT CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
               * CAST(l_discount AS DECIMAL(4,2))) AS STRING) AS DOUBLE) AS revenue,
       count(*) AS n
FROM lineitem
WHERE l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24
"""

def _q_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: revenue between (supplier nation, customer
    nation) pairs by ship year — two role-playing nation dims
    (broadcast) + fact-side key joins."""
    t = load(spark, sf_dir, "lineitem", "orders", "customer", "supplier", "nation")
    n1 = t["nation"].select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    n2 = t["nation"].select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    return (
        t["lineitem"]
        .join(t["supplier"], F.col("l_suppkey") == F.col("s_suppkey"))
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nk"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nk"))
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("int").alias("ship_year"),
        )
        .agg(
            fast_revenue_sum("l_extendedprice", "l_discount").alias("revenue"),
            F.count(F.lit(1)).alias("n"),
        )
    )


_VOLUME_SHIPPING_SQL = """
SELECT sn.n_name AS supp_nation,
       cn.n_name AS cust_nation,
       CAST(year(l.l_shipdate) AS INTEGER) AS ship_year,
       CAST(CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))
                * (CAST(1 AS DECIMAL(4,2)) - CAST(l.l_discount AS DECIMAL(4,2)))) AS STRING) AS DOUBLE)
           AS revenue,
       count(*) AS n
FROM lineitem l
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN orders o   ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation sn  ON s.s_nationkey = sn.n_nationkey
JOIN nation cn  ON c.c_nationkey = cn.n_nationkey
GROUP BY 1, 2, 3
"""


def _q_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: top-20 customers by returned-item revenue
    (selective filter → joins → agg → deterministic top-k)."""
    t = load(spark, sf_dir, "lineitem", "orders", "customer", "nation")
    return (
        t["lineitem"].filter(F.col("l_returnflag") == "R")
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", F.col("n_name").alias("nation_name"))
        .agg(fast_revenue_sum("l_extendedprice", "l_discount").alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


_RETURNED_ITEMS_SQL = """
SELECT c.c_custkey, c.c_name, n.n_name AS nation_name,
       CAST(CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))
                * (CAST(1 AS DECIMAL(4,2)) - CAST(l.l_discount AS DECIMAL(4,2)))) AS STRING) AS DOUBLE)
           AS revenue
FROM lineitem l
JOIN orders o   ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n   ON c.c_nationkey = n.n_nationkey
WHERE l.l_returnflag = 'R'
GROUP BY 1, 2, 3
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""

# ----------------------------------------------- approx sketches (A5)

def _q_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 sketch-accuracy verdict (VERDICT r4 item 1): HLL++ and
    approx_percentile produce algorithm-specific values DuckDB's
    different sketches can never hash-match, so emit the exact
    distinct count (oracle-computable) plus booleans the estimates
    must satisfy — HLL within 5% relative error at rsd=0.01 (measured
    ≤ 0.67% at all SFs), and each approx percentile's true rank
    fraction within ±0.02 of its target (measured within ±0.001;
    the accuracy=1000 contract bounds rank error at 1e-3)."""
    t = load(spark, sf_dir, "lineitem")
    li = t["lineitem"]
    q = F.expr("approx_percentile(l_extendedprice, array(0.5, 0.95), 1000)")

    # exact NDV split out of the mixed aggregate (OPTIMIZATION_r16,
    # guide §2.3): countDistinct next to the HLL/percentile sketches
    # plans as an Expand that replicates every lineitem row 2x AND
    # regroups the sketch buffers per distinct value; a lone
    # countDistinct plans as a plain two-phase distinct (partial
    # group on (flag, partkey) — no Expand), joined back on the
    # ~3-row flag domain as a broadcast. Interleaved A/B at sf0.1:
    # min-of-5 3.585 → 1.597 s — the mechanism two rounds of fan_out
    # attempts on this query couldn't reach (the Expand reshuffled
    # whatever width the fan bought).
    sketches = li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey", 0.01).alias("__approx_parts"),
        q.alias("__q"),
    )
    exact = li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("exact_parts")
    )
    stats = sketches.join(F.broadcast(exact), "l_returnflag")
    fracs = (
        li.join(F.broadcast(stats.select("l_returnflag", "__q")), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(
            F.avg(
                F.when(
                    F.col("l_extendedprice") <= F.element_at("__q", 1), 1.0
                ).otherwise(0.0)
            ).alias("__f50"),
            F.avg(
                F.when(
                    F.col("l_extendedprice") <= F.element_at("__q", 2), 1.0
                ).otherwise(0.0)
            ).alias("__f95"),
        )
    )
    rel_err = F.abs(F.col("__approx_parts") - F.col("exact_parts")) / F.col(
        "exact_parts"
    )
    return stats.join(fracs, "l_returnflag").select(
        "l_returnflag",
        "exact_parts",
        (rel_err <= F.lit(0.05)).alias("approx_parts_ok"),
        F.col("__f50").between(0.48, 0.52).alias("p50_rank_ok"),
        F.col("__f95").between(0.93, 0.97).alias("p95_rank_ok"),
    )


_APPROX_DISTINCT_SQL = """
SELECT l_returnflag,
       CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
       true AS approx_parts_ok,
       true AS p50_rank_ok,
       true AS p95_rank_ok
FROM lineitem
GROUP BY l_returnflag
"""


# ----------------------------------------------------------- histogram

_HIST_LO, _HIST_STEP, _HIST_BINS = 0.0, 50000.0, 12


def _q_price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width binning (portable floor arithmetic, clamped top
    bin) — the groundwork for any distribution dashboard at scale:
    one pass, one tiny shuffle."""
    t = load(spark, sf_dir, "orders")
    bin_id = F.least(
        F.floor((F.col("o_totalprice") - F.lit(_HIST_LO)) / F.lit(_HIST_STEP)).cast("int"),
        F.lit(_HIST_BINS - 1),
    )
    return (
        t["orders"]
        .select(bin_id.alias("bin_id"))
        .groupBy("bin_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "bin_id",
            (F.lit(_HIST_LO) + F.col("bin_id") * F.lit(_HIST_STEP)).alias("bin_lo"),
            "n",
        )
    )


_PRICE_HISTOGRAM_SQL = f"""
WITH binned AS (
  SELECT least(CAST(floor((o_totalprice - {_HIST_LO}) / {_HIST_STEP}) AS INTEGER),
               {_HIST_BINS - 1}) AS bin_id
  FROM orders
)
SELECT bin_id, CAST({_HIST_LO} + bin_id * {_HIST_STEP} AS DOUBLE) AS bin_lo, count(*) AS n
FROM binned
GROUP BY 1
"""




# ---------------------------------------------- suppliers who kept orders waiting


def _q_supplier_wait(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (suppliers who kept orders waiting), adapted to
    this schema's dates: for multi-supplier orders, find the supplier
    who was the ONLY one to ship late (> 60 days after the order
    date), count such orders per supplier, top 20.

    The reference point of this query is the PLAN: Q21's correlated
    EXISTS + NOT EXISTS pair is de-correlated into ONE pass — the
    joined frame aggregates to per-(order, supplier) rows with a
    ``late`` flag (one shuffle, pinned to orderkey so the follow-up
    window needs no second exchange), and the per-order
    supplier/late-supplier counts come from a window over that
    already-aggregated frame instead of a second scan. No
    countDistinct Expand, no recomputed join subtree (the r5 10×
    stress caught the original two-branch shape recomputing the
    lineitem⋈orders join twice — 17× wall at 10× data; this
    single-pass form is ~linear). The DuckDB oracle keeps the
    textbook EXISTS/NOT EXISTS formulation, proving the
    de-correlation exact. Supplier names attach via broadcast
    (KB-sized dim)."""
    t = load(spark, sf_dir, "lineitem", "orders", "supplier")
    li = (
        t["lineitem"]
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .select(
            "l_orderkey",
            "l_suppkey",
            (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"))
            .cast("int")
            .alias("late"),
        )
    )
    # HashPartitioning(l_orderkey) satisfies the (l_orderkey,
    # l_suppkey) clustering requirement (subset rule), so the groupBy
    # reuses this exchange and the orderkey window below runs without
    # another shuffle
    per_os = (
        li.repartition("l_orderkey")
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.max("late").alias("late"))
    )
    per_order = Window.partitionBy("l_orderkey")
    waiting = per_os.select(
        "l_orderkey",
        "l_suppkey",
        "late",
        F.count(F.lit(1)).over(per_order).alias("n_supp"),
        F.sum("late").over(per_order).alias("n_late"),
    ).filter((F.col("late") == 1) & (F.col("n_supp") >= 2) & (F.col("n_late") == 1))
    counts = waiting.groupBy("l_suppkey").agg(
        F.count(F.lit(1)).cast("long").alias("numwait")
    )
    # top-20 via orderBy().limit() — plans as TakeOrderedAndProject
    # (per-partition heaps), not an unpartitioned rank window over
    # the per-supplier aggregate, whose one WindowExec task would
    # grow with the supplier dimension (VERDICT r7 item #2); the
    # rank window below runs over only the 20 winners
    winners = (
        counts.join(
            F.broadcast(t["supplier"].select("s_suppkey", "s_name")),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .orderBy(F.col("numwait").desc(), F.col("s_suppkey").asc())
        .limit(20)
    )
    return winners.withColumn(
        "rank",
        F.row_number()
        .over(Window.orderBy(F.col("numwait").desc(), F.col("s_suppkey").asc()))
        .cast("int"),
    ).select("s_suppkey", "s_name", "numwait", "rank")


_SUPPLIER_WAIT_SQL = r"""
WITH li AS (
  SELECT l.l_orderkey, l.l_suppkey, l.l_shipdate, o.o_orderdate
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
),
waiting AS (
  SELECT DISTINCT l1.l_orderkey, l1.l_suppkey
  FROM li l1
  WHERE l1.l_shipdate > l1.o_orderdate + INTERVAL 60 DAY
    AND EXISTS (SELECT 1 FROM li l2
                WHERE l2.l_orderkey = l1.l_orderkey
                  AND l2.l_suppkey <> l1.l_suppkey)
    AND NOT EXISTS (SELECT 1 FROM li l3
                    WHERE l3.l_orderkey = l1.l_orderkey
                      AND l3.l_suppkey <> l1.l_suppkey
                      AND l3.l_shipdate > l3.o_orderdate + INTERVAL 60 DAY)
),
counts AS (
  SELECT l_suppkey, CAST(count(*) AS BIGINT) AS numwait
  FROM waiting GROUP BY 1
),
ranked AS (
  SELECT s.s_suppkey, s.s_name, c.numwait,
         row_number() OVER (ORDER BY c.numwait DESC, s.s_suppkey) AS rn
  FROM counts c JOIN supplier s ON c.l_suppkey = s.s_suppkey
)
SELECT s_suppkey, s_name, numwait, CAST(rn AS INT) AS rank
FROM ranked WHERE rn <= 20
"""

QUERIES: dict[str, QuerySpec] = {
    "supplier_wait": QuerySpec(_q_supplier_wait, _SUPPLIER_WAIT_SQL),
    "pricing_summary": QuerySpec(_q_pricing_summary, _PRICING_SUMMARY_SQL),
    "price_histogram": QuerySpec(_q_price_histogram, _PRICE_HISTOGRAM_SQL),
    "shipping_priority": QuerySpec(_q_shipping_priority, _SHIPPING_PRIORITY_SQL),
    "bucketed_join": QuerySpec(_q_bucketed_join, _BUCKETED_JOIN_SQL),
    "zonemap_scan": QuerySpec(_q_zonemap_scan, _ZONEMAP_SCAN_SQL),
    "pointset_scan": QuerySpec(_q_pointset_scan, _POINTSET_SCAN_SQL),
    "topk_scan": QuerySpec(_q_topk_scan, _TOPK_SCAN_SQL),
    "topk_scan_date": QuerySpec(_q_topk_scan_date, _TOPK_SCAN_DATE_SQL),
    "topk_scan_decimal": QuerySpec(
        _q_topk_scan_decimal, _TOPK_SCAN_DECIMAL_SQL
    ),
    "zorder_scan": QuerySpec(_q_zorder_scan, _ZORDER_SCAN_SQL),
    "forecast_revenue": QuerySpec(_q_forecast_revenue, _FORECAST_REVENUE_SQL),
    "volume_shipping": QuerySpec(_q_volume_shipping, _VOLUME_SHIPPING_SQL),
    "returned_items": QuerySpec(_q_returned_items, _RETURNED_ITEMS_SQL),
    "revenue_by_nation": QuerySpec(_q_revenue_by_nation, _REVENUE_BY_NATION_SQL),
    "distinct_parts_per_flag": QuerySpec(_q_distinct_parts_per_flag, _DISTINCT_SQL),
    "rollup_qty": QuerySpec(_q_rollup, _ROLLUP_SQL),
    "cube_orders": QuerySpec(_q_cube, _CUBE_SQL),
    "window_topk_orders": QuerySpec(_q_window_topk, _WINDOW_TOPK_SQL),
    "window_running_qty": QuerySpec(_q_window_running, _WINDOW_RUNNING_SQL),
    "top_orders": QuerySpec(_q_top_orders, _TOP_ORDERS_SQL),
    "pivot_qty_by_status": QuerySpec(_q_pivot, _PIVOT_SQL),
    "approx_distinct": QuerySpec(_q_approx_distinct, _APPROX_DISTINCT_SQL),
}
