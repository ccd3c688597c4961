"""Streaming/batch parity: the streaming paths must agree with the
batch queries on the same (bounded) input."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nycitibike_data_transform_spark.queries import all_queries


def run_stream_to_memory(df: DataFrame, name: str) -> DataFrame:
    """Drive a streaming aggregation to completion over the available
    input (availableNow ≙ the reference's scheduled-batch cadence) and
    return the materialized result as a batch DataFrame."""
    q = (
        df.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return df.sparkSession.sql(f"SELECT * FROM {name}")


def test_source_counts_stream_matches_batch(spark, sf_dir):
    from nycitibike_data_transform_spark.streaming import source_counts_stream

    out = run_stream_to_memory(source_counts_stream(spark, sf_dir), "src_counts_test")
    s = {
        (r["source"], r["lang"]): (r["n_docs"], r["n_tokens"]) for r in out.collect()
    }
    b = {
        (r["source"], r["lang"]): (r["n_docs"], r["n_tokens"])
        for r in all_queries()["source_mix_report"].spark(spark, sf_dir).collect()
    }
    assert s == b and s


def _current(spark, target):
    from nycitibike_data_transform_spark.versioning import VersionedTable

    return VersionedTable(target).read_current(spark)


def _current_dir(target):
    from nycitibike_data_transform_spark.versioning import VersionedTable

    t = VersionedTable(target)
    return t._data_dir(t.current_version())


def test_upsert_stream_matches_batch_dedup_latest(spark, sf_dir, tmp_path):
    """The streaming upsert view, fed the events fixture in chunks,
    must converge to exactly the batch dedup_latest result — and the
    winner must be order-column-decided, not arrival-order-decided:
    the chunks are streamed in REVERSE event order, so blind
    last-writer-wins would keep the OLDEST rows."""
    from nycitibike_data_transform_spark.catalog import load_table
    from nycitibike_data_transform_spark.streaming.upsert import apply_upsert_batch

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "event_type"
    )
    target = str(tmp_path / "latest_per_user")
    # three arrival chunks, NEWEST events arriving FIRST
    chunks = [
        ev.filter(F.col("event_id") % 3 == i).orderBy(F.col("ts").desc())
        for i in (0, 1, 2)
    ]
    for i, chunk in enumerate(chunks):
        apply_upsert_batch(chunk, i, target, ["user_id"], ["ts", "event_id"])
    got = {
        r["user_id"]: (r["event_id"], r["ts"])
        for r in _current(spark, target).collect()
    }
    batch = {
        r["user_id"]: (r["event_id"], r["ts"])
        for r in all_queries()["dedup_latest"].spark(spark, sf_dir).collect()
    }
    assert got == batch


def test_upsert_batch_replay_is_idempotent(spark, sf_dir, tmp_path):
    """foreachBatch replays after failure: applying the same batch
    twice must leave the table unchanged (exactly-once effect)."""
    from nycitibike_data_transform_spark.catalog import load_table
    from nycitibike_data_transform_spark.streaming.upsert import apply_upsert_batch

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "event_type"
    )
    target = str(tmp_path / "replayed")
    apply_upsert_batch(ev, 0, target, ["user_id"], ["ts", "event_id"])
    once = sorted(map(tuple, _current(spark, target).collect()))
    apply_upsert_batch(ev, 0, target, ["user_id"], ["ts", "event_id"])
    twice = sorted(map(tuple, _current(spark, target).collect()))
    assert once == twice


def test_upsert_stream_end_to_end_available_now(spark, sf_dir, tmp_path):
    """Drive the real writeStream wiring (file source -> foreachBatch
    -> snapshot view) with an availableNow trigger."""
    from nycitibike_data_transform_spark.streaming.events import read_events_stream
    from nycitibike_data_transform_spark.streaming.upsert import (
        upsert_stream_to_table,
    )

    stream = read_events_stream(spark, sf_dir).select(
        "user_id", "event_id", "ts", "event_type"
    )
    target = str(tmp_path / "view")
    q = (
        upsert_stream_to_table(
            stream, target, ["user_id"], ["ts", "event_id"],
            str(tmp_path / "ckpt"),
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r["user_id"] for r in _current(spark, target).collect()}
    batch = {
        r["user_id"]
        for r in all_queries()["dedup_latest"].spark(spark, sf_dir).collect()
    }
    assert got == batch


def _parquet_files(root_dir):
    import os

    out = {}
    for root, _dirs, fs in os.walk(root_dir):
        for f in fs:
            if f.endswith(".parquet"):
                p = os.path.join(root, f)
                out[os.path.relpath(p, root_dir)] = os.path.getmtime(p)
    return out


def test_upsert_partitioned_rewrites_only_touched_partition(
    spark, sf_dir, tmp_path
):
    """VERDICT r7 item #1: with partition_col, a micro-batch that
    touches one partition must leave every other partition's files
    bit-level untouched (same names, same mtimes: hardlinked into the
    new snapshot) — O(touched data) per batch, not O(table) — while
    converging to exactly the unpartitioned result."""
    from nycitibike_data_transform_spark.catalog import load_table
    from nycitibike_data_transform_spark.streaming.upsert import apply_upsert_batch

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "event_type"
    ).withColumn("shard", F.pmod("user_id", F.lit(4)))
    target = str(tmp_path / "view")
    apply_upsert_batch(
        ev, 0, target, ["user_id"], ["ts", "event_id"], partition_col="shard"
    )
    before = _parquet_files(_current_dir(target))
    assert any("shard=2" in p for p in before)

    # a newer event for one shard-2 user: only shard=2 may change
    upd = (
        _current(spark, target)
        .filter(F.col("shard") == 2)
        .limit(1)
        .withColumn("ts", F.col("ts") + F.expr("INTERVAL 1000 DAYS"))
        .withColumn("event_id", F.col("event_id") + F.lit(10**9))
        .localCheckpoint(eager=True)
    )
    apply_upsert_batch(
        upd, 1, target, ["user_id"], ["ts", "event_id"], partition_col="shard"
    )
    after = _parquet_files(_current_dir(target))
    assert {p: m for p, m in before.items() if "shard=2" not in p} == {
        p: m for p, m in after.items() if "shard=2" not in p
    }

    # convergence parity with the unpartitioned path fed the same rows
    flat = str(tmp_path / "flat")
    apply_upsert_batch(ev.drop("shard"), 0, flat, ["user_id"], ["ts", "event_id"])
    apply_upsert_batch(upd.drop("shard"), 1, flat, ["user_id"], ["ts", "event_id"])
    got = {
        (r["user_id"], r["event_id"], r["ts"])
        for r in _current(spark, target).collect()
    }
    want = {
        (r["user_id"], r["event_id"], r["ts"])
        for r in _current(spark, flat).collect()
    }
    assert got == want

    # arrival-order independence survives partitioning: an OLDER row
    # for the same key must not displace the winner (and, being a
    # no-op merge, still only rewrites its own partition)
    stale = upd.withColumn("ts", F.col("ts") - F.expr("INTERVAL 2000 DAYS"))
    apply_upsert_batch(
        stale, 2, target, ["user_id"], ["ts", "event_id"], partition_col="shard"
    )
    assert {
        (r["user_id"], r["event_id"], r["ts"])
        for r in _current(spark, target).collect()
    } == got


def test_upsert_partitioned_null_partition_and_replay(spark, tmp_path):
    """NULL is a legal partition value (hive default partition):
    merging into it must keep, not drop, its existing rows — and
    replaying the same batch must be a no-op (exactly-once effect)."""
    from nycitibike_data_transform_spark.streaming.upsert import apply_upsert_batch

    target = str(tmp_path / "v")
    schema = "k int, v string, seq int, shard int"
    base = spark.createDataFrame(
        [(1, "a", 1, None), (3, "c", 1, None), (2, "b", 1, 2)], schema
    )
    apply_upsert_batch(base, 0, target, ["k"], ["seq"], partition_col="shard")
    upd = spark.createDataFrame([(1, "a2", 2, None)], schema)
    apply_upsert_batch(upd, 1, target, ["k"], ["seq"], partition_col="shard")
    apply_upsert_batch(upd, 1, target, ["k"], ["seq"], partition_col="shard")
    got = {
        (r["k"], r["v"], r["seq"], r["shard"])
        for r in _current(spark, target).collect()
    }
    assert got == {(1, "a2", 2, None), (3, "c", 1, None), (2, "b", 1, 2)}


def test_upsert_stream_partitioned_end_to_end(spark, sf_dir, tmp_path):
    """The writeStream wiring with partition_col: same converged key
    set as dedup_latest, hive-partitioned layout on disk."""
    import os

    from nycitibike_data_transform_spark.streaming.events import read_events_stream
    from nycitibike_data_transform_spark.streaming.upsert import (
        upsert_stream_to_table,
    )

    stream = (
        read_events_stream(spark, sf_dir)
        .select("user_id", "event_id", "ts", "event_type")
        .withColumn("shard", F.pmod("user_id", F.lit(4)))
    )
    target = str(tmp_path / "view")
    q = (
        upsert_stream_to_table(
            stream, target, ["user_id"], ["ts", "event_id"],
            str(tmp_path / "ckpt"), partition_col="shard",
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert any(d.startswith("shard=") for d in os.listdir(_current_dir(target)))
    got = {r["user_id"] for r in _current(spark, target).collect()}
    batch = {
        r["user_id"]
        for r in all_queries()["dedup_latest"].spark(spark, sf_dir).collect()
    }
    assert got == batch


def test_upsert_partitioned_date_string_partition_roundtrip(spark, tmp_path):
    """A date-shaped STRING partition column comes back from the hive
    dir as an inferred DATE; the merge must cast it back to the batch
    schema (string) so unionByName and the winner ordering stay exact
    — and the touched-partition pruning must still match."""
    from nycitibike_data_transform_spark.streaming.upsert import apply_upsert_batch

    target = str(tmp_path / "v")
    schema = "k int, v string, seq int, day string"
    base = spark.createDataFrame(
        [(1, "a", 1, "2024-01-01"), (2, "b", 1, "2024-01-02")], schema
    )
    apply_upsert_batch(base, 0, target, ["k"], ["seq"], partition_col="day")
    upd = spark.createDataFrame([(1, "a2", 2, "2024-01-01")], schema)
    apply_upsert_batch(upd, 1, target, ["k"], ["seq"], partition_col="day")
    got = _current(spark, target)
    rows = {(r["k"], r["v"], r["seq"], str(r["day"])) for r in got.collect()}
    assert rows == {(1, "a2", 2, "2024-01-01"), (2, "b", 1, "2024-01-02")}


def test_upsert_partitioned_zero_padded_string_partition(spark, tmp_path):
    """'01' as a string partition value infers as int 1 on read;
    without an explicit read schema the merge would cast it back to
    '1' and the commit would write a NEW day=1 directory beside
    day=01's stale rows (silent duplication). The batch-schema read
    must round-trip the value exactly."""
    import os

    from nycitibike_data_transform_spark.streaming.upsert import apply_upsert_batch

    target = str(tmp_path / "v")
    schema = "k int, v string, seq int, day string"
    base = spark.createDataFrame(
        [(1, "a", 1, "01"), (2, "b", 1, "02")], schema
    )
    apply_upsert_batch(base, 0, target, ["k"], ["seq"], partition_col="day")
    upd = spark.createDataFrame([(1, "a2", 2, "01")], schema)
    apply_upsert_batch(upd, 1, target, ["k"], ["seq"], partition_col="day")
    dirs = {d for d in os.listdir(_current_dir(target)) if d.startswith("day=")}
    assert dirs == {"day=01", "day=02"}
    rows = {
        (r["k"], r["v"], r["seq"], r["day"])
        for r in _current(spark, target).collect()
    }
    assert rows == {(1, "a2", 2, "01"), (2, "b", 1, "02")}


def test_upsert_versioned_partitioned_cow_and_time_travel(spark, sf_dir, tmp_path):
    """Each micro-batch is an atomic snapshot commit (VERDICT r8 item
    #3). Values must match the unpartitioned path exactly; untouched
    partitions share INODES across snapshots (zero bytes copied); the
    pre-batch snapshot stays time-travel readable."""
    import os

    from nycitibike_data_transform_spark.catalog import load_table
    from nycitibike_data_transform_spark.streaming.upsert import apply_upsert_batch
    from nycitibike_data_transform_spark.versioning import VersionedTable

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "event_type"
    ).withColumn("shard", F.pmod("user_id", F.lit(4)))
    target = str(tmp_path / "vview")
    apply_upsert_batch(
        ev, 0, target, ["user_id"], ["ts", "event_id"],
        partition_col="shard",
    )
    table = VersionedTable(target)
    assert table.current_version() == 1
    v1_count = table.read_current(spark).count()

    upd = (
        table.read_current(spark)
        .filter(F.col("shard") == 2)
        .limit(1)
        .withColumn("ts", F.col("ts") + F.expr("INTERVAL 1000 DAYS"))
        .withColumn("event_id", F.col("event_id") + F.lit(10**9))
        .localCheckpoint(eager=True)
    )
    apply_upsert_batch(
        upd, 1, target, ["user_id"], ["ts", "event_id"],
        partition_col="shard",
    )
    assert table.current_version() == 2

    # parity with the unpartitioned path fed the same batches
    flat = str(tmp_path / "plain")
    apply_upsert_batch(ev, 0, flat, ["user_id"], ["ts", "event_id"])
    apply_upsert_batch(upd, 1, flat, ["user_id"], ["ts", "event_id"])
    got = {
        (r["user_id"], r["event_id"], r["ts"])
        for r in table.read_current(spark).collect()
    }
    want = {
        (r["user_id"], r["event_id"], r["ts"])
        for r in _current(spark, flat).collect()
    }
    assert got == want

    # untouched partitions: identical inodes between v1 and v2
    d1, d2 = table._data_dir(1), table._data_dir(2)
    shared = 0
    for f in table.manifest(2)["files"]:
        if not f.startswith("shard=2/"):
            assert os.path.samefile(os.path.join(d2, f), os.path.join(d1, f))
            shared += 1
    assert shared > 0
    # pre-batch snapshot still readable
    assert table.read_version(spark, 1).count() == v1_count


def test_upsert_versioned_kill_mid_batch_then_replay(spark, tmp_path, monkeypatch):
    """Kill-mid-batch (test_sinks.py style): a crash at any point
    before the pointer swap leaves the committed snapshot intact and
    readable, and replaying the same batch converges — the guarantee
    an in-place partition overwrite cannot give."""
    import nycitibike_data_transform_spark.versioning as versioning
    from nycitibike_data_transform_spark.streaming.upsert import apply_upsert_batch
    from nycitibike_data_transform_spark.versioning import VersionedTable

    rows = [(u, e, float(e), "t", u % 2) for u in range(6) for e in (1, 2)]
    batch0 = spark.createDataFrame(
        rows, "user_id long, event_id long, ts double, event_type string, shard long"
    )
    target = str(tmp_path / "vcrash")
    apply_upsert_batch(
        batch0, 0, target, ["user_id"], ["ts", "event_id"],
        partition_col="shard",
    )
    table = VersionedTable(target)
    before = sorted(map(tuple, table.read_current(spark).collect()))

    batch1 = spark.createDataFrame(
        [(0, 99, 999.0, "new", 0)],
        "user_id long, event_id long, ts double, event_type string, shard long",
    )
    real = versioning._durable_write

    def boom(path, content):
        raise RuntimeError("kill mid-batch")

    monkeypatch.setattr(versioning, "_durable_write", boom)
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="kill mid-batch"):
        apply_upsert_batch(
            batch1, 1, target, ["user_id"], ["ts", "event_id"],
            partition_col="shard",
        )
    monkeypatch.setattr(versioning, "_durable_write", real)

    # the torn attempt is invisible: pointer and data unchanged
    assert table.current_version() == 1
    assert sorted(map(tuple, table.read_current(spark).collect())) == before

    # replay converges from the torn state
    apply_upsert_batch(
        batch1, 1, target, ["user_id"], ["ts", "event_id"],
        partition_col="shard",
    )
    assert table.current_version() == 2
    winner = (
        table.read_current(spark).filter("user_id = 0")
        .orderBy(F.col("ts").desc()).first()
    )
    assert winner["event_id"] == 99


def test_upsert_killed_bootstrap_replays(spark, tmp_path, monkeypatch):
    """A bootstrap batch killed after its data landed but before the
    pointer swap leaves parquet files inside the snapshot layout only;
    the replay bootstraps again instead of taking the target for a
    plain parquet table."""
    import pytest as _pytest

    import nycitibike_data_transform_spark.versioning as versioning
    from nycitibike_data_transform_spark.streaming.upsert import apply_upsert_batch
    from nycitibike_data_transform_spark.versioning import VersionedTable

    batch0 = spark.createDataFrame(
        [(u, 1, float(u), "t", u % 2) for u in range(4)],
        "user_id long, event_id long, ts double, event_type string, shard long",
    )
    target = str(tmp_path / "vboot")
    real = versioning._durable_write

    def boom(path, content):
        raise RuntimeError("kill mid-bootstrap")

    monkeypatch.setattr(versioning, "_durable_write", boom)
    with _pytest.raises(RuntimeError, match="kill mid-bootstrap"):
        apply_upsert_batch(
            batch0, 0, target, ["user_id"], ["ts", "event_id"], partition_col="shard"
        )
    monkeypatch.setattr(versioning, "_durable_write", real)
    table = VersionedTable(target)
    assert table.current_version() is None

    apply_upsert_batch(
        batch0, 0, target, ["user_id"], ["ts", "event_id"], partition_col="shard"
    )
    assert table.current_version() == 1
    assert table.read_current(spark).count() == 4


def test_upsert_versioned_stream_end_to_end(spark, sf_dir, tmp_path):
    """The real writeStream wiring: availableNow catch-up commits
    snapshots and converges to the batch answer."""
    from nycitibike_data_transform_spark.streaming.events import read_events_stream
    from nycitibike_data_transform_spark.streaming.upsert import (
        upsert_stream_to_table,
    )
    from nycitibike_data_transform_spark.versioning import VersionedTable

    stream = read_events_stream(spark, sf_dir).select(
        "user_id", "event_id", "ts", "event_type"
    )
    target = str(tmp_path / "vstream")
    q = (
        upsert_stream_to_table(
            stream, target, ["user_id"], ["ts", "event_id"],
            checkpoint_dir=str(tmp_path / "ckpt"),
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    table = VersionedTable(target)
    assert table.current_version() >= 1
    got = {
        r["user_id"]: (r["event_id"], r["ts"])
        for r in table.read_current(spark).collect()
    }
    batch = {
        r["user_id"]: (r["event_id"], r["ts"])
        for r in all_queries()["dedup_latest"].spark(spark, sf_dir).collect()
    }
    assert got == batch


def test_upsert_versioned_refuses_nonversioned_target(spark, tmp_path):
    """r9 review: bootstrapping a snapshot over an existing PLAIN
    parquet target must fail loudly — it would silently abandon every
    prior row (no manifest, never merged)."""
    from nycitibike_data_transform_spark.streaming.upsert import apply_upsert_batch

    rows = spark.createDataFrame(
        [(1, 1, 1.0, "t")], "user_id long, event_id long, ts double, event_type string"
    )
    target = str(tmp_path / "plain_then_versioned")
    rows.write.parquet(target)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="refusing to bootstrap"):
        apply_upsert_batch(rows, 1, target, ["user_id"], ["ts", "event_id"])


def test_upsert_versioned_keep_versions_bounds_retention(spark, tmp_path):
    """keep_versions vacuums after each batch commit: a
    long-running stream keeps a bounded snapshot history while the
    newest snapshots stay readable (hardlinks survive the vacuum)."""
    from nycitibike_data_transform_spark.streaming.upsert import (
        apply_upsert_batch,
        upsert_stream_to_table,
    )
    from nycitibike_data_transform_spark.versioning import VersionedTable

    target = str(tmp_path / "bounded")
    schema = "user_id long, event_id long, ts double, event_type string, shard long"
    for i in range(4):
        batch = spark.createDataFrame([(i, i, float(i), "t", i % 2)], schema)
        apply_upsert_batch(
            batch, i, target, ["user_id"], ["ts", "event_id"],
            partition_col="shard", keep_versions=2,
        )
    table = VersionedTable(target)
    assert table.current_version() == 4
    assert table.versions() == [3, 4]  # older snapshots vacuumed
    assert table.read_current(spark).count() == 4  # all keys survive

    import pytest as _pytest

    with _pytest.raises(ValueError, match="keep_versions must be >= 1"):
        upsert_stream_to_table(
            spark.readStream.format("rate").load(), target,
            ["user_id"], ["ts"], str(tmp_path / "ck"), keep_versions=0,
        )
