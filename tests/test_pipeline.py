"""Pipeline runner: DAG ordering, validation, materialization."""

from __future__ import annotations

import graphlib

import pytest
from pyspark.sql import functions as F

from nycitibike_data_transform_spark.pipeline import Pipeline


def _pipe(tmp_path, sf_dir):
    p = Pipeline(warehouse_dir=str(tmp_path / "warehouse"))
    p.add_source("nation", lambda s: s.read.parquet(f"{sf_dir}/nation.parquet"))
    p.add_source("region", lambda s: s.read.parquet(f"{sf_dir}/region.parquet"))
    p.add_model(
        "dim_nations",
        lambda s, nation, region: nation.join(
            F.broadcast(region), nation.n_regionkey == region.r_regionkey
        ).select("n_nationkey", "n_name", "r_name"),
        deps=("nation", "region"),
    )
    p.add_model(
        "nation_counts",
        lambda s, dim_nations: dim_nations.groupBy("r_name").agg(F.count("*").alias("n")),
        deps=("dim_nations",),
    )
    return p


def test_topo_order(tmp_path, sf_dir):
    p = _pipe(tmp_path, sf_dir)
    order = p.topo_order()
    assert order.index("dim_nations") < order.index("nation_counts")


def test_run_materializes_parquet(spark, tmp_path, sf_dir):
    p = _pipe(tmp_path, sf_dir)
    built = p.run(spark)
    assert built["nation_counts"].count() == 5
    assert (tmp_path / "warehouse" / "dim_nations").exists()
    # full-refresh semantics: re-run overwrites cleanly
    built2 = p.run(spark)
    assert built2["dim_nations"].count() == 25


def test_duplicate_and_missing_deps_rejected(tmp_path, sf_dir):
    p = _pipe(tmp_path, sf_dir)
    with pytest.raises(ValueError, match="duplicate"):
        p.add_source("nation", lambda s: None)
    p.add_model("broken", lambda s, nope: nope, deps=("nope",))
    with pytest.raises(ValueError, match="undeclared"):
        p.topo_order()


def test_cycle_detection(tmp_path, sf_dir):
    p = Pipeline()
    p.add_model("a", lambda s, b: b, deps=("b",))
    p.add_model("b", lambda s, a: a, deps=("a",))
    with pytest.raises(graphlib.CycleError):
        p.topo_order()


def test_merge_upsert(spark):
    from nycitibike_data_transform_spark.versioning import merge_upsert

    existing = spark.createDataFrame(
        [(1, "old"), (2, "keep"), (3, "stale")], "k int, v string"
    )
    updates = spark.createDataFrame([(1, "new"), (4, "insert")], "k int, v string")
    out = {r["k"]: r["v"] for r in merge_upsert(existing, updates, ["k"]).collect()}
    assert out == {1: "new", 2: "keep", 3: "stale", 4: "insert"}


def test_merge_upsert_validation(spark):
    from nycitibike_data_transform_spark.versioning import merge_upsert

    df = spark.createDataFrame([(1, "a")], "k int, v string")
    other = spark.createDataFrame([(1,)], "k int")
    with pytest.raises(ValueError, match="schema mismatch"):
        merge_upsert(df, other, ["k"])
    with pytest.raises(ValueError, match="at least one key"):
        merge_upsert(df, df, [])


def _partitioned_model(tmp_path, rows, schema, partition_col, build=None):
    """An incremental model partitioned by ``partition_col`` over a
    mutable in-memory feed: ``rows[:]`` replaced between runs is the
    next refresh's source. The watermark is the constant ``w`` column,
    so every refresh merges its whole feed (partition-scoped)."""
    p = Pipeline(warehouse_dir=str(tmp_path / "wh"))
    p.add_source(
        "feed",
        lambda s: s.createDataFrame(rows, schema).withColumn("w", F.lit(0)),
    )
    p.add_model(
        "tbl",
        build or (lambda s, feed: feed),
        deps=("feed",),
        partition_by=(partition_col,),
        incremental_keys=("k",),
        watermark_col="w",
    )
    return p


def _snapshot_files(table, version, part_dir):
    return {
        f for f in table.manifest(version)["files"] if f.startswith(f"{part_dir}/")
    }


def test_merge_upsert_partitioned_rewrites_only_touched_partitions(spark, tmp_path):
    """The partition-scoped merge of an incremental ``partition_by``
    model: the refresh's snapshot rewrites only the partitions its
    updates touch and hardlinks every other partition's files from the
    previous snapshot."""
    import os

    from nycitibike_data_transform_spark.versioning import VersionedTable

    rows = [(1, "2024-01-01", "a"), (2, "2024-01-01", "b"),
            (3, "2024-01-02", "c"), (4, "2024-01-03", "d")]
    p = _partitioned_model(tmp_path, rows, "k int, dt string, v string", "dt")
    p.run(spark)
    rows[:] = [(2, "2024-01-01", "B2"), (5, "2024-01-01", "e"), (6, "2024-01-04", "f")]
    built = p.run(spark)["tbl"]

    t = VersionedTable(str(tmp_path / "wh" / "tbl"))
    d1, d2 = t._data_dir(1), t._data_dir(2)
    # untouched partitions: the v1 files themselves, hardlinked
    for part in ("dt=2024-01-02", "dt=2024-01-03"):
        files = _snapshot_files(t, 2, part)
        assert files and files == _snapshot_files(t, 1, part)
        for f in files:
            assert os.path.samefile(os.path.join(d1, f), os.path.join(d2, f))
    # touched partition WAS rewritten; the new one came from the merge
    assert not _snapshot_files(t, 2, "dt=2024-01-01") & _snapshot_files(t, 1, "dt=2024-01-01")
    assert _snapshot_files(t, 2, "dt=2024-01-04")

    out = {r["k"]: (r["dt"], r["v"]) for r in built.collect()}
    assert out == {
        1: ("2024-01-01", "a"),
        2: ("2024-01-01", "B2"),  # updated
        3: ("2024-01-02", "c"),  # untouched partition intact
        4: ("2024-01-03", "d"),
        5: ("2024-01-01", "e"),  # insert into existing partition
        6: ("2024-01-04", "f"),  # insert creating a new partition
    }


def test_overlapping_incremental_refreshes_lose_no_update(
    spark, tmp_path, monkeypatch
):
    """Two overlapping refreshes of one incremental ``partition_by``
    model: refresh B, started while refresh A is inside its merge
    (holding the table's commit lock), raises ConcurrentWriteError
    before committing; rerun after A commits, it merges onto A's
    snapshot, so both refreshes' updates are in the table.

    When ``_materialize`` read the base snapshot and merged before
    taking the lock, the same interleaving (A prepares k1→A, B
    prepares and commits k2→B, A commits) raised nothing and A's
    snapshot silently dropped B's update."""
    from nycitibike_data_transform_spark import pipeline as pipeline_mod
    from nycitibike_data_transform_spark.versioning import ConcurrentWriteError

    schema = "k int, dt string, v string"
    rows_a = [(1, "p", "v1"), (2, "p", "v1")]
    a = _partitioned_model(tmp_path, rows_a, schema, "dt")
    a.run(spark)
    rows_a[:] = [(1, "p", "A")]
    b = _partitioned_model(tmp_path, [(2, "p", "B")], schema, "dt")

    real = pipeline_mod.merge_upsert
    refused = []

    def merge_while_b_runs(base, updates, keys):
        monkeypatch.setattr(pipeline_mod, "merge_upsert", real)
        try:
            b.run(spark)
        except ConcurrentWriteError as e:
            refused.append(e)
        return real(base, updates, keys)

    monkeypatch.setattr(pipeline_mod, "merge_upsert", merge_while_b_runs)
    a.run(spark)
    assert len(refused) == 1
    built = b.run(spark)["tbl"]
    assert {r["k"]: r["v"] for r in built.collect()} == {1: "A", 2: "B"}


def test_merge_upsert_partitioned_validation(spark, tmp_path):
    """A partitioned model whose build lacks its partition column
    fails before anything is committed."""
    from nycitibike_data_transform_spark.versioning import VersionedTable

    p = _partitioned_model(
        tmp_path, [(1, "p", "x")], "k int, dt string, v string", "dt",
        build=lambda s, feed: feed.drop("dt"),
    )
    with pytest.raises(ValueError, match=r"missing from output: \['dt'\]"):
        p.run(spark)
    assert VersionedTable(str(tmp_path / "wh" / "tbl")).current_version() is None


def test_full_reference_pipeline_end_to_end(spark, tmp_path, sf_dir):
    """The whole DAG: sources → dim → partitioned stage → partitioned
    mart, with pruning live on the mart's date partitions."""
    from pyspark.sql import functions as F

    from nycitibike_data_transform_spark.models.pipeline_def import testdata_pipeline
    from nycitibike_data_transform_spark.plans import formatted_plan

    p = testdata_pipeline(sf_dir, str(tmp_path / "wh"))
    built = p.run(spark)

    li_count = spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()
    assert built["stage_rides"].count() == li_count
    mart = built["mart_borough_daily"]
    assert mart.count() > 0
    # revenue conservation: mart total == staged total (NULL boroughs included)
    staged_rev = built["stage_rides"].agg(
        F.sum(F.col("fare_amount").cast("decimal(18,2)")).cast("double").alias("r")
    ).first()["r"]
    mart_rev = mart.agg(F.sum("revenue").alias("r")).first()["r"]
    assert abs(staged_rev - mart_rev) < 1e-6

    # partition pruning on the mart's date partitions
    some_date = mart.select("ride_date").first()["ride_date"]
    pruned = mart.filter(F.col("ride_date") == some_date)
    assert "PartitionFilters" in formatted_plan(pruned)
    assert (tmp_path / "wh" / "mart_borough_daily").exists()


def test_merge_upsert_partitioned_preserves_null_partition(spark, tmp_path):
    """NULL is a legal partition value: a refresh touching the NULL
    partition merges its existing rows instead of dropping them."""
    rows = [(1, "keep-null", None), (2, "keep-a", "a"), (3, "old", None)]
    p = _partitioned_model(tmp_path, rows, "k int, v string, p string", "p")
    p.run(spark)
    rows[:] = [(3, "new", None)]
    built = p.run(spark)["tbl"]
    out = {r["k"]: (r["v"], r["p"]) for r in built.collect()}
    # k=1 lives in the NULL partition and was NOT in updates: preserved
    assert out[1] == ("keep-null", None)
    assert out[3] == ("new", None)
    assert out[2] == ("keep-a", "a")  # untouched partition intact


def test_partitioned_model_writes_one_file_per_partition(spark, tmp_path, sf_dir):
    """r7 small-files fix: a partitioned materialization co-locates
    each partition value first, so every partition dir receives
    exactly one data file — not one sliver per upstream task (the
    daily mart previously wrote ~2300 dirs × 32 files each)."""
    import os

    from nycitibike_data_transform_spark.models.pipeline_def import (
        testdata_pipeline,
    )
    from nycitibike_data_transform_spark.versioning import VersionedTable

    wh = str(tmp_path / "wh")
    built = testdata_pipeline(sf_dir, wh).run(spark)
    assert built["mart_borough_daily"].count() > 0
    t = VersionedTable(f"{wh}/mart_borough_daily")
    mart = t._data_dir(t.current_version())
    dirs = [d for d in os.listdir(mart) if d.startswith("ride_date=")]
    assert len(dirs) > 100  # daily partitioning is real
    for d in dirs[:50]:
        files = [f for f in os.listdir(f"{mart}/{d}") if f.endswith(".parquet")]
        assert len(files) == 1, (d, files)


def test_bucketed_model_materialization(spark, tmp_path, sf_dir):
    """bucket_by on a model materializes a BucketedIncrementalTable:
    the snapshot is catalog-registered, downstream joins on the bucket
    key are co-located (zero Exchange), and the returned frame answers
    exactly like the unbucketed build."""
    import uuid

    from nycitibike_data_transform_spark.bucketing import colocated_join
    from nycitibike_data_transform_spark.plans import count_exchanges

    name_o = f"bkt_model_orders_{uuid.uuid4().hex[:8]}"
    name_l = f"bkt_model_lineitem_{uuid.uuid4().hex[:8]}"
    p = Pipeline(warehouse_dir=str(tmp_path / "wh"))
    p.add_source("orders", lambda s: s.read.parquet(f"{sf_dir}/orders.parquet"))
    p.add_source("lineitem", lambda s: s.read.parquet(f"{sf_dir}/lineitem.parquet"))
    p.add_model(
        name_o,
        lambda s, orders: orders.select("o_orderkey", "o_orderpriority"),
        deps=("orders",),
        bucket_by=("o_orderkey",),
        num_buckets=4,
    )
    p.add_model(
        name_l,
        lambda s, lineitem: lineitem.select("l_orderkey", "l_quantity"),
        deps=("lineitem",),
        bucket_by=("l_orderkey",),
        num_buckets=4,
    )
    try:
        built = p.run(spark)
        desc = spark.sql(f"DESCRIBE EXTENDED {name_o}").collect()
        assert {r.col_name: r.data_type for r in desc}["Num Buckets"] == "4"
        joined = colocated_join(
            built[name_l],
            built[name_o],
            built[name_l].l_orderkey == built[name_o].o_orderkey,
        )
        assert count_exchanges(joined) == 0
        plain = spark.read.parquet(f"{sf_dir}/orders.parquet")
        assert built[name_o].count() == plain.count()
        # re-run overwrites cleanly (full-refresh cadence)
        assert p.run(spark)[name_o].count() == plain.count()
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name_o}")
        spark.sql(f"DROP TABLE IF EXISTS {name_l}")


def test_bucketed_model_validation(tmp_path, sf_dir):
    p = Pipeline(warehouse_dir=str(tmp_path / "wh"))
    p.add_source("orders", lambda s: s.read.parquet(f"{sf_dir}/orders.parquet"))
    with pytest.raises(ValueError, match="set together"):
        p.add_model("m1", lambda s, orders: orders, deps=("orders",), bucket_by=("o_orderkey",))
    with pytest.raises(ValueError, match="exclusive"):
        p.add_model(
            "m2",
            lambda s, orders: orders,
            deps=("orders",),
            bucket_by=("o_orderkey",),
            num_buckets=4,
            partition_by=("o_orderpriority",),
        )


def test_bucketed_full_refresh_model_is_snapshot(spark, tmp_path, sf_dir):
    """A full-refresh bucket_by model commits one snapshot per run:
    the previous run stays time-travel readable, and the registered
    table still gives a co-located join."""
    import uuid

    from nycitibike_data_transform_spark.bucketed_table import (
        BucketedIncrementalTable,
    )
    from nycitibike_data_transform_spark.bucketing import colocated_join
    from nycitibike_data_transform_spark.plans import count_exchanges

    name = f"bkt_snap_{uuid.uuid4().hex[:8]}"
    p = Pipeline(warehouse_dir=str(tmp_path / "wh"))
    p.add_source("orders", lambda s: s.read.parquet(f"{sf_dir}/orders.parquet"))
    p.add_model(
        name,
        lambda s, orders: orders.select("o_orderkey", "o_orderpriority"),
        deps=("orders",),
        bucket_by=("o_orderkey",),
        num_buckets=4,
    )
    try:
        p.run(spark)
        built = p.run(spark)[name]
        t = BucketedIncrementalTable(str(tmp_path / "wh" / name), ["o_orderkey"], 4)
        assert t.versions() == [1, 2]
        n = spark.read.parquet(f"{sf_dir}/orders.parquet").count()
        assert t.read_version(spark, 1).count() == n
        assert built.count() == n
        joined = colocated_join(
            built, spark.table(name).select(F.col("o_orderkey").alias("k")),
            F.col("o_orderkey") == F.col("k"),
        )
        assert count_exchanges(joined) == 0
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def _write_src(spark, src, rows):
    spark.createDataFrame(rows, "id int, day int, v string").write.mode(
        "overwrite"
    ).parquet(src)


def test_incremental_model_bootstrap_and_merge(spark, tmp_path):
    """dbt 'materialized: incremental': bootstrap writes the full
    build; the next run merges only rows at/past max(watermark) —
    including an update to a key re-delivered at the boundary."""
    src = str(tmp_path / "src")
    _write_src(spark, src, [(1, 1, "a"), (2, 1, "b"), (3, 2, "c")])
    p = Pipeline(warehouse_dir=str(tmp_path / "wh"))
    p.add_source("ev", lambda s: s.read.parquet(src))
    p.add_model(
        "inc",
        lambda s, ev: ev.select("id", "day", "v"),
        deps=("ev",),
        incremental_keys=("id",),
        watermark_col="day",
    )
    built = p.run(spark)["inc"]
    assert sorted(map(tuple, built.collect())) == [
        (1, 1, "a"), (2, 1, "b"), (3, 2, "c"),
    ]
    # new rows past the watermark + a boundary-row update (id=3 at
    # day=2 == hwm gets replaced, not duplicated)
    _write_src(
        spark, src,
        [(1, 1, "a"), (2, 1, "b"), (3, 2, "c2"), (4, 3, "d")],
    )
    built2 = p.run(spark)["inc"]
    expected2 = sorted(map(tuple, built2.collect()))
    assert expected2 == [
        (1, 1, "a"), (2, 1, "b"), (3, 2, "c2"), (4, 3, "d"),
    ]
    # idempotence: re-running with an unchanged source changes nothing
    # (built2's frame itself is stale after the rewrite — collect the
    # fresh frame, compare against the values captured above)
    built3 = p.run(spark)["inc"]
    assert sorted(map(tuple, built3.collect())) == expected2


def test_incremental_partitioned_rewrites_only_touched(spark, tmp_path):
    import os

    from nycitibike_data_transform_spark.versioning import VersionedTable

    src = str(tmp_path / "src")
    _write_src(
        spark, src, [(1, 1, "a"), (2, 2, "b"), (3, 3, "c")]
    )
    p = Pipeline(warehouse_dir=str(tmp_path / "wh"))
    p.add_source("ev", lambda s: s.read.parquet(src))
    p.add_model(
        "inc",
        lambda s, ev: ev.select("id", "day", "v"),
        deps=("ev",),
        partition_by=("day",),
        incremental_keys=("id",),
        watermark_col="day",
    )
    p.run(spark)
    table = VersionedTable(str(tmp_path / "wh" / "inc"))

    def files_of(day):
        d = f"{table._data_dir(table.current_version())}/day={day}"
        return {
            f: os.stat(f"{d}/{f}").st_ino
            for f in os.listdir(d)
            if f.endswith(".parquet")
        }

    before_d1, before_d2 = files_of(1), files_of(2)
    # second feed touches only day=3 and day=4
    _write_src(
        spark, src,
        [(1, 1, "a"), (2, 2, "b"), (3, 3, "c2"), (4, 4, "d")],
    )
    built = p.run(spark)["inc"]
    assert sorted(map(tuple, built.collect())) == [
        (1, 1, "a"), (2, 2, "b"), (3, 3, "c2"), (4, 4, "d"),
    ]
    # untouched partitions: same file names, same inodes — hardlinked
    # into the new snapshot, never rewritten
    assert files_of(1) == before_d1
    assert files_of(2) == before_d2


def test_incremental_versioned_snapshots(spark, tmp_path):
    from nycitibike_data_transform_spark.versioning import VersionedTable

    src = str(tmp_path / "src")
    _write_src(spark, src, [(1, 1, "a")])
    p = Pipeline(warehouse_dir=str(tmp_path / "wh"))
    p.add_source("ev", lambda s: s.read.parquet(src))
    p.add_model(
        "inc",
        lambda s, ev: ev.select("id", "day", "v"),
        deps=("ev",),
        incremental_keys=("id",),
        watermark_col="day",
    )
    p.run(spark)
    _write_src(spark, src, [(1, 1, "a"), (2, 2, "b")])
    built = p.run(spark)["inc"]
    assert built.count() == 2
    table = VersionedTable(str(tmp_path / "wh" / "inc"))
    versions = table.versions()
    assert len(versions) == 2
    # the bootstrap snapshot is still time-travel readable
    assert table.read_version(spark, versions[0]).count() == 1


def test_incremental_validation(spark, tmp_path):
    p = Pipeline(warehouse_dir=str(tmp_path / "wh"))
    p.add_source("ev", lambda s: s.range(3))
    with pytest.raises(ValueError, match="set together"):
        p.add_model("m1", lambda s, ev: ev, deps=("ev",), incremental_keys=("id",))
    # incremental + bucketed now composes (bucketed_table.py), but only
    # when the bucket columns are merge keys (key stability)
    with pytest.raises(ValueError, match="not incremental keys"):
        p.add_model(
            "m2",
            lambda s, ev: ev,
            deps=("ev",),
            incremental_keys=("id",),
            watermark_col="id",
            bucket_by=("other",),
            num_buckets=4,
        )
    with pytest.raises(ValueError, match="at most one"):
        p.add_model(
            "m3",
            lambda s, ev: ev,
            deps=("ev",),
            incremental_keys=("id",),
            watermark_col="id",
            partition_by=("a", "b"),
        )
    p.add_model(
        "m4",
        lambda s, ev: ev,
        deps=("ev",),
        incremental_keys=("id",),
        watermark_col="nope",
    )
    with pytest.raises(ValueError, match="missing from"):
        p.run(spark)


def test_incremental_empty_bootstrap_then_data(spark, tmp_path):
    """r8 review finding: a zero-row partitioned bootstrap leaves no
    data files — that must NOT brick the model: the run returns the
    empty frame under the declared schema, and the next run (data
    arrived) bootstraps for real."""
    src = str(tmp_path / "src")
    _write_src(spark, src, [(1, 1, "a")])

    def pipe(pred):
        p = Pipeline(warehouse_dir=str(tmp_path / "wh"))
        p.add_source("ev", lambda s: s.read.parquet(src).filter(pred))
        p.add_model(
            "inc",
            lambda s, ev: ev.select("id", "day", "v"),
            deps=("ev",),
            partition_by=("day",),
            incremental_keys=("id",),
            watermark_col="day",
        )
        return p

    empty = pipe("id < 0").run(spark)["inc"]
    assert empty.count() == 0
    assert [f.name for f in empty.schema.fields] == ["id", "day", "v"]
    built = pipe("id > 0").run(spark)["inc"]
    assert sorted(map(tuple, built.collect())) == [(1, 1, "a")]


def test_incremental_readback_preserves_partition_type(spark, tmp_path):
    """r8 review finding: the frame handed to downstream models must
    keep the BUILD's types — hive inference would turn a string
    partition value '01' into int 1."""
    src = str(tmp_path / "src")
    spark.createDataFrame(
        [(1, "01", "a"), (2, "2", "b")], "id int, day string, v string"
    ).write.mode("overwrite").parquet(src)
    p = Pipeline(warehouse_dir=str(tmp_path / "wh"))
    p.add_source("ev", lambda s: s.read.parquet(src))
    p.add_model(
        "inc",
        lambda s, ev: ev.select("id", "day", "v"),
        deps=("ev",),
        partition_by=("day",),
        incremental_keys=("id",),
        watermark_col="day",
    )
    for _ in range(2):  # bootstrap read-back AND merge read-back
        built = p.run(spark)["inc"]
        assert built.schema["day"].dataType.typeName() == "string"
        assert sorted(map(tuple, built.collect())) == [
            (1, "01", "a"), (2, "2", "b"),
        ]


def test_incremental_rejects_remote_warehouse(spark):
    """r8 review finding: bootstrap detection is local-filesystem;
    an object-store warehouse would silently full-rewrite every run —
    fail loudly instead (VersionedTable's contract), for incremental
    and full-refresh models alike."""
    for inc in ({"incremental_keys": ("id",), "watermark_col": "day"}, {}):
        p = Pipeline(warehouse_dir="s3a://bucket/wh")
        p.add_source("ev", lambda s: s.createDataFrame([(1, 1)], "id int, day int"))
        p.add_model("m", lambda s, ev: ev, deps=("ev",), **inc)
        with pytest.raises(ValueError, match="local path"):
            p.run(spark)


def test_incremental_bucketed_composed_layout(spark, tmp_path):
    """The composed layout (VERDICT r8 item #2): an incremental model
    materialized as a bucketed, versioned table — merge touches only
    the buckets the update keys hash into, downstream joins on the
    bucket key plan zero exchanges, and every refresh is an atomic
    snapshot commit."""
    import os

    from nycitibike_data_transform_spark.bucketed_table import (
        BucketedIncrementalTable,
        bucket_id_of_file,
    )
    from nycitibike_data_transform_spark.plans import count_exchanges

    src = str(tmp_path / "src")
    # id=35 sits alone at the watermark boundary (day=2); everything
    # else is day=1 so the second run's updates slice stays tiny
    base = [(i, 2 if i == 35 else 1, f"r{i}") for i in range(40)]
    _write_src(spark, src, base)
    p = Pipeline(warehouse_dir=str(tmp_path / "wh"))
    p.add_source("ev", lambda s: s.read.parquet(src))
    p.add_model(
        "fact",
        lambda s, ev: ev.select("id", "day", "v"),
        deps=("ev",),
        bucket_by=("id",),
        num_buckets=8,
        incremental_keys=("id",),
        watermark_col="day",
    )
    built = p.run(spark)["fact"]
    assert built.count() == 40
    # downstream groupBy on the bucket key: zero exchanges off the
    # registered bucketed scan
    agg = spark.table("fact").groupBy("id").count()
    assert count_exchanges(agg) == 0

    root = str(tmp_path / "wh" / "fact")
    table = BucketedIncrementalTable(root, ["id"], 8)
    v1_files = {
        f: os.stat(os.path.join(table._data_dir(1), f)).st_ino
        for f in table.manifest(1)["files"]
    }

    # second feed: a boundary update (id=35 re-delivered at day=2 ==
    # hwm) + one new row past the watermark — only these two keys'
    # buckets get rewritten
    _write_src(
        spark, src,
        [r for r in base if r[0] != 35] + [(35, 2, "patched"), (99, 3, "new")],
    )
    built2 = p.run(spark)["fact"]
    rows = {r["id"]: r["v"] for r in built2.collect()}
    assert rows[35] == "patched" and rows[99] == "new" and len(rows) == 41
    # untouched buckets share inodes with v1 (zero bytes rewritten)
    m2 = table.manifest(2)
    touched = {
        bucket_id_of_file(f)
        for f in m2["files"]
        if os.stat(os.path.join(table._data_dir(2), f)).st_ino
        not in v1_files.values()
    }
    untouched_shared = [
        f
        for f in m2["files"]
        if bucket_id_of_file(f) not in touched
        and os.stat(os.path.join(table._data_dir(2), f)).st_ino
        in v1_files.values()
    ]
    assert len(touched) < 8 and untouched_shared
    spark.sql("DROP TABLE IF EXISTS fact")


def test_incremental_versioned_partitioned_is_cow(spark, tmp_path):
    """An incremental partition_by model commits partition-scoped
    copy-on-write snapshots (VERDICT r8 item #3): the second run's
    snapshot hardlinks every untouched partition's files from the
    first (same inodes, zero bytes copied) while staying an atomic
    pointer-swap commit."""
    import os

    from nycitibike_data_transform_spark.versioning import VersionedTable

    src = str(tmp_path / "src")
    _write_src(spark, src, [(1, 1, "a"), (2, 2, "b"), (3, 3, "c")])
    p = Pipeline(warehouse_dir=str(tmp_path / "wh"))
    p.add_source("ev", lambda s: s.read.parquet(src))
    p.add_model(
        "inc",
        lambda s, ev: ev.select("id", "day", "v"),
        deps=("ev",),
        partition_by=("day",),
        incremental_keys=("id",),
        watermark_col="day",
    )
    p.run(spark)
    table = VersionedTable(str(tmp_path / "wh" / "inc"))
    assert table.current_version() == 1

    _write_src(
        spark, src, [(1, 1, "a"), (2, 2, "b"), (3, 3, "c2"), (4, 4, "d")]
    )
    built = p.run(spark)["inc"]
    assert sorted(map(tuple, built.collect())) == [
        (1, 1, "a"), (2, 2, "b"), (3, 3, "c2"), (4, 4, "d"),
    ]
    assert table.current_version() == 2
    d1, d2 = table._data_dir(1), table._data_dir(2)
    untouched = [
        f for f in table.manifest(2)["files"]
        if f.startswith(("day=1/", "day=2/"))
    ]
    assert untouched
    for f in untouched:
        assert os.path.samefile(os.path.join(d2, f), os.path.join(d1, f))
    # touched + new partitions came from the staged write, not v1
    assert any(f.startswith("day=3/") for f in table.manifest(2)["files"])
    assert any(f.startswith("day=4/") for f in table.manifest(2)["files"])
    # v1 remains time-travel readable after the COW commit
    assert table.read_version(spark, 1).count() == 3


def test_downstream_model_join_on_bucketed_incremental_is_shuffle_free(
    spark, tmp_path
):
    """The point of the composed layout: a DOWNSTREAM model joining two
    bucketed incremental facts on the bucket key gets a zero-exchange
    plan through Pipeline.run itself (not just in hand-built probes)."""
    from nycitibike_data_transform_spark.plans import count_exchanges

    srca, srcb = str(tmp_path / "a"), str(tmp_path / "b")
    _write_src(spark, srca, [(i, 1, f"a{i}") for i in range(50)])
    _write_src(spark, srcb, [(i, 1, f"b{i}") for i in range(50)])
    p = Pipeline(warehouse_dir=str(tmp_path / "wh"))
    p.add_source("feed_a", lambda s: s.read.parquet(srca))
    p.add_source("feed_b", lambda s: s.read.parquet(srcb))
    for name, dep in (("fact_a", "feed_a"), ("fact_b", "feed_b")):
        p.add_model(
            name,
            lambda s, **deps: next(iter(deps.values())).select("id", "day", "v"),
            deps=(dep,),
            bucket_by=("id",),
            num_buckets=8,
            incremental_keys=("id",),
            watermark_col="day",
        )
    joined_plan = {}

    def build_joined(s, fact_a, fact_b):
        j = fact_a.hint("merge").join(
            fact_b.select("id", F.col("v").alias("w")), "id"
        )
        joined_plan["exchanges"] = count_exchanges(j)
        return j

    p.add_model("joined", build_joined, deps=("fact_a", "fact_b"))
    built = p.run(spark)
    try:
        assert joined_plan["exchanges"] == 0
        assert built["joined"].count() == 50
    finally:
        for n in ("fact_a", "fact_b"):
            spark.sql(f"DROP TABLE IF EXISTS {n}")


def test_incremental_versioned_cow_pins_updates_plan(spark, tmp_path):
    """The versioned partition-scoped COW path localCheckpoints the
    updates plan BEFORE deriving touched partitions (ADVICE r9): a
    nondeterministic model source could otherwise emit different
    partition values between the touched-partition scan and the
    snapshot write, committing a replaced partition whose existing
    rows were never merged in — silent row loss. The checkpoint makes
    the plan execute exactly ONCE per refresh (deterministic models
    stop paying the build twice, too), which this test counts via a
    task-side marker file."""
    import os as _os

    marker = str(tmp_path / "exec_count")
    src = str(tmp_path / "src")
    _write_src(spark, src, [(1, 1, "a"), (2, 2, "b")])

    def counted_model(s, ev):
        def bump(batches):
            with open(marker, "a") as f:
                f.write("x\n")
                f.flush()
                _os.fsync(f.fileno())
            yield from batches

        return (
            ev.select("id", "day", "v")
            .repartition(1)  # one task per plan execution
            .mapInPandas(bump, "id int, day int, v string")
        )

    p = Pipeline(warehouse_dir=str(tmp_path / "wh"))
    p.add_source("ev", lambda s: s.read.parquet(src))
    p.add_model(
        "inc",
        counted_model,
        deps=("ev",),
        partition_by=("day",),
        incremental_keys=("id",),
        watermark_col="day",
    )
    p.run(spark)
    n_bootstrap = sum(1 for _ in open(marker))

    _write_src(spark, src, [(1, 1, "a"), (2, 2, "b2"), (3, 3, "c")])
    built = p.run(spark)["inc"]
    assert sorted(map(tuple, built.collect())) == [
        (1, 1, "a"),
        (2, 2, "b2"),
        (3, 3, "c"),
    ]
    n_refresh = sum(1 for _ in open(marker)) - n_bootstrap
    assert n_refresh == 1, (
        f"updates plan executed {n_refresh} times in one refresh — "
        "the COW path must checkpoint before the touched-partition scan"
    )
