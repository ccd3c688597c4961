"""Snapshot versioning: atomic commit, crash-safety, time travel,
and change audit via snapshot_diff across versions (VERDICT r4 next
item 6)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from nycitibike_data_transform_spark.operators.diff import snapshot_diff
from nycitibike_data_transform_spark.versioning import VersionedTable


def _df(spark, rows):
    return spark.createDataFrame(rows, "k int, v string")


def _replace(base, updates):
    """COW merge rule: ``updates`` are the touched partitions' whole
    new content."""
    return updates


def test_write_read_roundtrip_and_time_travel(spark, tmp_path):
    t = VersionedTable(str(tmp_path / "tbl"))
    assert t.current_version() is None
    assert t.write_version(_df(spark, [(1, "a"), (2, "b")])) == 1
    assert t.write_version(_df(spark, [(1, "a2"), (3, "c")])) == 2
    assert t.current_version() == 2
    assert t.versions() == [1, 2]
    # current == v2; v1 still readable (time travel)
    cur = {tuple(r) for r in t.read_current(spark).collect()}
    assert cur == {(1, "a2"), (3, "c")}
    v1 = {tuple(r) for r in t.read_version(spark, 1).collect()}
    assert v1 == {(1, "a"), (2, "b")}
    with pytest.raises(ValueError):
        t.read_version(spark, 3)  # never committed


def test_snapshot_diff_across_versions(spark, tmp_path):
    t = VersionedTable(str(tmp_path / "tbl"))
    t.write_version(_df(spark, [(1, "a"), (2, "b"), (4, "same")]))
    t.write_version(_df(spark, [(1, "a2"), (3, "c"), (4, "same")]))
    diff = snapshot_diff(t.read_version(spark, 1), t.read_version(spark, 2), "k")
    got = {(r["status"], r["count"]) for r in diff.groupBy("status").count().collect()}
    assert got == {("changed", 1), ("removed", 1), ("added", 1), ("unchanged", 1)}


@pytest.mark.parametrize("crash_at", ["data", "manifest", "pointer"])
def test_crash_mid_write_never_corrupts_current(spark, tmp_path, monkeypatch, crash_at):
    """A write killed before the pointer swap commits NOTHING: the
    old version stays current and fully readable, and the next
    successful write recovers the slot."""
    t = VersionedTable(str(tmp_path / "tbl"))
    t.write_version(_df(spark, [(1, "a")]))

    boom = RuntimeError("simulated crash")
    if crash_at == "data":
        # a df that fails DURING materialization — the realistic
        # kill-mid-write: Spark may leave partial files in the new dir
        poisoned = _df(spark, [(9, "junk")]).select(
            "k", F.assert_true(F.col("k") < 0).cast("string").alias("v")
        )
        with pytest.raises(Exception):
            t.write_version(poisoned)
        assert t.current_version() == 1
        assert {tuple(r) for r in t.read_current(spark).collect()} == {(1, "a")}
        assert t.write_version(_df(spark, [(2, "b")])) == 2
        assert {tuple(r) for r in t.read_current(spark).collect()} == {(2, "b")}
        return
    if crash_at == "manifest":
        import json as _json

        def bad_dumps(*a, **k):
            raise boom

        monkeypatch.setattr(_json, "dumps", bad_dumps)
    else:  # pointer
        real_replace = os.replace

        def bad_replace(src, dst):
            if dst.endswith("_current"):
                raise boom
            return real_replace(src, dst)

        monkeypatch.setattr(os, "replace", bad_replace)

    with pytest.raises(RuntimeError):
        t.write_version(_df(spark, [(9, "junk")]))
    monkeypatch.undo()

    assert t.current_version() == 1
    assert {tuple(r) for r in t.read_current(spark).collect()} == {(1, "a")}
    # recovery: next write lands cleanly as version 2 with the new data
    assert t.write_version(_df(spark, [(2, "b")])) == 2
    assert {tuple(r) for r in t.read_current(spark).collect()} == {(2, "b")}


def test_vacuum_keeps_recent_and_drops_orphans(spark, tmp_path):
    t = VersionedTable(str(tmp_path / "tbl"))
    for i in range(1, 5):
        t.write_version(_df(spark, [(i, "x")]))
    # fake an orphaned (uncommitted) directory above the pointer
    orphan = os.path.join(str(tmp_path / "tbl"), "data", "v00000099")
    os.makedirs(orphan)
    removed = t.vacuum(keep=2)
    assert removed == [1, 2]
    assert t.versions() == [3, 4]
    assert not os.path.exists(orphan)
    assert {tuple(r) for r in t.read_version(spark, 3).collect()} == {(3, "x")}
    with pytest.raises(ValueError):
        t.read_version(spark, 1)  # vacuumed away
    with pytest.raises(Exception):
        t.vacuum(keep=0)


def test_manifest_records_schema_and_files(spark, tmp_path):
    t = VersionedTable(str(tmp_path / "tbl"))
    t.write_version(_df(spark, [(1, "a")]))
    m = t.manifest(1)
    assert m["version"] == 1
    assert m["files"] and all(f.endswith(".parquet") for f in m["files"])
    field_names = [f["name"] for f in m["schema"]["fields"]]
    assert field_names == ["k", "v"]


def test_partitioned_write_prunes_on_read(spark, tmp_path):
    t = VersionedTable(str(tmp_path / "tbl"))
    df = spark.createDataFrame(
        [(1, "2024-01-01", "a"), (2, "2024-01-02", "b")], "k int, dt string, v string"
    )
    t.write_version(df, partition_by=("dt",))
    got = t.read_current(spark).filter(F.col("dt") == "2024-01-01")
    assert [r["k"] for r in got.collect()] == [1]
    # partition dirs exist → the filter prunes at the source level
    assert t.manifest(1)["partition_by"] == ["dt"]


def test_pipeline_versioned_materialization(spark, tmp_path):
    """Pipeline.run: two runs of the same model leave both snapshots
    readable with an intact pointer."""
    from nycitibike_data_transform_spark.pipeline import Pipeline

    state = {"n": 0}

    def src(s):
        return _df(s, [(state["n"], "x")])

    p = Pipeline(warehouse_dir=str(tmp_path / "wh"))
    p.add_source("raw", src)
    p.add_model("m", lambda s, raw: raw.select("k", "v"), deps=("raw",))
    p.run(spark)
    state["n"] = 1
    p.run(spark)
    t = VersionedTable(str(tmp_path / "wh" / "m"))
    assert t.versions() == [1, 2]
    assert {r["k"] for r in t.read_version(spark, 1).collect()} == {0}
    assert {r["k"] for r in t.read_current(spark).collect()} == {1}


def test_remote_root_rejected():
    import pytest

    from nycitibike_data_transform_spark.versioning import VersionedTable

    with pytest.raises(ValueError, match="local path"):
        VersionedTable("s3a://bucket/wh/table")
    with pytest.raises(ValueError, match="local path"):
        VersionedTable("hdfs://nn/wh/table")


def test_vacuum_crash_between_manifest_and_data_is_recoverable(spark, tmp_path):
    """Manifest-first vacuum ordering: if vacuum dies after removing
    the manifest but before the data dir, the version reads as
    'vacuumed' (clear error, not a parquet path failure) and the next
    vacuum sweeps the orphaned data dir."""
    import os

    import pytest

    from nycitibike_data_transform_spark.versioning import VersionedTable

    t = VersionedTable(str(tmp_path / "t"))
    for i in range(3):
        t.write_version(spark.range(i + 1).toDF("x"))
    # simulate the crash: v1's manifest gone, data dir still present
    os.remove(t._manifest_path(1))
    assert os.path.isdir(t._data_dir(1))
    with pytest.raises(ValueError, match="vacuumed"):
        t.read_version(spark, 1)
    assert t.versions() == [2, 3]
    t.vacuum(keep=2)
    assert not os.path.isdir(t._data_dir(1))  # orphan swept
    assert t.read_current(spark).count() == 3


def test_pipeline_run_bounds_retention(spark, tmp_path, sf_dir):
    from nycitibike_data_transform_spark.pipeline import Pipeline
    from nycitibike_data_transform_spark.versioning import VersionedTable

    p = Pipeline(warehouse_dir=str(tmp_path))
    p.add_source("nation", lambda s: s.read.parquet(f"{sf_dir}/nation.parquet"))
    p.add_model("dim", lambda s, nation: nation.select("n_nationkey"), deps=("nation",))
    for _ in range(4):
        p.run(spark, keep_versions=2)
    t = VersionedTable(str(tmp_path / "dim"))
    assert t.versions() == [3, 4]  # retention bounded at 2
    assert t.read_current(spark).count() == 25

    import pytest

    # bad arguments fail before any model commits
    with pytest.raises(ValueError, match="keep_versions must be >= 1"):
        p.run(spark, keep_versions=0)
    with pytest.raises(ValueError, match="in-place parquet materialization was removed"):
        p.run(spark, versioned=False)
    assert t.versions() == [3, 4]


def test_compact_reduces_files_data_identical(spark, tmp_path):
    t = VersionedTable(str(tmp_path / "tbl"))
    df = spark.range(10_000).select(
        F.col("id"), (F.col("id") % 7).alias("k"), F.md5(F.col("id").cast("string")).alias("payload")
    )
    v1 = t.write_version(df.repartition(64))  # 64 tiny files
    assert len(t.manifest(v1)["files"]) == 64
    v2 = t.compact(spark, target_file_mb=128)
    assert v2 == v1 + 1
    assert len(t.manifest(v2)["files"]) < 8
    before = sorted(map(tuple, t.read_version(spark, v1).collect()))
    after = sorted(map(tuple, t.read_version(spark, v2).collect()))
    assert before == after
    # old version remains time-travelable until vacuumed
    assert t.read_version(spark, v1).count() == 10_000


def test_compact_preserves_partition_layout(spark, tmp_path):
    t = VersionedTable(str(tmp_path / "tbl"))
    df = spark.range(2_000).select(
        F.col("id"), (F.col("id") % 3).cast("string").alias("part")
    )
    t.write_version(df.repartition(16), partition_by=("part",))
    v2 = t.compact(spark, target_file_mb=128)
    man = t.manifest(v2)
    assert man["partition_by"] == ["part"]
    assert all(f.startswith("part=") for f in man["files"])
    assert t.read_current(spark).filter(F.col("part") == "1").count() == 667


def test_compact_cluster_by_gives_disjoint_file_ranges(spark, tmp_path):
    import pyarrow.parquet as pq

    t = VersionedTable(str(tmp_path / "tbl"))
    df = spark.range(50_000).select(
        F.col("id"),
        F.md5(F.col("id").cast("string")).alias("pad1"),
        F.sha2(F.col("id").cast("string"), 256).alias("pad2"),
    )
    t.write_version(df.repartition(32))
    v2 = t.compact(spark, target_file_mb=1, cluster_by=("id",))
    data_dir = t._data_dir(v2)
    files = t.manifest(v2)["files"]
    assert len(files) >= 2  # the 1 MB target forces a multi-file layout
    ranges = []
    for f in files:
        md = pq.read_metadata(os.path.join(data_dir, f))
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            col = next(
                md.row_group(rg).column(i)
                for i in range(md.num_columns)
                if md.row_group(rg).column(i).path_in_schema == "id"
            )
            mins.append(col.statistics.min)
            maxs.append(col.statistics.max)
        ranges.append((min(mins), max(maxs)))
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        # range-clustered files cover non-overlapping id ranges -> a
        # point lookup touches exactly one file via row-group stats
        assert hi1 < lo2


def test_compact_partitioned_honors_target_within_partition(spark, tmp_path):
    # ADVICE r5: hashing on the partition columns alone compacts every
    # partition to exactly ONE file regardless of size. A skewed
    # partition must split into ~ceil(bytes/target) files while the
    # small partitions stay at one file each.
    t = VersionedTable(str(tmp_path / "tbl"))
    df = spark.range(60_000).select(
        F.col("id"),
        # partition "0" gets ~58k rows (hot), "1"/"2" ~1k each
        F.when(F.col("id") < 58_000, F.lit("0"))
        .otherwise((F.col("id") % 2 + 1).cast("string"))
        .alias("part"),
        F.md5(F.col("id").cast("string")).alias("pad1"),
        F.sha2(F.col("id").cast("string"), 256).alias("pad2"),
    )
    t.write_version(df.repartition(32), partition_by=("part",))
    v2 = t.compact(spark, target_file_mb=1)
    files = t.manifest(v2)["files"]
    by_part: dict[str, int] = {}
    for f in files:
        by_part[f.split("/")[0]] = by_part.get(f.split("/")[0], 0) + 1
    # hot partition (~7 MB of parquet at this row size) splits
    assert by_part["part=0"] >= 3
    # cold partitions stay compact
    assert by_part["part=1"] <= 2 and by_part["part=2"] <= 2
    before = sorted(map(tuple, t.read_version(spark, v2 - 1).collect()))
    after = sorted(map(tuple, t.read_version(spark, v2).collect()))
    assert before == after


def test_compact_empty_table_raises(spark, tmp_path):
    t = VersionedTable(str(tmp_path / "tbl"))
    with pytest.raises(ValueError, match="empty"):
        t.compact(spark)


def test_compact_cluster_by_on_partitioned_table_stays_compact(spark, tmp_path):
    # partition cols lead the range keys: file count must stay near
    # n_partitions, not explode to n_files x n_partitions
    t = VersionedTable(str(tmp_path / "tbl"))
    df = spark.range(6_000).select(
        F.col("id"), (F.col("id") % 3).cast("string").alias("part")
    )
    t.write_version(df.repartition(24), partition_by=("part",))
    v2 = t.compact(spark, target_file_mb=128, cluster_by=("id",))
    files = t.manifest(v2)["files"]
    assert all(f.startswith("part=") for f in files)
    # one range partition (n_files=1 at this size) x 3 dirs -> <= ~4
    assert len(files) <= 4
    assert t.read_version(spark, v2).count() == 6_000


def test_compact_partitioned_with_map_column(spark, tmp_path):
    # ADVICE r6: the salt previously hashed ALL data columns;
    # xxhash64 rejects MapType, so compacting a partitioned table
    # with a map column failed analysis. The salt must skip
    # unhashable columns and the rewrite must stay data-identical.
    t = VersionedTable(str(tmp_path / "tbl"))
    df = spark.range(2_000).select(
        F.col("id"),
        (F.col("id") % 3).cast("string").alias("part"),
        F.create_map(F.lit("k"), F.col("id").cast("string")).alias("attrs"),
    )
    t.write_version(df.repartition(16), partition_by=("part",))
    v2 = t.compact(spark, target_file_mb=128)
    got = t.read_version(spark, v2)
    assert got.count() == 2_000
    assert sorted(r["id"] for r in got.collect()) == list(range(2_000))
    assert got.filter(F.col("attrs")["k"] == "7").count() == 1


def test_compact_partitioned_only_map_payload_falls_back(spark, tmp_path):
    # nothing hashable outside the partition column -> monotonic salt
    t = VersionedTable(str(tmp_path / "tbl"))
    df = spark.range(1_000).select(
        (F.col("id") % 2).cast("string").alias("part"),
        F.create_map(F.lit("k"), F.col("id").cast("string")).alias("attrs"),
    )
    t.write_version(df.repartition(8), partition_by=("part",))
    v2 = t.compact(spark, target_file_mb=128)
    assert t.read_version(spark, v2).count() == 1_000


def test_compact_partitioned_null_partition_value(spark, tmp_path):
    # NULL partition values land in the hive default-partition dir;
    # the string-rendered pkey join must route them to a bucket map
    # entry instead of dropping rows.
    t = VersionedTable(str(tmp_path / "tbl"))
    df = spark.range(1_000).select(
        F.col("id"),
        F.when(F.col("id") % 4 == 0, F.lit(None).cast("string"))
        .otherwise((F.col("id") % 4).cast("string"))
        .alias("part"),
    )
    t.write_version(df.repartition(8), partition_by=("part",))
    v2 = t.compact(spark, target_file_mb=128)
    got = t.read_version(spark, v2)
    assert got.count() == 1_000
    assert got.filter(F.col("part").isNull()).count() == 250


def test_compact_partition_value_containing_slash(spark, tmp_path):
    # a '/' INSIDE a partition value makes two different partitions
    # render to the same joined pkey string; the bucket map must stay
    # 1:1 (merged sizing) or the join would duplicate every row
    t = VersionedTable(str(tmp_path / "tbl"))
    df = spark.createDataFrame(
        [(i, "a/b" if i % 2 == 0 else "a") for i in range(200)],
        "id bigint, part string",
    )
    t.write_version(df.repartition(8), partition_by=("part",))
    v2 = t.compact(spark, target_file_mb=128)
    got = t.read_version(spark, v2)
    assert got.count() == 200
    assert sorted(r["id"] for r in got.collect()) == list(range(200))
    assert got.filter(F.col("part") == "a/b").count() == 100


def test_write_version_cow_contracts(spark, tmp_path):
    from pyspark.sql import functions as F

    from nycitibike_data_transform_spark.versioning import VersionedTable

    t = VersionedTable(str(tmp_path / "cow"))
    df = spark.createDataFrame(
        [(1, "p1", "a"), (2, "p2", "b")], "k int, part string, v string"
    )
    # bootstrap through cow falls back to a full partitioned write
    assert t.write_version_cow(df, _replace, "part") == 1
    assert t.manifest(1)["partition_by"] == ["part"]
    # partition-col mismatch is rejected
    import pytest as _pytest

    with _pytest.raises(ValueError, match="partitioned by"):
        t.write_version_cow(df.withColumnRenamed("part", "other"), _replace, "other")
    # merge one partition: the other's file is the same inode
    import os

    upd = spark.createDataFrame([(1, "p1", "a2")], "k int, part string, v string")
    t.write_version_cow(upd, _replace, "part")
    m2 = t.manifest(2)
    p2_files = [f for f in m2["files"] if f.startswith("part=p2/")]
    assert p2_files
    for f in p2_files:
        assert os.path.samefile(
            os.path.join(t._data_dir(2), f), os.path.join(t._data_dir(1), f)
        )
    rows = {r["k"]: r["v"] for r in t.read_current(spark).collect()}
    assert rows == {1: "a2", 2: "b"}


def test_read_current_as_schema_validation(spark, tmp_path):
    from pyspark.sql.types import StructType

    from nycitibike_data_transform_spark.versioning import VersionedTable

    t = VersionedTable(str(tmp_path / "ras"))
    df = spark.createDataFrame([(1, "01", "a")], "k int, part string, v string")
    t.write_version(df, partition_by=("part",))
    # explicit schema preserves the zero-padded string partition value
    got = t.read_current_as(spark, df.schema).first()
    assert got["part"] == "01"
    import pytest as _pytest

    bad = StructType.fromDDL("k int, v string")
    with _pytest.raises(ValueError, match="additive-only"):
        t.read_current_as(spark, bad)  # drops a committed column
    retyped = StructType.fromDDL("k string, part string, v string")
    with _pytest.raises(ValueError, match="additive-only"):
        t.read_current_as(spark, retyped)
    # additive superset is the evolution read: new column NULL-filled
    wider = StructType.fromDDL("k int, part string, v string, extra int")
    row = t.read_current_as(spark, wider).first()
    assert row["extra"] is None and row["part"] == "01"


def test_write_version_cow_adversarial_partition_values(spark, tmp_path):
    """The COW commit derives 'touched' from the STAGED write's own
    directory names, so hive escaping can never disagree with Spark's
    rendering. Adversarial partition values: URL-escaped chars
    ('a/b', 'x:y', a space), a zero-padded string ('01'), and NULL
    (__HIVE_DEFAULT_PARTITION__)."""
    import os

    from pyspark.sql.types import StructType

    from nycitibike_data_transform_spark.versioning import VersionedTable

    t = VersionedTable(str(tmp_path / "adv"))
    schema = "k int, part string, v string"
    rows1 = [
        (1, "a/b", "r1"), (2, "x:y", "r2"), (3, "with space", "r3"),
        (4, "01", "r4"), (5, None, "r5"), (6, "plain", "r6"),
    ]
    df1 = spark.createDataFrame(rows1, schema)
    t.write_version_cow(df1, _replace, "part")

    # touch only 'a/b' (escaped dir a%2Fb) and NULL
    upd = spark.createDataFrame(
        [(1, "a/b", "R1"), (5, None, "R5"), (7, None, "r7")], schema
    )
    t.write_version_cow(upd, _replace, "part")

    got = {r["k"]: (r["part"], r["v"]) for r in
           t.read_current_as(spark, StructType.fromDDL(schema)).collect()}
    assert got == {
        1: ("a/b", "R1"), 2: ("x:y", "r2"), 3: ("with space", "r3"),
        4: ("01", "r4"), 5: (None, "R5"), 6: ("plain", "r6"), 7: (None, "r7"),
    }
    # untouched escaped partitions share inodes with v1
    m2 = t.manifest(2)
    shared = [f for f in m2["files"]
              if not f.split("/")[0].startswith(("part=a%2Fb", "part=__HIVE"))]
    assert shared
    for f in shared:
        assert os.path.samefile(
            os.path.join(t._data_dir(2), f), os.path.join(t._data_dir(1), f)
        )
    # touched ones do NOT (fresh files)
    replaced = [f for f in m2["files"] if f.split("/")[0] == "part=a%2Fb"]
    assert replaced
    for f in replaced:
        assert not os.path.exists(os.path.join(t._data_dir(1), f)) or not (
            os.path.samefile(
                os.path.join(t._data_dir(2), f), os.path.join(t._data_dir(1), f)
            )
        )


def test_read_range_zone_map_skips_files(spark, tmp_path):
    """After compact(cluster_by) lays the snapshot out in
    non-overlapping ranges, read_range opens only the overlapping
    files (inputFiles ≪ total) and returns exactly the plain-filter
    answer."""
    from pyspark.sql import functions as F

    from nycitibike_data_transform_spark.versioning import VersionedTable

    t = VersionedTable(str(tmp_path / "zm"))
    # xxhash64 payload resists compression so target_file_mb=1 yields
    # a genuinely multi-file clustered layout
    df = spark.range(2_000_000).select(
        F.col("id").alias("k"), F.xxhash64("id").alias("v")
    )
    t.write_version(df.repartition(8))
    t.compact(spark, target_file_mb=1, cluster_by=("k",))
    total_files = len(t.manifest(t.current_version())["files"])
    assert total_files > 3  # the pruning test needs several files

    got = t.read_range(spark, "k", 10_000, 10_050)
    assert len(got.inputFiles()) < total_files
    expect = sorted(
        map(tuple, df.filter((F.col("k") >= 10_000) & (F.col("k") <= 10_050)).collect())
    )
    assert sorted(map(tuple, got.collect())) == expect

    # out-of-domain range: zero files read, empty result, schema kept
    nothing = t.read_range(spark, "k", 10**9, 10**9 + 5)
    assert nothing.count() == 0 and nothing.columns == ["k", "v"]


def test_read_range_fail_safe_and_nulls(spark, tmp_path):
    """Files without usable stats are always read (fail-safe); an
    all-null file is provably unmatchable by BETWEEN and is pruned;
    NULL rows never match (SQL semantics)."""
    from pyspark.sql import functions as F

    from nycitibike_data_transform_spark.versioning import VersionedTable

    t = VersionedTable(str(tmp_path / "zmn"))
    mixed = spark.createDataFrame(
        [(1, "a"), (2, None), (None, "c"), (None, "d")], "k int, s string"
    )
    t.write_version(mixed.repartition(1))
    got = sorted(
        map(tuple, t.read_range(spark, "k", 0, 10).select("k", "s").collect())
    )
    assert got == [(1, "a"), (2, None)]

    # stats come from the manifest: identical on every call
    v = t.current_version()
    stats1 = t.file_stats(v, ["k"])
    stats2 = t.file_stats(v, ["k"])
    assert stats1 == stats2
    for by_col in stats1.values():
        assert by_col["k"]["min"] == 1 and by_col["k"]["max"] == 2
        assert by_col["k"]["nulls"] == 2


def test_read_range_partitioned_snapshot_keeps_partition_column(spark, tmp_path):
    from pyspark.sql import functions as F

    from nycitibike_data_transform_spark.versioning import VersionedTable

    t = VersionedTable(str(tmp_path / "zmp"))
    df = spark.createDataFrame(
        [(i, f"p{i % 2}", i * 10) for i in range(40)], "k int, part string, v int"
    )
    t.write_version(df.repartition("part"), partition_by=("part",))
    got = t.read_range(spark, "k", 5, 8)
    assert set(got.columns) == {"k", "part", "v"}
    rows = sorted(map(tuple, got.select("k", "part", "v").collect()))
    assert rows == [(5, "p1", 50), (6, "p0", 60), (7, "p1", 70), (8, "p0", 80)]


def test_zorder_compaction_skips_on_every_dimension(spark, tmp_path):
    """Z-ORDER (Morton-curve) compaction: after compact(zorder_by=
    ("a","b")), range reads on EITHER column open a fraction of the
    files — where lexicographic cluster_by=("a","b") skips only on the
    leading column (a b-range opens everything). Answers always equal
    the plain filter."""
    from pyspark.sql import functions as F

    from nycitibike_data_transform_spark.versioning import VersionedTable

    # two INDEPENDENT pseudo-uniform dimensions (hash-derived, no RNG)
    df = spark.range(2_000_000).select(
        F.pmod(F.xxhash64("id"), F.lit(100_000)).alias("a"),
        F.pmod(F.xxhash64("id", F.lit(1)), F.lit(100_000)).alias("b"),
        F.xxhash64("id", F.lit(2)).alias("payload"),
    )

    def expect(col, lo, hi):
        return sorted(
            map(tuple, df.filter((F.col(col) >= lo) & (F.col(col) <= hi)).collect())
        )

    tz = VersionedTable(str(tmp_path / "z"))
    tz.write_version(df.repartition(8))
    tz.compact(spark, target_file_mb=1, cluster_by=None or (), zorder_by=("a", "b"))
    total = len(tz.manifest(tz.current_version())["files"])
    assert total >= 8
    for col in ("a", "b"):
        got = tz.read_range(spark, col, 40_000, 42_000)
        opened = len(got.inputFiles())
        assert 1 <= opened <= total // 2, (col, opened, total)
        assert sorted(map(tuple, got.collect())) == expect(col, 40_000, 42_000)

    # the lexicographic contrast: cluster_by skips on a, not on b
    tc = VersionedTable(str(tmp_path / "c"))
    tc.write_version(df.repartition(8))
    tc.compact(spark, target_file_mb=1, cluster_by=("a", "b"))
    totc = len(tc.manifest(tc.current_version())["files"])
    a_opened = len(tc.read_range(spark, "a", 40_000, 42_000).inputFiles())
    b_opened = len(tc.read_range(spark, "b", 40_000, 42_000).inputFiles())
    assert a_opened <= totc // 2
    assert b_opened == totc  # leading-column-only skipping


def test_zorder_validation(spark, tmp_path):
    from pyspark.sql import functions as F

    from nycitibike_data_transform_spark.versioning import VersionedTable

    t = VersionedTable(str(tmp_path / "zv"))
    df = spark.createDataFrame([(1, "x", "p")], "a int, s string, part string")
    t.write_version(df, partition_by=("part",))
    import pytest as _pytest

    with _pytest.raises(ValueError, match="unpartitioned"):
        t.compact(spark, zorder_by=("a",))
    t2 = VersionedTable(str(tmp_path / "zv2"))
    t2.write_version(df)
    with _pytest.raises(ValueError, match="exclusive"):
        t2.compact(spark, cluster_by=("a",), zorder_by=("a",))
    with _pytest.raises(ValueError, match="non-orderable-numeric"):
        t2.compact(spark, zorder_by=("s",))


def test_read_range_temporal_boundary_exact(spark, tmp_path):
    """r9 review (live-reproduced): TIMESTAMP_MICROS parquet stats come
    back tz-aware while bounds arrive naive; ISO-string comparison
    pruned a file whose min instant EQUALS the hi bound, silently
    dropping its rows. Stats now canonicalize to epoch micros — every
    boundary-equal case must survive, for timestamps and dates."""
    import datetime as dt

    from pyspark.sql import functions as F

    from nycitibike_data_transform_spark.versioning import VersionedTable

    t = VersionedTable(str(tmp_path / "tb"))
    rows = [(i, dt.datetime(1996, 1, i + 1)) for i in range(6)]
    df = spark.createDataFrame(rows, "k int, ts timestamp")
    # one file per row → every file boundary is a row value
    t.write_version(df.repartition(6, "k"))

    got = sorted(
        r["k"]
        for r in t.read_range(
            spark, "ts", dt.datetime(1996, 1, 2), dt.datetime(1996, 1, 5)
        ).collect()
    )
    assert got == [1, 2, 3, 4]  # both boundary days included

    # date column: lo-boundary mirror case
    ddf = spark.createDataFrame(
        [(i, dt.date(1996, 1, i + 1)) for i in range(6)], "k int, d date"
    )
    td = VersionedTable(str(tmp_path / "td"))
    td.write_version(ddf.repartition(6, "k"))
    gd = sorted(
        r["k"]
        for r in td.read_range(
            spark, "d", dt.date(1996, 1, 2), dt.date(1996, 1, 5)
        ).collect()
    )
    assert gd == [1, 2, 3, 4]


def test_read_box_multiplicative_pruning_on_zorder(spark, tmp_path):
    """read_box (k-dimensional rectangle) on a Z-ordered snapshot:
    each dimension independently cuts the file list, so the box opens
    fewer files than either single-column range — and the answer
    equals the plain conjunctive filter."""
    from pyspark.sql import functions as F

    from nycitibike_data_transform_spark.versioning import VersionedTable

    df = spark.range(2_000_000).select(
        F.pmod(F.xxhash64("id"), F.lit(100_000)).alias("a"),
        F.pmod(F.xxhash64("id", F.lit(1)), F.lit(100_000)).alias("b"),
        F.xxhash64("id", F.lit(2)).alias("payload"),
    )
    t = VersionedTable(str(tmp_path / "box"))
    t.write_version(df.repartition(8))
    t.compact(spark, target_file_mb=1, zorder_by=("a", "b"))
    total = len(t.manifest(t.current_version())["files"])

    a_rng, b_rng = (40_000, 45_000), (70_000, 75_000)
    a_only = len(t.read_range(spark, "a", *a_rng).inputFiles())
    b_only = len(t.read_range(spark, "b", *b_rng).inputFiles())
    box = t.read_box(spark, {"a": a_rng, "b": b_rng})
    opened = len(box.inputFiles())
    assert opened <= min(a_only, b_only) < total

    expect = sorted(
        map(
            tuple,
            df.filter(
                (F.col("a").between(*a_rng)) & (F.col("b").between(*b_rng))
            ).collect(),
        )
    )
    assert sorted(map(tuple, box.collect())) == expect

    with pytest.raises(ValueError, match="at least one"):
        t.read_box(spark, {})


def _nullable_extra():
    """An appended column, nullable as additive evolution requires."""
    return F.when(F.col("k") % 2 == 0, F.col("k"))


def _write_plain(spark, root, df):
    t = VersionedTable(root)
    t.write_version(df.repartitionByRange(4, "k"))
    return t


def _write_cow(spark, root, df):
    t = VersionedTable(root)
    parted = df.withColumn("p", (F.col("k") / 2500).cast("int"))
    t.write_version(parted.repartition("p"), partition_by=("p",))
    merged = parted.filter("p = 3").withColumn("extra", _nullable_extra())
    t.write_version_cow(merged.repartition("p"), _replace, "p")
    return t


def _write_bucketed(spark, root, df):
    from nycitibike_data_transform_spark.bucketed_table import (
        BucketedIncrementalTable,
    )

    t = BucketedIncrementalTable(root, ["k"], 4)
    t.write_full(spark, df)
    t.merge(spark, df.filter("k = 9000").withColumn("extra", _nullable_extra()), ["k"])
    return t


@pytest.mark.parametrize(
    "writer",
    [_write_plain, _write_cow, _write_bucketed],
    ids=["write_version", "write_version_cow", "bucketed_merge"],
)
def test_fresh_snapshot_stats_from_manifest_no_footer_sweep(
    spark, tmp_path, monkeypatch, writer
):
    """Every writer commits zone-map stats IN the manifest, collected
    at commit time (VERDICT r9 item #1): a range read on its snapshot
    opens ZERO parquet footers beyond the data files it scans, and no
    file besides the manifests appears under ``_versions``. The merges
    append a nullable column: files carried from the previous snapshot
    get the prunable all-null marker for it, fresh files real stats."""
    import pyarrow.parquet as pq

    df = spark.range(10_000).select(
        F.col("id").alias("k"), F.xxhash64("id").alias("v")
    )
    t = writer(spark, str(tmp_path / "mstats"), df)
    v = t.current_version()

    def boom(*a, **k):
        raise AssertionError("footer sweep ran on a fresh snapshot")

    monkeypatch.setattr(pq, "ParquetFile", boom)
    got = t.read_range(spark, "k", 100, 150)
    assert got.count() == 51
    if writer is _write_plain:
        assert len(got.inputFiles()) == 1  # 3 of 4 range files pruned
    else:
        prev = set(t.manifest(v - 1)["files"])
        stats = t.file_stats(v, ["extra"])
        carried = [s["extra"] for f, s in stats.items() if f in prev]
        fresh = {f for f in stats if f not in prev}
        assert carried and fresh
        assert all(
            s is not None and s["min"] is None and s["nulls"] == s["rows"] > 0
            for s in carried
        )
        assert all(stats[f]["extra"]["min"] is not None for f in fresh)
        ranged = t.read_range(spark, "extra", 0, 10**9)
        assert {os.path.basename(f) for f in ranged.inputFiles()} == {
            os.path.basename(f) for f in fresh
        }
    assert sorted(os.listdir(t._versions_dir)) == [
        f"v{i:08d}.json" for i in range(1, v + 1)
    ]


def test_manifest_without_current_stats_reads_every_file(
    spark, tmp_path, monkeypatch
):
    """A manifest without current-format stats (stripped here) is
    input the reader cannot trust for pruning: the range read falls
    back to reading every file — same answer — without opening a
    footer or writing anything beside the manifest."""
    import json as _json

    import pyarrow.parquet as pq

    t = VersionedTable(str(tmp_path / "legacy"))
    df = spark.range(10_000).select(
        F.col("id").alias("k"), F.xxhash64("id").alias("v")
    )
    t.write_version(df.repartitionByRange(4, "k"))
    v = t.current_version()
    mp = t._manifest_path(v)
    with open(mp) as f:
        m = _json.load(f)
    m.pop("stats"), m.pop("stats_fmt")
    with open(mp, "w") as f:
        _json.dump(m, f)

    def boom(*a, **k):
        raise AssertionError("footer sweep ran on the read path")

    monkeypatch.setattr(pq, "ParquetFile", boom)
    got = t.read_range(spark, "k", 100, 150)
    assert len(got.inputFiles()) == 4
    assert got.count() == 51
    assert os.listdir(t._versions_dir) == [f"v{v:08d}.json"]
    assert t.history()[0]["rows"] is None


def test_cow_commit_carries_stats_for_hardlinked_files(spark, tmp_path):
    """write_version_cow sweeps footers only for the partitions it
    replaced; hardlinked files carry their manifest stats forward
    verbatim (same inode, same footer — zero I/O)."""
    from nycitibike_data_transform_spark.versioning import VersionedTable

    t = VersionedTable(str(tmp_path / "cowstats"))
    df = spark.createDataFrame(
        [(1, 1, 10), (2, 1, 20), (3, 2, 30), (4, 2, 40)], "id int, day int, v int"
    )
    t.write_version(df.repartition("day"), partition_by=("day",))
    m1 = t.manifest(t.current_version())
    # touch only day=2
    merged = spark.createDataFrame(
        [(3, 2, 33), (4, 2, 40), (5, 2, 50)], "id int, day int, v int"
    ).repartition("day")
    t.write_version_cow(merged, _replace, "day")
    m2 = t.manifest(t.current_version())
    assert m2.get("stats_fmt") == m1["stats_fmt"]
    day1_files = [f for f in m2["files"] if f.startswith("day=1/")]
    assert day1_files and all(
        m2["stats"][f] == m1["stats"][f] for f in day1_files
    )
    # and the new snapshot's zone maps prune on v across partitions
    got = t.read_range(spark, "v", 45, 60)
    assert {r["id"] for r in got.collect()} == {5}


def test_decimal_zone_map_exact_above_2_53(spark, tmp_path):
    """decimal(18,2) stats above 2^53 in scaled space: the scaled-int
    encoding (ADVICE r9) keeps boundary comparisons exact — a file
    whose max equals the bound is kept, a disjoint file is pruned, and
    off-grid float bounds round conservatively (lo down, hi up)."""
    from decimal import Decimal

    from nycitibike_data_transform_spark.versioning import VersionedTable

    t = VersionedTable(str(tmp_path / "dec"))
    rows = [
        (1, Decimal("100.00")),
        (2, Decimal("200.00")),
        (3, Decimal("90071992547409.91")),  # scaled: 2^53 - 1
        (4, Decimal("90071992547409.95")),  # scaled: 2^53 + 3
    ]
    df = spark.createDataFrame(rows, "k int, amt decimal(18,2)")
    t.write_version(df.repartitionByRange(2, "amt"))
    v = t.current_version()
    stats = t.file_stats(v, ["amt"])
    assert len(stats) == 2
    hi_file = max(stats.values(), key=lambda s: s["amt"]["max"])["amt"]
    # exact scaled ints in the manifest — no float rounding anywhere
    assert hi_file["scale"] == 2
    assert hi_file["max"] == 9007199254740995  # 2^53 + 3, exactly

    # boundary point query at the max: the old float path could round
    # the stat below an exact int bound and prune the matching file
    point = Decimal("90071992547409.95")
    got = t.read_range(spark, "amt", point, point)
    assert len(got.inputFiles()) == 1  # low file pruned, hi file kept
    assert [r["k"] for r in got.collect()] == [4]

    # disjoint range prunes everything
    nothing = t.read_range(
        spark, "amt", Decimal("300.00"), Decimal("400.00")
    )
    assert nothing.count() == 0

    # off-grid float bound: conservative rounding keeps the candidate
    # file (floor the lo), residual filter returns the exact answer
    assert t.read_range(spark, "amt", 100.005, 100.005).count() == 0
    assert t.read_range(spark, "amt", 99.999, 100.001).count() == 1


def test_zorder_bits_scale_down_with_many_columns(spark, tmp_path):
    """9+ z-order columns at the default 8 bits would shift past bit
    63, where JVM shiftleft wraps mod 64 and silently corrupts the
    Morton key (ADVICE r9): bits now scale down so the key always fits
    a non-negative signed long; >62 columns raises."""
    import pytest as _pytest

    from nycitibike_data_transform_spark.versioning import VersionedTable

    cols = [f"c{i}" for i in range(9)]
    df = spark.range(500).select(
        *[(F.col("id") * (i + 1) % 97).alias(c) for i, c in enumerate(cols)]
    )
    z = VersionedTable._zvalue_column(df, tuple(cols))
    mn, mx = df.select(
        F.min(z).alias("mn"), F.max(z).alias("mx")
    ).first()
    assert mn >= 0  # a wrapped shift would set the sign bit
    assert mx < (1 << 63)
    # ... and the interleave still discriminates (not all-zero ranks)
    assert df.select(z.alias("z")).distinct().count() > 1

    with _pytest.raises(ValueError, match="62 columns"):
        VersionedTable._zvalue_column(
            df.select("*", *[F.lit(0).alias(f"x{i}") for i in range(60)]),
            tuple(cols + [f"x{i}" for i in range(60)]),
        )


def test_concurrent_writers_exactly_one_wins(spark, tmp_path):
    """Single-writer enforcement (VERDICT r9 item #3): two concurrent
    merges on one bucketed table — exactly one succeeds, the loser
    raises ConcurrentWriteError, and the committed snapshot is
    consistent with the winner alone."""
    import threading
    import time

    from nycitibike_data_transform_spark.bucketed_table import (
        BucketedIncrementalTable,
    )
    from nycitibike_data_transform_spark.versioning import (
        ConcurrentWriteError,
    )

    t = BucketedIncrementalTable(str(tmp_path / "race"), ["k"], 4)
    t.write_full(
        spark, spark.createDataFrame([(i, i) for i in range(8)], "k int, v int")
    )
    lock_path = os.path.join(t.root, "_lock")
    winner_done = {}

    def slow_merge():
        def snooze(batches):
            import time as _t

            _t.sleep(4)  # hold the lock long enough for the loser to hit it
            yield from batches

        upd = spark.createDataFrame([(1, 100)], "k int, v int").mapInPandas(
            snooze, "k int, v int"
        )
        winner_done["touched"] = t.merge(spark, upd, ["k"])

    th = threading.Thread(target=slow_merge)
    th.start()
    try:
        for _ in range(400):  # wait for the winner to take the lock
            if os.path.exists(lock_path):
                break
            time.sleep(0.05)
        else:
            raise AssertionError("winner never acquired the lock")
        with pytest.raises(ConcurrentWriteError, match="single-writer"):
            t.merge(
                spark, spark.createDataFrame([(2, 200)], "k int, v int"), ["k"]
            )
    finally:
        th.join()
    assert winner_done["touched"]  # the winner committed
    rows = {r["k"]: r["v"] for r in t.read_current(spark).collect()}
    assert rows[1] == 100  # winner's update landed
    assert rows[2] == 2  # loser's update did NOT land
    assert not os.path.exists(lock_path)  # lock released


def test_stale_lock_from_dead_writer_is_reclaimed(spark, tmp_path):
    """A writer killed mid-commit leaves a stale lock; the next writer
    detects the dead pid, reclaims the lock, and commits normally."""
    import subprocess

    from nycitibike_data_transform_spark.versioning import VersionedTable

    t = VersionedTable(str(tmp_path / "stale"))
    os.makedirs(t.root, exist_ok=True)
    proc = subprocess.Popen(["sleep", "0"])
    proc.wait()  # a real pid that is provably dead
    with open(os.path.join(t.root, "_lock"), "w") as f:
        f.write(str(proc.pid))
    assert t.write_version(_df(spark, [(1, "a")])) == 1
    assert not os.path.exists(os.path.join(t.root, "_lock"))


def test_live_lock_blocks_and_vacuum_is_locked(spark, tmp_path):
    """A lock held by a LIVE pid refuses both writes and vacuum (the
    orphan cleanup deletes exactly where a concurrent writer stages)."""
    from nycitibike_data_transform_spark.versioning import (
        ConcurrentWriteError,
        VersionedTable,
    )

    t = VersionedTable(str(tmp_path / "live"))
    t.write_version(_df(spark, [(1, "a")]))
    with open(os.path.join(t.root, "_lock"), "w") as f:
        f.write(str(os.getpid()))  # our own (live) pid
    try:
        with pytest.raises(ConcurrentWriteError):
            t.write_version(_df(spark, [(2, "b")]))
        with pytest.raises(ConcurrentWriteError):
            t.vacuum(keep=1)
    finally:
        os.unlink(os.path.join(t.root, "_lock"))
    assert t.write_version(_df(spark, [(2, "b")])) == 2


@pytest.mark.parametrize("partition_col", ["p", None],
                         ids=["partitioned", "unpartitioned"])
def test_overlapping_merges_fail_loudly_and_lose_no_update(
    spark, tmp_path, partition_col
):
    """A merge reads its base and commits under ONE commit-lock span:
    a second merge started while the first is inside its merge rule
    raises ConcurrentWriteError, and retried after the first commits
    it merges onto the first's snapshot — both updates survive.

    Before the base read moved under the lock, callers prepared the
    merge outside it (``read_current_as``, ``localCheckpoint``, the
    touched-partition filter, ``merge_upsert``) and only the commit
    was locked. That interleaving — writer A prepares k1→A, writer B
    prepares k2→B and commits, then A commits — raised nothing, and
    A's snapshot silently dropped B's update."""
    from nycitibike_data_transform_spark.versioning import (
        ConcurrentWriteError,
        merge_upsert,
    )

    root = str(tmp_path / "overlap")
    schema = "k string, p string, v string"
    VersionedTable(root).write_version(
        spark.createDataFrame([("k1", "p", "v1"), ("k2", "p", "v1")], schema),
        partition_by=(partition_col,) if partition_col else (),
    )

    def upsert(base, updates):
        return merge_upsert(base, updates, ["k"])

    b_updates = spark.createDataFrame([("k2", "p", "B")], schema)
    refused = []

    def upsert_while_b_starts(base, updates):
        try:
            VersionedTable(root).write_version_cow(b_updates, upsert, partition_col)
        except ConcurrentWriteError as e:
            refused.append(e)
        return upsert(base, updates)

    a_updates = spark.createDataFrame([("k1", "p", "A")], schema)
    t = VersionedTable(root)
    assert t.write_version_cow(a_updates, upsert_while_b_starts, partition_col) == 2
    assert len(refused) == 1
    assert t.write_version_cow(b_updates, upsert, partition_col) == 3
    assert {r["k"]: r["v"] for r in t.read_current(spark).collect()} == {
        "k1": "A",
        "k2": "B",
    }


def test_versioned_cow_schema_evolution_add_column(spark, tmp_path):
    """Additive schema evolution on the partition-scoped COW path
    (VERDICT r9 item #2): a merge that appends a nullable column
    commits without rewriting untouched partitions — their files stay
    hardlinked and byte-identical — and the snapshot reads back under
    the evolved manifest schema with NULL for pre-evolution rows."""
    from nycitibike_data_transform_spark.versioning import VersionedTable

    t = VersionedTable(str(tmp_path / "evo"))
    v1 = spark.createDataFrame(
        [(1, 1, "a"), (2, 1, "b"), (3, 2, "c")], "id int, day int, v string"
    )
    t.write_version(v1.repartition("day"), partition_by=("day",))
    day1_inodes = {
        f: os.stat(os.path.join(t._data_dir(1), f)).st_ino
        for f in t.manifest(1)["files"]
        if f.startswith("day=1/")
    }

    # merged slice for day=2 only, with an APPENDED nullable column
    merged = spark.createDataFrame(
        [(3, 2, "c2", 30), (4, 2, "d", 40)],
        "id int, day int, v string, score int",
    ).repartition("day")
    t.write_version_cow(merged, _replace, "day")

    got = {
        r["id"]: (r["v"], r["score"]) for r in t.read_current(spark).collect()
    }
    assert got == {
        1: ("a", None),  # pre-evolution rows read NULL for the new col
        2: ("b", None),
        3: ("c2", 30),
        4: ("d", 40),
    }
    # untouched partition: same inodes — zero bytes rewritten
    for f, ino in day1_inodes.items():
        assert os.stat(os.path.join(t._data_dir(2), f)).st_ino == ino
    # manifest schema evolved; time travel still reads the OLD schema
    assert [
        f["name"] for f in t.manifest(2)["schema"]["fields"]
    ] == ["id", "day", "v", "score"]
    # (partition columns surface last in partitioned reads, as always)
    assert t.read_version(spark, 1).columns == ["id", "v", "day"]

    # zone maps: the added column has real stats on the fresh file and
    # the PRUNABLE all-null marker on the carried (pre-evolution)
    # files — a range scan on the new column opens only the evolved
    # partition's files (BETWEEN can never match NULL)
    stats = t.file_stats(2, ["score"])
    fresh = [s["score"] for f, s in stats.items() if f.startswith("day=2/")]
    assert all(s is not None and s["min"] is not None for s in fresh)
    carried = [s["score"] for f, s in stats.items() if f.startswith("day=1/")]
    assert all(
        s is not None and s["min"] is None and s["nulls"] == s["rows"]
        for s in carried
    )
    ranged = t.read_range(spark, "score", 35, 50)
    assert all("day=2" in f for f in ranged.inputFiles())  # old files pruned
    assert {r["id"] for r in ranged.collect()} == {4}

    # guardrails: drops, re-types, and non-nullable adds all raise
    import pytest as _pytest

    with _pytest.raises(ValueError, match="additive-only"):
        t.write_version_cow(merged.drop("v"), _replace, "day")
    with _pytest.raises(ValueError, match="additive-only"):
        t.write_version_cow(
            merged.withColumn("v", merged["v"].cast("int")), _replace, "day"
        )
    with _pytest.raises(ValueError, match="must be nullable"):
        t.write_version_cow(merged.withColumn("flag", F.lit(1)), _replace, "day")


def test_partition_column_zone_maps_prune_file_list(spark, tmp_path):
    """Partition values are exact commit-time metadata (min = max = the
    hive dir value), so read_box prunes on partition columns at the
    FILE-LIST level — including combined with a data-column range
    (multiplicative), with a NULL partition (all-null marker: BETWEEN
    can never match), and with hive-escaped string values."""
    from nycitibike_data_transform_spark.versioning import VersionedTable

    t = VersionedTable(str(tmp_path / "pstats"))
    df = spark.createDataFrame(
        [(1, 1, 10), (2, 1, 20), (3, 2, 30), (4, 2, 40), (5, None, 50)],
        "id int, day int, v int",
    )
    t.write_version(df.repartition("day"), partition_by=("day",))

    # int partition: point query keeps only day=1 files
    got = t.read_box(spark, {"day": (1, 1)})
    assert all("day=1" in f for f in got.inputFiles())
    assert {r["id"] for r in got.collect()} == {1, 2}
    # the NULL partition is prunable for any range (BETWEEN ≠ NULL)
    assert not any("HIVE_DEFAULT" in f for f in
                   t.read_box(spark, {"day": (0, 9)}).inputFiles())
    # multiplicative with a data column
    box = t.read_box(spark, {"day": (2, 2), "v": (35, 60)})
    assert all("day=2" in f for f in box.inputFiles())
    assert {r["id"] for r in box.collect()} == {4}

    # string partition with a hive-escaped value round-trips exactly
    t2 = VersionedTable(str(tmp_path / "pstr"))
    sdf = spark.createDataFrame(
        [(1, "a/b", 1), (2, "plain", 2)], "id int, part string, v int"
    )
    t2.write_version(sdf.repartition("part"), partition_by=("part",))
    got2 = t2.read_box(spark, {"part": ("a/b", "a/b")})
    assert {r["id"] for r in got2.collect()} == {1}
    # one file kept (inputFiles URI-encodes the hive escaping)
    files2 = got2.inputFiles()
    assert len(files2) == 1 and "plain" not in files2[0]


def test_stale_reclaim_cannot_steal_a_fresh_live_lock(spark, tmp_path):
    """ADVICE r10 TOCTOU: between observing a dead lease and reclaiming
    it, another process may complete its own reclaim AND re-acquire a
    fresh LIVE lock at the same key. The reclaim is now a CONDITIONAL
    delete of exactly the observed lease — it fails against the fresh
    lock, and the late reclaimer raises instead of deleting the live
    writer's lock and proceeding (two concurrent writers, the lost
    update the single-writer contract exists to prevent)."""
    import subprocess

    from nycitibike_data_transform_spark.versioning import (
        ConcurrentWriteError,
        VersionedTable,
    )

    t = VersionedTable(str(tmp_path / "toctou"))
    os.makedirs(t.root, exist_ok=True)
    proc = subprocess.Popen(["sleep", "0"])
    proc.wait()  # a real, provably dead pid
    b = t._backend
    assert b.create_exclusive("_lock", str(proc.pid))

    # the late reclaimer reads the lock and sees the dead lease...
    observed = b.get("_lock")
    assert not b.lease_live(observed)

    # ...but before its delete lands, another reclaimer wins AND a
    # fresh writer acquires a LIVE lock at the same key
    assert b.delete_if("_lock", observed)
    assert b.create_exclusive("_lock", str(os.getpid()))

    # the late reclaimer's conditional delete of the STALE lease must
    # fail — the content changed — leaving the live lock intact
    assert not b.delete_if("_lock", observed)
    assert b.get("_lock") == str(os.getpid())

    # and a full acquisition attempt sees the live lease and raises
    with pytest.raises(ConcurrentWriteError, match="single-writer"):
        t.write_version(_df(spark, [(1, "a")]))
    b.delete_if("_lock", str(os.getpid()))
    assert t.write_version(_df(spark, [(1, "a")])) == 1


def test_evolution_lifecycle_compact_and_cross_version_diff(spark, tmp_path):
    """The realistic post-evolution lifecycle: (a) compact rewrites the
    mixed-generation snapshot into single-generation files where the
    added column is PHYSICAL (real footer stats, no more all-null
    markers); (b) snapshot_diff across the evolution boundary works by
    reading the pre-evolution version under the evolved schema
    (read_version_as — NULL-filled added columns)."""
    from pyspark.sql.types import StructType

    from nycitibike_data_transform_spark.operators.diff import snapshot_diff
    from nycitibike_data_transform_spark.versioning import VersionedTable

    t = VersionedTable(str(tmp_path / "lifecycle"))
    t.write_version(
        spark.createDataFrame(
            [(1, 1, "a"), (2, 2, "b")], "id int, day int, v string"
        ).repartition("day"),
        partition_by=("day",),
    )
    t.write_version_cow(
        spark.createDataFrame(
            [(2, 2, "b2", 20), (3, 2, "c", 30)],
            "id int, day int, v string, score int",
        ).repartition("day"),
        _replace,
        "day",
    )

    # (b) diff across the evolution boundary under the evolved schema
    evolved = StructType.fromJson(t.manifest(2)["schema"])
    old = t.read_version_as(spark, 1, evolved)
    new = t.read_current(spark).select(*[f.name for f in evolved.fields])
    got = {
        r["id"]: r["status"]
        for r in snapshot_diff(
            old.select(*[f.name for f in evolved.fields]), new, "id"
        ).collect()
    }
    assert got == {1: "unchanged", 2: "changed", 3: "added"}

    # (a) compact materializes the added column physically everywhere
    t.compact(spark, target_file_mb=64)
    v3 = t.current_version()
    stats = t.file_stats(v3, ["score"])
    assert stats and all(
        s["score"] is not None and s["score"]["rows"] > 0
        for s in stats.values()
    )
    rows = {r["id"]: r["score"] for r in t.read_current(spark).collect()}
    assert rows == {1: None, 2: 20, 3: 30}


def test_read_range_half_open_bounds(spark, tmp_path):
    """Either bound may be None: pruning still cuts from the bounded
    side, NULLs never match (comparison semantics), and (None, None)
    is an IS NOT NULL scan that still prunes all-null files."""
    from nycitibike_data_transform_spark.versioning import VersionedTable

    t = VersionedTable(str(tmp_path / "half"))
    df = spark.range(10_000).select(
        F.col("id").alias("k"), F.xxhash64("id").alias("v")
    )
    t.write_version(df.repartitionByRange(4, "k"))

    hi_only = t.read_range(spark, "k", None, 99)
    assert len(hi_only.inputFiles()) == 1  # only the lowest range file
    assert hi_only.count() == 100

    lo_only = t.read_range(spark, "k", 9_900, None)
    assert len(lo_only.inputFiles()) == 1  # only the highest range file
    assert lo_only.count() == 100

    # (None, None): IS NOT NULL over everything, all-null files pruned
    t2 = VersionedTable(str(tmp_path / "halfnull"))
    mixed = spark.createDataFrame(
        [(1, 1), (2, None), (3, None)], "id int, s int"
    )
    t2.write_version(mixed.repartitionByRange(3, "id"))
    got = t2.read_range(spark, "s", None, None)
    assert [r["id"] for r in got.collect()] == [1]
    assert len(got.inputFiles()) == 1  # the two all-null files pruned

    # half-open on a decimal column stays exact at the boundary
    from decimal import Decimal

    t3 = VersionedTable(str(tmp_path / "halfdec"))
    t3.write_version(
        spark.createDataFrame(
            [(1, Decimal("100.00")), (2, Decimal("90071992547409.95"))],
            "k int, amt decimal(18,2)",
        ).repartitionByRange(2, "amt")
    )
    got3 = t3.read_range(spark, "amt", Decimal("90071992547409.95"), None)
    assert [r["k"] for r in got3.collect()] == [2]
    assert len(got3.inputFiles()) == 1


def test_read_in_point_set_skipping(spark, tmp_path):
    """read_in opens only the files that can hold at least one
    requested key — and is GAP-AWARE: a file inside the requested
    hull but between two requested values is pruned, where a plain
    range scan over the hull would read it."""
    from nycitibike_data_transform_spark.versioning import VersionedTable

    t = VersionedTable(str(tmp_path / "inlist"))
    df = spark.range(10_000).select(
        F.col("id").alias("k"), F.xxhash64("id").alias("v")
    )
    # 4 disjoint range files: [0,2500), [2500,5000), [5000,7500), rest
    t.write_version(df.repartitionByRange(4, "k"))

    # two keys far apart: exactly the 2 covering files open — the hull
    # [100, 9900] spans ALL 4 files, so gap-awareness saves 2 reads
    got = t.read_in(spark, "k", [100, 9_900])
    assert len(got.inputFiles()) == 2
    assert {r["k"] for r in got.collect()} == {100, 9_900}
    hull = t.read_range(spark, "k", 100, 9_900)
    assert len(hull.inputFiles()) == 4  # the contrast

    # misses prune everything; NULL keys are ignored; empty list = ∅
    assert t.read_in(spark, "k", [1_000_000]).count() == 0
    assert {r["k"] for r in t.read_in(spark, "k", [None, 42]).collect()} == {42}
    empty = t.read_in(spark, "k", [])
    assert empty.count() == 0 and empty.columns == ["k", "v"]

    # decimal keys stay exact on the scaled grid past 2^53
    from decimal import Decimal

    td = VersionedTable(str(tmp_path / "indec"))
    td.write_version(
        spark.createDataFrame(
            [(1, Decimal("100.00")), (2, Decimal("90071992547409.95"))],
            "k int, amt decimal(18,2)",
        ).repartitionByRange(2, "amt")
    )
    gd = td.read_in(spark, "amt", [Decimal("90071992547409.95")])
    assert [r["k"] for r in gd.collect()] == [2]
    assert len(gd.inputFiles()) == 1

    # MIXED decimal scales across files (r11 ADVICE #4): bounds can't
    # be canonicalized onto one grid, so read_in must fail SAFE — no
    # value pruning, every file read, the residual isin still exact —
    # mirroring _cutoff_literal's None in read_topk. Injected via a
    # patched file_stats (no committed snapshot can mix scales today;
    # the fail-safe guards the invariant anyway).
    real_stats = td.file_stats(td.current_version(), ["amt"])
    mixed = {
        rel: {"amt": dict(by["amt"], scale=3 if i else 2)}
        for i, (rel, by) in enumerate(sorted(real_stats.items()))
    }
    orig = type(td).file_stats
    try:
        type(td).file_stats = lambda self, v, cols: mixed
        gm = td.read_in(spark, "amt", [Decimal("100.00")])
        assert len(gm.inputFiles()) == 2  # nothing pruned
        assert [r["k"] for r in gm.collect()] == [1]  # still exact
    finally:
        type(td).file_stats = orig


def test_read_topk_prunes_to_extreme_files(spark, tmp_path):
    """Zone-map-assisted top-k: after cluster-by layout the k extreme
    rows live in the extreme files — read_topk opens only those, both
    directions, with exact answers (residual sort+limit) and fail-safe
    behavior when stats can't prove k non-null rows."""
    from nycitibike_data_transform_spark.versioning import VersionedTable

    t = VersionedTable(str(tmp_path / "topk"))
    df = spark.range(10_000).select(
        F.col("id").alias("k"), F.xxhash64("id").alias("v")
    )
    t.write_version(df.repartitionByRange(4, "k"))

    top = t.read_topk(spark, "k", 100, tiebreak=("v",))
    assert len(top.inputFiles()) == 1  # only the highest range file
    assert [r["k"] for r in top.collect()] == list(range(9_999, 9_899, -1))

    bottom = t.read_topk(spark, "k", 100, ascending=True, tiebreak=("v",))
    assert len(bottom.inputFiles()) == 1
    assert [r["k"] for r in bottom.collect()] == list(range(100))

    # k spanning two files: both open, answer exact
    two = t.read_topk(spark, "k", 3_000, tiebreak=("v",))
    assert len(two.inputFiles()) == 2
    assert two.count() == 3_000

    # k larger than the table: everything opens, all rows come back
    assert t.read_topk(spark, "k", 50_000).count() == 10_000

    # nulls: with k beyond the non-null count, nothing is pruned and
    # NULLS LAST fills the tail
    tn = VersionedTable(str(tmp_path / "topkn"))
    tn.write_version(
        spark.createDataFrame(
            [(1, 10), (2, 20), (3, None), (4, None)], "id int, s int"
        ).repartitionByRange(4, "id")
    )
    got = [r["s"] for r in tn.read_topk(spark, "s", 3, tiebreak=("id",)).collect()]
    assert got == [20, 10, None]
    # ... while k within the non-null count prunes the all-null files
    small = tn.read_topk(spark, "s", 2, tiebreak=("id",))
    assert [r["s"] for r in small.collect()] == [20, 10]
    assert len(small.inputFiles()) == 2  # the two non-null single-row files


def test_nan_stats_are_unusable_never_wrongly_pruned(spark, tmp_path):
    """ADVICE r10 (generalized): Spark's parquet writer orders doubles
    with Double.compare, so a row group containing ANY NaN commits
    max=NaN into the footer (pinned below). Python comparisons against
    NaN are always False, which flips the fail-safe direction for the
    KEEP-style conditions in read_in ("∃ value <= max") and read_topk
    ("max >= m") — before the fix both silently pruned the NaN-bearing
    file. Now any stat entry touching NaN is UNUSABLE (always read),
    and usable stats prove a file NaN-free, keeping the top-k cutoff
    proof sound."""
    import math

    t = VersionedTable(str(tmp_path / "nan"))
    df = spark.createDataFrame(
        [
            (1, 1.0, 1), (1, 5.0, 2), (1, float("nan"), 3),
            (2, 10.0, 4), (2, 20.0, 5),
            (3, 100.0, 6), (3, 200.0, 7),
        ],
        "g int, x double, id int",
    )
    t.write_version(df.repartition("g"), partition_by=("g",))

    # footer pin: the NaN-bearing partition's stats are unusable; the
    # clean partitions' are real
    stats = t.file_stats(1, ["x"])
    by_g = {f.split("/")[0]: s["x"] for f, s in stats.items()}
    assert by_g["g=1"] is None  # NaN reached max -> unusable
    assert by_g["g=2"]["max"] == 20.0 and by_g["g=3"]["min"] == 100.0

    # descending top-2: NaN sorts FIRST (Spark: NaN > every numeric).
    # The cutoff m=100 comes from g=3 alone; g=1 must still be read
    # (unusable stats) and its NaN row must survive the pushed
    # residual filter (Spark comparisons use the same total order).
    top = t.read_topk(spark, "x", 2, tiebreak=("id",)).collect()
    assert math.isnan(top[0]["x"]) and top[1]["x"] == 200.0
    assert any("g=1" in f for f in
               t.read_topk(spark, "x", 2, tiebreak=("id",)).inputFiles())

    # ascending top-2: the two smallest REAL values (NaN sorts last
    # among non-nulls); the NaN file is read but its row filtered
    bottom = t.read_topk(spark, "x", 2, ascending=True, tiebreak=("id",))
    assert [r["x"] for r in bottom.collect()] == [1.0, 5.0]

    # read_in: value 5.0 lives in the NaN-contaminated file — before
    # the fix the bisect keep-test compared against max=NaN and pruned
    got = t.read_in(spark, "x", [5.0]).collect()
    assert [r["id"] for r in got] == [2]


def test_nullability_never_narrows_on_cow_commit(spark, tmp_path):
    """ADVICE r10: a cow merge whose plan recomputes a committed
    nullable column as non-nullable (literals, counts) must NOT narrow
    the committed manifest — hardlinked pre-evolution files may hold
    NULLs there, and a non-nullable read schema lets Catalyst fold
    IsNotNull over null rows. The commit preserves the committed
    nullability; the READ path rejects an explicitly narrowed schema."""
    from pyspark.sql.types import StructType

    t = VersionedTable(str(tmp_path / "narrow"))
    v1 = spark.createDataFrame(
        [(1, 1, None), (2, 1, 10), (3, 2, 30)], "id int, day int, score int"
    )  # score nullable, holds a real NULL in day=1
    t.write_version(v1.repartition("day"), partition_by=("day",))
    assert next(
        f["nullable"] for f in t.manifest(1)["schema"]["fields"]
        if f["name"] == "score"
    )

    # merged slice for day=2 with score recomputed NON-nullable
    merged = (
        spark.createDataFrame([(3, 2), (4, 2)], "id int, day int")
        .withColumn("score", F.lit(99))  # non-nullable literal
        .select("id", "day", "score")
    )
    assert not merged.schema["score"].nullable
    t.write_version_cow(merged, _replace, "day")

    # committed schema did NOT narrow
    assert next(
        f["nullable"] for f in t.manifest(2)["schema"]["fields"]
        if f["name"] == "score"
    )
    # the NULL row in the hardlinked day=1 file survives an
    # IsNotNull-shaped filter (no constant folding over a lie)
    cur = t.read_current(spark)
    assert cur.filter(F.col("score").isNull()).count() == 1
    assert {r["id"] for r in cur.filter(F.col("score").isNotNull()).collect()} \
        == {2, 3, 4}

    # READ path: requesting a narrowed schema raises instead of
    # pinning non-nullability over null-bearing files
    narrowed = StructType.fromJson(t.manifest(2)["schema"])
    for f in narrowed.fields:
        if f.name == "score":
            f.nullable = False
    with pytest.raises(ValueError, match="narrow nullability"):
        t.read_current_as(spark, narrowed)


def test_read_version_as_vacuumed_raises_explicitly(spark, tmp_path):
    """ADVICE r10: a vacuumed-but-in-range version must raise the same
    explicit 'was vacuumed' error read_version gives, not an opaque
    parquet path-not-found from the reader."""
    from pyspark.sql.types import StructType

    t = VersionedTable(str(tmp_path / "vac"))
    t.write_version(_df(spark, [(1, "a")]))
    t.write_version(_df(spark, [(2, "b")]))
    t.write_version(_df(spark, [(3, "c")]))
    t.vacuum(keep=1)
    schema = StructType.fromJson(t.manifest(3)["schema"])
    with pytest.raises(ValueError, match="was vacuumed"):
        t.read_version_as(spark, 1, schema)


def test_topk_cutoff_pushdown_temporal_and_decimal(spark, tmp_path):
    """VERDICT r10 item #3: read_topk's residual cutoff reaches the
    parquet scan for TIMESTAMP, DATE, and DECIMAL columns too — the
    canonicalized cutoff (epoch micros / unix days / scaled int) is
    mapped back through the exact inverse, the literal (not the
    column) wears the cast, and PushedFilters carries the comparison.
    Answers stay exact at the boundary instant and past 2^53 in
    scaled-decimal space."""
    import datetime as dt
    from decimal import Decimal

    # --- timestamp column, boundary-instant trap: the cutoff equals
    # a file's min exactly (the r9 tz-aware-vs-naive pruning bug's
    # shape) — the >= must keep it
    tt = VersionedTable(str(tmp_path / "ts"))
    rows = [
        (i, dt.datetime(1996, 1, 1) + dt.timedelta(days=i)) for i in range(12)
    ]
    df = spark.createDataFrame(rows, "id int, ts timestamp")
    tt.write_version(df.repartition(6))
    tt.compact(spark, target_file_mb=1, cluster_by=("ts",))
    top = tt.read_topk(spark, "ts", 3, tiebreak=("id",))
    assert [r["id"] for r in top.collect()] == [11, 10, 9]
    plan = top._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan
    assert "GreaterThanOrEqual(ts," in plan  # the inverse-mapped cutoff

    # --- date column
    td_ = VersionedTable(str(tmp_path / "date"))
    drows = [(i, dt.date(2020, 1, 1) + dt.timedelta(days=i)) for i in range(12)]
    ddf = spark.createDataFrame(drows, "id int, d date")
    td_.write_version(ddf.repartition(6))
    td_.compact(spark, target_file_mb=1, cluster_by=("d",))
    dtop = td_.read_topk(spark, "d", 3, tiebreak=("id",))
    assert [r["id"] for r in dtop.collect()] == [11, 10, 9]
    dplan = dtop._jdf.queryExecution().executedPlan().toString()
    assert "GreaterThanOrEqual(d," in dplan

    # --- decimal(18,2) past 2^53 in scaled space (the r9 float-ulp
    # trap): the scaled-int cutoff inverts exactly at the pinned scale
    tdec = VersionedTable(str(tmp_path / "dec"))
    big = [
        (1, Decimal("100.00")),
        (2, Decimal("200.00")),
        (3, Decimal("90071992547409.91")),  # scaled: 2^53 - 1
        (4, Decimal("90071992547409.95")),  # scaled: 2^53 + 3
        (5, Decimal("90071992547409.92")),  # scaled: 2^53, exactly
        (6, Decimal("50.00")),
    ]
    bdf = spark.createDataFrame(big, "id int, amt decimal(18,2)")
    tdec.write_version(bdf.repartition(3))
    tdec.compact(spark, target_file_mb=1, cluster_by=("amt",))
    dtop2 = tdec.read_topk(spark, "amt", 3, tiebreak=("id",))
    assert [r["id"] for r in dtop2.collect()] == [4, 5, 3]
    plan2 = dtop2._jdf.queryExecution().executedPlan().toString()
    assert "GreaterThanOrEqual(amt," in plan2
    # ascending direction pushes the <= cutoff too
    asc = tdec.read_topk(spark, "amt", 2, ascending=True, tiebreak=("id",))
    assert [r["id"] for r in asc.collect()] == [6, 1]
    plan3 = asc._jdf.queryExecution().executedPlan().toString()
    assert "LessThanOrEqual(amt," in plan3


def test_layout_readers_match_plain_scans_on_messy_data(spark, tmp_path):
    """Seeded randomized cross-check of every zone-map reader against
    the plain full-scan formulation over deliberately messy doubles
    (NaN, ±inf, NULLs, heavy duplicate ties) and a decimal column —
    pruning must change I/O, never answers, for ANY data shape. One
    table, many probes: cheaper and broader than a hypothesis-per-
    example table build."""
    import math
    import random
    from decimal import Decimal

    rng = random.Random(11)
    pool = [
        lambda: round(rng.uniform(-1000, 1000), 2),
        lambda: float("nan"),
        lambda: float("inf"),
        lambda: float("-inf"),
        lambda: None,
        lambda: float(rng.choice([0.0, 42.0, -7.5])),  # heavy ties
    ]
    rows = []
    for i in range(400):
        x = rng.choices(pool, weights=[70, 6, 3, 3, 10, 8])[0]()
        d = (
            None
            if rng.random() < 0.1
            else Decimal(rng.randrange(-10**7, 10**7)).scaleb(-2)
        )
        rows.append((i, x, d))
    df = spark.createDataFrame(rows, "id int, x double, amt decimal(18,2)")

    t = VersionedTable(str(tmp_path / "messy"))
    t.write_version(df.repartition(8))
    t.compact(spark, target_file_mb=1, cluster_by=("x",))

    full = t.read_current(spark)

    def key(v):
        # Spark's total order for sort verification: NULLS LAST,
        # NaN greater than any numeric
        if v is None:
            return (2, 0.0)
        if isinstance(v, float) and math.isnan(v):
            return (1, 0.0)
        return (0, float(v))

    for col in ("x", "amt"):
        vals = [r[col] for r in full.select(col).collect()]
        for k in (1, 7, 50, 401):
            for asc in (False, True):
                got = [
                    r[col]
                    for r in t.read_topk(
                        spark, col, k, ascending=asc, tiebreak=("id",)
                    ).collect()
                ]
                want = sorted(vals, key=key, reverse=not asc)
                if not asc:  # NULLS LAST both directions
                    want = [v for v in want if v is not None] + [
                        v for v in want if v is None
                    ]
                want = want[:k]
                assert list(map(str, got)) == list(map(str, want)), (
                    col, k, asc,
                )

    # read_box / read_in on the messy double column
    import pyspark.sql.functions as F

    got_box = {r["id"] for r in t.read_box(spark, {"x": (-100.0, 100.0)}).collect()}
    want_box = {
        r["id"]
        for r in full.filter((F.col("x") >= -100.0) & (F.col("x") <= 100.0)).collect()
    }
    assert got_box == want_box
    probe_vals = [42.0, -7.5, 123.45, float("inf")]
    got_in = {r["id"] for r in t.read_in(spark, "x", probe_vals).collect()}
    want_in = {r["id"] for r in full.filter(F.col("x").isin(probe_vals)).collect()}
    assert got_in == want_in


def test_history_and_explicit_full_rewrite(spark, tmp_path):
    """history() audits committed snapshots from manifests alone
    (exact rows from commit-time stats, bytes, partition spec);
    rewrite_full() is the explicit migration path for the non-additive
    changes _additive_evolution refuses — rename/re-type/drop — with
    the prior snapshot still time-travelable under its OWN schema."""
    t = VersionedTable(str(tmp_path / "hist"))
    df = spark.createDataFrame(
        [(1, 1, "a"), (2, 1, "b"), (3, 2, "c")], "id int, day int, v string"
    )
    t.write_version(df.repartition("day"), partition_by=("day",))
    t.write_version(
        df.unionAll(spark.createDataFrame([(4, 2, "d")], df.schema)).repartition(
            "day"
        ),
        partition_by=("day",),
    )

    h = t.history()
    assert [e["version"] for e in h] == [1, 2]
    assert [e["rows"] for e in h] == [3, 4]  # exact, from manifest stats
    assert h[1]["current"] and not h[0]["current"]
    assert all(e["partition_by"] == ["day"] for e in h)
    assert all(e["bytes"] > 0 and e["files"] >= 2 for e in h)
    assert h[0]["columns"] == ["id", "day", "v"]

    # a RENAME is additive-refused on the merge path...
    renamed = t.read_current(spark).withColumnRenamed("v", "label")
    with pytest.raises(ValueError, match="additive-only"):
        t.write_version_cow(renamed, _replace, "day")
    # ...and explicit through rewrite_full, keeping the partition spec
    v3 = t.rewrite_full(spark, lambda cur: cur.withColumnRenamed("v", "label"))
    assert v3 == 3
    assert t.manifest(3)["partition_by"] == ["day"]
    assert {r["label"] for r in t.read_current(spark).collect()} == {
        "a", "b", "c", "d",
    }
    # time travel still reads the OLD schema
    assert "v" in t.read_version(spark, 2).columns

    # a transform that DROPS the partition column falls back to
    # unpartitioned instead of failing the write
    v4 = t.rewrite_full(spark, lambda cur: cur.drop("day"))
    assert t.manifest(v4)["partition_by"] == []
    assert t.read_current(spark).count() == 4
    # history reflects the evolved shapes; vacuumed versions drop out
    t.vacuum(keep=2)
    assert [e["version"] for e in t.history()] == [3, 4]
    assert t.history()[1]["columns"] == ["id", "label"]


def test_commits_assemble_in_unique_staging_then_rename(spark, tmp_path):
    """r11 hardening: data is never written into the shared data/vN
    slot — each attempt assembles under a unique _staging dir and
    moves in with one atomic rename, fenced by the committed-check
    (a slot at or below the pointer can never be cleared). Crashed
    attempts leave only _staging orphans, swept by vacuum."""
    import os as _os

    from nycitibike_data_transform_spark.versioning import (
        ConcurrentWriteError,
    )

    t = VersionedTable(str(tmp_path / "stage"))
    t.write_version(_df(spark, [(1, "a")]))
    # no staging debris after a clean commit
    staging = _os.path.join(t.root, "_staging")
    assert not _os.path.exists(staging) or not _os.listdir(staging)

    # the fenced mover refuses a COMMITTED slot even under the lock
    with t._write_lock():
        victim = t._attempt_dir()
        _os.makedirs(victim)
        with pytest.raises(ConcurrentWriteError, match="committed by"):
            t._move_into_slot(victim, 1)
    assert t.read_version(spark, 1).count() == 1  # v1 untouched

    # a crashed attempt's staging orphan is swept by vacuum
    orphan = t._attempt_dir()
    _os.makedirs(orphan)
    with open(_os.path.join(orphan, "part-junk.parquet"), "w") as f:
        f.write("x")
    t.write_version(_df(spark, [(2, "b")]))
    t.vacuum(keep=2)
    assert not _os.path.exists(staging) or not _os.listdir(staging)
    assert t.versions() == [1, 2]
