"""One commit path for every snapshot writer (AST lint).

``write_version``, ``write_version_cow`` and the bucketed
``write_full``/``merge`` all commit through ``VersionedTable._commit``:
it alone puts the manifest and swaps the pointer, and the manifest's
zone-map stats format is known to ``versioning.py`` alone. A writer
that grows its own commit tail, or a module that reads or writes the
stats format itself, fails here.

The snapshot is also the only persisted-table format for pipeline
models and streaming upsert targets: those two modules never touch a
``DataFrameWriter`` themselves, and no module flips Spark's dynamic
partition-overwrite mode (the in-place overwrite a killed run tears).
Nor do they prepare a merge themselves: an incremental merge's base
read and input pinning happen under the commit lock, inside
``VersionedTable.write_version_cow`` or the bucketed ``merge``, so a
caller cannot derive a merge from a base another writer has already
replaced.
"""

from __future__ import annotations

import ast
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "nycitibike_data_transform_spark"

#: names that encode the manifest's stats format
STATS_NAMES = {
    "_STATS_FMT",
    "stats_fmt",
    "_sweep_footers",
    "_stats_cols",
    "_backfill_added_all_null",
}


def _trees():
    for path in sorted(PKG.rglob("*.py")):
        yield path.relative_to(PKG).as_posix(), ast.parse(path.read_text(), str(path))


def test_manifest_put_and_pointer_swap_have_one_call_site():
    sites: dict[str, list[str]] = {"_put_manifest": [], "_commit_pointer": []}
    for rel, tree in _trees():
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in sites
            ):
                sites[node.func.attr].append(f"{rel}:{node.lineno}")
    assert {k: len(v) for k, v in sites.items()} == {
        "_put_manifest": 1,
        "_commit_pointer": 1,
    }, sites


def test_stats_format_names_only_in_versioning():
    offenders = []
    for rel, tree in _trees():
        if rel == "versioning.py":
            continue
        for node in ast.walk(tree):
            if isinstance(node, ast.Name):
                name = node.id
            elif isinstance(node, ast.Attribute):
                name = node.attr
            elif isinstance(node, ast.alias):
                name = node.name
            elif isinstance(node, ast.Constant) and isinstance(node.value, str):
                name = node.value
            else:
                continue
            if name in STATS_NAMES:
                offenders.append(f"{rel}:{getattr(node, 'lineno', '?')} {name}")
    assert offenders == []


#: modules that persist tables only through the snapshot classes
SNAPSHOT_ONLY = ("pipeline.py", "streaming/upsert.py")


def test_pipeline_and_upsert_never_write_parquet_directly():
    offenders = [
        f"{rel}:{node.lineno}"
        for rel, tree in _trees()
        if rel in SNAPSHOT_ONLY
        for node in ast.walk(tree)
        if isinstance(node, ast.Attribute) and node.attr == "write"
    ]
    assert offenders == []


#: a merge's base read and input pinning — versioning.py and
#: bucketed_table.py only, under the commit lock
MERGE_PREP = {"read_current_as", "localCheckpoint"}


def test_pipeline_and_upsert_never_prepare_a_merge():
    offenders = [
        f"{rel}:{node.lineno} {node.attr}"
        for rel, tree in _trees()
        if rel in SNAPSHOT_ONLY
        for node in ast.walk(tree)
        if isinstance(node, ast.Attribute) and node.attr in MERGE_PREP
    ]
    assert offenders == []


def test_no_dynamic_partition_overwrite():
    offenders = [
        f"{rel}:{node.lineno}"
        for rel, tree in _trees()
        for node in ast.walk(tree)
        if isinstance(node, ast.Constant)
        and isinstance(node.value, str)
        and "partitionOverwriteMode" in node.value
    ]
    assert offenders == []
