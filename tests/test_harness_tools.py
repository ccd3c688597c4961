"""The timing harness (``bench.py`` and ``tools/*.py``) stays importable,
and the scale-stress replica stays join-consistent."""

from __future__ import annotations

import importlib
from pathlib import Path

import pytest

TOOLS = sorted(
    p.stem
    for p in (Path(__file__).resolve().parent.parent / "tools").glob("*.py")
    if p.stem != "__init__"
)


@pytest.mark.parametrize("module", ["bench", *(f"tools.{t}" for t in TOOLS)])
def test_harness_module_imports(module):
    """A renamed or deleted ``bench`` helper fails here, not the next
    time someone runs the tool."""
    importlib.import_module(module)


def test_stress_replica_keeps_every_line_with_its_order(
    spark, sf_dir: str, tmp_path: Path
):
    """``stress_full.build`` shifts ``l_orderkey`` and ``o_orderkey`` by
    the same amount per copy: at K=2 both tables double and every
    replica line still joins to an order (a replica that copies orders
    1× would leave half the lines orphaned and the lineitem⋈orders
    queries would join only the 1× data)."""
    from tools.stress_full import build

    build(spark, 2, sf_dir, str(tmp_path))

    def read(root, table):
        return spark.read.parquet(f"{root}/{table}.parquet")

    li, od = read(tmp_path, "lineitem"), read(tmp_path, "orders")
    assert li.count() == 2 * read(sf_dir, "lineitem").count()
    assert od.count() == 2 * read(sf_dir, "orders").count()
    orphans = li.join(od, li.l_orderkey == od.o_orderkey, "left_anti")
    assert orphans.count() == 0
