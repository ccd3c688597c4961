"""HUGEINT lint for the DuckDB oracles (VERDICT r2 item #2).

DuckDB promotes ``sum(BIGINT)`` to HUGEINT (int128); Spark has no
int128 type, so any oracle column left as HUGEINT hash-mismatches at
the driver even when every value is identical. This class caused the
only driver red in both round 1 (``events_json``) and round 2
(``repetition_ratio``) while the local type-class compare tolerated
it. These tests make the local gate strictly stricter than the
driver on exactly this class:

1. the lint catches a deliberately un-cast ``sum(n)``;
2. no shipped oracle produces a HUGEINT column (schema-only check —
   DuckDB binds the relation without executing it).
"""

from __future__ import annotations

import sys
from pathlib import Path

import duckdb
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from tools.check_oracle import lint_oracle_types

SF_DIR = "/root/testdata/sf0.001"


def test_lint_catches_uncast_sum():
    con = duckdb.connect()
    rel = con.sql("SELECT sum(x) AS n FROM (VALUES (1), (2)) t(x)")
    problems = lint_oracle_types(list(rel.columns), [str(t) for t in rel.types])
    assert problems and "HUGEINT" in problems[0] and "'n'" in problems[0]


def test_lint_passes_cast_sum():
    con = duckdb.connect()
    rel = con.sql("SELECT CAST(sum(x) AS BIGINT) AS n FROM (VALUES (1), (2)) t(x)")
    assert lint_oracle_types(list(rel.columns), [str(t) for t in rel.types]) == []


def test_no_shipped_oracle_produces_hugeint():
    from nycitibike_data_transform_spark.catalog import TESTDATA_TABLES
    from nycitibike_data_transform_spark.queries import all_queries

    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.sql(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    offenders: dict[str, list[str]] = {}
    for name, spec in all_queries().items():
        if not spec.oracle:
            continue
        rel = con.sql(spec.oracle)
        problems = lint_oracle_types(
            list(rel.columns), [str(t) for t in rel.types]
        )
        if problems:
            offenders[name] = problems
    assert not offenders, f"HUGEINT oracle columns: {offenders}"
