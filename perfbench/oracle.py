"""Output checks against DuckDB over the same generated inputs.

The canonicalizer mirrors ``tools/check_oracle.py`` (order-insensitive
multiset of canonicalized values, columns sorted by name). It is
restated here rather than imported because that module puts a fixed
checkout path on ``sys.path`` at import, which would make a run of an
older checkout time the wrong package.
"""

from __future__ import annotations

import datetime as dt
import decimal
import os
from collections import Counter

import duckdb


def canon_value(v: object) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, decimal.Decimal):
        s = format(v, "f")
        if "." in s:
            s = s.rstrip("0").rstrip(".")
        return s or "0"
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if isinstance(v, list):
        return "[" + ",".join(canon_value(x) for x in v) + "]"
    return str(v)


def canon_rows(columns: list[str], rows: list[tuple]) -> Counter:
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return Counter("|".join(canon_value(r[i]) for i in order) for r in rows)


def connect(sf_dir: str, tables: list[str]) -> duckdb.DuckDBPyConnection:
    """DuckDB connection with one view per generated table (a relayout
    table is a directory of parquet parts)."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in tables:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if not os.path.exists(path):
            continue
        if os.path.isdir(path):
            path = f"{path}/*.parquet"
        con.sql(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{path}'")
    return con


def compare(columns: list[str], rows: list[tuple], con, sql: str) -> str | None:
    """None when the Spark result equals the oracle's, else a short reason."""
    rel = con.sql(sql)
    o_cols = list(rel.columns)
    o_rows = rel.fetchall()
    if sorted(columns) != sorted(o_cols):
        return f"columns {sorted(columns)} != oracle {sorted(o_cols)}"
    if len(rows) != len(o_rows):
        return f"rowcount {len(rows)} != oracle {len(o_rows)}"
    s, o = canon_rows(columns, rows), canon_rows(o_cols, o_rows)
    if s != o:
        return f"values differ: spark-only {list((s - o))[:2]} oracle-only {list((o - s))[:2]}"
    return None
