"""Every public package name has a caller outside the tests (AST lint).

A public top-level function or class, a public method of a public
class, or a public UPPER_CASE module-level constant must be referenced as an ``ast.Name`` or ``ast.Attribute``
somewhere outside its own def: in the package, ``tools/``,
``bench.py``, ``__spark_entry__.py`` or ``perfbench/``. Imports and
``__all__`` entries are not references (neither is an ``ast.Name`` or
``ast.Attribute``). A name that only the tests reach is either
deleted or listed in ``DOCUMENTED_API`` with the reason it is kept.

Matching is by bare name, so a reference to any def of that name
counts: the lint errs towards passing, never towards a false alarm.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = ROOT / "nycitibike_data_transform_spark"
CALLER_SOURCES = [
    PKG,
    ROOT / "tools",
    ROOT / "bench.py",
    ROOT / "__spark_entry__.py",
    ROOT / "perfbench",
]

_QUALITY_API = "documented data-test builder (README 'Data tests', quality.py)"
_DEPLOY = "deployment target (DEPLOY.md)"
_TLC = "the reference's own models (README 'Switching from the reference')"
_README_SNIPPET = "used in README's 'Switching from the reference' snippet"
_PLAN_CHECKS = "plan assertion helper (plans/checks.py)"

#: public names no non-test code references, kept on purpose
DOCUMENTED_API: dict[str, str] = {
    "not_null_violations": _QUALITY_API,
    "unique_violations": _QUALITY_API,
    "accepted_values_violations": _QUALITY_API,
    "relationship_violations": _QUALITY_API,
    "expression_violations": _QUALITY_API,
    "freshness_violation": _QUALITY_API,
    "equal_rowcount_violation": _QUALITY_API,
    "fewer_rows_than_violation": _QUALITY_API,
    "not_null_proportion_violation": _QUALITY_API,
    "accepted_range_violations": _QUALITY_API,
    "not_constant_violation": _QUALITY_API,
    "S3Backend": _DEPLOY,
    "GCSBackend": _DEPLOY,
    "verify_conditional_support": _DEPLOY,
    "MemoryBackend": "in-process commit backend the tests substitute for S3/GCS",
    "location_id_to_neighborhood": _TLC,
    "aux_tlc_rides": _TLC,
    "read_parquet_source": _README_SNIPPET,
    "read_csv_seed": _README_SNIPPET,
    "rewrite_full": "README's migration path for non-additive schema changes",
    "lcc_forward_np": "numpy reference the Column LCC is tested against",
    "get_relations_by_pattern": "dbt_utils parity (README)",
    "has_broadcast_join": _PLAN_CHECKS,
    "pushed_filters": _PLAN_CHECKS,
    "embedding_near_dup_pairs": (
        "exact grid/broadcast tiers embedding_near_dup_probe is tested against"
    ),
    "parse_wkb_point": (
        "Point entry of the WKB parser; the tests pin the shared header "
        "(byte order, EWKB SRID, Z/M rejection) through it"
    ),
    "TAXI_ZONE_LOOKUP_SCHEMA": _README_SNIPPET,
}


def _sources(root: Path):
    paths = [root] if root.is_file() else sorted(root.rglob("*.py"))
    for path in paths:
        yield path, ast.parse(path.read_text(), str(path))


def _constants(node):
    """Public UPPER_CASE names a module-level assignment binds."""
    if isinstance(node, ast.Assign):
        targets = node.targets
    elif isinstance(node, ast.AnnAssign):
        targets = [node.target]
    else:
        return []
    return [t.id for t in targets if isinstance(t, ast.Name)
            and not t.id.startswith("_") and t.id.isupper()]


def _public_defs():
    """``(name, path, lineno, end_lineno)`` for every public def and
    constant in the package."""
    for path, tree in _sources(PKG):
        for node in tree.body:
            for name in _constants(node):
                yield name, path, node.lineno, node.end_lineno
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                continue
            if node.name.startswith("_"):
                continue
            yield node.name, path, node.lineno, node.end_lineno
            if isinstance(node, ast.ClassDef):
                for item in node.body:
                    if isinstance(
                        item, (ast.FunctionDef, ast.AsyncFunctionDef)
                    ) and not item.name.startswith("_"):
                        yield item.name, path, item.lineno, item.end_lineno


def _test_only_defs() -> list[tuple[str, str]]:
    """``(name, "path:line")`` of every public def no caller source
    references outside the def itself."""
    refs: dict[str, list[tuple[Path, int]]] = {}
    for root in CALLER_SOURCES:
        for path, tree in _sources(root):
            for node in ast.walk(tree):
                if isinstance(node, ast.Name):
                    refs.setdefault(node.id, []).append((path, node.lineno))
                elif isinstance(node, ast.Attribute):
                    refs.setdefault(node.attr, []).append((path, node.lineno))
    return [
        (name, f"{path.relative_to(ROOT)}:{start}")
        for name, path, start, end in _public_defs()
        if all(p == path and start <= line <= end for p, line in refs.get(name, []))
    ]


def test_every_public_name_has_a_non_test_caller():
    uncalled = [f"{where} {name}" for name, where in _test_only_defs()
                if name not in DOCUMENTED_API]
    assert not uncalled, (
        "public names reached only from tests; delete them or add them to "
        f"DOCUMENTED_API with a reason: {uncalled}"
    )


def test_documented_api_lists_only_test_only_names():
    """An entry for a deleted name, or for one that gained a caller, is stale."""
    stale = set(DOCUMENTED_API) - {name for name, _ in _test_only_defs()}
    assert not stale, sorted(stale)
