"""Data-quality assertions — the dbt-schema-test analogue.

The reference *intends* data tests every cycle (reference
``setup_script.sh:8`` runs ``dbt test --data``) but ships zero test
definitions and the flag doesn't exist under its dbt version
(SURVEY.md §5.1). These are the checks it should have had, as engine
capabilities. Each test is declared once, as a :class:`DataTest` on one
relation (the ``schema.yml`` entry), and its ``*_violations`` builder
returns the violating rows (empty = pass) so callers can assert,
quarantine, or alert.

``check_all`` is the evaluator, and it runs a whole suite in ONE Spark
action. The tests on each relation compile into one one-row aggregate:
row predicates become ``count_if`` columns, the first unique-key set
becomes the ``groupBy`` the row predicates fold into as partial sums,
``not_constant`` a distinct count, row-count tests read the shared
``count(*)``, and a relationship test one left join to the parent's
distinct keys. The one-row aggregates are cross-joined and fetched
with one ``first()``. Only a failing test runs its sample query (its
violation frame, ``limit``-ed), so data rows never reach the driver
on a passing suite. A plain violation frame passed to ``check_all``
counts as a relation of its own.
"""

from __future__ import annotations

import operator
from collections.abc import Mapping, Sequence
from dataclasses import dataclass
from functools import reduce
from typing import ClassVar

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True, eq=False)
class DataTest:
    """One declared data test on ``relation``. :meth:`violations` is
    its sample query; ``check_all`` counts it inside the relation's
    fused aggregate, from the same predicate."""

    relation: DataFrame

    def violations(self) -> DataFrame:
        raise NotImplementedError


class _RowTest(DataTest):
    """A test that flags single rows: ``bad`` is the row predicate."""

    @property
    def bad(self) -> Column:
        raise NotImplementedError

    def violations(self) -> DataFrame:
        return self.relation.filter(self.bad)


@dataclass(frozen=True, eq=False)
class NotNull(_RowTest):
    cols: Sequence[str]

    @property
    def bad(self) -> Column:
        return reduce(operator.or_, (F.col(c).isNull() for c in self.cols))


@dataclass(frozen=True, eq=False)
class AcceptedValues(_RowTest):
    col: str
    values: Sequence[object]
    allow_null: bool = True

    @property
    def bad(self) -> Column:
        cond = ~F.col(self.col).isin(list(self.values))
        if self.allow_null:
            return cond & F.col(self.col).isNotNull()
        return cond | F.col(self.col).isNull()


@dataclass(frozen=True, eq=False)
class Expression(_RowTest):
    """Rows where a boolean invariant does NOT hold (NULL counts as a
    violation — an unknown invariant is a broken invariant)."""

    expr: Column

    @property
    def bad(self) -> Column:
        return ~F.coalesce(self.expr, F.lit(False))


@dataclass(frozen=True, eq=False)
class AcceptedRange(_RowTest):
    """``dbt_utils.accepted_range``: rows outside [min, max]. NULLs
    pass (pair with not_null for strictness — dbt semantics)."""

    col: str
    min_value: object = None
    max_value: object = None
    inclusive: bool = True

    @property
    def bad(self) -> Column:
        c = F.col(self.col)
        ok = F.lit(True)
        if self.min_value is not None:
            ok = ok & (c >= self.min_value if self.inclusive else c > self.min_value)
        if self.max_value is not None:
            ok = ok & (c <= self.max_value if self.inclusive else c < self.max_value)
        return c.isNotNull() & ~ok


@dataclass(frozen=True, eq=False)
class Unique(DataTest):
    """Key groups appearing more than once (the invariant the staged
    rides join depends on: dim keys must be unique or left joins fan
    out — SURVEY.md §5.2)."""

    cols: Sequence[str]

    @staticmethod
    def duplicated(n_rows: Column) -> Column:
        return n_rows > 1

    def violations(self) -> DataFrame:
        return (
            self.relation.groupBy(*self.cols)
            .agg(F.count(F.lit(1)).alias("n_rows"))
            .filter(self.duplicated(F.col("n_rows")))
        )


@dataclass(frozen=True, eq=False)
class NotConstant(DataTest):
    """``dbt_utils.not_constant``: one violation row when every
    (non-empty) relation row holds the same value."""

    col: str

    @staticmethod
    def constant(n_rows: Column, n_distinct: Column) -> Column:
        return (n_rows > 0) & (n_distinct <= 1)

    def violations(self) -> DataFrame:
        out = self.relation.agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct(self.col).alias("n_distinct"),
        )
        return out.filter(self.constant(F.col("n_rows"), F.col("n_distinct")))


@dataclass(frozen=True, eq=False)
class Relationship(DataTest):
    """Referential integrity: non-NULL ``key`` values of the relation
    with no ``parent_key`` in ``parent``."""

    key: str
    parent: DataFrame
    parent_key: str

    def joined(self, frame: DataFrame, marker: str) -> DataFrame:
        """``frame`` left-joined to the parent's DISTINCT keys, named
        ``marker``: no row fans out, so row counts over it still hold."""
        keys = self.parent.select(F.col(self.parent_key).alias(marker)).distinct()
        return frame.join(keys, F.col(self.key) == F.col(marker), "left")

    def orphan(self, marker: str) -> Column:
        return F.col(self.key).isNotNull() & F.col(marker).isNull()

    def violations(self) -> DataFrame:
        marker = "__parent_key"
        return (
            self.joined(self.relation, marker)
            .filter(self.orphan(marker))
            .drop(marker)
        )


@dataclass(frozen=True, eq=False)
class _RowCount(DataTest):
    """A test on the row counts of ``relation`` and ``other``: one
    violation row, ``columns`` = the two counts, when ``bad`` holds."""

    other: DataFrame
    columns: ClassVar[tuple[str, str]]

    @staticmethod
    def bad(n: Column, n_other: Column) -> Column:
        raise NotImplementedError

    def violations(self) -> DataFrame:
        a, b = self.columns
        counts = self.relation.agg(F.count(F.lit(1)).alias(a)).crossJoin(
            self.other.agg(F.count(F.lit(1)).alias(b))
        )
        return counts.filter(self.bad(F.col(a), F.col(b)))


class FewerRowsThan(_RowCount):
    """``dbt_utils.fewer_rows_than``: violation when the relation has
    >= rows than ``other``."""

    columns = ("count_df", "count_than")

    @staticmethod
    def bad(n: Column, n_other: Column) -> Column:
        return n >= n_other


class EqualRowcount(_RowCount):
    """``dbt_utils.equal_rowcount``: violation when the counts differ."""

    columns = ("count_a", "count_b")

    @staticmethod
    def bad(n: Column, n_other: Column) -> Column:
        return n != n_other


class _Frame(DataTest):
    """A plain violation frame handed to ``check_all``: every row of
    it is a violation."""

    def violations(self) -> DataFrame:
        return self.relation


def unique_violations(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    return Unique(df, cols).violations()


def not_null_violations(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    return NotNull(df, cols).violations()


def accepted_values_violations(
    df: DataFrame, col: str, values: Sequence[object], allow_null: bool = True
) -> DataFrame:
    return AcceptedValues(df, col, values, allow_null).violations()


def relationship_violations(
    child: DataFrame, child_key: str, parent: DataFrame, parent_key: str
) -> DataFrame:
    return Relationship(child, child_key, parent, parent_key).violations()


def expression_violations(df: DataFrame, expr: Column) -> DataFrame:
    return Expression(df, expr).violations()


def freshness_violation(
    df: DataFrame, ts_col: str, max_age_seconds: int, now: object
) -> DataFrame:
    """Source-freshness check (the dbt ``source freshness`` analogue,
    matching the reference's 4-hour cadence SLO): returns a one-row
    violation frame when the newest row is older than ``max_age`` —
    or when the source is EMPTY (newest_row NULL): a feed that
    stopped producing entirely is the stalest feed of all, and the
    naive ``age > max`` comparison would silently wave it through
    (NULL compares to nothing).
    ``now`` is passed in (a datetime) so checks are reproducible."""
    age = F.unix_micros(F.lit(now).cast("timestamp")) - F.unix_micros(F.max(F.col(ts_col)))
    out = df.agg(
        F.max(ts_col).alias("newest_row"),
        (age / 1_000_000).alias("age_seconds"),
    )
    return out.filter(
        (F.col("age_seconds") > max_age_seconds) | F.col("newest_row").isNull()
    )


# ---- dbt_utils 1.1.1 generic tests not already covered above (the
# reference installs dbt_utils via packages.yml:2; these complete its
# test surface). Every check is a single-pass aggregate or one bounded
# join — violation-frame style, composable with check_all().

def equal_rowcount_violation(a: DataFrame, b: DataFrame) -> DataFrame:
    return EqualRowcount(a, b).violations()


def fewer_rows_than_violation(df: DataFrame, than: DataFrame) -> DataFrame:
    return FewerRowsThan(df, than).violations()


def not_null_proportion_violation(
    df: DataFrame, col: str, at_least: float
) -> DataFrame:
    """``dbt_utils.not_null_proportion``: one violation row when the
    non-null share of ``col`` falls below ``at_least``. Empty input
    passes (proportion of nothing is vacuously fine — matches
    dbt_utils, whose SQL yields no failing rows on empty relations)."""
    # try_divide: ANSI mode raises on the empty-relation 0/0 otherwise
    out = df.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.try_divide(F.count(col), F.count(F.lit(1))).alias("not_null_proportion"),
    )
    return out.filter(
        (F.col("n_rows") > 0) & (F.col("not_null_proportion") < at_least)
    )


def accepted_range_violations(
    df: DataFrame,
    col: str,
    min_value: object = None,
    max_value: object = None,
    inclusive: bool = True,
) -> DataFrame:
    return AcceptedRange(df, col, min_value, max_value, inclusive).violations()


def not_constant_violation(df: DataFrame, col: str) -> DataFrame:
    return NotConstant(df, col).violations()


def sequential_values_violations(
    df: DataFrame, col: str, interval: int = 1, partition_by: str | None = None
) -> DataFrame:
    """``dbt_utils.sequential_values``: rows whose value is not exactly
    ``interval`` past the previous row's (ordered by the column itself,
    optionally per partition). One shuffle; lag is windowed, no
    self-join."""
    from pyspark.sql import Window

    w = (
        Window.partitionBy(partition_by) if partition_by else Window.partitionBy()
    ).orderBy(col)
    prev = F.lag(F.col(col)).over(w)
    return (
        df.withColumn("__prev", prev)
        .filter(F.col("__prev").isNotNull() & (F.col(col) != F.col("__prev") + interval))
        .drop("__prev")
    )


def mutually_exclusive_ranges_violations(
    df: DataFrame,
    lower_col: str,
    upper_col: str,
    partition_by: str | None = None,
) -> DataFrame:
    """``dbt_utils.mutually_exclusive_ranges`` (zero_length_forbidden +
    no overlaps): rows whose [lower, upper) is empty/inverted or
    overlaps the previous range in ``lower`` order. Windowed lag —
    O(n log n) per partition, never the naive O(n²) self-join."""
    from pyspark.sql import Window

    w = (
        Window.partitionBy(partition_by) if partition_by else Window.partitionBy()
    ).orderBy(lower_col, upper_col)
    # materialize the lag BEFORE filtering — window expressions are
    # not allowed directly inside a WHERE clause
    prev = F.col("__prev_upper")
    bad = (F.col(lower_col) >= F.col(upper_col)) | (
        prev.isNotNull() & (F.col(lower_col) < prev)
    )
    return (
        df.withColumn("__prev_upper", F.lag(F.col(upper_col)).over(w))
        .filter(bad)
        .drop("__prev_upper")
    )


class QualityError(AssertionError):
    pass


def _sum0(c: Column) -> Column:
    return F.coalesce(F.sum(c), F.lit(0))


def _aggregate(rel: DataFrame, members: list[tuple[int, DataTest]], rows: str) -> DataFrame:
    """One-row frame with ``rel``'s row count (as ``rows``) and, as
    ``__q_t{k}``, the count member test ``k`` reads."""
    frame, row_counts = rel, {}
    for k, t in members:
        if isinstance(t, Relationship):
            marker = f"__q_parent{k}"
            frame = t.joined(frame, marker)
            row_counts[f"__q_t{k}"] = t.orphan(marker)
        elif isinstance(t, _RowTest):
            row_counts[f"__q_t{k}"] = t.bad
    uniques = [(k, t.cols) for k, t in members if isinstance(t, Unique)]
    distinct = {k: t.col for k, t in members if isinstance(t, NotConstant)}
    n = F.col("__q_n")
    if uniques:
        # the first key set's groupBy carries the row predicates as
        # partial sums; its groups are what the distinct counts see
        k0, keys = uniques.pop(0)
        source = frame.groupBy(*keys).agg(
            F.count(F.lit(1)).alias("__q_n"),
            *(F.count_if(p).alias(a) for a, p in row_counts.items()),
        )
        cols = [
            _sum0(n).alias(rows),
            *(_sum0(F.col(a)).alias(a) for a in row_counts),
            F.count_if(Unique.duplicated(n)).alias(f"__q_t{k0}"),
        ]
        folded = {k: c for k, c in distinct.items() if c in keys}
    else:
        source = frame
        cols = [
            F.count(F.lit(1)).alias(rows),
            *(F.count_if(p).alias(a) for a, p in row_counts.items()),
        ]
        folded = distinct
    out = source.agg(*cols, *(F.countDistinct(c).alias(f"__q_t{k}") for k, c in folded.items()))
    for k, keys in uniques:
        groups = rel.groupBy(*keys).agg(F.count(F.lit(1)).alias("__q_n"))
        out = out.crossJoin(groups.agg(F.count_if(Unique.duplicated(n)).alias(f"__q_t{k}")))
    for k, c in distinct.items():
        if k not in folded:
            out = out.crossJoin(rel.agg(F.countDistinct(c).alias(f"__q_t{k}")))
    return out


def _violation_counts(tests: Sequence[DataTest]) -> list[int]:
    """Each test's violation count, from one Spark action: one one-row
    aggregate per relation (by object identity), cross-joined."""
    members: dict[int, tuple[DataFrame, list[tuple[int, DataTest]]]] = {}
    for k, t in enumerate(tests):
        members.setdefault(id(t.relation), (t.relation, []))[1].append((k, t))
        if isinstance(t, _RowCount):
            members.setdefault(id(t.other), (t.other, []))
    rows = {rid: f"__q{i}_rows" for i, rid in enumerate(members)}
    aggregates = [_aggregate(rel, ms, rows[rid]) for rid, (rel, ms) in members.items()]
    counts = []
    for k, t in enumerate(tests):
        n = F.col(rows[id(t.relation)])
        if isinstance(t, _Frame):
            c = n
        elif isinstance(t, NotConstant):
            c = t.constant(n, F.col(f"__q_t{k}")).cast("long")
        elif isinstance(t, _RowCount):
            c = t.bad(n, F.col(rows[id(t.other)])).cast("long")
        else:
            c = F.col(f"__q_t{k}")
        counts.append(c)
    return list(reduce(DataFrame.crossJoin, aggregates).select(*counts).first())


def check_all(named_checks: Mapping[str, DataTest | DataFrame], sample: int = 5) -> None:
    """Evaluate every check in one Spark action; raise one QualityError
    naming each failed check with its violation count and a small
    sample. A check is a declared :class:`DataTest` or a plain violation
    frame."""
    tests = {
        name: c if isinstance(c, DataTest) else _Frame(c) for name, c in named_checks.items()
    }
    if not tests:
        return
    failures: list[str] = []
    for (name, t), n in zip(tests.items(), _violation_counts(list(tests.values()))):
        if n:
            rows = t.violations().limit(sample).collect()
            failures.append(f"{name}: {n} violations, e.g. {[tuple(r) for r in rows]}")
    if failures:
        raise QualityError("; ".join(failures))
