"""Partition-predicate query language, compiled to Catalyst where possible.

Reproduces the semantics of the reference's ``Query`` protocol
(``/root/reference/src/fsql/query.py``). The Python-side
``eval_all``/``eval_available`` pair decides every read:

- the listing walk of every Hive read (``discovery.query_prefixes``) asks
  ``eval_available`` which ``key=value`` prefixes to go down into and
  ``eval_all`` which to keep; one literal list of the kept partitions then
  filters the one distributed scan;
- black-box predicates (:class:`AtomicQuery` — reference `query.py:46-63`)
  are judged the same way;
- non-Hive layouts handled by driver-side discovery (see ``discovery.py``).

Every built-in query also compiles to a Catalyst Column
(:meth:`Query.to_column`) that agrees with ``eval_all`` row by row.

Semantics contract (all from the reference):
- predicates see only *partition-path* columns, always strings, or None
  for a Hive NULL (``__HIVE_DEFAULT_PARTITION__``);
- ``eval_all``: missing referenced column => False (`query.py:55-58`);
- ``eval_available``: missing referenced column => True — "can't rule out
  yet", the pruning oracle (`query.py:60-63`);
- a built-in atom over a None value is False, as its Column is over NULL.
"""

from __future__ import annotations

import calendar
import datetime
import inspect
from abc import ABC, abstractmethod
from dataclasses import dataclass, field
from enum import Enum
from typing import Callable, Iterable, Optional, Union

from pyspark.sql import Column
from pyspark.sql import functions as F


class NotExpressibleError(Exception):
    """Raised when a query has no Catalyst Column equivalent (e.g. AtomicQuery)."""


class Query(ABC):
    """Two-method predicate protocol over partition-column bindings."""

    @abstractmethod
    def referenced_columns(self) -> frozenset[str]:
        """Partition columns this predicate reads."""

    @abstractmethod
    def eval_all(self, columns: dict[str, str]) -> bool:
        """Final verdict; referenced-but-unbound column => False."""

    @abstractmethod
    def eval_available(self, columns: dict[str, str]) -> bool:
        """Partial verdict during crawl; unbound column => True (optimistic)."""

    def to_column(self, available: frozenset[str] | None = None) -> Column:
        """Compile to a Catalyst Column over the partition columns.

        ``available`` is the set of partition columns the table actually has.
        When given, atoms referencing columns outside it compile to
        ``lit(False)`` — reproducing ``eval_all``'s missing-column => False
        contract (`query.py:55-58`) so e.g. ``Q_OR(Q_EQ(missing), Q_EQ(present))``
        still evaluates its satisfiable branch.
        """
        raise NotExpressibleError(type(self).__name__)

    def _gate(self, available: frozenset[str] | None, col: Column) -> Column:
        if available is not None and not self.referenced_columns().issubset(available):
            return F.lit(False)
        return col

    # ergonomic composition on top of the reference's Q_AND/Q_OR factories
    def __and__(self, other: "Query") -> "Query":
        return Q_AND(self, other)

    def __or__(self, other: "Query") -> "Query":
        return Q_OR(self, other)


@dataclass(frozen=True)
class ConstantQuery(Query):
    """Q_TRUE / Q_FALSE (reference `query.py:94-106`); Q_TRUE == full scan."""

    value: bool

    def referenced_columns(self) -> frozenset[str]:
        return frozenset()

    def eval_all(self, columns: dict[str, str]) -> bool:
        return self.value

    def eval_available(self, columns: dict[str, str]) -> bool:
        return self.value

    def to_column(self, available: frozenset[str] | None = None) -> Column:
        return F.lit(self.value)


Q_TRUE = ConstantQuery(True)
Q_FALSE = ConstantQuery(False)


class BooleanOperatorQuery(Query):
    """AND/OR composition; partial eval distributes over the operator
    (reference `query.py:33-43`)."""

    def __init__(self, left: Query, right: Query, op: str):
        if op not in ("and", "or"):
            raise ValueError(f"unsupported boolean operator: {op}")
        self.left, self.right, self.op = left, right, op

    def referenced_columns(self) -> frozenset[str]:
        return self.left.referenced_columns() | self.right.referenced_columns()

    def _combine(self, a: bool, b: bool) -> bool:
        return (a and b) if self.op == "and" else (a or b)

    def eval_all(self, columns: dict[str, str]) -> bool:
        return self._combine(self.left.eval_all(columns), self.right.eval_all(columns))

    def eval_available(self, columns: dict[str, str]) -> bool:
        return self._combine(self.left.eval_available(columns), self.right.eval_available(columns))

    def to_column(self, available: frozenset[str] | None = None) -> Column:
        lc, rc = self.left.to_column(available), self.right.to_column(available)
        return (lc & rc) if self.op == "and" else (lc | rc)


def Q_AND(left: Query, right: Query) -> Query:
    return BooleanOperatorQuery(left, right, "and")


def Q_OR(left: Query, right: Query) -> Query:
    return BooleanOperatorQuery(left, right, "or")


class AtomicQuery(Query):
    """Arbitrary Python predicate over named partition columns — the
    black-box/theta predicate (reference `query.py:46-63`). Referenced columns
    are introspected from the callable's signature unless given explicitly.

    Not Catalyst-expressible: the engine replicates the reference's pruning by
    evaluating it driver-side over enumerated partition bindings, then scanning
    only surviving paths (SURVEY §4.3.1). Scale note: this is O(#partitions)
    driver work — identical to the reference — while the data scan itself stays
    fully distributed.
    """

    def __init__(self, f: Callable[..., bool], columns: Optional[set[str]] = None):
        self.f = f
        self._columns = frozenset(columns) if columns else frozenset(inspect.getfullargspec(f).args)

    def referenced_columns(self) -> frozenset[str]:
        return self._columns

    def _call(self, columns: dict[str, str]) -> bool:
        return bool(self.f(**{k: v for k, v in columns.items() if k in self._columns}))

    def eval_all(self, columns: dict[str, str]) -> bool:
        if not self._columns.issubset(columns):
            return False
        return self._call(columns)

    def eval_available(self, columns: dict[str, str]) -> bool:
        if not self._columns.issubset(columns):
            return True
        return self._call(columns)


@dataclass(frozen=True)
class EqualsQuery(Query):
    """Q_EQ — equality on one partition column (reference `query.py:80-84`).

    Unlike the reference (which wraps a lambda in AtomicQuery), this is a
    first-class node so it compiles to ``col == lit`` and prunes via Catalyst.
    """

    column: str
    value: str

    def referenced_columns(self) -> frozenset[str]:
        return frozenset({self.column})

    def eval_all(self, columns: dict[str, str]) -> bool:
        return self.value is not None and columns.get(self.column) == self.value

    def eval_available(self, columns: dict[str, str]) -> bool:
        return self.column not in columns or (self.value is not None and columns[self.column] == self.value)

    def to_column(self, available: frozenset[str] | None = None) -> Column:
        return self._gate(available, F.col(self.column) == F.lit(self.value))


@dataclass(frozen=True)
class InQuery(Query):
    """Q_IN — membership on one partition column (reference `query.py:87-91`)."""

    column: str
    values: tuple

    def referenced_columns(self) -> frozenset[str]:
        return frozenset({self.column})

    def eval_all(self, columns: dict[str, str]) -> bool:
        value = columns.get(self.column)
        return value is not None and value in self.values

    def eval_available(self, columns: dict[str, str]) -> bool:
        if self.column not in columns:
            return True
        value = columns[self.column]
        return value is not None and value in self.values

    def to_column(self, available: frozenset[str] | None = None) -> Column:
        return self._gate(available, F.col(self.column).isin(list(self.values)))


def Q_EQ(column: str, value: str) -> Query:
    return EqualsQuery(column, value)


def Q_IN(column: str, values: Iterable) -> Query:
    return InQuery(column, tuple(values))


class ColumnComparator(Enum):
    """Per-column ordering for LexRangeQuery (reference `query.py:109-126`):
    lex = string order, num = int() order, wld = wildcard (always ties)."""

    lex = "lex"
    num = "num"
    wld = "wld"

    def compare(self, a: str, b: str) -> int:
        if self is ColumnComparator.wld:
            return 0
        if self is ColumnComparator.num:
            return int(a) - int(b)
        return -1 if a < b else (0 if a == b else 1)


@dataclass(frozen=True)
class ColumnRange:
    """One level of a lexicographic tuple range (reference `query.py:129-140`)."""

    name: str
    min_value: str
    max_value: str
    comparator: ColumnComparator = field(default=ColumnComparator.lex)

    def __post_init__(self):
        if self.comparator.compare(self.min_value, self.max_value) > 0:
            raise ValueError(f"invalid range (min > max): {self}")


class LexRangeQuery(Query):
    """Half-open lexicographic tuple range ``[min_tuple, max_tuple)`` over a
    chain of partition columns, with per-column lex/num/wld comparators
    (reference `query.py:143-184`). Half-open intervals splice:
    ``[p1,p2) + [p2,p3) == [p1,p3)``.

    DEVIATION (documented): the reference's flag state machine accepts some
    tuples >= max when min and max share an exact leading prefix (its
    ``at_minimum`` flag suppresses the max bound). We implement the pure
    tuple-lexicographic ``[min, max)`` semantics instead; the two agree on
    every case in the reference's own test matrix
    (`tests/test_lex_range_query.py`).
    """

    def __init__(self, ranges: list[ColumnRange]):
        self.ranges = list(ranges)

    def referenced_columns(self) -> frozenset[str]:
        # wld columns included: the reference checks column presence BEFORE
        # the wld skip (`query.py:161-164`), so a binding lacking a wld column
        # early-stops with the missing-column verdict
        return frozenset(r.name for r in self.ranges)

    def _eval(self, columns: dict[str, str], on_missing: bool) -> bool:
        tied_min = True  # bound columns so far exactly equal the min tuple
        tied_max = True  # ... exactly equal the max tuple
        for r in self.ranges:
            # missing-column check first, THEN the wld skip — reference order
            # (`query.py:161-164`): an unbound wld column still early-stops
            if r.name not in columns:
                return on_missing
            if r.comparator is ColumnComparator.wld:
                continue
            value = columns[r.name]
            if value is None:
                return False  # the Column compares NULL, which filters the row
            try:
                vs_min = r.comparator.compare(value, r.min_value)
                vs_max = r.comparator.compare(value, r.max_value)
            except ValueError:
                # DEVIATION (documented): a non-int()-able value under the num
                # comparator crashes the reference mid-crawl; here it simply
                # doesn't match — aligned with the Catalyst path, where
                # try_cast yields NULL => filtered
                return False
            if tied_min:
                if vs_min < 0:
                    return False
                if vs_min > 0:
                    tied_min = False
            if tied_max:
                if vs_max > 0:
                    return False
                if vs_max < 0:
                    tied_max = False
            if not tied_min and not tied_max:
                return True  # strictly inside: rest of the chain is irrelevant
        return not tied_max  # exactly == max prefix is excluded (half-open)

    def eval_all(self, columns: dict[str, str]) -> bool:
        return self._eval(columns, on_missing=False)

    def eval_available(self, columns: dict[str, str]) -> bool:
        return self._eval(columns, on_missing=True)

    def to_column(self, available: frozenset[str] | None = None) -> Column:
        """Expand to a boolean expression: ``tuple >= min AND tuple < max``.

        Spark struct comparison cannot express per-column num/wld comparators
        (SURVEY §2.2 Q7), so we build the classic lexicographic expansion; it
        stays inside whole-stage codegen and prunes partitions natively.

        When ``available`` truncates the chain (a referenced column the table
        lacks), ``eval_all`` semantics reduce to "strictly inside on the bound
        prefix" — the comparison never reaches the missing column — so both
        bounds become strict over the surviving prefix.
        """
        # walk the chain in declared order: wld columns contribute no
        # comparison but DO participate in the availability check (reference
        # checks missing before the wld skip, `query.py:161-164`) — an
        # unavailable column (wld or not) truncates the chain there
        effective: list[ColumnRange] = []
        truncated = False
        for r in self.ranges:
            if available is not None and r.name not in available:
                truncated = True
                break
            if r.comparator is not ColumnComparator.wld:
                effective.append(r)

        def columns(r: ColumnRange) -> tuple[Column, Column, Column]:
            """The value, min and max Columns of ``r``, built once."""
            if r.comparator is not ColumnComparator.num:
                return F.col(r.name), F.lit(r.min_value), F.lit(r.max_value)
            # try_cast: ANSI mode (Spark 4 default) makes a plain cast THROW
            # on non-numeric values, crashing the scan; NULL comparisons
            # propagate to NULL and the filter drops the row — matching the
            # Python evaluator's lenient semantics above
            return F.col(r.name).try_cast("long"), F.lit(int(r.min_value)), F.lit(int(r.max_value))

        chain = [columns(r) for r in effective]

        def ge_min(i: int) -> Column:
            if i == len(chain):
                # full chain: tuple == min is included; truncated chain: being
                # still tied at the cut means eval_all would have hit the
                # missing column and returned False
                return F.lit(not truncated)
            val, lo, _ = chain[i]
            return (val > lo) | ((val == lo) & ge_min(i + 1))

        def lt_max(i: int) -> Column:
            if i == len(chain):
                return F.lit(False)  # tuple == max is excluded (half-open)
            val, _, hi = chain[i]
            return (val < hi) | ((val == hi) & lt_max(i + 1))

        # coalesce: try_cast NULLs (non-numeric under num) must read as a
        # definite False, not three-valued NULL (the language has no NOT, so
        # this is exact)
        return F.coalesce(ge_min(0) & lt_max(0), F.lit(False))


def _parse_date(spec: Union[str, datetime.date]) -> datetime.date:
    if isinstance(spec, datetime.date):
        return spec
    return datetime.datetime.strptime(spec, "%Y/%m/%d").date()


class DateRangeQuery(Query):
    """``[start, end)`` date filter over three string partition columns
    (reference `daterange_utils.py:34-79`). Column names configurable; dates
    given as ``"yyyy/mm/dd"`` or ``datetime.date``.

    ``eval_available`` prunes with interval arithmetic: a partial binding (say
    year+month) is completed to its leftmost/rightmost possible date and tested
    for overlap with the range — the reference's pruning oracle.
    """

    def __init__(
        self,
        start: Union[str, datetime.date],
        end: Union[str, datetime.date],
        year_name: str = "year",
        month_name: str = "month",
        day_name: str = "day",
    ):
        self.start = _parse_date(start)
        self.end = _parse_date(end)
        self.year_name, self.month_name, self.day_name = year_name, month_name, day_name

    def referenced_columns(self) -> frozenset[str]:
        return frozenset({self.year_name, self.month_name, self.day_name})

    def eval_all(self, columns: dict[str, str]) -> bool:
        if not self.referenced_columns().issubset(columns):
            return False
        try:
            d = datetime.date(
                int(columns[self.year_name]), int(columns[self.month_name]), int(columns[self.day_name])
            )
        except (ValueError, TypeError):
            return False  # a malformed or None y/m/d binding matches nothing (lenient, like to_column)
        return self.start <= d < self.end

    def eval_available(self, columns: dict[str, str]) -> bool:
        if self.year_name not in columns:
            return True
        try:
            year = int(columns[self.year_name])
            month_lo = int(columns.get(self.month_name, "1"))
            month_hi = int(columns.get(self.month_name, "12"))
            day_lo = int(columns.get(self.day_name, "1"))
            day_hi = int(columns.get(self.day_name, str(calendar.monthrange(year, month_hi)[1])))
            leftmost = datetime.date(year, month_lo, day_lo)
            rightmost = datetime.date(year, month_hi, day_hi)
        except (ValueError, TypeError):
            # malformed or None binding (month=2/day=30, non-numeric, month=13):
            # every completion is invalid, so the subtree can never match —
            # same lenient non-match semantics as eval_all and to_column
            # (keeps the crawl and the Catalyst path consistent)
            return False
        return leftmost < self.end and rightmost >= self.start

    def to_column(self, available: frozenset[str] | None = None) -> Column:
        if available is not None and not self.referenced_columns().issubset(available):
            return F.lit(False)
        # try_to_date, NOT make_date: under ANSI mode (Spark 4 default)
        # make_date THROWS on invalid combos, and Catalyst's constant
        # propagation can synthesize them — e.g. `month='2' AND
        # make_date(year, month, day)` substitutes month=2 into make_date,
        # which then evaluates (year, 2, 31) on March partitions before the
        # month filter applies. try_to_date yields NULL; coalesce => False.
        d = F.try_to_date(
            F.concat_ws(
                "-", F.col(self.year_name), F.col(self.month_name), F.col(self.day_name)
            ),
            "y-M-d",
        )
        return F.coalesce((d >= F.lit(self.start)) & (d < F.lit(self.end)), F.lit(False))
