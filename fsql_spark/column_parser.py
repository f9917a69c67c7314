"""Path-grammar layer: how directory/file names map to partition columns.

Reproduces the reference's ``ColumnParser`` protocol
(``/root/reference/src/fsql/column_parser.py:47-66``): each parser is both a
*parser* (path segment -> column binding) and a *generator* (emit candidate
segment names without listing the filesystem — static pruning, zero ``ls``).

Spark positioning: the walk of every Hive read
(``discovery.query_prefixes``) drives an :class:`AutoParser`, bare or with
pre-declared partition values, or a :class:`DateRangeGenerator` with
``key=value`` names through this protocol: generated levels are named, not
listed, and Spark's native partition discovery binds the directories below
the kept prefixes. The driver-side crawl (``discovery.discover_partitions``)
uses it for the rest: value-only layouts (:class:`FixedColumnsParser` dirs +
filename column) and bare-name generators (SURVEY §4.3.2).

Every ``key=value`` name binds by Spark's rule (:func:`hive_binding`), so
the driver and Spark's partition discovery give the same values.
"""

from __future__ import annotations

import re
from abc import ABC, abstractmethod
from dataclasses import dataclass
from typing import Optional

HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"
_HEX_ESCAPE = re.compile("%([0-9A-Fa-f]{2})")


def _unescape(text: str) -> str:
    return _HEX_ESCAPE.sub(lambda m: chr(int(m[1], 16)), text)


def hive_binding(segment: str) -> Optional[tuple[str, Optional[str]]]:
    """The ``(column, value)`` Spark's partition discovery binds for the
    ``key=value`` name ``segment`` (split at the first ``=``); None for a
    name without ``=``. Each ``%XX`` with two hex digits becomes the
    character with that code, one character per escape (``%C3%BC`` is two),
    and any other ``%`` stays as written; a value of
    ``__HIVE_DEFAULT_PARTITION__`` is None, the NULL Spark writes it for."""
    key, eq, value = segment.strip("/").partition("=")
    if not eq:
        return None
    return _unescape(key), None if value == HIVE_NULL else _unescape(value)


@dataclass(frozen=True)
class PartitionGrammar:
    """One declared partition level: a column name and (optionally) its
    allowed values (reference `column_parser.py:41-44`)."""

    name: str
    values: Optional[tuple[str, ...]] = None


def parse_partition_spec(path_description: str) -> list[PartitionGrammar]:
    """Mini-grammar ``"col1/col2=v1/col3=[v4,v5,v6]/colFname"`` -> grammar list
    (reference ``ColumnParser.from_str``, `column_parser.py:68-83`)."""
    out: list[PartitionGrammar] = []
    for segment in path_description.split("/"):
        name, eq, rhs = segment.partition("=")
        if not eq:
            out.append(PartitionGrammar(name))
        elif rhs.startswith("["):
            out.append(PartitionGrammar(name, tuple(rhs.strip("[]").split(","))))
        else:
            out.append(PartitionGrammar(name, (rhs,)))
    return out


class ColumnParser(ABC):
    """Parser+generator for one level of the partition tree."""

    @abstractmethod
    def parse(self, segment: str) -> tuple[str, Optional[str]]:
        """Map a dir/file name to a (column, value) binding; a value of
        None is a NULL."""

    @abstractmethod
    def tail(self, bound: dict[str, str]) -> "ColumnParser":
        """Parser for the next level, given the bindings accumulated so far."""

    @abstractmethod
    def generate(self) -> Optional[list[str]]:
        """Candidate segment names at this level, or None to list the FS."""

    @abstractmethod
    def parses_filenames(self) -> bool:
        """True if the final level binds the *file name* as a column
        (reference `column_parser.py:135-136`, README.md:22)."""

    @abstractmethod
    def is_terminal_level(self) -> bool:
        """True if files at this level belong to the table."""

    @classmethod
    def from_str(cls, path_description: str) -> "ColumnParser":
        return cls(parse_partition_spec(path_description))  # type: ignore[call-arg]


class AutoParser(ColumnParser):
    """Hive-style ``key=value`` segments (reference `column_parser.py:86-120`).

    Bare (no grammars): unbounded depth, terminal at EVERY level — the
    reference's documented mixed-depth quirk (`column_parser.py:106-110`);
    files found at different depths carry different column sets. With
    grammars: fixed depth, and levels with declared values generate()
    their listings (no ``ls``).
    """

    def __init__(self, partition_grammars: Optional[list[PartitionGrammar]] = None):
        self.grammars = list(partition_grammars) if partition_grammars else None

    def parse(self, segment: str) -> tuple[str, Optional[str]]:
        binding = hive_binding(segment)
        if binding is None:
            raise ValueError(f"not a key=value partition segment: {segment!r}")
        return binding

    def tail(self, bound: dict[str, str]) -> "ColumnParser":
        return self if not self.grammars else AutoParser(self.grammars[1:])

    def generate(self) -> Optional[list[str]]:
        if self.grammars and self.grammars[0].values:
            g = self.grammars[0]
            return [f"{g.name}={v}" for v in g.values]
        return None

    def parses_filenames(self) -> bool:
        return False

    def is_terminal_level(self) -> bool:
        return not self.grammars  # bare: every level; with grammars: exhausted


class FixedColumnsParser(ColumnParser):
    """Value-only segments (``2022/10/...``) with positionally-declared column
    names; the LAST declared column binds the file name itself
    (reference `column_parser.py:123-147`)."""

    def __init__(self, partition_grammars: list[PartitionGrammar]):
        self.grammars = list(partition_grammars)

    def parse(self, segment: str) -> tuple[str, str]:
        return self.grammars[0].name, segment.strip("/")

    def tail(self, bound: dict[str, str]) -> "ColumnParser":
        return FixedColumnsParser(self.grammars[1:])

    def generate(self) -> Optional[list[str]]:
        if not self.grammars:
            # depth mismatch between declared spec and actual tree
            raise ValueError("no partitions remaining")
        values = self.grammars[0].values
        return list(values) if values else None

    def parses_filenames(self) -> bool:
        return True

    def is_terminal_level(self) -> bool:
        return len(self.grammars) == 1


class DateRangeGenerator(ColumnParser):
    """ColumnParser that *generates* year/month/day partitions for a
    ``[start, end)`` range instead of listing the filesystem
    (reference `daterange_utils.py:90-180`).

    Works with both ``year=2022`` and bare ``2022`` layouts
    (``include_column_in_path``). Each ``tail()`` narrows the range to the
    fixed outer value, so generated month/day lists are exact. Build via
    :meth:`build`; the end date is made inclusive internally.
    """

    _LEVELS = ("year", "month", "day", "files")

    def __init__(
        self,
        start,
        end,
        level: str,
        names: dict[str, str],
        include_column_in_path: bool,
    ):
        self.start, self.end = start, end
        self.level = level
        self.names = names  # logical level -> column name
        self.include_column_in_path = include_column_in_path

    @classmethod
    def build(
        cls,
        start,
        end,
        year_name: str = "year",
        month_name: str = "month",
        day_name: str = "day",
        include_column_in_path: bool = True,
    ) -> "DateRangeGenerator":
        import datetime as _dt

        from .queries import _parse_date

        names = {"year": year_name, "month": month_name, "day": day_name}
        # internally the range is inclusive (reference `daterange_utils.py:179`)
        return cls(
            _parse_date(start), _parse_date(end) - _dt.timedelta(days=1), "year", names, include_column_in_path
        )

    def parse(self, segment: str) -> tuple[str, Optional[str]]:
        if self.include_column_in_path:
            return hive_binding(segment)  # generated names all hold "="
        return self.names[self.level], segment.strip("/")

    def tail(self, bound: dict[str, str]) -> "ColumnParser":
        import calendar as _cal
        import datetime as _dt

        # narrow [start, end] to the dates consistent with the outer binding
        # ("heavy metal", reference `daterange_utils.py:118-137`)
        year = int(bound[self.names["year"]])
        if self.level == "year":
            start = self.start if year == self.start.year else _dt.date(year, 1, 1)
            end = self.end if year == self.end.year else _dt.date(year, 12, 31)
            nxt = "month"
        elif self.level == "month":
            month = int(bound[self.names["month"]])
            start = self.start if month == self.start.month else _dt.date(year, month, 1)
            last = _cal.monthrange(year, month)[1]
            end = self.end if month == self.end.month else _dt.date(year, month, last)
            nxt = "day"
        elif self.level == "day":
            start, end, nxt = self.start, self.end, "files"
        else:
            raise ValueError("tail() called past the terminal level")
        return DateRangeGenerator(start, end, nxt, self.names, self.include_column_in_path)

    def generate(self) -> Optional[list[str]]:
        if self.level == "year":
            rng = range(self.start.year, self.end.year + 1)
        elif self.level == "month":
            rng = range(self.start.month, self.end.month + 1)
        elif self.level == "day":
            rng = range(self.start.day, self.end.day + 1)
        else:
            return None  # file level: list the FS
        prefix = f"{self.names[self.level]}=" if self.include_column_in_path else ""
        return [f"{prefix}{v}" for v in rng]

    def parses_filenames(self) -> bool:
        return False

    def is_terminal_level(self) -> bool:
        return self.level == "files"

    @classmethod
    def from_str(cls, path_description: str):
        raise NotImplementedError("DateRangeGenerator is built via .build()")


AUTO_PARSER = AutoParser()
