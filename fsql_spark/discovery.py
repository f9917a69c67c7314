"""Driver-side partition discovery: crawl + prune for the non-Catalyst paths.

Reproduces the reference's lazy crawl
(``/root/reference/src/fsql/partition_discovery.py:48-90``), one level of
the tree at a time:

1. if the parser can ``generate()`` candidate segment names, synthesize the
   listing without touching the filesystem (static pruning, zero ``ls``);
2. otherwise list the directory (files/dirs, lexicographically sorted —
   determinism contract, `tests/test_listing_sorted.py`);
3. extend the partition bindings per subdirectory (duplicate key => error,
   `partition.py:15-21`);
4. prune subtrees whose bindings already falsify the query
   (``eval_available`` — the pruning oracle);
5. go down with ``parser.tail()``; at terminal levels bind/filter files.

One listing loop serves every driver walk: :func:`list_level` does steps 1
and 2 for a whole level, its ``ls`` calls on one pool of at most 32 threads
per level, the reference's fetch pool and its noted "parallelisation
opportunity" (`partition_discovery.py:71`). Both walks bind a
``key=value`` name as Spark's partition discovery does
(:func:`~fsql_spark.column_parser.hive_binding`: ``%XX`` escapes decoded,
``__HIVE_DEFAULT_PARTITION__`` as None), so every read path sees the same
values. :func:`discover_partitions` goes down to the files; it serves
value-only layouts with filename columns, bare-name date generators,
trees that are not one Hive layout, names Spark cannot bind (an empty
key or value), non-Spark readers (which then get the file list) and the
maintenance calls. :func:`query_prefixes` is the walk of every other Hive
read: it judges directories, not files, and stops as soon as every
generated level and every key the query references is bound. Spark gets
the kept prefixes under ``basePath`` (or their ancestors within its
serial-listing threshold, :func:`covering_prefixes`), its
``InMemoryFileIndex`` lists below them, and one literal list of the kept
partitions keeps the answer exact.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from functools import partial
from typing import Iterator, Optional

from .column_parser import AutoParser, ColumnParser, DateRangeGenerator, hive_binding
from .fs import FileSystem, is_hidden
from .queries import Query

_LIST_POOL_SIZE = 32  # reference uses a 32-thread fetch pool (`deser.py:153`)


@dataclass
class Partition:
    """A path prefix plus the partition-column bindings accumulated while
    descending (reference `partition.py:10-21`). Terminal partitions point at
    individual files."""

    url: str
    columns: dict[str, str] = field(default_factory=dict)

    def expand_by(self, segment: str, binding: tuple[str, str] | None) -> "Partition":
        columns = dict(self.columns)
        if binding is not None:
            key, value = binding
            if key in columns:
                raise ValueError(f"duplicate key inserted: {key}")
            columns[key] = value
        return Partition(self.url + segment, columns)


def discover_partitions(
    query: Query, parser: ColumnParser, root: Partition, fs: FileSystem
) -> Iterator[Partition]:
    """Yield terminal (file-level) partitions surviving the query, in the
    order of a depth-first crawl: listing order (generated names in
    generated order), a directory's subdirectory partitions before its own
    files. The crawl goes level by level, so each partition carries its
    position in that order and one sort restores it."""
    if not root.url.endswith("/"):
        root = Partition(root.url + "/", root.columns)
    level: list[tuple[Partition, ColumnParser, tuple[int, ...]]] = [(root, parser, ())]
    found: list[tuple[tuple[int, ...], Partition]] = []
    while level:
        children = []
        listings = list_level(fs, [(part, p) for part, p, _ in level])
        for (part, p, at), (files, dirs) in zip(level, listings):
            for i, d in enumerate(dirs):
                child = part.expand_by(d + "/", p.parse(d))
                if query.eval_available(child.columns):
                    children.append((child, p.tail(child.columns), (*at, i)))
            numbered = list(enumerate(files, len(dirs)))  # files follow the subdirectories
            if p.is_terminal_level() and p.parses_filenames():
                candidates = [(j, part.expand_by(f, p.parse(f))) for j, f in numbered]
                found += [((*at, j), c) for j, c in candidates if query.eval_all(c.columns)]
            elif p.is_terminal_level() and query.eval_all(part.columns):
                found += [((*at, j), part.expand_by(f, None)) for j, f in numbered]
        level = children
    found.sort(key=lambda item: item[0])
    yield from (part for _, part in found)


def list_level(fs: FileSystem, level: list[tuple[Partition, ColumnParser]]) -> list[tuple[list[str], list[str]]]:
    """The ``(files, dirs)`` of each ``(partition, parser)`` of ``level``:
    the names the parser generates, else one ``ls`` of the partition's
    directory, every ``ls`` of the level concurrently on one pool. Listed
    names drop what Spark's readers skip (:func:`~fsql_spark.fs.is_hidden`),
    and a directory that does not exist lists as empty. Every driver-side
    listing goes through here."""
    generated = [p.generate() for _, p in level]
    listed = iter(_each(partial(_ls_visible, fs), [part.url for (part, _), g in zip(level, generated) if g is None]))
    return [
        next(listed) if names is None else (names, []) if p.is_terminal_level() else ([], names)
        for (_, p), names in zip(level, generated)
    ]


def _each(fn, items: list) -> list:
    """``fn`` over ``items``, concurrently on the listing pool when there
    are several: on an object store each call is a request."""
    if len(items) < 2:
        return [fn(item) for item in items]
    with ThreadPoolExecutor(min(_LIST_POOL_SIZE, len(items))) as pool:
        return list(pool.map(fn, items))


def _ls_visible(fs: FileSystem, url: str) -> tuple[list[str], list[str]]:
    try:
        files, dirs = fs.ls(url)
    except FileNotFoundError:
        # a generated parent may name a directory the tree lacks, and a
        # listed one may vanish before its turn: both hold nothing
        return [], []
    return [f for f in files if not is_hidden(f)], [d for d in dirs if not is_hidden(d)]


def _generated_levels(parser: ColumnParser) -> list[bool]:
    """Whether ``parser`` generates each level below the root, down to the
    deepest one it generates. The generated names, not the tree, say which
    directories belong to the table, so the walk binds every such level."""
    if isinstance(parser, DateRangeGenerator):
        return [True] * 3  # year, month, day
    levels = [bool(g.values) for g in parser.grammars or ()] if isinstance(parser, AutoParser) else []
    while levels and not levels[-1]:
        levels.pop()
    return levels


@dataclass
class Walk:
    """What a prefix load reads: the ``keys`` the walk bound, in path order;
    the directories it ``kept`` at the deepest level it judged, each
    passing ``eval_all``; and the ``prefixes`` Spark loads (those or their
    ancestors)."""

    keys: list[str]
    kept: list[Partition]
    prefixes: list[str]


def query_prefixes(
    query: Query, root: str, parser: ColumnParser, fs: FileSystem, serial_limit: int
) -> Optional[Walk]:
    """The one walk of a Hive table read: the directories under ``root``
    that Spark loads for ``query`` under ``parser`` (a bare or declared
    ``AutoParser``, or a ``DateRangeGenerator`` with ``key=value`` names).

    Goes down one level at a time while a generated level or a key the
    query references is still unbound. A level ``parser`` generates is
    named, not listed; any other is listed, each of its directories
    concurrently. Each name binds as Spark's partition discovery binds it
    (:func:`~fsql_spark.column_parser.hive_binding`), and each child that
    ``eval_available`` cannot rule out is kept. The directories of the
    last level that pass ``eval_all`` are loaded, or their ancestors within
    ``serial_limit`` (Spark's serial-listing threshold, above which it
    lists with a Spark job; :func:`covering_prefixes`); a loaded prefix
    ending in a generated level is checked to exist (:func:`_existing`).

    Returns None, for driver discovery and the path join, at a name that
    is not ``key=value`` under the level's key, and at a listed level that
    holds data files beside or instead of the next key's directories,
    unless it is the root of an unpartitioned table: loading the kept
    prefixes could hide a key from Spark's layout check.
    """
    generated = _generated_levels(parser)
    referenced = query.referenced_columns()
    keys: list[str] = []
    level = [(Partition(root, {}), parser)]
    while level and (len(keys) < len(generated) or not referenced.issubset(keys)):
        listings = list_level(fs, level)
        if any(files for files, _ in listings):
            if keys or any(dirs for _, dirs in listings):
                return None
            break  # an unpartitioned table
        key, children = None, []
        for (part, p), (_, segments) in zip(level, listings):
            for segment in segments:
                binding = hive_binding(segment)
                if binding is None or key not in (None, binding[0]):
                    return None
                key = binding[0]
                child = part.expand_by(segment + "/", binding)
                if query.eval_available(child.columns):
                    children.append((child, p.tail(child.columns)))
        level = children
        if key is None:
            break  # nothing below the kept directories
        keys.append(key)
    kept = [part for part, _ in level if query.eval_all(part.columns)]
    depth, prefixes = covering_prefixes(root, [p.url for p in kept], len(keys), serial_limit)
    if 0 < depth <= len(generated) and generated[depth - 1]:
        found = _existing(fs, prefixes)
        prefixes = [url for url in prefixes if url in found]
        kept = [part for part in kept if _ancestor(root, part.url, depth) in found]
    return Walk(keys, kept, prefixes)


def _existing(fs: FileSystem, urls: list[str]) -> set[str]:
    """The directories among ``urls`` that exist: a parent of several of
    them is listed once, and any other costs one ``isdir``."""
    below: dict[str, list[str]] = {}
    for url in urls:
        below.setdefault(url[: url.rstrip("/").rindex("/") + 1], []).append(url)
    shared = [parent for parent, children in below.items() if len(children) > 1]
    listings = list_level(fs, [(Partition(parent), AutoParser()) for parent in shared])
    found = {parent + d + "/" for parent, (_, dirs) in zip(shared, listings) for d in dirs}
    alone = [children[0] for children in below.values() if len(children) == 1]
    return found.union(url for url, is_dir in zip(alone, _each(fs.isdir, alone)) if is_dir)


def _ancestor(root: str, url: str, depth: int) -> str:
    return root + "".join(s + "/" for s in url[len(root):].split("/")[:depth])


def covering_prefixes(root: str, urls: list[str], depth: int, serial_limit: int) -> tuple[int, list[str]]:
    """The level and the directories to load for the directories ``urls``
    under ``root``: their ancestors ``depth`` levels down, or, when those
    are more than ``serial_limit`` (Spark's serial-listing threshold), the
    ancestors at the deepest level that has no more."""
    while True:
        heads = sorted({_ancestor(root, url, depth) for url in urls})
        if len(heads) <= serial_limit or not depth:
            return depth, heads
        depth -= 1
