"""Driver-side partition discovery: crawl + prune for the non-Catalyst paths.

Reproduces the reference's recursive lazy crawl
(``/root/reference/src/fsql/partition_discovery.py:48-90``):

1. if the parser can ``generate()`` candidate segment names, synthesize the
   listing without touching the filesystem (static pruning, zero ``ls``);
2. otherwise list the directory (files/dirs, lexicographically sorted —
   determinism contract, `tests/test_listing_sorted.py`);
3. extend the partition bindings per subdirectory (duplicate key => error,
   `partition.py:15-21`);
4. prune subtrees whose bindings already falsify the query
   (``eval_available`` — the pruning oracle);
5. recurse with ``parser.tail()``; at terminal levels bind/filter files.

Two walks live here. :func:`discover_partitions` is this crawl, down to
the files; it serves value-only layouts with filename columns, bare-name
date generators, trees that are not one Hive layout, names Spark binds
otherwise than the driver, and non-Spark readers, which then get the file
list. :func:`query_prefixes` is the walk of every other Hive read: the same
pruning oracle, ``generate()`` before ``ls`` and the same per-level pool,
but it judges directories, not files, and stops as soon as every generated
level and every key the query references is bound. Spark gets the kept
prefixes under ``basePath`` (or their ancestors within its serial-listing
threshold, :func:`covering_prefixes`), its ``InMemoryFileIndex`` lists below
them, and a filter on the partition columns keeps the answer exact. Listing
fan-out uses a thread pool per level, mirroring the reference's noted
"parallelisation opportunity" (`partition_discovery.py:71`).
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from functools import partial
from typing import Iterator, Optional

from .column_parser import AutoParser, ColumnParser, DateRangeGenerator
from .fs import FileSystem, is_hidden
from .queries import Query

_LIST_POOL_SIZE = 32  # reference uses a 32-thread fetch pool (`deser.py:153`)
# Hadoop globs every path handed to load(): a name holding one of these
# would be read as a pattern, not as itself
GLOB_CHARS = frozenset("*?[]{}\\")
# names Spark's own partition discovery would bind differently from the
# driver: it unescapes "%", and NUL separates the kept list of the exact
# filter
_UNSAFE_CHARS = GLOB_CHARS | {"%", "\0"}
_HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"


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
    """Yield terminal (file-level) partitions surviving the query."""
    if not root.url.endswith("/"):
        root = Partition(root.url + "/", root.columns)
    yield from _walk(query, parser, root, fs)


def _walk(query: Query, parser: ColumnParser, part: Partition, fs: FileSystem) -> Iterator[Partition]:
    generated = parser.generate()
    if generated is not None:
        if parser.is_terminal_level():
            files, dirs = list(generated), []
        else:
            files, dirs = [], list(generated)
    else:
        try:
            files, dirs = fs.ls(part.url)
        except FileNotFoundError:
            # a GENERATED parent (zero-ls candidate synthesis) may name a
            # partition that holds no data — e.g. a DateRangeGenerator day
            # with no files. Treat as empty instead of crashing; listings of
            # real (listed) parents can't hit this outside delete races.
            files, dirs = [], []
        # Spark's convention: metadata paths (_spark_metadata, _SUCCESS,
        # .crc, ...) are invisible to table readers; _key=value is not
        files = [f for f in files if not is_hidden(f)]
        dirs = [d for d in dirs if not is_hidden(d)]

    survivors = []
    for d in dirs:
        child = part.expand_by(d + "/", parser.parse(d))
        if query.eval_available(child.columns):
            survivors.append(child)

    if len(survivors) > 1:
        with ThreadPoolExecutor(min(_LIST_POOL_SIZE, len(survivors))) as pool:
            subtrees = list(
                pool.map(lambda c: list(_walk(query, parser.tail(c.columns), c, fs)), survivors)
            )
        for subtree in subtrees:
            yield from subtree
    else:
        for child in survivors:
            yield from _walk(query, parser.tail(child.columns), child, fs)

    if parser.is_terminal_level():
        if parser.parses_filenames():
            for f in files:
                candidate = part.expand_by(f, parser.parse(f))
                if query.eval_all(candidate.columns):
                    yield candidate
        elif query.eval_all(part.columns):
            for f in files:
                yield part.expand_by(f, None)


def _each(fn, items: list) -> list:
    """``fn`` over ``items``, concurrently on the listing pool when there
    are several: on an object store each call is a request."""
    if len(items) < 2:
        return [fn(item) for item in items]
    with ThreadPoolExecutor(min(_LIST_POOL_SIZE, len(items))) as pool:
        return list(pool.map(fn, items))


def _ls_or_empty(fs: FileSystem, url: str) -> tuple[list[str], list[str]]:
    try:
        return fs.ls(url)
    except FileNotFoundError:
        # a generated parent may name a directory the tree lacks, and a
        # listed one may vanish before its turn: both hold nothing
        return [], []


def _generated_depth(parser: ColumnParser) -> int:
    """The depth of the deepest level ``parser`` generates, 0 for none.
    The generated names, not the tree, say which directories belong to
    the table, so the walk binds every such level."""
    if isinstance(parser, AutoParser):
        return max((i + 1 for i, g in enumerate(parser.grammars or ()) if g.values), default=0)
    return 3 if isinstance(parser, DateRangeGenerator) else 0  # year, month, day


@dataclass
class Walk:
    """What a prefix load reads: the ``keys`` the walk bound, in path order;
    the directories it ``kept`` at the deepest level it judged; the
    ``prefixes`` Spark loads (those or their ancestors); and whether the
    read is ``exact``, i.e. answers as the path join: ``kept`` passed
    ``eval_all`` and every name below must :func:`binds_alike`."""

    keys: list[str]
    kept: list[Partition]
    prefixes: list[str]
    exact: bool


def binds_alike(segment: str) -> bool:
    """Whether Spark's partition discovery binds the directory ``segment``
    as the path join does: ``key=value`` with a value neither empty nor
    the Hive null, and no ``%`` (Spark unescapes it), Hadoop glob
    character or NUL."""
    _, sep, value = segment.partition("=")
    return bool(sep and value) and value != _HIVE_NULL and _UNSAFE_CHARS.isdisjoint(segment)


def query_prefixes(
    query: Query, root: str, parser: ColumnParser, fs: FileSystem, serial_limit: int
) -> Optional[Walk]:
    """The one walk of a Hive table read: the directories under ``root``
    that Spark loads for ``query`` under ``parser`` (a bare or declared
    ``AutoParser``, or a ``DateRangeGenerator`` with ``key=value`` names).

    Goes down one level at a time while a generated level or a key the
    query references is still unbound. A level ``parser`` generates is
    named, not listed; any other is listed, each of its directories
    concurrently. Each ``key=value`` child that ``eval_available`` cannot
    rule out is kept.

    A bare ``AutoParser`` read with an expressible query answers as Spark's
    own partition discovery, narrowed by ``query.to_column``; so the walk
    also stops at a level that pruned nothing (its parents load the same
    files in fewer paths) or whose survivors exceed ``serial_limit``
    (Spark's serial-listing threshold: more paths than that start a
    listing job). A name it cannot judge (not ``key=value`` under the
    level's key, or a Hadoop glob character) loads the whole ``root``; a
    ``%`` value is kept unpruned and unbound, since Spark unescapes it.

    Every other read is ``exact``, answering as the path join: the
    survivors are judged with ``eval_all`` and loaded, or their ancestors
    within ``serial_limit`` (:func:`covering_prefixes`) are; a loaded
    prefix ending in a generated level is checked to exist. A name that
    is not ``key=value`` or that Spark would bind otherwise than the
    driver (:func:`binds_alike`) returns None.

    Either way a listed level that holds data files returns None, beside
    or instead of the next key's directories, unless it is the root of an
    unpartitioned table: loading the kept prefixes could hide a key from
    Spark's layout check.
    """
    must = _generated_depth(parser)
    # a bare AutoParser with an expressible query answers as Spark's own
    # partition discovery; every other read answers as the path join
    exact = not (query.expressible and isinstance(parser, AutoParser) and parser.grammars is None)
    referenced = query.referenced_columns()
    keys: list[str] = []
    generated: list[bool] = []
    level = [(Partition(root, {}), parser)]
    depth = None  # set when an expressible walk stops above its survivors
    while level and (len(keys) < must or not referenced.issubset(keys)):
        names = [p.generate() for _, p in level]
        generated.append(names[0] is not None)
        if not generated[-1]:
            listings = _each(partial(_ls_or_empty, fs), [part.url for part, _ in level])
            names = [[d for d in dirs if not is_hidden(d)] for _, dirs in listings]
            if not all(is_hidden(f) for files, _ in listings for f in files):
                if keys or any(names):
                    return None
                break  # an unpartitioned table
        key, judged, children = None, 0, []
        for (part, p), segments in zip(level, names):
            for segment in segments:
                name, sep, value = segment.partition("=")
                key = name if key is None else key
                if not sep or name != key or not GLOB_CHARS.isdisjoint(segment):
                    return None if exact else Walk([], [Partition(root, {})], [root], False)
                if exact and not binds_alike(segment):
                    return None
                judged += 1
                if "%" in value:
                    child = Partition(part.url + segment + "/", part.columns)
                else:
                    child = part.expand_by(segment + "/", (key, value))
                    if not query.eval_available(child.columns):
                        continue
                children.append((child, p.tail(child.columns)))
        level = children
        if key is None:
            break  # nothing below the kept directories
        keys.append(key)
        if not exact and (len(children) == judged or len(children) > serial_limit):
            depth = len(keys) - 1  # the parents: the same files in fewer paths, or few enough
            break
    kept = [part for part, _ in level]
    if exact:
        kept = [part for part in kept if query.eval_all(part.columns)]
    depth = len(keys) if depth is None else depth
    depth, prefixes = covering_prefixes(root, [p.url for p in kept], depth, serial_limit)
    if depth and generated[depth - 1]:
        prefixes = [url for url, found in zip(prefixes, _each(fs.isdir, prefixes)) if found]
        found = set(prefixes)
        kept = [part for part in kept if _ancestor(root, part.url, depth) in found]
    return Walk(keys, kept, prefixes, exact)


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
