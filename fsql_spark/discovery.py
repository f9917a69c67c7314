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

Scale positioning: this path is used ONLY where Catalyst cannot do the work —
black-box :class:`~fsql_spark.queries.AtomicQuery` predicates and non-Hive
layouts. It is O(#surviving-partitions) driver work over *metadata*, exactly
like the reference; the data scan that follows is one distributed
``spark.read``. When the survivors form one Hive layout
(:func:`hive_layout`), Spark gets their directories
(:func:`covering_prefixes`) under ``basePath`` and an exact filter on the
partition columns, so it lists directories the driver already judged
instead of one path per file; otherwise it gets the file list. Listing
fan-out uses a thread pool per level, mirroring the reference's noted
"parallelisation opportunity" (`partition_discovery.py:71`).

Hive layouts with expressible queries take the fast path instead. There
:func:`query_prefixes` lists only the top levels, with the same pruning oracle
and the same per-level pool, and stops while the survivors still fit Spark's
serial-listing threshold: Spark's ``InMemoryFileIndex`` then lists below the
kept prefixes and ``PruneFileSourcePartitions`` prunes what is left. This is
the reference's own advice (``generate()`` before ``ls``) applied to a listing.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from typing import Iterable, Iterator, Optional

from .column_parser import ColumnParser
from .fs import FileSystem, is_hidden
from .queries import Query

_LIST_POOL_SIZE = 32  # reference uses a 32-thread fetch pool (`deser.py:153`)
# Hadoop globs every path handed to load(): a name holding one of these
# would be read as a pattern, not as itself
GLOB_CHARS = frozenset("*?[]{}\\")
# names Spark's own partition discovery would bind differently from the
# driver: it unescapes "%", and NUL separates the kept list of the exact
# filter on the driver-discovery load
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


def _ls_level(fs: FileSystem, urls: list[str]) -> list[tuple[list[str], list[str]]]:
    if len(urls) == 1:
        return [fs.ls(urls[0])]
    with ThreadPoolExecutor(min(_LIST_POOL_SIZE, len(urls))) as pool:
        return list(pool.map(fs.ls, urls))


def query_prefixes(
    query: Query, root: str, keys: list[str], fs: FileSystem, serial_limit: int
) -> Optional[list[str]]:
    """The directories under the Hive table ``root`` (partition ``keys``, in
    path order) that a fast-path read has to load for ``query``.

    Lists the tree one level at a time, each level's directories
    concurrently, and keeps each ``key=value`` child that ``eval_available``
    cannot rule out. It goes one level deeper only while the query still
    references a key at or below it, the level just listed pruned
    something, and the survivors fit ``serial_limit`` (Spark's
    serial-listing threshold: more paths than that start a listing job).
    When the survivors do not fit, their parents are returned instead.

    Returns ``[root]`` when nothing is gained or a name cannot be judged
    (not ``key=value`` under the expected key, or a glob character), and
    after a listing race, so that ``load`` reports the missing path. A
    value holding ``%`` is kept unpruned and unbound: Spark unescapes it,
    so the raw name is not the value. Returns ``None`` when a directory it
    lists below ``root`` holds data files (not one Hive layout), and ``[]``
    when the query rules out every partition.
    """
    level = [Partition(root, {})]
    referenced = query.referenced_columns()
    for depth, key in enumerate(keys):
        if not level or referenced.isdisjoint(keys[depth:]):
            break
        try:
            listings = _ls_level(fs, [p.url for p in level])
        except FileNotFoundError:
            return [root]
        kept: list[list[Partition]] = []
        listed, holds_files = 0, False
        for part, (files, dirs) in zip(level, listings):
            holds_files = holds_files or not all(map(is_hidden, files))
            survivors = []
            for d in dirs:
                if is_hidden(d):
                    continue
                name, sep, value = d.partition("=")
                if not sep or name != key or not GLOB_CHARS.isdisjoint(d):
                    return [root]
                listed += 1
                if "%" in value:
                    survivors.append(Partition(part.url + d + "/", part.columns))
                    continue
                child = part.expand_by(d + "/", (key, value))
                if query.eval_available(child.columns):
                    survivors.append(child)
            kept.append(survivors)
        if holds_files:
            # files beside or instead of the next key's directories: loading
            # the kept prefixes could hide that key from Spark's layout check
            return None
        if sum(map(len, kept)) == listed:
            break  # nothing pruned: this level loads the same files in fewer paths
        children = [c for survivors in kept for c in survivors]
        if len(children) > serial_limit:
            level = [p for p, survivors in zip(level, kept) if survivors]
            break
        level = children
    return [p.url for p in level]


def hive_layout(root: str, partitions: list[Partition]) -> Optional[tuple[list[str], list[tuple[str, ...]]]]:
    """The partition keys, in path order, and the distinct value tuples of
    the discovered files ``partitions`` when they form one Hive layout that
    Spark's own discovery binds the same way; None otherwise.

    One layout: every file sits directly under ``root + "k1=v1/.../kn=vn/"``,
    built from its own bindings, with the same keys in the same order for
    every file. Bound the same way: no segment holds ``%``, a Hadoop glob
    character or NUL, and no value is empty or the Hive null value. Reads
    the partitions only; lists nothing.
    """
    if not partitions:
        return None
    keys = list(partitions[0].columns)
    leaves: dict[tuple[str, ...], str] = {}
    for p in partitions:
        if list(p.columns) != keys:
            return None
        values = tuple(p.columns.values())
        leaf = leaves.get(values)
        if leaf is None:
            segments = [f"{k}={v}" for k, v in zip(keys, values)]
            if any(not v or v == _HIVE_NULL for v in values) or any(
                not _UNSAFE_CHARS.isdisjoint(s) for s in segments
            ):
                return None
            leaf = leaves[values] = root + "".join(s + "/" for s in segments)
        name = p.url[len(leaf):]
        if not p.url.startswith(leaf) or not name or "/" in name:
            return None
    return keys, list(leaves)


def covering_prefixes(root: str, keys: list[str], leaves: list[tuple[str, ...]], serial_limit: int) -> list[str]:
    """The directories to load for the leaf value tuples ``leaves`` of a Hive
    layout: the leaves themselves, or, when there are more than
    ``serial_limit`` (Spark's serial-listing threshold), their ancestors at
    the deepest level that has no more than ``serial_limit``."""
    heads, depth = set(leaves), len(keys)
    while len(heads) > serial_limit and depth:
        depth -= 1
        heads = {values[:depth] for values in heads}
    return [root + "".join(f"{k}={v}/" for k, v in zip(keys, head)) for head in sorted(heads)]
