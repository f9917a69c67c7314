"""Table maintenance: small-file compaction and layout stats.

The operational reality of 100 TB file-system tables: streaming sinks and
frequent small appends produce millions of tiny files, and scan throughput
collapses under per-file open/footer overhead. ``compact`` rewrites a
partitioned tree with right-sized files; ``file_stats`` measures the layout
so compaction can be triggered by policy (e.g. median file < 16 MB).

Both operate through the :class:`~fsql_spark.fs.FileSystem` abstraction, so
they work on any protocol the engine can discover over. CAVEAT (documented on
``FileSystem.move``): the directory swap in ``compact`` is an atomic rename on
local/HDFS-like filesystems but copy+delete on object stores — there, readers
can observe a missing/partial table during the swap. At cluster scale, compact
per-partition-subset and swap one partition at a time to bound both the
rewrite working set and the visibility window.
"""

from __future__ import annotations

import math
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .api import read_partitioned_table
from .column_parser import AUTO_PARSER
from .discovery import Partition, _each, discover_partitions
from .formats import InputFormat
from .fs import FileSystem, get_url_and_fs, is_hidden
from .queries import Q_TRUE
from .readers import SparkReader


def file_stats(spark: SparkSession, url: str, fs: Optional[FileSystem] = None) -> DataFrame:
    """Per-partition-directory file counts and byte sizes for a parquet tree.

    Driver-side metadata walk, no data I/O: driver discovery's crawl of the
    Hive tree (``Q_TRUE`` keeps every visible file, at any depth), then one
    stat call per file on the listing pool."""
    path, fs = get_url_and_fs(url, fs)
    root = path.rstrip("/") + "/"
    files = [part.url for part in discover_partitions(Q_TRUE, AUTO_PARSER, Partition(root), fs)]
    by_dir: dict[str, list[int]] = {}
    for file, size in zip(files, _each(fs.size, files)):
        by_dir.setdefault(file[len(root):].rpartition("/")[0], []).append(size)
    rows = [
        (rel, len(sizes), sum(sizes), min(sizes), max(sizes))
        for rel, sizes in sorted(by_dir.items())
    ]
    return spark.createDataFrame(
        rows, ["partition", "n_files", "total_bytes", "min_bytes", "max_bytes"]
    )


def compact(
    spark: SparkSession,
    url: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    partition_by: Optional[list[str]] = None,
    fs: Optional[FileSystem] = None,
) -> None:
    """Rewrite the tree with ~target-sized files.

    Reads the whole table with :func:`read_partitioned_table` (parquet only)
    and sizes its files on the listing pool as :func:`file_stats` finds
    them. Each value of ``partition_by`` becomes ceil(its bytes / target)
    files of its own, and small values share a task; ``partition_by``
    defaults to the Hive keys the read binds, so the tree keeps its layout
    (``[]`` flattens it). Then the directories are swapped. The swap is
    atomic only where ``FileSystem.move`` is (local/HDFS) — see the module
    docstring for the object-store caveat. At cluster scale run
    per-partition-subset to bound the rewrite working set."""
    import uuid

    path, fs = get_url_and_fs(url, fs)
    parts = list(discover_partitions(Q_TRUE, AUTO_PARSER, Partition(path), fs))
    keys = list(dict.fromkeys(key for part in parts for key in part.columns))
    if partition_by is None:
        partition_by = keys
    elif not set(partition_by) <= set(keys):
        raise ValueError(
            f"compact: partition_by {partition_by} must name partition keys of the tree {keys}"
        )
    bytes_of: dict[tuple, int] = {}
    for part, size in zip(parts, _each(fs.size, [part.url for part in parts])):
        value = tuple(part.columns.get(key) for key in partition_by)
        bytes_of[value] = bytes_of.get(value, 0) + size

    df = read_partitioned_table(
        path, Q_TRUE, data_reader=SparkReader(input_format=InputFormat.PARQUET), fs=fs, spark=spark
    )
    # unique staging/backup names: concurrent (or retried) compact calls on
    # the same table must not delete each other's in-flight output
    tag = uuid.uuid4().hex[:8]
    staging = path.rstrip("/") + f".compact_staging_{tag}"
    try:
        if partition_by:
            out = _by_value(df, partition_by, bytes_of, target_file_bytes)
            out = out.write.partitionBy(*partition_by)
        else:
            n_out = max(1, math.ceil(sum(bytes_of.values()) / target_file_bytes))
            out = df.repartition(n_out).write
        out.mode("overwrite").parquet(fs.spark_url(staging))

        backup = path.rstrip("/") + f".compact_backup_{tag}"
        fs.move(path.rstrip("/"), backup)
        fs.move(staging, path.rstrip("/"))
        fs.rmtree(backup)
    finally:
        fs.rmtree(staging)


def _by_value(
    df: DataFrame, keys: list[str], bytes_of: dict[tuple, int], target: int
) -> DataFrame:
    """``df`` repartitioned so that each value of ``keys`` is written as
    ceil(its bytes / target) files. A value's rows are dealt round-robin over
    that many slots, and the slots are packed in order into tasks of up to
    ``target`` bytes: small values share a task (one file each), and two
    slots of one value never do, since each holds more than half a target.
    Each row carries the int that Spark's hash partitioning sends to its
    task (:func:`_route_keys`), looked up by value in a literal map; a row
    whose value the map lacks still lands in some task. When one task holds
    every value, the rows are hash-partitioned by ``keys`` into it with no
    routing column: the lookup cost a small table's compaction about a
    sixth of its CPU time."""
    tasks_of: dict[tuple, list[int]] = {}
    n, room = 0, 0.0
    for value, size in bytes_of.items():
        count = max(1, math.ceil(size / target))
        for _ in range(count):
            if n == 0 or size / count > room:
                n, room = n + 1, float(target)
            room -= size / count
            tasks_of.setdefault(value, []).append(n - 1)
    if n <= 1:
        return df.repartition(1, *keys)
    route = _route_keys(n)
    entries = []
    for value, tasks in tasks_of.items():
        fields = [F.lit(v).cast(df.schema[k].dataType).alias(k) for k, v in zip(keys, value)]
        entries += [F.struct(*fields), F.array(*[F.lit(route[t]) for t in tasks])]
    routes = F.element_at(F.create_map(*entries), F.struct(*[df[k].alias(k) for k in keys]))
    slot = (F.pmod(F.monotonically_increasing_id(), F.size(routes)) + 1).cast("int")
    routed = df.withColumn("_route", F.element_at(routes, slot))
    return routed.repartition(n, "_route").drop("_route")


def _route_keys(n: int) -> list[int]:
    """For each task ``i < n``, an int that Spark's hash partitioning over
    ``n`` tasks sends to ``i``: ``pmod(hash(g), n) == i``, where ``hash`` is
    Murmur3 x86_32 with seed 42 (Spark's ``hash`` function). About n ln n
    candidates are tried."""
    keys: list[Optional[int]] = [None] * n
    missing, g = n, 0
    while missing:
        i = _spark_hash_int(g) % n  # Python's % of a negative hash is pmod
        if keys[i] is None:
            keys[i] = g
            missing -= 1
        g += 1
    return keys


def _spark_hash_int(value: int) -> int:
    """Spark's ``hash()`` of an INT: Murmur3 x86_32, seed 42, as a signed int."""
    mask = 0xFFFFFFFF

    def rotl(x: int, r: int) -> int:
        return ((x << r) | (x >> (32 - r))) & mask

    k = rotl((value * 0xCC9E2D51) & mask, 15) * 0x1B873593 & mask
    h = (rotl(42 ^ k, 13) * 5 + 0xE6546B64) & mask
    h ^= 4
    h = (h ^ (h >> 16)) * 0x85EBCA6B & mask
    h = (h ^ (h >> 13)) * 0xC2B2AE35 & mask
    h ^= h >> 16
    return h - (1 << 32) if h >> 31 else h


def overwrite_partitions(
    df: DataFrame,
    url: str,
    partition_by: list[str],
    fs: Optional[FileSystem] = None,
) -> None:
    """Incremental ingest: replace ONLY the Hive partitions present in ``df``,
    leaving every other partition untouched (dynamic partition overwrite).

    The idempotent backfill/restatement primitive — re-running yesterday's
    pipeline rewrites yesterday's partitions and nothing else, so a crashed
    job reruns safely. Unlike static ``mode("overwrite")`` (which would drop
    the whole table), only directories matching ``df``'s partition values are
    swapped; the swap is per-partition-directory and commits via Spark's file
    commit protocol. At 100 TB this is how daily/hourly increments land in a
    table that ``read_partitioned_table`` then prunes."""
    path, fs = get_url_and_fs(url, fs)
    if not partition_by:
        raise ValueError("overwrite_partitions requires partition_by columns")
    # a per-write option, not the session conf: concurrent writers keep their own mode
    writer = df.write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
    writer.partitionBy(*partition_by).parquet(fs.spark_url(path))


def drop_partitions(
    url: str,
    query,
    column_parser=None,
    fs: Optional[FileSystem] = None,
    dry_run: bool = False,
) -> list[str]:
    """Delete every partition the ``query`` MATCHES — retention/GDPR erasure
    driven by the same predicate language that scans: the query that selects
    last quarter's partitions for reading also deletes them, with the same
    prune-as-you-descend discovery (unmatched subtrees are never even
    listed, so dropping a month from a decade-deep tree stats only that
    month's branch).

    Deletion granularity follows the parser's binding granularity: under a
    directory-binding parser every file in a leaf directory shares one
    fully-bound tuple, so whole leaf DIRECTORIES are removed; under a
    filename-binding parser (``parses_filenames()`` — the last column IS
    the file name, so a query can match a strict subset of a directory)
    deletion is per matched FILE. Returns the deleted target URLs, sorted;
    ``dry_run=True`` lists without deleting — run it first, like any
    deletion tool.

    Erasure is VERIFIED: a target that still exists after deletion raises
    (``LocalFileSystem.rmtree`` deliberately ignores errors for staging
    cleanup — an erasure API must not). Emptied ancestor directories are
    then pruned up to (never including) the table root: a leftover empty
    directory holds no data, yet every later read whose walk keeps it
    lists it, and the first-leaf probe spends an ``ls`` on it before
    moving on to the next sibling.

    This intentionally has no Spark job: deletion is driver-side metadata
    work, O(matched files) like discovery itself."""
    parser = column_parser if column_parser is not None else AUTO_PARSER
    path, fs = get_url_and_fs(url, fs)
    if not path.endswith("/") and fs.isdir(path):
        path += "/"
    matched = discover_partitions(query, parser, Partition(path, {}), fs)
    if parser.parses_filenames():
        targets = sorted({p.url for p in matched})
    else:
        targets = sorted({p.url.rsplit("/", 1)[0] for p in matched})
    if dry_run:
        return targets
    for t in targets:
        if fs.isdir(t):
            fs.rmtree(t)
        else:
            fs.rm(t)
        if fs.exists(t):
            raise RuntimeError(f"drop_partitions: failed to delete {t}")
    root = path.rstrip("/")
    for t in targets:
        parent = t.rsplit("/", 1)[0]
        while len(parent) > len(root) and parent.startswith(root):
            if not _prune_if_effectively_empty(fs, parent):
                break
            parent = parent.rsplit("/", 1)[0]
    return targets


def _prune_if_effectively_empty(fs: FileSystem, url: str) -> bool:
    """Remove ``url`` iff it is empty or holds only marker files
    (``_SUCCESS``/``.crc`` — invisible to discovery AND to the fast-path
    first-leaf probe, so such a dir is still a probe dead-end). Returns
    True when removed; EVERY failure path returns False without side
    effects — pruning is best-effort cleanup and must never raise after
    the requested erasure already succeeded.

    Race safety: a truly-empty dir goes through the NON-recursive
    ``rmdir`` (fails on concurrent content instead of destroying it). A
    marker-only dir is first MOVED ASIDE (atomic rename on real-directory
    filesystems), re-inspected, and only then recursively deleted — if a
    concurrent writer's data landed before the rename, the dir is moved
    back intact, markers included."""
    import uuid

    try:
        files, dirs = fs.ls(url)
    except (OSError, FileNotFoundError):
        return False
    if dirs or not all(map(is_hidden, files)):
        return False  # visible content: not prunable
    if not files:
        try:
            fs.rmdir(url)
        except (OSError, NotImplementedError):
            return False
        return not fs.exists(url)
    tomb = f"{url.rstrip('/')}.__fsql_prune_{uuid.uuid4().hex[:8]}"
    try:
        fs.move(url, tomb)
    except (OSError, NotImplementedError):
        return False
    try:
        files2, dirs2 = fs.ls(tomb)
    except (OSError, FileNotFoundError):
        files2, dirs2 = [], []
    if dirs2 or not all(map(is_hidden, files2)):
        try:  # data landed before the rename: put everything back
            fs.move(tomb, url)
        except (OSError, NotImplementedError):
            pass
        return False
    try:
        fs.rmtree(tomb)
    except (OSError, NotImplementedError):
        pass  # tombstone is outside the partition namespace; harmless
    return not fs.exists(url)
