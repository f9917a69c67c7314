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

from typing import Optional

from pyspark.sql import DataFrame, SparkSession

from .api import read_partitioned_table
from .formats import InputFormat
from .fs import FileSystem, get_url_and_fs, is_hidden
from .queries import Q_TRUE
from .readers import SparkReader


def _walk_files(fs: FileSystem, url: str, rel: str = "") -> list[tuple[str, str]]:
    """Recursive (relative_dir, file_url) listing of data files via fs.ls."""
    files, dirs = fs.ls(url)
    base = url.rstrip("/") + "/"
    out = [(rel, base + f) for f in files if not is_hidden(f)]
    for d in dirs:
        if is_hidden(d):
            continue
        out += _walk_files(fs, base + d + "/", f"{rel}/{d}".lstrip("/"))
    return out


def file_stats(spark: SparkSession, url: str, fs: Optional[FileSystem] = None) -> DataFrame:
    """Per-partition-directory file counts and byte sizes for a parquet tree.

    Driver-side metadata walk (O(#files) stat calls, no data I/O) — the same
    cost class as partition discovery."""
    path, fs = get_url_and_fs(url, fs)
    by_dir: dict[str, list[int]] = {}
    for rel, file_url in _walk_files(fs, path):
        by_dir.setdefault(rel, []).append(fs.size(file_url))
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

    Reads the whole table with :func:`read_partitioned_table` (parquet only),
    repartitions to ceil(total_bytes / target) tasks (per partition-key when
    ``partition_by`` is given, so each Hive partition compacts
    independently), and swaps directories. The swap is atomic only
    where ``FileSystem.move`` is (local/HDFS) — see the module docstring for
    the object-store caveat. At cluster scale run per-partition-subset to
    bound the rewrite working set."""
    import math

    path, fs = get_url_and_fs(url, fs)
    total_bytes = sum(fs.size(file_url) for _, file_url in _walk_files(fs, path))
    n_out = max(1, math.ceil(total_bytes / target_file_bytes))

    df = read_partitioned_table(
        path, Q_TRUE, data_reader=SparkReader(input_format=InputFormat.PARQUET), fs=fs, spark=spark
    )
    # unique staging/backup names: concurrent (or retried) compact calls on
    # the same table must not delete each other's in-flight output
    import uuid

    tag = uuid.uuid4().hex[:8]
    staging = path.rstrip("/") + f".compact_staging_{tag}"
    try:
        writer = df.repartition(n_out, *partition_by) if partition_by else df.repartition(n_out)
        out = writer.write.mode("overwrite")
        if partition_by:
            out = out.partitionBy(*partition_by)
        out.parquet(fs.spark_url(staging))

        backup = path.rstrip("/") + f".compact_backup_{tag}"
        fs.move(path.rstrip("/"), backup)
        fs.move(staging, path.rstrip("/"))
        fs.rmtree(backup)
    finally:
        fs.rmtree(staging)


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
    leading directory would otherwise dead-end the Catalyst fast path's
    first-leaf probe and silently demote every future read of the table to
    driver-side discovery.

    This intentionally has no Spark job: deletion is driver-side metadata
    work, O(matched files) like discovery itself."""
    from .column_parser import AUTO_PARSER
    from .discovery import Partition, discover_partitions

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
