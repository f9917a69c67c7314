"""Primary API: ``read_partitioned_table`` + ``write_object``.

Spark-native reimplementation of the reference's API surface
(``/root/reference/src/fsql/api.py:70-163``). The metastore-less model is kept:
a "table" is just a URL prefix; partition columns come from the path; queries
filter on partition columns only; output defaults to a (distributed) DataFrame.

Execution strategy — two paths, picked from the call, the session and the tree:

PREFIX LOAD (Hive ``key=value`` trees read by a bare or declared
    ``AutoParser`` or a ``DateRangeGenerator`` with ``key=value`` names, a
    plain ``SparkReader``, partition type inference off in the session):
    one driver walk (:func:`~fsql_spark.discovery.query_prefixes`) judges
    the tree's directories level by level, down to every key the query
    references, generating the levels the parser generates, and keeps the
    partitions ``eval_all`` accepts. Spark loads them under
    ``basePath=root``, filtered by one ``arrays_overlap`` of the keys with
    a literal of the kept partitions' values (:func:`_kept_filter`). The
    walk binds each name as Spark's partition discovery does, so the two
    agree on every value. Partition discovery, pruning, predicate and
    projection pushdown and vectorized scans stay Catalyst/Tungsten
    built-ins; partition columns bind as strings because
    ``get_spark``/``configure`` turn type inference off.

DISCOVERY + PATH JOIN (everything else — SURVEY §4.3): value-only
    ``FixedColumnsParser`` layouts with filename columns, bare-name date
    generators, names Spark cannot bind (an empty key or value), trees
    that are not one Hive layout, mixed formats, ``lazy_errors``, partition
    type inference on in the session, and non-DataFrame outputs (pandas /
    dict / fancy-ls). The driver enumerates and prunes partition
    *metadata* exactly like the reference (O(#partitions), threaded
    listing); the data plane stays on executors: ONE distributed
    ``spark.read`` of the file list per input format, each partition
    column the lookup of the row's ``_metadata.file_path`` in one map
    literal keyed by Spark's own path strings. No join is planned.

Either way the one ``load()`` is :meth:`~fsql_spark.readers.SparkReader.scan`,
which escapes Hadoop's glob characters so that every name reads as itself,
the binding is one JSON literal (:func:`~fsql_spark.readers.json_literal`),
and it replaces a same-named data column.

No transactional guarantees, like the reference (`api.py:33-36`): files deleted
between discovery and read raise (soften with
``spark.sql.files.ignoreMissingFiles`` on the file-list read). The prefix
load sees files added to a kept directory before the scan; the file-list
read sees only the files discovered. Without ``reader.schema``, a parquet
read that does not merge schemas takes its data columns from one file's
footer, read on the driver: the first-leaf probe's file, or the first file
discovered. That choice is deterministic, where Spark's own inference reads
whichever file its index lists first, and it plans without a Spark job.
"""

from __future__ import annotations

import io
import warnings
from typing import Any, Optional
from urllib.parse import unquote

from py4j.protocol import Py4JJavaError
from pyspark.errors import PySparkException
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import NullType

from .column_parser import AUTO_PARSER, AutoParser, ColumnParser, DateRangeGenerator
from .discovery import Partition, Walk, discover_partitions, list_level, query_prefixes
from .formats import InputFormat
from .fs import FileSystem, get_url_and_fs
from .queries import Query
from .readers import DataReader, SparkReader, SPARK_READER, input_files, json_literal, merges_schema, project_columns
from .readers import unmatched
from .session import get_spark

_TYPE_INFERENCE = "spark.sql.sources.partitionColumnTypeInference.enabled"
# above this many paths Spark lists with a distributed job, not on the driver
_SERIAL_LISTING = "spark.sql.sources.parallelPartitionDiscovery.threshold"
# the first-leaf probe descends no deeper than this many directory levels
_PROBE_DEPTH = 64
# load() conditions meaning "not one Hive layout" (e.g. the mixed-depth quirk,
# reference `column_parser.py:106-110`): driver discovery reads such trees
_NOT_ONE_LAYOUT = {"CONFLICTING_PARTITION_COLUMN_NAMES", "CONFLICTING_DIRECTORY_STRUCTURES"}
# the Java cause of load()'s INTERNAL_ERROR on a "k=" or "=v" directory;
# the path join binds such a name as ""
_EMPTY_NAME = "Empty partition column"


def _active_spark(spark: Optional[SparkSession]) -> SparkSession:
    return spark or SparkSession.getActiveSession() or get_spark()


def _probe_first_leaf(fs: FileSystem, root: str) -> tuple[Optional[str], list[str]]:
    """The first data file below ``root``, depth first in listing order, and
    the Hive keys of the directories down to it; (None, []) when there is
    none. A directory holding nothing visible, or missing, is passed over
    for its next sibling.

    Used to (a) autodetect the input format, (b) learn the
    partition-column names below the walk and (c) read a parquet read's
    data schema from the file's footer. Cost: about one ``ls`` per
    tree level, negligible vs. the scan. Raises ValueError when a segment
    on the way is not ``key=value`` or a directory holds files beside
    directories (callers fall back to driver discovery).
    """
    stack: list[tuple[str, list[str]]] = [(root, [])]
    while stack:
        url, segments = stack.pop()
        [(files, dirs)] = list_level(fs, [(Partition(url), AUTO_PARSER)])  # a bare parser lists
        if files and dirs:
            # mixed files+dirs at one level: the bare-AutoParser mixed-depth
            # quirk (reference `column_parser.py:106-110`) — Spark's native
            # discovery silently drops the shallow files, so force the
            # driver-discovery path which reproduces the reference's union
            raise ValueError(f"mixed files and directories under {url}")
        if files:
            return url + files[0], [AutoParser().parse(s)[0] for s in segments]
        if len(segments) < _PROBE_DEPTH:
            stack += [(url + d + "/", [*segments, d]) for d in reversed(dirs)]
    return None, []


def read_partitioned_table(
    url: str,
    query: Query,
    column_parser: ColumnParser = AUTO_PARSER,
    data_reader: Optional[DataReader] = None,
    fs: Optional[FileSystem] = None,
    spark: Optional[SparkSession] = None,
) -> Any:
    """Read the table rooted at ``url``, filtered by ``query`` over its
    partition-path columns (reference `api.py:70-107`).

    Defaults: Hive-style ``key=value`` layout (AUTO_PARSER) and a Spark
    DataFrame output (SPARK_READER). There is deliberately no default query —
    pass ``Q_TRUE`` to read everything, like the reference (`api.py:80-81`).
    Partition columns surface as strings (`tests/test_example_usage.py:39`).
    """
    reader = data_reader if data_reader is not None else SPARK_READER
    spark = _active_spark(spark)
    path, fs = get_url_and_fs(url, fs)
    if not path.endswith("/") and fs.isdir(path):
        path += "/"

    loads_prefixes = _loads_prefixes(spark, column_parser, reader)
    if loads_prefixes:
        result = _read_prefixes(spark, path, fs, query, column_parser, reader)
        if result is not None:
            return result
    partitions = list(discover_partitions(query, column_parser, Partition(path, {}), fs))
    if loads_prefixes and not partitions:
        return _read_empty(spark, path, fs, reader)
    return reader.read(spark, partitions, fs, InputFormat.AUTO)


def _loads_prefixes(spark: SparkSession, parser: ColumnParser, reader: DataReader) -> bool:
    """Whether the walk and a prefix load under ``basePath`` may serve the
    read: a Hive-named parser, a plain ``SparkReader``, and partition type
    inference off in the session (else Spark would bind types). Each false
    clause names a reason for discovery + the path join."""
    return (
        (isinstance(parser, AutoParser) or (isinstance(parser, DateRangeGenerator) and parser.include_column_in_path))
        and isinstance(reader, SparkReader)
        and not reader.lazy_errors
        and spark.conf.get(_TYPE_INFERENCE).strip().lower() == "false"
    )


def _read_prefixes(
    spark: SparkSession, path: str, fs: FileSystem, query: Query, parser: ColumnParser, reader: SparkReader
) -> Optional[DataFrame]:
    """The prefix load: the walk's prefixes under ``basePath=path``;
    returns None to signal discovery + the path join.

    The first-leaf probe starts from the directories the walk kept, in
    order, and gives the format and the partition keys below the walk.
    When nothing kept holds data, discovery would keep nothing either: the
    result is :func:`_read_empty`, or no partitions when the probe ran from
    ``path`` itself.

    Without ``reader.schema``, the data columns come from the loaded
    prefixes only: a parquet read takes the probe file's footer, read on
    the driver (:meth:`SparkReader.scan`); Spark infers the others,
    orc from one footer of a kept file, json and csv by sampling the kept
    files. On a table whose schema drifts, the result's data columns can
    thus depend on the query; callers that need the table-wide schema pass
    ``reader.schema``. A read that merges schemas (``mergeSchema``, as
    option or session default) loads ``path``, so the merged schema spans
    every file."""
    walk = query_prefixes(query, path, parser, fs, int(spark.conf.get(_SERIAL_LISTING)))
    if walk is None:
        return None
    try:
        probe_file, keys = _first_leaf(fs, walk)
    except ValueError:
        return None  # not one Hive layout below a kept directory
    if probe_file is None and walk.kept and not walk.keys:
        return reader.read(spark, [], fs, InputFormat.AUTO)  # the probe ran from path
    if probe_file is None:
        return _read_empty(spark, path, fs, reader)
    fmt = _spark_format(reader, probe_file, keys)
    if fmt is None or (len(keys) > len(walk.keys) and not isinstance(parser, AutoParser)):
        return None  # no Spark source, a repeated key, or directories below a generator's levels
    # a merged schema spans every file
    prefixes = [path] if merges_schema(spark, fmt, reader.options) else walk.prefixes
    return _load_prefixes(spark, path, fs, reader, fmt, probe_file, keys, prefixes, _kept_filter(walk))


def _read_empty(spark: SparkSession, path: str, fs: FileSystem, reader: SparkReader) -> DataFrame:
    """The typed empty result of a read that keeps nothing: the first-leaf
    probe's leaf directory under a false filter, so the result keeps the
    partition columns; no partitions for an empty or non-Hive tree."""
    try:
        probe_file, keys = _probe_first_leaf(fs, path)
    except ValueError:
        probe_file, keys = None, []
    fmt = _spark_format(reader, probe_file, keys)
    result = None
    if fmt is not None:
        leaf = path if merges_schema(spark, fmt, reader.options) else probe_file.rsplit("/", 1)[0] + "/"
        result = _load_prefixes(spark, path, fs, reader, fmt, probe_file, keys, [leaf], F.lit(False))
    return result if result is not None else reader.read(spark, [], fs, InputFormat.AUTO)


def _first_leaf(fs: FileSystem, walk: Walk) -> tuple[Optional[str], list[str]]:
    """The first-leaf probe from the walk's kept directories: the first
    data file below one of them and the keys from the root down to it."""
    for part in walk.kept:
        probe_file, below = _probe_first_leaf(fs, part.url)
        if probe_file is not None:
            return probe_file, walk.keys + below
    return None, []


def _kept_filter(walk: Walk) -> Column:
    """Exactly the kept partitions: one literal of their values, "/", "\\"
    and None included (:func:`~fsql_spark.readers.json_literal`), which
    Spark prunes partitions with. The keys come first, so a plan string
    cut at ``spark.sql.maxMetadataStringLength`` still names them."""
    if not walk.keys:
        return F.lit(True)
    kept = [[p.columns[k] for k in walk.keys] for p in walk.kept]
    return F.arrays_overlap(F.array(F.array(*walk.keys)), json_literal(kept, "array<array<string>>"))


def _format_of(url: str) -> Optional[InputFormat]:
    try:
        return InputFormat.from_url(url)
    except KeyError:
        return None


def _spark_format(reader: SparkReader, probe_file: Optional[str], keys: list[str]) -> Optional[InputFormat]:
    """The Spark source ``reader`` reads the tree with; None without a
    probe file, when a key repeats (discovery raises the duplicate-key
    error) or when Spark has no source for the file (unknown suffix,
    xlsx, feather), which the per-file driver-discovery readers handle."""
    if probe_file is None or len(set(keys)) < len(keys):
        return None
    fmt = reader.input_format if reader.input_format is not InputFormat.AUTO else _format_of(probe_file)
    return None if fmt in (None, InputFormat.XLSX, InputFormat.FEATHER) else fmt


def _load_prefixes(
    spark: SparkSession,
    path: str,
    fs: FileSystem,
    reader: SparkReader,
    fmt: InputFormat,
    probe_file: str,
    keys: list[str],
    prefixes: list[str],
    where: Column,
) -> Optional[DataFrame]:
    """The Spark load (:meth:`SparkReader.scan`): ``prefixes`` under
    ``basePath=path``, filtered by ``where``, partition columns last in
    path order (a same-named data column gives way, as on the path join),
    then the ``columns=`` projection. The data columns of a parquet read
    come from ``probe_file``'s footer. Returns None when Spark finds more
    than one layout or an empty name, when a loaded file of an
    AUTO-format read has another suffix, or when a loaded directory below
    the walk is not ``key=value`` (Spark would bind fewer keys than the
    path join)."""
    try:
        df = reader.scan(spark, fs, fmt, prefixes, probe_file, keys, base=path)
    except PySparkException as exc:
        if exc.getCondition() in _NOT_ONE_LAYOUT:
            return None
        raise
    except Py4JJavaError as exc:
        if _EMPTY_NAME not in str(exc.java_exception.getCause()):
            raise
        return None

    # inputFiles() is metadata-only. The format came from the probe file;
    # a tree mixing data formats (csv+json, which the path join scans per
    # format like the reference) would be parsed entirely as ``fmt``;
    # from_url resolves compression suffixes (.json.gz) as the probe did
    # (regression-tested in test_jsongz_scan_prunes_partitions)
    files = [unquote(f) for f in input_files(df)]
    if reader.input_format is InputFormat.AUTO and any(_format_of(f) is not fmt for f in files):
        return None
    base = fs.spark_url(path)
    for f in files:
        if not f.startswith(base):
            raise unmatched(fs, f)
        if not all("=" in s for s in f[len(base):].strip("/").split("/")[:-1]):
            return None

    schema = df.schema
    # Spark types a key void when every loaded value of it is NULL; the
    # path join's map literal binds it as a string
    void = {k for k in keys if isinstance(schema[k].dataType, NullType)}
    if schema.names[len(schema.names) - len(keys):] != keys or void:
        keyed = [F.col(k).cast("string").alias(k) if k in void else k for k in keys]
        df = df.select(*[c for c in schema.names if c not in keys], *keyed)
    return project_columns(df.where(where), reader.columns, keys)


def read_s3_table(*args, **kwargs):
    """Deprecated alias of :func:`read_partitioned_table` (reference `api.py:59-67`)."""
    warnings.warn(
        "Function `read_s3_table` is deprecated, use `read_partitioned_table` instead",
        DeprecationWarning,
    )
    return read_partitioned_table(*args, **kwargs)


def write_object(
    url: str,
    data: Any,
    format: Optional[str] = None,
    format_options: Optional[dict[str, str]] = None,
    fs: Optional[FileSystem] = None,
) -> None:
    """Single-object write (reference `api.py:110-163`): pandas DataFrame ->
    parquet (default) / csv / json; StringIO/BytesIO -> raw copy. Explicitly no
    table semantics — no partition appends, no multi-partition inserts.

    Superset: a *Spark* DataFrame writes a (directory-shaped) table via
    ``df.write`` — use :func:`write_table` for partitioned writes.

    Parquet engine (reference `api.py:138-146`): the ``engine`` format
    option accepts ``pyarrow`` and ``fastparquet``; the latter is
    import-gated (like xlsx reads) and raises a clear error when the
    library is absent. DEVIATION: the default engine is ``pyarrow``
    (the reference defaults to fastparquet, which this environment does
    not ship); pass ``format_options={"engine": "fastparquet"}`` for
    reference-default behavior where it is installed.
    """
    import pandas as pd

    path, fs = get_url_and_fs(url, fs)
    format_options = dict(format_options or {})

    if isinstance(data, DataFrame):  # Spark DataFrame: distributed write
        fmt = format or "parquet"
        data.write.mode(format_options.pop("mode", "overwrite")).options(**format_options).format(
            fmt
        ).save(fs.spark_url(path))
        return

    if isinstance(data, pd.DataFrame):
        fmt = format or "parquet"
        if fmt == "parquet":
            engine = format_options.get("engine", "pyarrow")
            if engine == "fastparquet":
                try:
                    import fastparquet  # noqa: F401
                except ImportError as exc:
                    raise ImportError(
                        "format_options engine='fastparquet' requires the "
                        "fastparquet package, which is not installed; use "
                        "engine='pyarrow' (the default)"
                    ) from exc
                # fastparquet writes by path/open_with, not file object
                # (reference api.py:140-141)
                data.to_parquet(path, engine="fastparquet", open_with=fs.open)
            elif engine == "pyarrow":
                with fs.open(path, "wb") as fd:
                    data.to_parquet(fd, engine="pyarrow")
            else:
                raise ValueError(f"unsupported engine for dataframe writing: {engine}")
        elif fmt == "csv":
            with fs.open(path, "wb") as fd:
                data.to_csv(fd)
        elif fmt == "json":
            with fs.open(path, "wb") as fd:
                data.to_json(fd)
        elif fmt == "orc":  # format-registry extension, pyarrow-backed
            with fs.open(path, "wb") as fd:
                data.to_orc(fd)
        elif fmt in ("feather", "arrow"):  # Arrow IPC file == Feather V2
            # write parity with the r9 read arm (readers.py PandasReader):
            # pandas requires a seekable sink for feather, so stage in memory
            # (single-object writes are driver-sized by contract).
            buf = io.BytesIO()
            data.reset_index(drop=True).to_feather(buf)
            with fs.open(path, "wb") as fd:
                fd.write(buf.getvalue())
        else:
            raise ValueError(f"unsupported format for dataframe writing: {fmt}")
        return

    if isinstance(data, (io.StringIO, io.BytesIO)):
        if format:
            raise ValueError(f"cannot specify format when data is a buffer. Provided format: {format}")
        data.seek(0)
        mode = "wb" if isinstance(data, io.BytesIO) else "w"
        import shutil

        with fs.open(path, mode) as fd:
            shutil.copyfileobj(data, fd)
        return

    raise ValueError(f"cannot infer writer for object of type {type(data)}")


def write_table(
    df: DataFrame,
    url: str,
    format: str = "parquet",
    mode: str = "overwrite",
    partition_by: Optional[list[str]] = None,
    fs: Optional[FileSystem] = None,
    options: Optional[dict] = None,
) -> None:
    """Partitioned table write — the superset the reference explicitly lacks
    (`api.py:121`): Hive-style ``key=value`` layout readable back by
    :func:`read_partitioned_table`. ``options`` passes writer options
    through (e.g. ``{"compression": "gzip"}`` for compressed json/csv
    leaves — the crawl-dump layout)."""
    path, fs = get_url_and_fs(url, fs)
    writer = df.write.mode(mode).format(format)
    if options:
        writer = writer.options(**options)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.save(fs.spark_url(path))


def write_sorted_table(
    df: DataFrame,
    url: str,
    sort_cols: list[str],
    n_files: Optional[int] = None,
    format: str = "parquet",
    mode: str = "overwrite",
    partition_by: Optional[list[str]] = None,
    fs: Optional[FileSystem] = None,
) -> None:
    """Range-clustered write: ``repartitionByRange`` on ``sort_cols`` +
    ``sortWithinPartitions`` before the write.

    The poor man's Z-order (exact for a single leading column): each output
    file covers a DISJOINT range of the sort key, so parquet footer min/max
    statistics let later selective scans skip whole files/row-groups instead
    of reading the table — the data-skipping layout for the columns a 100 TB
    table is habitually filtered on. ``n_files`` sizes the range partitioning
    (default: current session shuffle parallelism)."""
    path, fs = get_url_and_fs(url, fs)
    cols = [F.col(c) for c in sort_cols]
    ranged = (
        df.repartitionByRange(n_files, *cols) if n_files else df.repartitionByRange(*cols)
    ).sortWithinPartitions(*cols)
    writer = ranged.write.mode(mode).format(format)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.save(fs.spark_url(path))


def zorder_key(a, b, bits: int = 16):
    """Interleave the bits of two dimension values into one Z-order
    (Morton) key: bit i of ``a`` lands at position 2i, bit i of ``b`` at
    2i+1, so sorting by the key clusters rows that are close in BOTH
    dimensions. Inputs must already be scaled to ``[0, 2^bits)`` —
    :func:`write_zorder_table` normalizes raw columns first. Pure JVM bit
    arithmetic (2*bits shift/or terms), codegen-friendly."""
    za = F.lit(0).cast("long")
    zb = F.lit(0).cast("long")
    aa = a.cast("long")
    bb = b.cast("long")
    for i in range(bits):
        za = za.bitwiseOR(F.shiftleft(aa.bitwiseAND(F.lit(1 << i)), i))
        zb = zb.bitwiseOR(F.shiftleft(bb.bitwiseAND(F.lit(1 << i)), i + 1))
    return za.bitwiseOR(zb)


def write_zorder_table(
    df: DataFrame,
    url: str,
    zorder_cols: list[str],
    n_files: Optional[int] = None,
    bits: int = 16,
    format: str = "parquet",
    mode: str = "overwrite",
    fs: Optional[FileSystem] = None,
) -> None:
    """Z-order-clustered write: each output file covers a SMALL RANGE OF
    BOTH ``zorder_cols`` (vs :func:`write_sorted_table`, which is exact for
    one leading column and useless for the second) — parquet footer
    min/max statistics then skip files for selective predicates on EITHER
    dimension. The lakehouse OPTIMIZE-ZORDER layout, for the two columns a
    100 TB table is habitually filtered on independently.

    Both columns are min/max-normalized to a ``2^bits`` grid (one cheap
    stats aggregate), bit-interleaved into a Morton key, and the key
    drives ``repartitionByRange`` + ``sortWithinPartitions``. With n files
    each file covers ~n^-1/2 of each dimension's range (vs 1/n of one and
    ALL of the other for a linear sort). The key is layout-only: query
    results never depend on it."""
    if len(zorder_cols) != 2:
        raise ValueError("write_zorder_table interleaves exactly 2 columns")
    if not 1 <= bits <= 31:
        # bit i of the second column lands at 2i+1: bits=32 would place its
        # top bit in the long SIGN bit, making large keys sort FIRST and
        # silently destroying the locality the layout exists for
        raise ValueError(f"bits must be in [1, 31]: {bits}")
    path, fs = get_url_and_fs(url, fs)
    ca, cb = zorder_cols
    stats = df.agg(
        F.min(ca).alias("la"), F.max(ca).alias("ha"),
        F.min(cb).alias("lb"), F.max(cb).alias("hb"),
    ).collect()[0]
    if stats["la"] is None or stats["lb"] is None:
        # empty input (or all-NULL key): nothing to cluster — plain write,
        # like write_sorted_table on the same input
        df.write.mode(mode).format(format).save(fs.spark_url(path))
        return
    grid = (1 << bits) - 1

    def norm(c, lo, hi):
        span = max(float(hi - lo), 1.0)
        # through double BEFORE the multiply: (col - lo) * grid as long
        # arithmetic overflows for spans above ~2^48 (epoch-micros columns);
        # double precision is ample for a layout-only grid coordinate
        return ((F.col(c) - F.lit(lo)).cast("double") * grid / F.lit(span)).cast("long")

    z = zorder_key(norm(ca, stats["la"], stats["ha"]), norm(cb, stats["lb"], stats["hb"]), bits)
    ranged = (
        df.repartitionByRange(n_files, z) if n_files else df.repartitionByRange(z)
    ).sortWithinPartitions(z)
    ranged.write.mode(mode).format(format).save(fs.spark_url(path))


def write_bucketed_table(
    df: DataFrame,
    name: str,
    bucket_cols: list[str],
    num_buckets: int,
    sort_cols: Optional[list[str]] = None,
    format: str = "parquet",
    mode: str = "overwrite",
) -> None:
    """Bucketed managed table (in-session catalog, spark-warehouse dir).

    Bucketing pre-shuffles data at write time: two tables bucketed on the
    same key with the same bucket count join WITHOUT any Exchange — the
    standard co-located-join strategy for repeatedly-joined 100 TB facts
    (verified by tests/test_scale_plans.py: no Exchange in the join plan)."""
    writer = df.write.mode(mode).format(format).bucketBy(num_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(name)


def register_tables(spark: SparkSession, sf_dir: str, names: Optional[list[str]] = None) -> None:
    """Register each ``{sf_dir}/{name}.parquet`` as a temp view (test harness)."""
    import os

    if names is None:
        names = sorted(
            f[: -len(".parquet")] for f in os.listdir(sf_dir) if f.endswith(".parquet")
        )
    for name in names:
        spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet")).createOrReplaceTempView(name)
